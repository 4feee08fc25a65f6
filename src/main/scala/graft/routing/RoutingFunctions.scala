package graft.routing

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FunctionIdentifier, InternalRow,
  ScalaReflection}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, StringType}
import scala.reflect.runtime.universe.TypeTag

/** SQL function surface — one function per reference operator
  * (registration list: src/travel_time_extension.cpp:881-942).
  *
  * Every function is a [[Call]] of its [[Spec]]. The builders are registered
  * once per session (injected by graft.GraftExtensions, or put into the
  * session's registries by [[RoutingContext.install]]), and each binds the
  * loaded [[RouterHandle]] (serializable broadcast handles) when a statement
  * is analyzed: executors read the broadcast, never driver state, and the
  * statement after a load routes on the new generation. Null handling: a
  * NULL in any argument gives NULL without invoking the kernel — the
  * reference's per-row NULL contract (src/travel_time_extension.cpp:636-639).
  *
  * DOCUMENTED DIVERGENCE — geometry point caps: the reference truncates
  * route geometries at MAX_POINTS 10_000 and isochrone clouds at 50_000
  * (src/travel_time_extension.cpp:489,531), silently dropping tail points.
  * This surface is UNCAPPED: `travel_time_route(_wkb)` geometries carry
  * every path node and `travel_time_isochrone` returns the full reachable
  * cloud — Spark rows have no per-value size ceiling, so truncating would
  * only discard information. Queries needing the reference's exact byte
  * output on >10k-point routes must `slice` themselves.
  */
object RoutingFunctions {

  /** One SQL function: name, argument types, result type with the result's
    * own nullability, and the kernel, which gets the bound handle and the
    * arguments as non-null Scala values.
    */
  final case class Spec(name: String, inputTypes: Seq[DataType], dataType: DataType,
                        nullable: Boolean, kernel: (RouterHandle, Seq[Any]) => Any)

  /** A call of a routing function. The handle is a field, not a child: it
    * is bound at analysis and never evaluated. Arguments convert to Scala
    * values and the result back to Catalyst by the spec's types.
    */
  final case class Call(spec: Spec, handle: RouterHandle, children: Seq[Expression])
      extends Expression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = spec.inputTypes
    override def dataType: DataType = spec.dataType
    override def nullable: Boolean = spec.nullable || children.exists(_.nullable)
    override def prettyName: String = spec.name
    override protected def stringArgs: Iterator[Any] = children.iterator

    @transient private lazy val args = children.toArray
    @transient private lazy val toScala =
      spec.inputTypes.map(CatalystTypeConverters.createToScalaConverter).toArray
    @transient private lazy val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(dataType)

    override def eval(input: InternalRow): Any = {
      val values = new Array[Any](args.length)
      var i = 0
      while (i < values.length) {
        val v = args(i).eval(input)
        if (v == null) return null
        values(i) = toScala(i)(v)
        i += 1
      }
      toCatalyst(spec.kernel(handle, scala.collection.immutable.ArraySeq.unsafeWrapArray(values)))
    }

    override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Call =
      copy(children = newChildren)
  }

  /** A spec whose result type is the Scala result type's Catalyst schema. */
  private def spec[R: TypeTag](name: String, in: DataType*)(
      kernel: (RouterHandle, Seq[Any]) => R): Spec = {
    val out = ScalaReflection.schemaFor[R]
    Spec(name, in, out.dataType, out.nullable, kernel)
  }

  private val D = DoubleType
  private val S = StringType
  private val B = BinaryType
  private val Ds = ArrayType(DoubleType)

  private def route(name: String): Spec =
    spec[Option[Route]](name, B, B, S) {
      case (h, Seq(from: Array[Byte], to: Array[Byte], costing: String)) =>
        RoutingOps.routeAny(h.requireGraph(costing), from, to)
    }

  private val matrix = spec[Seq[MatrixEntry]]("travel_time_matrix", Ds, Ds, Ds, Ds, S) {
    case (h, Seq(srcLats: Seq[Double @unchecked], srcLons: Seq[Double @unchecked],
                 dstLats: Seq[Double @unchecked], dstLons: Seq[Double @unchecked],
                 costing: String)) =>
      RoutingOps.matrixEntries(h.requireGraph(costing), srcLats, srcLons, dstLats, dstLons)
  }

  private val specs: Seq[Spec] = Seq(
    spec[Option[Double]]("travel_time", D, D, D, D, S) {
      case (h, Seq(lat1: Double, lon1: Double, lat2: Double, lon2: Double, costing: String)) =>
        RoutingOps.travelTimeSeconds(h.requireGraph(costing), lat1, lon1, lat2, lon2)
    },
    spec[Boolean]("travel_time_is_loaded") { case (h, _) => h.graphs.nonEmpty },
    // Fallback for NON-LITERAL paths (literal calls are intercepted by
    // [[DriverSideRule]] and actually load): reports whether the path IS
    // the loaded generation. Evaluated per call, so reloads are visible;
    // driver-state read — on a real cluster the literal/rule path is the
    // supported form.
    spec[Boolean]("travel_time_load_config", S) {
      case (_, Seq(path: String)) =>
        val loadedKey = RoutingContext.loadedPath.getOrElse("")
        path == loadedKey ||
          path.stripSuffix("/" + graft.graph.GraphStore.ConfigName) == loadedKey
    },
    // Literal calls run driver-side via [[DriverSideRule]] (the reference's
    // SQL build surface, valhalla_build_tiles_simple.cpp:149-236); the
    // kernel rejects the non-literal form (a build cannot launch Spark jobs
    // from inside an executor task).
    spec[String]("valhalla_build_tiles", S, S) { (_, _) =>
      throw new IllegalStateException(
        "valhalla_build_tiles requires literal (pbf_path, output_dir) arguments " +
          "— the build runs driver-side at plan time")
    },
    spec[Int]("travel_time_node_count", S) {
      case (h, Seq(costing: String)) => h.requireGraph(costing).numNodes
    },
    spec[Option[SnappedPoint]]("travel_time_locate", D, D, S) {
      case (h, Seq(lat: Double, lon: Double, costing: String)) =>
        RoutingOps.locate(h.requireGraph(costing), lat, lon)
    },
    spec[Option[SnapResult]]("travel_time_snap", D, D, S) {
      case (h, Seq(lat: Double, lon: Double, costing: String)) =>
        RoutingOps.snap(h.requireGraph(costing), lat, lon)
    },
    // the `travel_time_route` macro surface (examples/geometry_macro.sql:30-36).
    // Bytes, like _wkb: GEOMETRY arguments (st_point WKB — the reference
    // macro's signature, test/sql/monaco_routing.test:150) pass through
    // unchanged, and WKT-string endpoints arrive via Spark's implicit
    // STRING→BINARY cast and route through routeAny's UTF-8 WKT fallback —
    // the host's VARCHAR→BLOB coercion, so both spellings work
    route("travel_time_route"),
    // `travel_time_route_geom` (ITALY.md:154-166,258-272): the reference's
    // "already GEOMETRY" variant. WKB is this engine's canonical geometry
    // form, so the surface is identical to travel_time_route — registered
    // under its own name so the doc statements run verbatim
    route("travel_time_route_geom"),
    // WKB-blob endpoints (canonical form, src/travel_time_extension.cpp:899-911)
    route("travel_time_route_wkb"),
    // scalar surface: explode(travel_time_matrix(...)) over column arrays
    matrix,
    spec[Seq[IsoNode]]("travel_time_isochrone", D, D, D, S) {
      case (h, Seq(lat: Double, lon: Double, maxSeconds: Double, costing: String)) =>
        RoutingOps.isochrone(h.requireGraph(costing), lat, lon, maxSeconds)
    },
    spec[String]("travel_time_isochrone_geojson", D, D, Ds, S) {
      case (h, Seq(lat: Double, lon: Double, cutoffsMinutes: Seq[Double @unchecked],
                   costing: String)) =>
        RoutingOps.isochroneContours(h.requireGraph(costing), lat, lon, cutoffsMinutes)
    },
    spec[String]("travel_time_request", S, S) {
      case (h, Seq(action: String, json: String)) => RequestApi.dispatch(h, action, json)
    })

  /** The handle a statement binds when it is analyzed. */
  private def bound: RouterHandle = RoutingContext.handle.getOrElse(RouterHandle(Map.empty))

  private def builder(s: Spec): Seq[Expression] => Expression = exprs => {
    if (exprs.length != s.inputTypes.length) throw new IllegalArgumentException(
      s"${s.name} expects ${s.inputTypes.length} arguments, got ${exprs.length}")
    Call(s, bound, exprs)
  }

  /** injectFunction tuples: GraftExtensions injects them, and
    * [[RoutingContext.install]] puts them into a session's registry.
    */
  val injectable: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    specs.map(s =>
      (new FunctionIdentifier(s.name), new ExpressionInfo(classOf[Call].getName, s.name),
        builder(s)))

  /** The FROM-position `travel_time_matrix(...)` table function — the
    * reference's form (test/sql/monaco_routing.test:108-124:
    * `FROM travel_time_matrix([..], ..., 'auto')`) — as an
    * injectTableFunction tuple.
    */
  val matrixTable: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (new FunctionIdentifier("travel_time_matrix"),
      new ExpressionInfo(RoutingFunctions.getClass.getName, "travel_time_matrix"),
      exprs => matrixTableBuilder(bound, exprs))

  /** Optimizer rule that answers on the DRIVER at plan time what needs no
    * executor. It gives the state-changing SQL calls their reference
    * semantics by executing them there — the only place a Spark cluster
    * can create broadcasts or launch build jobs:
    *
    *  - `travel_time_load_config(<lit>)` actually loads (idempotent per
    *    path; src/travel_time_extension.cpp:446-462) and folds to true;
    *  - `valhalla_build_tiles(<lit>, <lit>)` runs the distributed
    *    PBF→graph build (src/valhalla_build_tiles_simple.cpp:149-236) and
    *    folds to the produced config path.
    *
    * The next statement binds the new generation when it is analyzed, so
    * the reference's build-then-load-then-query script sequence works
    * statement by statement. Non-literal arguments fall through to the
    * functions' kernels.
    *
    * Then it folds a one-row statement — `Project(list, OneRowRelation)`,
    * a SELECT without FROM — into a one-row `LocalRelation`, evaluating
    * `list` once on the driver, when every expression is deterministic and
    * none is `Unevaluable` (which keeps out subqueries and outer
    * references). This is Spark's `ConvertToLocalRelation` applied to the
    * relation that rule never sees: `LocalTableScanExec` collects on the
    * driver, so a point request such as `SELECT travel_time(…)` starts no
    * job, stage, task or codegen compile. A failing kernel therefore throws
    * its own exception during optimization, and `explain()` of such a
    * statement runs it. Statements with a FROM keep their jobs.
    */
  final class DriverSideRule(spark: SparkSession)
      extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{InterpretedMutableProjection, Literal,
      Unevaluable}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Project}
    import org.apache.spark.sql.types.BooleanType

    private def loadConfig(args: Seq[Expression], orig: Expression): Expression =
      args match {
        case Seq(Literal(path, StringType)) if path != null =>
          RoutingContext.loadConfig(spark, path.toString)
          Literal(true, BooleanType)
        case _ => orig
      }

    private def buildTiles(args: Seq[Expression], orig: Expression): Expression =
      args match {
        case Seq(Literal(pbf, StringType), Literal(out, StringType))
            if pbf != null && out != null =>
          // all costings, like the reference's tile build (its tiles serve
          // every costing model; the PBF decode is shared across modes)
          val cfg = graft.graph.GraphStore.buildGraphFromPbf(
            spark, pbf.toString, out.toString, graft.graph.SpeedModel.Modes)
          Literal(org.apache.spark.unsafe.types.UTF8String.fromString(cfg), StringType)
        case _ => orig
      }

    private def substitute(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case c: Call if c.spec.name == "travel_time_load_config" => loadConfig(c.children, c)
        case c: Call if c.spec.name == "valhalla_build_tiles" => buildTiles(c.children, c)
      }

    private def evaluableOnDriver(e: Expression): Boolean =
      e.deterministic && !e.exists(_.isInstanceOf[Unevaluable])

    private def foldOneRow(plan: LogicalPlan): LogicalPlan =
      plan.transform {
        case Project(list, OneRowRelation()) if list.forall(evaluableOnDriver) =>
          val row = new InterpretedMutableProjection(list, Nil)(InternalRow.empty).copy()
          LocalRelation(list.map(_.toAttribute), Seq(row))
      }

    override def apply(plan: LogicalPlan): LogicalPlan = foldOneRow(substitute(plan))
  }

  /** Builder for the FROM-position `travel_time_matrix(...)` table function:
    * the arguments must be literal (foldable), so the scalar function is
    * evaluated once on the driver at plan time, like the host's table
    * function binding; the bounded matrix (the host caps pairs at 2500)
    * materializes as a LocalRelation of its (from_idx, to_idx, distance_m,
    * duration_s) entries. A NULL argument gives no rows.
    */
  private def matrixTableBuilder(h: RouterHandle, exprs: Seq[Expression]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.util.ArrayData
    if (exprs.length != 5) throw new IllegalArgumentException(
      s"travel_time_matrix expects (src_lats, src_lons, dst_lats, dst_lons, costing), " +
        s"got ${exprs.length} arguments")
    if (!exprs.forall(_.foldable)) throw new IllegalArgumentException(
      "travel_time_matrix in FROM position expects literal arguments")
    val entry = matrix.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val rows = Call(matrix, h, exprs.zip(matrix.inputTypes).map { case (e, t) => Cast(e, t) })
      .eval() match {
      case a: ArrayData => a.toSeq[InternalRow](entry)
      case _ => Nil
    }
    LocalRelation(org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(entry), rows)
  }
}

/** DataFrame-level operators: the scale path. Sources/destinations are
  * DataFrames of any size; each source partition computes matrix rows with a
  * reusable per-thread calculator (reference's rayon pattern,
  * rust/src/lib.rs:498-533).
  */
object TravelTime {

  /** OD matrix: sources(idx INT, lat, lon) × dests(idx INT, lat, lon) →
    * (from_idx, to_idx, distance_m, duration_s). Destinations are collected
    * and broadcast (matrix destinations are bounded — the reference caps
    * matrix pairs at 2500, src/valhalla_build_tiles_simple.cpp:104-129);
    * sources scale horizontally as partitions.
    */
  def matrix(spark: SparkSession, sources: DataFrame, dests: DataFrame,
             costing: String, handle: RouterHandle): DataFrame = {
    import spark.implicits._
    val h = handle
    val destArr = dests.select($"idx".cast("int"), $"lat".cast("double"), $"lon".cast("double"))
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    val destB = spark.sparkContext.broadcast(destArr)
    sources.select($"idx".cast("int"), $"lat".cast("double"), $"lon".cast("double"))
      .as[(Int, Double, Double)]
      .mapPartitions { it =>
        val g = h.requireGraph(costing)
        val d = Routers.calculator(g)
        val dsts = destB.value
        val dstNodes = dsts.map(x => g.snap(x._2, x._3))
        it.flatMap { case (si, slat, slon) =>
          val s = g.snap(slat, slon)
          val row = d.oneToMany(s, dstNodes)
          row.indices.iterator.map { di =>
            val (ms, m) = row(di)
            if (ms < 0) MatrixEntry(si, dsts(di)._1, -1.0, -1.0)
            else MatrixEntry(si, dsts(di)._1, m, ms / 1000.0)
          }
        }
      }.toDF()
  }

  /** Batched isochrones: one bounded Dijkstra per (idx, lat, lon) source row,
    * distributed over partitions.
    */
  def isochrones(spark: SparkSession, sources: DataFrame, maxSeconds: Double,
                 costing: String, handle: RouterHandle): DataFrame = {
    import spark.implicits._
    val h = handle
    sources.select($"idx".cast("int"), $"lat".cast("double"), $"lon".cast("double"))
      .as[(Int, Double, Double)]
      .mapPartitions { it =>
        val g = h.requireGraph(costing)
        it.flatMap { case (idx, lat, lon) =>
          RoutingOps.isochrone(g, lat, lon, maxSeconds)
            .iterator.map(n => (idx, n.lat, n.lon, n.seconds))
        }
      }.toDF("idx", "lat", "lon", "seconds")
  }
}
