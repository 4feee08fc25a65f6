package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types.{ArrayType, MapType}

/** Host-dialect function-name compatibility pack: the handful of DuckDB
  * built-in names that differ only in spelling from a Spark expression, so
  * statements written against the reference's host engine run verbatim
  * (the complement of the syntax shims in plans.Qualify — those fold
  * grammar, this maps vocabulary). Every alias resolves to a NATIVE
  * codegen'd Catalyst expression — no UDFs:
  *
  *  - `len(x)`            → Length (string/binary) or Size (list/map) —
  *                          type-dispatched at analysis like the host's
  *  - `list_length`, `strlen`, `array_length` → same dispatch
  *  - `list_contains`     → ArrayContains
  *  - `list_has_any`      → ArraysOverlap
  *  - `list_min/list_max` → ArrayMin / ArrayMax
  *  - `list_distinct`     → ArrayDistinct
  *  - `list_unique`       → Size(ArrayDistinct) (the host counts uniques)
  *  - `list_value(...)`   → CreateArray
  *  - `string_split/str_split/string_to_array` → StringSplitSQL (LITERAL
  *                          delimiter, exactly the host's semantics — NOT
  *                          Spark `split`'s regex)
  *  - `regexp_matches`    → RLike (both are find-anywhere partial match)
  *  - `list_transform/list_filter` → ArrayTransform/ArrayFilter (the host's
  *                          `x -> ...` lambda syntax is byte-identical)
  *  - `list_sort`         → ArraySort; `list_concat` → Concat
  *  - `array_has`         → ArrayContains
  *  - `list_extract/list_element/array_extract` → ElementAt (1-based like
  *                          the host; NULL out of bounds, even under ANSI)
  *
  * Null/edge parity follows the Spark expression (documented divergence:
  * the host's `list_unique` ignores NULL elements; Size+ArrayDistinct
  * counts a NULL entry once).
  */
object DuckCompat {

  /** `len` with the host's type dispatch, as a RuntimeReplaceable so the
    * replacement is chosen once the argument's type is known and execution
    * uses the stock codegen'd expression.
    */
  case class Len(child: Expression) extends RuntimeReplaceable
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    override lazy val replacement: Expression = child.dataType match {
      case _: ArrayType | _: MapType => Size(child)
      case _                         => Length(child)
    }
    override def prettyName: String = "len"
    override protected def withNewChildInternal(newChild: Expression): Len =
      copy(child = newChild)
  }

  private def arity(name: String, n: Int)(f: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${exprs.length}")
      f(exprs)
    }

  /** The host's spelling of a Catalyst type — what its `typeof` prints
    * (BLOB not binary, VARCHAR not string), so the reference's
    * introspection assertions (test/sql/monaco_routing.test:50-53) read
    * their expected names.
    */
  def hostTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BinaryType      => "BLOB"
      case StringType      => "VARCHAR"
      case BooleanType     => "BOOLEAN"
      case DoubleType      => "DOUBLE"
      case FloatType       => "FLOAT"
      case ByteType        => "TINYINT"
      case ShortType       => "SMALLINT"
      case IntegerType     => "INTEGER"
      case LongType        => "BIGINT"
      case DateType        => "DATE"
      case TimestampType   => "TIMESTAMP"
      case d: DecimalType  => s"DECIMAL(${d.precision},${d.scale})"
      case ArrayType(e, _) => hostTypeName(e) + "[]"
      case s: StructType   =>
        s.fields.map(f => s"${f.name} ${hostTypeName(f.dataType)}")
          .mkString("STRUCT(", ", ", ")")
      case MapType(k, v, _) => s"MAP(${hostTypeName(k)}, ${hostTypeName(v)})"
      case other => other.sql
    }
  }

  /** The functions whose RESULT the host types as GEOMETRY (DuckDB-spatial
    * constructors and accessors returning geometry), plus the `geometry`
    * field of the `travel_time_route(_geom)` macro struct — the macro's
    * whole purpose is the BLOB→GEOMETRY upgrade
    * (examples/geometry_macro.sql:30-36). `travel_time_route_wkb` stays
    * BLOB (test/sql/monaco_routing.test:51), `st_aswkb` stays BLOB (host
    * WKB_BLOB).
    */
  private val GeometryProducers = Set(
    "st_point", "st_geomfromwkb", "st_geomfromtext",
    "st_startpoint", "st_endpoint", "st_centroid")
  private val GeometryStructFns = Set("travel_time_route", "travel_time_route_geom")

  /** Is `e` a host-GEOMETRY-typed value? This engine keeps WKB BinaryType
    * as the single canonical geometry representation (SURVEY §1.2/§7 risk
    * 3 — Spark has no GEOMETRY type and a UDT would bifurcate every ST_
    * and routing signature), so GEOMETRY-ness exists exactly where the
    * host makes it observable: at `typeof` introspection. The check is
    * structural over the expression that produced the value, mirroring
    * the host's typing of the same functions.
    */
  private def producesGeometry(e: Expression): Boolean = e match {
    case a: org.apache.spark.sql.catalyst.expressions.Alias =>
      producesGeometry(a.child)
    case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF =>
      u.udfName.exists(n => GeometryProducers.contains(n.toLowerCase))
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField
        if fieldNameOf(g).equalsIgnoreCase("geometry") =>
      structFieldIsGeometry(g.child, g.ordinal)
    case _ => false
  }

  private def fieldNameOf(
      g: org.apache.spark.sql.catalyst.expressions.GetStructField): String =
    g.name.getOrElse(g.child.dataType match {
      case s: org.apache.spark.sql.types.StructType if s.length > g.ordinal =>
        s(g.ordinal).name
      case _ => ""
    })

  /** Does field `ordinal` of the struct-valued `child` hold a geometry?
    * Covers the three shapes the reference exercises: the route-macro
    * functions; a `struct_pack`/`named_struct` whose field value is
    * itself geometry-producing; and the host macro's scalar-subquery form
    * (`(SELECT struct_pack(... geometry := ST_GeomFromWKB(...)) FROM …)`,
    * test/sql/monaco_routing.test:134-140) — walked through the subquery
    * plan's top projection.
    */
  private def structFieldIsGeometry(child: Expression, ordinal: Int): Boolean =
    child match {
      case c: graft.routing.RoutingFunctions.Call =>
        GeometryStructFns.contains(c.spec.name)
      case cns: org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
          if cns.valExprs.length > ordinal =>
        producesGeometry(cns.valExprs(ordinal))
      case a: org.apache.spark.sql.catalyst.expressions.Alias =>
        structFieldIsGeometry(a.child, ordinal)
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        topProjection(s.plan).exists(structFieldIsGeometry(_, ordinal))
      case _ => false
    }

  private def topProjection(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[Expression] = plan match {
    case p: org.apache.spark.sql.catalyst.plans.logical.Project
        if p.projectList.length == 1 =>
      Some(p.projectList.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case other => other
      })
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      topProjection(s.child)
    case _ => None
  }

  /** `typeof` with the host's type vocabulary. A pure function of the
    * ARGUMENT'S TYPE (plus the [[producesGeometry]] structural check): the
    * child is never evaluated (its code is not even emitted), exactly like
    * the host's constant-folding of typeof.
    */
  case class TypeofHost(child: Expression)
      extends Expression
      with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    override def dataType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def nullable: Boolean = false
    override def foldable: Boolean = true
    private def typeName: String =
      if (producesGeometry(child)) "GEOMETRY" else hostTypeName(child.dataType)
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      org.apache.spark.unsafe.types.UTF8String.fromString(typeName)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("typeofName",
        org.apache.spark.unsafe.types.UTF8String.fromString(typeName),
        "UTF8String")
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      ev.copy(
        code = code"""
          UTF8String ${ev.value} = $ref;
          boolean ${ev.isNull} = false;
        """)
    }
    override protected def withNewChildInternal(newChild: Expression): TypeofHost =
      copy(child = newChild)
    override def prettyName: String = "typeof"
  }

  /** (name, builder) for every alias — consumed by GraftExtensions
    * (injectFunction) and by [[register]] (per-session temp functions).
    */
  val entries: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "len"             -> arity("len", 1)(e => Len(e.head)),
    "strlen"          -> arity("strlen", 1)(e => Len(e.head)),
    "list_length"     -> arity("list_length", 1)(e => Len(e.head)),
    "array_length"    -> arity("array_length", 1)(e => Len(e.head)),
    "list_contains"   -> arity("list_contains", 2)(e => ArrayContains(e(0), e(1))),
    "list_has_any"    -> arity("list_has_any", 2)(e => ArraysOverlap(e(0), e(1))),
    "list_min"        -> arity("list_min", 1)(e => ArrayMin(e.head)),
    "list_max"        -> arity("list_max", 1)(e => ArrayMax(e.head)),
    "list_distinct"   -> arity("list_distinct", 1)(e => ArrayDistinct(e.head)),
    "list_unique"     -> arity("list_unique", 1)(e => Size(ArrayDistinct(e.head))),
    "list_value"      -> (exprs => CreateArray(exprs)),
    "string_split"    -> arity("string_split", 2)(e => StringSplitSQL(e(0), e(1))),
    "str_split"       -> arity("str_split", 2)(e => StringSplitSQL(e(0), e(1))),
    "string_to_array" -> arity("string_to_array", 2)(e => StringSplitSQL(e(0), e(1))),
    "regexp_matches"  -> arity("regexp_matches", 2)(e => RLike(e(0), e(1))),
    // the host's lambda syntax (x -> ...) is byte-identical to Spark's, so
    // its higher-order list functions alias straight onto Spark's
    "list_transform"  -> arity("list_transform", 2)(e => ArrayTransform(e(0), e(1))),
    "list_filter"     -> arity("list_filter", 2)(e => ArrayFilter(e(0), e(1))),
    "list_sort"       -> arity("list_sort", 1)(e => new ArraySort(e.head)),
    "list_concat"     -> (exprs => Concat(exprs)),
    "array_has"       -> arity("array_has", 2)(e => ArrayContains(e(0), e(1))),
    // 1-based like the host; failOnError=false so out-of-bounds yields NULL
    // (the host's behavior) even under ANSI mode
    "list_extract"    -> arity("list_extract", 2)(e => ElementAt(e(0), e(1), None, false)),
    "list_element"    -> arity("list_element", 2)(e => ElementAt(e(0), e(1), None, false)),
    "array_extract"   -> arity("array_extract", 2)(e => ElementAt(e(0), e(1), None, false)),
    // `typeof` speaking the host's type vocabulary (BLOB/VARCHAR/...) —
    // shadows Spark's spelling wherever the host dialect pack is active
    "typeof"          -> arity("typeof", 1)(e => TypeofHost(e.head)),
    // the host's text-similarity family (functions/TextSim — byte-level
    // semantics pinned against the host; all native codegen'd)
    "jaccard"         -> arity("jaccard", 2)(e => TextSim.JaccardSim(e(0), e(1))),
    "hamming"         -> arity("hamming", 2)(e => TextSim.HammingDist(e(0), e(1))),
    "mismatches"      -> arity("mismatches", 2)(e => TextSim.HammingDist(e(0), e(1))),
    "jaro_similarity" -> arity("jaro_similarity", 2)(e => TextSim.JaroSim(e(0), e(1))),
    "jaro_winkler_similarity" ->
      arity("jaro_winkler_similarity", 2)(e => TextSim.JaroWinklerSim(e(0), e(1))),
    "damerau_levenshtein" ->
      arity("damerau_levenshtein", 2)(e => TextSim.DamerauLev(e(0), e(1))),
    // the host's levenshtein alias; Spark ships levenshtein itself
    "editdist3"       -> arity("editdist3", 2)(e => Levenshtein(e(0), e(1))),
    // `current_setting(name)` — the host's settings getter
    // (examples/s3_tiles_example.sql:67). Resolved at analysis time against
    // the active session conf (the same moment the host reads its config
    // map): the raw name first (covers verbatim `SET valhalla_x = ...`
    // statements, which Spark stores under the raw key), then the graft
    // conf key the setting maps to. Unknown name → error, as in the host.
    "current_setting" -> arity("current_setting", 1)(e => currentSetting(e.head)))

  private val settingAliases = Map(
    // `SET valhalla_tiles` analogue lives at spark.graft.routing.tiles
    // (routing.RoutingContext.TilesConf); valhalla_config is the reference
    // examples' spelling for the same config-path setting
    "valhalla_tiles"  -> "spark.graft.routing.tiles",
    "valhalla_config" -> "spark.graft.routing.tiles")

  private def currentSetting(nameExpr: Expression): Expression = {
    val name = nameExpr match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
      case _ => throw new IllegalArgumentException(
        "current_setting expects a string literal setting name")
    }
    val spark = SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))
    val value = spark.conf.getOption(name)
      .orElse(settingAliases.get(name.toLowerCase).flatMap(spark.conf.getOption))
      .getOrElse(throw new IllegalArgumentException(
        s"unrecognized configuration parameter \"$name\""))
    Literal(org.apache.spark.unsafe.types.UTF8String.fromString(value),
      org.apache.spark.sql.types.StringType)
  }

  /** Per-session path for sessions built without GraftExtensions. */
  def register(spark: SparkSession): Unit =
    entries.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }

  /** injectFunction tuples for GraftExtensions. */
  def injectable: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] =
    entries.map { case (name, builder) =>
      (new FunctionIdentifier(name),
        new ExpressionInfo(DuckCompat.getClass.getName, name), builder)
    }
}
