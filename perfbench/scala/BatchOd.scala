package perfbench

import graft.algo.{BiDijkstra, Dijkstra}
import graft.geo.Wkb
import graft.graph.PreparedGraph
import graft.routing.{RoutingContext, TravelTime}
import org.apache.spark.sql.Row

/** Batch statements of `sql_routing`: a fixed sequence of set-at-a-time
  * statements over seeded tables, repeated in whole passes. Spark's
  * per-job cost is spread over many rows, so the routing kernels do most
  * of the work. Sampled output rows are checked against an exact in-JVM
  * oracle.
  */
object BatchOd {
  final val OdPairs = 20000
  final val RoutePairs = 4000
  final val MatrixSide = 100
  final val IsoSources = 400
  final val IsoSeconds = 120.0
  /** Rows per statement checked against the oracle (every isochrone is). */
  final val Sample = 500
  final val FilesPerSlot = 4

  /** One statement of the pass: `run` executes it and returns the pairs
    * answered plus the check of its rows; `replay` re-runs its kernel work.
    */
  final case class Stmt(kind: String, run: (OpRunner, Long) => (Int, () => String),
                        replay: (Trace, Long, Seq[Kernels]) => Unit)

  private def within(ms: Long, seconds: Double): Boolean =
    if (ms < 0) seconds < 0 else math.round(seconds * 1000) == ms

  def statements(ctx: Ctx, net: RoadGen.Network, g: PreparedGraph): IndexedSeq[Stmt] = {
    val spark = ctx.spark
    import spark.implicits._
    val rnd = new scala.util.Random(ctx.seed * 104729 + 3)
    val od = (0 until OdPairs).map(i => i -> Requests.pair(net, rnd))
    val routes = (0 until RoutePairs).map(i => i -> Requests.pair(net, rnd))
    val srcs = (0 until MatrixSide).map(i => i -> Requests.pair(net, rnd))
    val dsts = (0 until MatrixSide).map(i => i -> Requests.pair(net, rnd))
    val iso = (0 until IsoSources).map(i => i -> Requests.pair(net, rnd))
    // the tables live in parquet files, as a user's tables would, a few
    // per task slot: a slot that the host slows takes fewer of them,
    // where with one each the statement would wait for the slow one
    def table(name: String, df: org.apache.spark.sql.DataFrame) = {
      val path = ctx.path(s"tables/$name")
      df.repartition(ctx.cores * FilesPerSlot).write.parquet(path)
      val t = spark.read.parquet(path)
      t.createOrReplaceTempView(name)
      t
    }
    table("od", od.map { case (i, p) => (i, p.lat1, p.lon1, p.lat2, p.lon2) }
      .toDF("id", "lat1", "lon1", "lat2", "lon2"))
    table("routes", routes.map { case (i, p) =>
      (i, Wkb.writePoint(p.lon1, p.lat1), Wkb.writePoint(p.lon2, p.lat2)) }.toDF("id", "a", "b"))
    val srcDf = table("sources", srcs.map { case (i, p) => (i, p.lat1, p.lon1) }.toDF("idx", "lat", "lon"))
    val dstDf = table("targets", dsts.map { case (i, p) => (i, p.lat2, p.lon2) }.toDF("idx", "lat", "lon"))
    val isoDf = table("iso_sources", iso.map { case (i, p) => (i, p.lat1, p.lon1) }.toDF("idx", "lat", "lon"))

    // the oracle checks a seeded sample of each statement's rows
    val srnd = new scala.util.Random(ctx.seed * 7 + 1)
    def sample(n: Int): Set[Int] = srnd.shuffle((0 until n).toVector).take(Sample).toSet
    val odSample = sample(OdPairs); val routeSample = sample(RoutePairs)
    val cellSample = sample(MatrixSide * MatrixSide)
    lazy val oracle = {
      val bi = new BiDijkstra(g); val dj = new Dijkstra(g)
      def ms(p: Requests.Pair) = Kernels.oracleMs(bi, g.snap(p.lat1, p.lon1), g.snap(p.lat2, p.lon2))
      val odMs = odSample.map(i => i -> ms(od(i)._2)).toMap
      val routeEnds = routeSample.map { i =>
        val p = routes(i)._2
        val s = g.snap(p.lat1, p.lon1); val t = g.snap(p.lat2, p.lon2)
        i -> (ms(p), (g.nodeLon(s), g.nodeLat(s)), (g.nodeLon(t), g.nodeLat(t)))
      }.toMap
      val cells = cellSample.map { c =>
        val (a, b) = (srcs(c / MatrixSide)._2, dsts(c % MatrixSide)._2)
        c -> Kernels.oracleMs(bi, g.snap(a.lat1, a.lon1), g.snap(b.lat2, b.lon2))
      }.toMap
      val isoCounts = iso.map { case (_, p) =>
        val s = g.snap(p.lat1, p.lon1)
        if (s < 0) 0 else dj.reachableWithin(s, (IsoSeconds * 1000).toLong).length
      }
      (odMs, routeEnds, cells, isoCounts)
    }

    def byId(rows: Array[Row], n: Int, what: String, sampled: Set[Int])(ok: (Int, Row) => Boolean): String = {
      if (rows.length != n) return s"$what: ${rows.length} rows, expected $n"
      val bad = rows.filter(r => sampled(r.getInt(0)) && !ok(r.getInt(0), r))
      if (bad.isEmpty) null else s"$what: ${bad.length} wrong rows of ${sampled.size} checked, first ${bad.head}"
    }

    val odStmt = Stmt("od_travel_time",
      (runner, op) => {
        val rows = runner.collect(spark.sql(
          "SELECT id, travel_time(lat1, lon1, lat2, lon2, 'auto') AS s FROM od"), op)
        (OdPairs, () => byId(rows, OdPairs, "od", odSample) { (i, r) =>
          within(oracle._1(i), if (r.isNullAt(1)) -1.0 else r.getDouble(1)) })
      },
      (t, op, ks) => Kernels.replay(t, op, ks, od) { case (k, (_, p)) =>
        k.travelTimeMs(p.lat1, p.lon1, p.lat2, p.lon2): Unit })

    val routeStmt = Stmt("route_wkb",
      (runner, op) => {
        val rows = runner.collect(spark.sql(
          "SELECT id, travel_time_route_wkb(a, b, 'auto') AS r FROM routes"), op)
        (RoutePairs, () => byId(rows, RoutePairs, "route", routeSample) { (i, r) =>
          val (ms, s, t) = oracle._2(i)
          if (r.isNullAt(1)) ms < 0
          else {
            val route = r.getStruct(1)
            val pts = Wkb.readLineString(route.getAs[Array[Byte]](2)).getOrElse(Array.empty)
            math.round(route.getDouble(1) * 60000) == ms && pts.nonEmpty &&
              pts.head == s && pts.last == t
          }
        })
      },
      (t, op, ks) => Kernels.replay(t, op, ks, routes) { case (k, (_, p)) =>
        k.route(p.lat1, p.lon1, p.lat2, p.lon2): Unit })

    val matrixStmt = Stmt("matrix",
      (runner, op) => {
        val h = RoutingContext.handle.get
        val rows = runner.collect(TravelTime.matrix(spark, srcDf, dstDf, "auto", h), op)
        (MatrixSide * MatrixSide, () => {
          if (rows.length != MatrixSide * MatrixSide) s"matrix: ${rows.length} cells"
          else {
            val bad = rows.filter { r =>
              val c = r.getInt(0) * MatrixSide + r.getInt(1)
              cellSample(c) && !within(oracle._3(c), r.getDouble(3))
            }
            if (bad.isEmpty) null else s"matrix: ${bad.length} wrong cells, first ${bad.head}"
          }
        })
      },
      (t, op, ks) => {
        val dstNodes = dsts.map { case (_, p) => ks.head.snap(p.lat2, p.lon2) }.toArray
        Kernels.replay(t, op, ks, srcs) { case (k, (_, p)) =>
          k.oneToMany(k.snap(p.lat1, p.lon1), dstNodes): Unit }
      })

    val isoStmt = Stmt("isochrones",
      (runner, op) => {
        val h = RoutingContext.handle.get
        val rows = runner.collect(TravelTime.isochrones(spark, isoDf, IsoSeconds, "auto", h)
          .groupBy("idx").count(), op)
        (0, () => {
          val counts = rows.map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
          val bad = iso.indices.filter(i => counts.getOrElse(i, 0) != oracle._4(i))
          if (bad.isEmpty) null
          else s"isochrones: ${bad.length} wrong sources, first ${bad.head}: " +
            s"${counts.getOrElse(bad.head, 0)} nodes, expected ${oracle._4(bad.head)}"
        })
      },
      (t, op, ks) => Kernels.replay(t, op, ks, iso) { case (k, (_, p)) =>
        k.isochrone(p.lat1, p.lon1, IsoSeconds): Unit })

    IndexedSeq(odStmt, routeStmt, matrixStmt, isoStmt)
  }

  def exec(runner: OpRunner, s: Stmt): OpRec = runner.run(s.kind, s)(op => s.run(runner, op))

  /** Whole passes until `seconds` have elapsed; returns each pass's time
    * and the pairs its statements answered correctly.
    */
  def passes(runner: OpRunner, stmts: Seq[Stmt], seconds: Double): Seq[(Double, Double)] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    while (out.isEmpty || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      val pairs = stmts.map(exec(runner, _)).filter(_.ok).map(_.pairs).sum
      out += (((System.nanoTime() - t0) / 1e9, pairs.toDouble))
    }
    out.toSeq
  }

  /** The traced statements replayed through the kernels, on one thread
    * per core, like the statements' tasks.
    */
  def replay(ctx: Ctx, t: Trace, traced: OpRunner, g: PreparedGraph): Seq[Kernels] = {
    val ks = (0 until ctx.cores).map(_ => new Kernels(g))
    traced.kernelOps.forEach { case (op, s) => s.asInstanceOf[Stmt].replay(t, op, ks) }
    ks
  }
}
