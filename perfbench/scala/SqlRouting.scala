package perfbench

import graft.graph.PreparedGraph
import graft.routing.RoutingContext

/** `sql_routing`: the routing SQL functions on one broadcast graph, used
  * two ways. Point requests (one-row statements from a closed loop,
  * [[PointSql]]) are dominated by Catalyst planning and job
  * launch; batch statements over tables ([[BatchOd]]) spread that cost
  * over many rows, so the kernels do the work.
  *
  * The two alternate through the run's measured seconds.
  *
  * Set-up: one seeded PBF, then several rounds of `valhalla_build_tiles`
  * and `travel_time_load_config`, each into a fresh directory. Set-up
  * time is the median over rounds (taken by run.py); first-request time
  * is the mean over the first point request of each kind after the first
  * load, each the JVM's first of its kind. The graph of the last round
  * serves the measured windows.
  */
object SqlRouting {
  val Spec: RoadGen.Spec = RoadGen.Spec(cols = 50, rows = 50)
  final val Rounds = 3
  /** Untimed warm-up, the same alternation as the window. Point requests
    * keep getting faster for a minute as more of Spark gets compiled (on a
    * 4-core host, 35 ms at p50 over the first five seconds, 29 ms by ten
    * and 23 ms after a minute); timing starts past the steepest part.
    */
  final val WarmSeconds = 10.0
  /** Seconds of point requests between two batch passes (a pass takes
    * about as long), so the window holds about as much of each.
    */
  final val PointSlice = 1.0
  final val QuietMs = 1500L

  final case class Loaded(net: RoadGen.Network, graph: PreparedGraph)

  def sqlString(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  def setup(ctx: Ctx, out: Result): Loaded = {
    val spark = ctx.spark
    RoutingContext.install(spark)
    val pbf = ctx.path("roads.osm.pbf")
    val net = RoadGen.generate(ctx.seed, Spec)
    net.writePbf(pbf)
    val setup, build, load = scala.collection.mutable.ArrayBuffer.empty[Double]
    val firstOps = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    var loaded: Loaded = null
    for (k <- 0 until Rounds) {
      val dir = ctx.freshDir(s"setup-$k")
      val t0 = System.nanoTime()
      val cfg = spark.sql(s"SELECT valhalla_build_tiles(${sqlString(pbf)}, ${sqlString(dir)})")
        .head().getString(0)
      val t1 = System.nanoTime()
      spark.sql(s"SELECT travel_time_load_config(${sqlString(cfg)})").collect()
      val t2 = System.nanoTime()
      setup += (t2 - t0) / 1e9; build += (t1 - t0) / 1e6; load += (t2 - t1) / 1e6
      loaded = Loaded(net, RoutingContext.handle.get.requireGraph("auto"))
      // the JVM's first request of each kind; after later loads they are
      // already warm and would only repeat latency_p50_ms
      if (k == 0) {
        // let the collector and the compiler threads finish the set-up's
        // work first, so that neither lands inside the first requests
        System.gc()
        Thread.sleep(QuietMs)
        firstOps ++= PointSql.firsts(ctx, loaded)
      }
      Main.log(s"set-up round $k done")
    }
    out.nums("setup_s", setup)
    out.window("first_ops", firstOps, 0.0)
    val g = loaded.graph
    out.put("setup_layers", Json.obj(
      "graph.build_ms" -> Json.nums(build), "routing.load_ms" -> Json.nums(load),
      "graph.nodes" -> Json.num(g.numNodes.toDouble), "graph.edges" -> Json.num(g.numEdges.toDouble)))
    loaded
  }

  /** The measured window: slices of point requests alternating with
    * whole batch passes until `seconds` have elapsed, so that both are
    * sampled over the whole window. Returns the seconds of point requests
    * and each pass's time and pairs answered.
    */
  def window(ctx: Ctx, point: OpRunner, batch: OpRunner, reqs: IndexedSeq[PointSql.Req],
             stmts: Seq[BatchOd.Stmt], seconds: Double): (Double, Seq[(Double, Double)]) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pointSecs = 0.0
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    while (passes.isEmpty || System.nanoTime() < deadline) {
      pointSecs += PointSql.loop(ctx, point, reqs, PointSlice)
      passes ++= BatchOd.passes(batch, stmts, 0.0)
    }
    (pointSecs, passes.toSeq)
  }

  def run(ctx: Ctx, out: Result, trace: Option[Trace]): Unit = {
    val l = setup(ctx, out)
    Heap.checkpoint()
    val reqs = PointSql.pool(l.net, l.graph, ctx.seed, PointSql.PoolSize)
    val stmts = BatchOd.statements(ctx, l.net, l.graph)
    window(ctx, new OpRunner(ctx.spark, None), new OpRunner(ctx.spark, None, batch = true), reqs, stmts,
      WarmSeconds)
    Main.log("warm")

    def measure(prefix: String, t: Option[Trace]): (OpRunner, OpRunner) = {
      val point = new OpRunner(ctx.spark, t)
      val batch = new OpRunner(ctx.spark, t, batch = true)
      val (secs, ps) = t match {
        case Some(tr) => LayerListener.around(ctx.spark, tr)(window(ctx, point, batch, reqs, stmts, ctx.seconds))
        case None => window(ctx, point, batch, reqs, stmts, ctx.seconds)
      }
      out.window(prefix + "window", point.ops, secs)
      out.window(prefix + "batch_window", batch.ops, ps.map(_._1).sum)
      out.nums(prefix + "batch_s", ps.map(_._1))
      out.nums(prefix + "batch_pairs", ps.map(_._2))
      Heap.checkpoint()
      Main.log(prefix + "window done")
      (point, batch)
    }
    measure("", None)
    trace.foreach { t =>
      val (point, batch) = measure("traced_", Some(t))
      val kernels = PointSql.replay(t, point, l.graph) +: BatchOd.replay(ctx, t, batch, l.graph)
      Kernels.chBuild(l.graph, kernels.head)
      out.put("kernels", Kernels.json(Kernels.merge(kernels)))
    }
  }
}
