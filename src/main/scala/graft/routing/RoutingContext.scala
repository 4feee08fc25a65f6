package graft.routing

import graft.algo.Dijkstra
import graft.graph.{GraphBuilder, PreparedGraph}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-mode broadcast routing graphs.
  *
  * Spark analogue of the reference's process-global router + mutex
  * (reference: src/travel_time_extension.cpp:26-30; per-mode globals
  * rust/src/lib.rs:160-162): an immutable [[PreparedGraph]] per mode, shipped
  * to executors once via broadcast, read lock-free by every task. "Reload on
  * path change" (src/travel_time_extension.cpp:449-452) becomes: new
  * broadcast generation, old one unpersisted.
  */
final case class RouterHandle(graphs: Map[String, Broadcast[PreparedGraph]])
    extends Serializable {
  def graph(mode: String): Option[PreparedGraph] = graphs.get(mode).map(_.value)
  def requireGraph(mode: String): PreparedGraph =
    graph(mode).getOrElse(throw new IllegalStateException(
      s"Router not loaded for costing '$mode'. Call RoutingContext.load* first " +
        "(reference contract: src/travel_time_extension.cpp:38-42)."))
}

object RoutingContext {
  @volatile private var current: Option[(String, RouterHandle)] = None

  def isLoaded: Boolean = current.isDefined
  def handle: Option[RouterHandle] = current.map(_._2)
  def loadedPath: Option[String] = current.map(_._1)

  /** Load from (nodes, edges) DataFrames, one graph per requested mode.
    * Edge weights must already be per-mode (time_ms) — for multi-mode loads
    * from raw `ways`, use [[loadWays]]. The contraction hierarchy is prepared
    * driver-side before broadcast (the reference's `fast_paths::prepare` at
    * load, rust/src/lib.rs:260).
    */
  def load(spark: SparkSession, key: String,
           graphsByMode: Map[String, (DataFrame, DataFrame)],
           chFileByMode: Map[String, java.nio.file.Path] = Map.empty): RouterHandle =
    synchronized {
      current match {
        case Some((k, h)) if k == key => h // idempotent per path, like the reference
        case _ =>
          unload()
          val sc = spark.sparkContext
          val bc = graphsByMode.map { case (mode, (nodes, edges)) =>
            val pg = GraphBuilder.prepare(nodes, edges)
            attachCh(spark, pg, chFileByMode.get(mode))
            mode -> sc.broadcast(pg)
          }
          val h = RouterHandle(bc)
          current = Some((key, h))
          h
      }
    }

  /** Contraction-hierarchy attachment policy at load time:
    *  1. a valid persisted CH (`ch.bin`) attaches regardless of size — it
    *     is already paid for;
    *  2. graphs at or under the driver gate build in-process
    *     ([[graft.graph.PreparedGraph.withCh]]);
    *  3. LARGER graphs build on the cluster when
    *     `spark.graft.routing.distributedCh=true`
    *     ([[graft.algo.DistributedCh]] — executors contract tile interiors,
    *     the driver only the boundary remainder); without the opt-in they
    *     route exactly via bidirectional Dijkstra as before.
    * Whatever was built is cached to `ch.bin` when a cache path exists.
    */
  private def attachCh(spark: SparkSession, pg: graft.graph.PreparedGraph,
                       chFile: Option[java.nio.file.Path]): Unit = {
    if (pg.ch != null) return
    chFile.foreach { f =>
      graft.graph.ChStore.load(f, pg).foreach(ch => pg.ch = ch)
    }
    if (pg.ch == null) {
      val gate = spark.conf.getOption(DistributedChGateConf)
        .map(_.toInt).getOrElse(100000)
      if (pg.numNodes > gate &&
          spark.conf.getOption(DistributedChConf).contains("true")) {
        // ~50k interior nodes per tile keeps executor tasks minutes-bounded
        val cells = math.max(2, math.ceil(math.sqrt(pg.numNodes / 50000.0)).toInt)
        pg.ch = graft.algo.DistributedCh.build(spark, pg, cells)
      } else pg.withCh(maxNodes = gate)
      chFile.foreach { f =>
        if (pg.ch != null) {
          try graft.graph.ChStore.save(f, pg, pg.ch)
          catch {
            case e: java.io.IOException =>
              System.err.println(s"[graft] CH cache write skipped ($f): ${e.getMessage}")
          }
        }
      }
    }
  }

  final val DistributedChConf = "spark.graft.routing.distributedCh"
  final val DistributedChGateConf = "spark.graft.routing.distributedCh.gate"

  /** Load a parquet graph cache: `<dir>/nodes.parquet`, `<dir>/edges.parquet`
    * (cache convention mirroring `<pbf>.<mode>.routing`, rust/src/lib.rs:164-166).
    * Local cache dirs also persist the prepared CH (`<dir>/<mode>/ch.bin`,
    * graft.graph.ChStore) so repeated loads skip the contraction build —
    * the reference persists its prepared fast_paths graph the same way.
    */
  def loadParquet(spark: SparkSession, dir: String, modes: Seq[String] = Seq("auto")): RouterHandle = {
    val byMode = modes.map { m =>
      val nodes = spark.read.parquet(s"$dir/$m/nodes.parquet")
      val edges = spark.read.parquet(s"$dir/$m/edges.parquet")
      m -> (nodes, edges)
    }.toMap
    val local = !dir.contains("://") || dir.startsWith("file:")
    val chFiles =
      if (!local) Map.empty[String, java.nio.file.Path]
      else {
        val base = if (dir.startsWith("file:"))
          java.nio.file.Paths.get(java.net.URI.create(dir))
        else java.nio.file.Paths.get(dir)
        modes.map(m => m -> base.resolve(m).resolve("ch.bin")).toMap
      }
    load(spark, dir, byMode, chFiles)
  }

  /** `travel_time_load_config` analogue (src/travel_time_extension.cpp:433-466):
    * resolve a config path (directory → `<dir>/graft_routing.json`), load every
    * mode it declares, broadcast, and [[install]] the SQL functions if the
    * session lacks them. Idempotent per resolved path; a different path frees
    * the old broadcasts (the reference's free-on-path-change,
    * src/travel_time_extension.cpp:449-452), and the next statement binds the
    * new handle when it is analyzed. Driver-side by design: in Spark the
    * "process-global router" is the broadcast handle the functions bind, so
    * loading must happen where broadcasts are created (SURVEY §7 risk 1).
    */
  def loadConfig(spark: SparkSession, path: String): RouterHandle = {
    val (cfgPath, modes) = graft.graph.GraphStore.resolveConfig(path,
      spark.sparkContext.hadoopConfiguration)
    // Hadoop Path, not NIO: the config may live on s3a://, hdfs://, file:
    val dir = new org.apache.hadoop.fs.Path(cfgPath).getParent.toString
    val h = loadParquet(spark, dir, modes)
    // elevation belongs to the loaded generation: a config that declares a
    // surface wires the `height` sampler, one that doesn't leaves heights
    // null (Valhalla-without-elevation-tiles semantics) — and replaces any
    // sampler a previous generation installed
    graft.graph.GraphStore.readElevation(cfgPath,
        spark.sparkContext.hadoopConfiguration) match {
      case Some(sampler) => setElevation(sampler)
      case None => clearElevation()
    }
    install(spark)
    h
  }

  /** Installs the SQL surface into a session built without
    * graft.GraftExtensions: the same function builders the extension
    * injects, the FROM-position `travel_time_matrix`, and
    * RoutingFunctions.DriverSideRule as an extra optimization. Does nothing
    * when the session already resolves `travel_time`, so the rule runs once.
    * Before any load, `SELECT travel_time_load_config(path)` is callable as
    * a script's very first statement (the reference example sequence,
    * examples/monaco_end_to_end.sql): the rule performs the real driver-side
    * load at plan time. Until a load, routing functions fail with "Router
    * not loaded".
    */
  def install(spark: SparkSession): Unit = {
    val st = spark.sessionState
    if (!st.functionRegistry.functionExists(
        new org.apache.spark.sql.catalyst.FunctionIdentifier("travel_time"))) {
      RoutingFunctions.injectable.foreach { case (id, info, b) =>
        st.functionRegistry.registerFunction(id, info, b)
      }
      val (id, info, b) = RoutingFunctions.matrixTable
      st.tableFunctionRegistry.registerFunction(id, info, b)
      spark.experimental.extraOptimizations :+= new RoutingFunctions.DriverSideRule(spark)
    }
  }

  /** `SET valhalla_tiles` analogue (src/config_setting.cpp:25-70): read
    * `spark.graft.routing.tiles` from the session conf and load it if it is
    * set and differs from the current generation.
    */
  def ensureFromConf(spark: SparkSession): Option[RouterHandle] =
    spark.conf.getOption(TilesConf).map(loadConfig(spark, _))

  final val TilesConf = "spark.graft.routing.tiles"

  /** Legacy `travel_time_load(pbf_path, mode)` analogue
    * (rust/src/lib.rs:343-384): build-or-load a cached graph from an OSM PBF.
    * Cache convention mirrors `<pbf>.<mode>.routing` (rust/src/lib.rs:164-166)
    * as a parquet dir `<pbf>.graft/` next to the source. Accepts any URI
    * Hadoop FileSystem can open — `http(s)://`, `s3a://`, `hdfs://` —
    * the remote download path of the reference
    * (src/valhalla_build_tiles_simple.cpp:180-198); remote sources cache
    * under the local tmpdir keyed by URI digest (there is no "next to the
    * source" for a URL).
    */
  def loadPbf(spark: SparkSession, pbfPath: String,
              modes: Seq[String] = Seq("auto")): RouterHandle = {
    val cacheDir = cacheDirFor(pbfPath)
    val cfg = java.nio.file.Paths.get(cacheDir, graft.graph.GraphStore.ConfigName)
    if (!java.nio.file.Files.exists(cfg))
      graft.graph.GraphStore.buildGraphFromPbf(spark, pbfPath, cacheDir, modes)
    loadConfig(spark, cacheDir)
  }

  private def cacheDirFor(pbfPath: String): String =
    if (pbfPath.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(pbfPath)).toString + ".graft"
    else if (pbfPath.contains("://")) {
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(pbfPath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map("%02x".format(_)).mkString
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft-pbf-$digest.graft").toString
    } else s"$pbfPath.graft"

  /** Distributed build from OSM-shaped ways/nodes, then load. */
  def loadWays(spark: SparkSession, key: String, ways: DataFrame, rawNodes: DataFrame,
               modes: Seq[String]): RouterHandle = {
    val byMode = modes.map { m =>
      val edges = GraphBuilder.buildEdges(spark, ways, rawNodes, m)
      val nodes = GraphBuilder.usedNodes(spark, rawNodes, edges)
      m -> (nodes, edges)
    }.toMap
    load(spark, key, byMode)
  }

  def unload(): Unit = synchronized {
    current.foreach(_._2.graphs.values.foreach(_.unpersist(blocking = false)))
    current = None
    // the elevation provider belongs to the loaded generation: clearing it
    // here keeps a stale synthetic surface from answering later height
    // requests (post-unload behavior = reference without elevation tiles)
    elevationFn = None
  }

  /** Optional elevation sampler for the `height` request action
    * (valhalla-wrapper/src/wrapper.cpp:445-446 delegates to Valhalla's
    * elevation tiles; we have no tile source in-container, so the provider is
    * pluggable). Without one, heights are JSON null — the same "no elevation
    * data loaded" degradation Valhalla exhibits without its elevation dir.
    * Process-local: on a multi-executor cluster, register the sampler in an
    * executor plugin or ship an elevation grid via broadcast instead;
    * executors that never saw setElevation degrade to null heights.
    */
  @volatile private var elevationFn: Option[(Double, Double) => Double] = None
  def setElevation(fn: (Double, Double) => Double): Unit = elevationFn = Some(fn)
  def clearElevation(): Unit = elevationFn = None
  def elevation: Option[(Double, Double) => Double] = elevationFn
}

/** Executor-side per-thread scratch: one [[Dijkstra]] per (thread, graph),
  * mirroring the reference's rayon thread-local `PathCalculator`s
  * (rust/src/lib.rs:498-533). The graph itself is shared and immutable.
  */
object Routers {
  private val tl: ThreadLocal[java.util.IdentityHashMap[PreparedGraph, Dijkstra]] =
    ThreadLocal.withInitial(() => new java.util.IdentityHashMap[PreparedGraph, Dijkstra]())
  private val tlCh: ThreadLocal[java.util.IdentityHashMap[graft.algo.ChGraph, graft.algo.ChQuery]] =
    ThreadLocal.withInitial(() => new java.util.IdentityHashMap[graft.algo.ChGraph, graft.algo.ChQuery]())

  def calculator(g: PreparedGraph): Dijkstra = {
    val m = tl.get()
    var d = m.get(g)
    if (d == null) { d = new Dijkstra(g); m.put(g, d) }
    d
  }

  private val tlBi: ThreadLocal[java.util.IdentityHashMap[PreparedGraph, graft.algo.BiDijkstra]] =
    ThreadLocal.withInitial(() => new java.util.IdentityHashMap[PreparedGraph, graft.algo.BiDijkstra]())

  /** Bidirectional point-query scratch — the fallback accelerator for graphs
    * without a prepared CH.
    */
  def biCalculator(g: PreparedGraph): graft.algo.BiDijkstra = {
    val m = tlBi.get()
    var d = m.get(g)
    if (d == null) { d = new graft.algo.BiDijkstra(g); m.put(g, d) }
    d
  }

  /** CH query scratch for graphs that carry a prepared hierarchy. */
  def chQuery(g: PreparedGraph): Option[graft.algo.ChQuery] = {
    val ch = g.ch
    if (ch == null) None
    else {
      val m = tlCh.get()
      var q = m.get(ch)
      if (q == null) { q = new graft.algo.ChQuery(ch); m.put(ch, q) }
      Some(q)
    }
  }
}
