package graft

import graft.graph.{GraphStore, GridFixture}
import graft.routing.RoutingContext
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Graph persistence + config lifecycle: the valhalla_build_tiles /
  * travel_time_load_config analogues (SURVEY §2A #1, #11, #12, #14).
  */
class GraphStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  test("save -> loadConfig round-trip preserves the graph and rebinds SQL functions") {
    val dir = Files.createTempDirectory("graft-graph").toString
    val byMode = Map(
      "auto" -> GridFixture.dataFrames(spark, "auto"),
      "bicycle" -> GridFixture.dataFrames(spark, "bicycle"))
    val cfgPath = GraphStore.save(byMode, dir)
    assert(cfgPath.endsWith(GraphStore.ConfigName))

    // directory and explicit config path both resolve (config_setting.cpp:33-39)
    assert(GraphStore.resolveConfig(dir)._2 == Seq("auto", "bicycle"))
    assert(GraphStore.resolveConfig(cfgPath)._2 == Seq("auto", "bicycle"))

    val h = RoutingContext.loadConfig(spark, dir)
    assert(h.graphs.keySet == Set("auto", "bicycle"))
    assert(h.requireGraph("auto").numNodes == 100)

    // SQL surface reflects the rebinding
    assert(spark.sql("SELECT travel_time_node_count('auto') AS n")
      .collect().head.getInt(0) == 100)
    assert(spark.sql(s"SELECT travel_time_load_config('$dir') AS ok")
      .collect().head.getBoolean(0))
    val t = spark.sql(
      "SELECT travel_time(43.7, 7.4, 43.718, 7.418, 'auto') AS t").collect().head
    assert(!t.isNullAt(0) && t.getDouble(0) > 0)

    // a generation switch by SQL alone: a 5×5 sub-lattice of the fixture,
    // then the full fixture again; every statement binds the graph loaded
    // when it is analyzed
    import org.apache.spark.sql.functions.col
    val (nodes, edges) = GridFixture.dataFrames(spark, "auto")
    val inSub = (c: String) => col(c) / GridFixture.K < 5 && col(c) % GridFixture.K < 5
    val subDir = Files.createTempDirectory("graft-graph-sub").toString
    GraphStore.save(Map("auto" ->
      (nodes.filter(inSub("id")), edges.filter(inSub("src") && inSub("dst")))), subDir)
    val corners = Seq(0, GridFixture.K * GridFixture.K - 1)
      .flatMap(i => Seq(GridFixture.latOf(i), GridFixture.lonOf(i))).mkString(", ")
    def generation(dir: String): (Int, Option[Double]) = {
      assert(spark.sql(s"SELECT travel_time_load_config('$dir') AS ok")
        .collect().head.getBoolean(0))
      val n = spark.sql("SELECT travel_time_node_count('auto') AS n").collect().head.getInt(0)
      val viaScan = spark.range(1).selectExpr(s"travel_time($corners, 'auto') AS t")
        .collect().head
      val kernel = graft.routing.RoutingOps.travelTimeSeconds(
        RoutingContext.handle.get.requireGraph("auto"),
        GridFixture.latOf(0), GridFixture.lonOf(0),
        GridFixture.latOf(GridFixture.K * GridFixture.K - 1),
        GridFixture.lonOf(GridFixture.K * GridFixture.K - 1))
      assert(Option.unless(viaScan.isNullAt(0))(viaScan.getDouble(0)) == kernel, dir)
      (n, kernel)
    }
    val full = generation(dir)
    val sub = generation(subDir)
    assert(full._1 == 100 && sub._1 == 25)
    assert(full._2.isDefined && sub._2 != full._2)
    assert(generation(dir) == full)
  }

  test("distributedCh opt-in: load builds the CH on the cluster past the gate") {
    val dir = Files.createTempDirectory("graft-dist-ch").toString
    GraphStore.save(Map("auto" -> GridFixture.dataFrames(spark, "auto")), dir)
    RoutingContext.unload()
    spark.conf.set(RoutingContext.DistributedChConf, "true")
    // fixture is 100 nodes; a gate of 10 forces the distributed path
    spark.conf.set(RoutingContext.DistributedChGateConf, "10")
    try {
      val h = RoutingContext.loadConfig(spark, dir)
      val g = h.requireGraph("auto")
      assert(g.ch != null, "distributed CH must have been built and attached")
      val q = new graft.algo.ChQuery(g.ch)
      val base = new graft.algo.Dijkstra(g)
      val r = new scala.util.Random(51)
      (0 until 100).foreach { _ =>
        val s = r.nextInt(g.numNodes); val t = r.nextInt(g.numNodes)
        assert(q.shortestPathMs(s, t) == base.shortestPathMs(s, t))
      }
      // and it was persisted to the cache next to the parquet graph
      assert(Files.exists(java.nio.file.Paths.get(dir, "auto", "ch.bin")))
    } finally {
      spark.conf.unset(RoutingContext.DistributedChConf)
      spark.conf.unset(RoutingContext.DistributedChGateConf)
      RoutingContext.unload()
    }
  }

  test("SQL-initiated load: travel_time_load_config as FIRST statement actually loads") {
    val dir = Files.createTempDirectory("graft-sql-load").toString
    GraphStore.save(Map("auto" -> GridFixture.dataFrames(spark, "auto")), dir)
    // cold start: nothing loaded, only the bootstrap surface installed —
    // the reference example scripts' opening state
    RoutingContext.unload()
    RoutingContext.install(spark)
    assert(!RoutingContext.isLoaded)
    val ok = spark.sql(s"SELECT travel_time_load_config('$dir') AS ok")
      .collect().head.getBoolean(0)
    assert(ok, "literal load_config call must fold to true")
    assert(RoutingContext.isLoaded, "plan-time rule must have loaded the config")
    assert(RoutingContext.loadedPath.contains(dir))
    // the next statement routes over the just-loaded generation
    val t = spark.sql(
      "SELECT travel_time(43.7, 7.4, 43.718, 7.418, 'auto') AS t").collect().head
    assert(!t.isNullAt(0) && t.getDouble(0) > 0)
  }

  test("full SQL script sequence: valhalla_build_tiles -> load_config -> route") {
    // the reference's end-to-end example shape (examples/monaco_end_to_end.sql):
    // every statement is SQL; builds and loads run driver-side at plan time
    val dir = Files.createTempDirectory("graft-sql-build")
    val pbf = dir.resolve("grid.osm.pbf").toString
    val out = dir.resolve("tiles").toString
    val nodes = (0 until GridFixture.K * GridFixture.K).map(i =>
      graft.graph.OsmPbf.OsmNode(1000L + i, GridFixture.latOf(i), GridFixture.lonOf(i)))
    val ways = GridFixture.edges.zipWithIndex.map { case (e, i) =>
      (5000L + i,
        Map("highway" -> e.highway) ++
          (if (e.oneway) Map("oneway" -> "yes") else Map.empty),
        Seq(1000L + e.src, 1000L + e.dst))
    }
    graft.graph.OsmPbfWriter.write(pbf, nodes, ways.toSeq)

    RoutingContext.unload()
    RoutingContext.install(spark)
    val cfg = spark.sql(s"SELECT valhalla_build_tiles('$pbf', '$out') AS cfg")
      .collect().head.getString(0)
    assert(cfg.endsWith(GraphStore.ConfigName), s"got $cfg")
    assert(spark.sql(s"SELECT travel_time_load_config('$out') AS ok")
      .collect().head.getBoolean(0))
    val t = spark.sql(
      "SELECT travel_time(43.7, 7.4, 43.718, 7.418, 'auto') AS t").collect().head
    assert(!t.isNullAt(0) && t.getDouble(0) > 0)
  }

  test("conf-driven load (SET valhalla_tiles analogue)") {
    val dir = Files.createTempDirectory("graft-graph-conf").toString
    GraphStore.save(Map("auto" -> GridFixture.dataFrames(spark, "auto")), dir)
    spark.conf.set(RoutingContext.TilesConf, dir)
    val h = RoutingContext.ensureFromConf(spark)
    assert(h.isDefined && h.get.requireGraph("auto").numNodes == 100)
    spark.conf.unset(RoutingContext.TilesConf)
  }

  test("distributed buildGraph from OSM-shaped ways (valhalla_build_tiles analogue)") {
    import spark.implicits._
    val rawNodes = Seq(
      (1L, 43.70, 7.40), (2L, 43.70, 7.41), (3L, 43.71, 7.41), (4L, 43.71, 7.40))
      .toDF("id", "lat", "lon")
    val ways = Seq(
      (100L, "residential", false, Seq(1L, 2L, 3L)),
      (101L, "primary", true, Seq(3L, 4L)),      // oneway
      (102L, "footway", false, Seq(4L, 1L)))     // untraversable by auto
      .toDF("way_id", "highway", "oneway", "node_ids")
    val dir = Files.createTempDirectory("graft-built").toString
    val cfg = GraphStore.buildGraph(spark, ways, rawNodes, dir, Seq("auto"))
    val h = RoutingContext.loadConfig(spark, cfg)
    val g = h.requireGraph("auto")
    assert(g.numNodes == 4)
    // residential segments bidirectional (4 directed), primary oneway (1)
    assert(g.numEdges == 5)
    val d = new graft.algo.Dijkstra(g)
    // oneway 3->4 passable, 4->3 must go the long way (footway dropped => via 1,2)
    val i3 = (0 until 4).find(i => g.nodeLat(i) == 43.71 && g.nodeLon(i) == 7.41).get
    val i4 = (0 until 4).find(i => g.nodeLat(i) == 43.71 && g.nodeLon(i) == 7.40).get
    assert(d.shortestPathMs(i3, i4) > 0)
    assert(d.shortestPathMs(i4, i3) == -1L) // 4 can't reach 3: footway dropped, oneway blocks
  }

  test("CH persists beside the parquet cache and reattaches on reload") {
    val dir = Files.createTempDirectory("graft-ch-cache").toString
    GraphStore.save(Map("auto" -> GridFixture.dataFrames(spark, "auto")), dir)
    RoutingContext.unload()
    val h1 = RoutingContext.loadConfig(spark, dir)
    assert(h1.requireGraph("auto").ch != null, "first load builds the CH")
    val chFile = java.nio.file.Paths.get(dir, "auto", "ch.bin")
    assert(Files.exists(chFile), "CH cached beside the parquet graph")

    RoutingContext.unload()
    val h2 = RoutingContext.loadConfig(spark, dir)
    val g2 = h2.requireGraph("auto")
    assert(g2.ch != null, "reload attaches the cached CH")
    // cached hierarchy routes identically to a fresh build
    val q = new graft.algo.ChQuery(g2.ch)
    val base = new graft.algo.Dijkstra(g2)
    (0 until 50).foreach { i =>
      val s = (i * 7) % g2.numNodes; val t = (i * 13 + 3) % g2.numNodes
      assert(q.shortestPathMs(s, t) == base.shortestPathMs(s, t))
    }
    // stale cache (graph changed) is refused, not mis-attached
    val other = GridFixture.lattice(12)
    assert(graft.graph.ChStore.load(chFile, other).isEmpty)
  }

  test("PlaneDem config roundtrip wires the height sampler through loadConfig") {
    val dem = graft.graph.PlaneDem(base = 250.0, perDegLat = 800.0, perDegLon = -350.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-dem-spec").toString
    GraphStore.save(Map("auto" -> GridFixture.dataFrames(spark, "auto")), dir, Some(dem))
    val cfg = s"$dir/${GraphStore.ConfigName}"
    assert(GraphStore.readDem(cfg) == Some(dem), "dem must roundtrip exactly")
    // a config without the entry reads as None
    val bare = java.nio.file.Files.createTempDirectory("graft-nodem-spec").toString
    GraphStore.save(Map("auto" -> GridFixture.dataFrames(spark, "auto")), bare)
    assert(GraphStore.readDem(s"$bare/${GraphStore.ConfigName}").isEmpty)
    try {
      RoutingContext.loadConfig(spark, dir)
      assert(RoutingContext.elevation.exists(f =>
        f(43.7, 7.4) == dem.sample(43.7, 7.4)))
      RoutingContext.loadConfig(spark, bare)
      assert(RoutingContext.elevation.isEmpty,
        "a dem-less generation must clear the previous sampler")
    } finally { RoutingContext.unload(); graft.queries.Routing.ensure(spark): Unit }
  }

  test("HgtDem: tile naming, bilinear exactness, voids, seams, missing tiles") {
    import graft.graph.HgtDem
    assert(HgtDem.tileName(43, 7) == "N43E007.hgt")
    assert(HgtDem.tileName(-1, -7) == "S01W007.hgt")
    assert(HgtDem.tileName(0, 120) == "N00E120.hgt")
    val dir = java.nio.file.Files.createTempDirectory("graft-hgt-spec").toString
    val side = 101
    // linear field + a void post at (50, 50)
    def elev(r: Int, c: Int): Int = if (r == 50 && c == 50) -32768 else 100 + 3 * r + 5 * c
    HgtDem.writeTile(dir, 43, 7, side, elev)
    val dem = new HgtDem(dir, new org.apache.hadoop.conf.Configuration())
    // exact posts (row 0 = NORTH edge = lat 44)
    assert(dem.sample(44.0, 7.0) == 100.0, "NW corner = post (0,0)")
    assert(dem.sample(43.0, 7.0) == 100.0 + 3 * 100, "SW corner = post (100,0)")
    assert(dem.sample(44.0, 8.0 - 1e-12) +- (100.0 + 5 * 100, 0.01), "NE corner")
    // bilinear reproduces the linear field exactly at off-post points
    for ((la, lo) <- Seq((43.7384, 7.4246), (43.21, 7.87), (43.999, 7.001))) {
      val exp = 100.0 + 3 * (44.0 - la) * (side - 1) + 5 * (lo - 7.0) * (side - 1)
      assert(math.abs(dem.sample(la, lo) - exp) < 1e-6, s"($la,$lo)")
    }
    // any void corner -> NaN
    val voidLat = 44.0 - 49.5 / (side - 1); val voidLon = 7.0 + 49.5 / (side - 1)
    assert(dem.sample(voidLat, voidLon).isNaN, "void-adjacent sample must be NaN")
    // missing tile -> NaN
    assert(dem.sample(45.5, 7.5).isNaN)
    assert(dem.sample(43.5, 9.5).isNaN)
    // readElevation wires the raster kind with a relative dem_dir
    val store = java.nio.file.Files.createTempDirectory("graft-hgt-store").toString
    HgtDem.writeTile(s"$store/dem", 43, 7, side, elev)
    GraphStore.save(Map("auto" -> GridFixture.dataFrames(spark, "auto")), store,
      Some(graft.graph.HgtDemDir("dem")))
    val sampler = GraphStore.readElevation(s"$store/${GraphStore.ConfigName}")
    assert(sampler.isDefined, "hgt elevation entry must produce a sampler")
    assert(math.abs(sampler.get(43.25, 7.75) -
      (100.0 + 3 * 75 + 5 * 75)) < 1e-6)
    assert(sampler.get(43.5, 7.5).isNaN, "the (50,50) void post samples NaN")
    // plane entries still read through the same entry point
    assert(GraphStore.readDem(s"$store/${GraphStore.ConfigName}").isEmpty,
      "an hgt entry is not a plane")
  }

  private implicit final class Approx(private val a: Double) {
    def +-(et: (Double, Double)): Boolean = math.abs(a - et._1) <= et._2
  }

  test("missing config errors with the reference's contract") {
    val e = intercept[IllegalArgumentException] {
      GraphStore.resolveConfig("/nonexistent/path")
    }
    assert(e.getMessage.contains("not found"))
  }

  // leave the shared session bound to the grid fixture for later suites
  test("rebind grid fixture") {
    RoutingContext.unload()
    val h = graft.queries.Routing.ensure(spark)
    assert(h.requireGraph("pedestrian").numNodes == 100)
  }
}
