package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.RoutingCacheCodec
import graft.routing.RoutingContext

/** Real-road-network parity: decode the reference's prebuilt Monaco cache
  * (`test/data/monaco.osm.pbf.auto.routing`, bincode of `RoutingData` —
  * reference `rust/src/lib.rs:147-153`) and assert the reference's own
  * integration invariants (`test/sql/z_integration.test.skip:20-59`) through
  * the engine. Skips cleanly when the reference checkout is absent.
  */
class MonacoSpec extends AnyFunSuite {

  private val fixture = sys.env.getOrElse("GRAFT_REFERENCE_DIR", "/root/reference") +
    "/test/data/monaco.osm.pbf.auto.routing"
  private def available: Boolean = java.nio.file.Files.exists(java.nio.file.Paths.get(fixture))

  test("decode: every section self-validates and the file is consumed exactly") {
    assume(available)
    val g = RoutingCacheCodec.decode(fixture)
    // Monaco has ~5k-15k road nodes (z_integration.test.skip:20-22)
    assert(g.numNodes == 7338)
    assert(g.numEdges == 11804)
    // every used node in Monaco is on an is_main_road way type, so the
    // reference's R-tree indexes all of them (rust/src/lib.rs:100-117,234-242)
    assert(g.mainRoad.count(identity) == 7338)
    for (i <- 0 until g.numNodes) {
      assert(g.lon(i) > 7.3 && g.lon(i) < 7.6, s"lon out of Monaco bbox at $i")
      assert(g.lat(i) > 43.6 && g.lat(i) < 43.9, s"lat out of Monaco bbox at $i")
    }
    // weights are travel-time ms: positive, bounded by a slow crawl over
    // the longest plausible Monaco edge
    for (i <- 0 until g.numNodes; j <- g.adjTo(i).indices) {
      assert(g.adjTo(i)(j) >= 0 && g.adjTo(i)(j) < g.numNodes)
      assert(g.adjWeightMs(i)(j) > 0 && g.adjWeightMs(i)(j) < 30 * 60 * 1000)
    }
  }

  test("z_integration invariants hold on the real network through the engine") {
    assume(available)
    val s = SparkTestBase.spark
    val g = RoutingCacheCodec.decode(fixture)
    val (nodes, edges) = RoutingCacheCodec.toDataFrames(s, g)
    RoutingContext.unload()
    try {
      RoutingContext.load(s, fixture, Map("auto" -> (nodes, edges)))
      val r = s.sql(
        """SELECT travel_time_node_count('auto'),
          |  travel_time(43.7397, 7.4282, 43.7347, 7.4207, 'auto'),
          |  travel_time_snap(43.7397, 7.4282, 'auto').lat,
          |  travel_time_snap(43.7397, 7.4282, 'auto').distance_m,
          |  size(travel_time_isochrone(43.7397, 7.4282, 300.0, 'auto'))
          |""".stripMargin).collect()(0)
      assert(r.getInt(0) == 7338, "node count")
      val p2p = r.getDouble(1)
      assert(p2p > 0 && p2p < 300, s"Casino->Port drive should be <5 min, got $p2p")
      assert(r.getDouble(2) > 43.0 && r.getDouble(2) < 44.0, "snap lat")
      assert(r.getDouble(3) < 500, "snap within 500 m")
      assert(r.getInt(4) > 100, "5-min isochrone covers >100 nodes")
    } finally RoutingContext.unload()
  }
}
