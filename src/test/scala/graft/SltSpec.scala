package graft

import java.nio.file.Files

import graft.graph.{GraphStore, OsmPbf, OsmPbfWriter}
import org.scalatest.funsuite.AnyFunSuite

/** The reference's own SQLLogicTest files run VERBATIM through the SLT
  * interpreter — the same `.test` files its CI runs, with one data
  * substitution (its Monaco tile path → a dense Monaco-area lattice built
  * from a real PBF through the standard build path) and one documented
  * divergence skip.
  */
class SltSpec extends AnyFunSuite {

  /** Dense lattice over the Monaco test coordinates: 0.001° spacing so the
    * file's structural expectations (ST_NPoints(...) > 10 on the
    * Casino→Palace route) hold like they do on real Monaco streets.
    */
  private lazy val monacoTiles: String = {
    val lat0 = 43.726; val lon0 = 7.414
    val rows = 20; val cols = 18; val sp = 0.001
    def id(r: Int, c: Int) = 1000L + r * cols + c
    val nodes = for (r <- 0 until rows; c <- 0 until cols)
      yield OsmPbf.OsmNode(id(r, c), lat0 + r * sp, lon0 + c * sp)
    val ways = Seq.newBuilder[(Long, Map[String, String], Seq[Long])]
    var w = 50000L
    for (r <- 0 until rows; c <- 0 until cols) {
      if (c + 1 < cols) { ways += ((w, Map("highway" -> "residential"), Seq(id(r, c), id(r, c + 1)))); w += 1 }
      if (r + 1 < rows) { ways += ((w, Map("highway" -> "residential"), Seq(id(r, c), id(r + 1, c)))); w += 1 }
    }
    val dir = Files.createTempDirectory("graft-slt").toString
    val pbf = s"$dir/monaco-dense.osm.pbf"
    OsmPbfWriter.write(pbf, nodes, ways.result())
    GraphStore.buildGraphFromPbf(SparkTestBase.spark, pbf, s"$dir/valhalla_data",
      graft.graph.SpeedModel.Modes)
    s"$dir/valhalla_data"
  }

  private def runFile(name: String): SltRunner.Result = {
    val text = new String(
      Files.readAllBytes(ReferenceCheckout.require(s"test/sql/$name")),
      java.nio.charset.StandardCharsets.UTF_8)
    // a FRESH session: the files assume an engine where nothing is
    // registered until `require` loads the extension
    val s = SparkTestBase.spark.newSession()
    val prev = org.apache.spark.sql.SparkSession.getActiveSession
    org.apache.spark.sql.SparkSession.setActiveSession(s)
    try {
      graft.routing.RoutingContext.unload()
      // no skips: the former typeof-of-GEOMETRY divergence is closed —
      // typeof recognizes host-GEOMETRY-typed expressions structurally
      // (DuckCompat.producesGeometry), so line 144's macro introspection
      // reads GEOMETRY while line 51's _wkb stays BLOB, exactly the host
      SltRunner.run(s, text,
        substitute = _.replace("./valhalla_data/valhalla.json",
          s"$monacoTiles/valhalla.json"))
    } finally {
      prev.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      graft.routing.RoutingContext.unload()
      graft.queries.Routing.ensure(SparkTestBase.spark)
    }
  }

  test("test/sql/travel_time.test passes verbatim") {
    val r = runFile("travel_time.test")
    assert(r.failures.isEmpty, r.failures.mkString("\n\n"))
    assert(r.checks >= 8)
  }

  test("test/sql/monaco_routing.test passes verbatim (zero skips)") {
    val r = runFile("monaco_routing.test")
    assert(r.failures.isEmpty, r.failures.mkString("\n\n"))
    assert(r.checks >= 21)
    assert(r.skipped.isEmpty)
  }
}
