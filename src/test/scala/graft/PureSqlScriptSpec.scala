package graft

import java.nio.file.{Files, Paths}

import graft.graph.{GridFixture, OsmPbf, OsmPbfWriter}
import graft.plans.Qualify
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The reference's complete pure-SQL workflow script
  * (examples/monaco_pure_sql.sql) runs TOP TO BOTTOM through Qualify.sql —
  * INSTALL/LOAD, valhalla_build_tiles from a PBF, SET valhalla_tiles (the
  * write callback loads eagerly), CREATE MACRO + struct_pack, routing
  * CTEs, the json_object/::JSON GeoJSON COPY export, multi-route UNION and
  * multi-modal bonus sections. The only edits are data locations: the
  * Geofabrik URL becomes the grid-fixture PBF (zero-egress environment)
  * and the two output paths move into a scratch dir.
  */
class PureSqlScriptSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private def gridPbf(dir: String, name: String): String = {
    val nodes = (0 until GridFixture.K * GridFixture.K).map(i =>
      OsmPbf.OsmNode(1000L + i, GridFixture.latOf(i), GridFixture.lonOf(i)))
    val ways = GridFixture.edges.zipWithIndex.map { case (e, i) =>
      val tags = Map("highway" -> e.highway) ++
        (if (e.oneway) Map("oneway" -> "yes") else Map.empty)
      (5000L + i, tags, Seq(1000L + e.src, 1000L + e.dst))
    }.toSeq
    val path = s"$dir/$name"
    OsmPbfWriter.write(path, nodes, ways)
    path
  }

  private def runAll(script: String): Seq[(String, Array[Row])] =
    Qualify.splitStatements(script).map { stmt =>
      val rows =
        try Qualify.sql(spark, stmt).collect()
        catch {
          case e: Exception =>
            fail(s"statement failed:\n$stmt\n→ ${e.getMessage.take(400)}", e)
        }
      (stmt, rows)
    }

  test("monaco_pure_sql.sql runs statement-by-statement, verbatim") {
    val dir = Files.createTempDirectory("graft-puresql").toString

    // the "Monaco download": the grid fixture as a real OSM PBF
    val pbfPath = gridPbf(dir, "monaco-latest.osm.pbf")

    val script = new String(
      Files.readAllBytes(ReferenceCheckout.require("examples/monaco_pure_sql.sql")),
      java.nio.charset.StandardCharsets.UTF_8)
      .replace("https://download.geofabrik.de/europe/monaco-latest.osm.pbf", pbfPath)
      .replace("./monaco_tiles", s"$dir/monaco_tiles")
      .replace("'monaco_route.geojson'", s"'$dir/monaco_route.geojson'")

    val statements = Qualify.splitStatements(script)
    assert(statements.length > 20, s"split found only ${statements.length} statements")

    val prevMacro = Qualify.macrosOf(spark).get("travel_time_route")
    try {
      val results = runAll(script)

      // Step 5: the Casino → Museum route row
      val routeRow = results.collectFirst {
        case (stmt, rows) if stmt.contains("duration_seconds") => rows.head
      }.get
      assert(routeRow.getDouble(routeRow.fieldIndex("distance_km")) > 0.1)
      assert(routeRow.getDouble(routeRow.fieldIndex("duration_minutes")) > 0.0)
      // one lattice edge between the snapped endpoints on the grid fixture
      assert(routeRow.getInt(routeRow.fieldIndex("waypoints")) >= 2)

      // Step 6: the exported GeoJSON file
      val geo = new String(
        Files.readAllBytes(Paths.get(s"$dir/monaco_route.geojson")),
        java.nio.charset.StandardCharsets.UTF_8).trim
      assert(geo.startsWith("""{"type":"FeatureCollection","features":[{"type":"Feature""""))
      assert(geo.contains(""""geometry":{"type":"LineString","coordinates":["""))

      // Bonus: three named routes ordered by km
      val bonus = results.collectFirst {
        case (stmt, rows) if stmt.contains("Station") => rows
      }.get
      assert(bonus.length == 3)
      val kms = bonus.map(r => r.getDouble(r.fieldIndex("km")))
      assert(kms.sorted.sameElements(kms))

      // Bonus: three travel modes ordered by minutes, car fastest
      val modes = results.collectFirst {
        case (stmt, rows) if stmt.contains("kmh") => rows
      }.get
      assert(modes.length == 3)
      val mins = modes.map(r => r.getDouble(r.fieldIndex("min")))
      assert(mins.sorted.sameElements(mins))
      assert(modes.head.getString(modes.head.fieldIndex("mode")).contains("Car"))
    } finally {
      // the script's CREATE MACRO shadows the travel_time_route built-in for
      // Qualify.sql call sites; restore the shared session for other specs
      prevMacro match {
        case Some(m) => Qualify.registerMacro(spark, m)
        case None => Qualify.unregisterMacro(spark, "travel_time_route")
      }
      graft.queries.Routing.ensure(spark)
    }
  }

  test("every reference example script splits and parses through the dialect layer") {
    val dir = ReferenceCheckout.require("examples").toFile
    val scripts = dir.listFiles().filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    assert(scripts.length >= 8)
    val parser = spark.sessionState.sqlParser
    scripts.foreach { f =>
      val text = new String(Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val macros = scala.collection.concurrent.TrieMap.empty[String, Qualify.SqlMacro]
      val statements = Qualify.splitStatements(text)
      assert(statements.nonEmpty, f.getName)
      statements.foreach { stmt =>
        def parseBody(s: String): Unit =
          parser.parsePlan(Qualify.dialect(Qualify.expandMacros(s, macros)))
        try {
          Qualify.parseCreateMacro(stmt) match {
            case Some(m) => macros.put(m.name.toLowerCase, m)
            case None =>
              if (Qualify.parseInstallLoad(stmt).isEmpty &&
                Qualify.parseSetTiles(stmt).isEmpty) {
                Qualify.parseCopy(stmt) match {
                  case Some(spec) => parseBody(spec.innerSql)
                  case None =>
                    // generic SET statements parse natively
                    parseBody(stmt)
                }
              }
          }
        } catch {
          case e: Exception =>
            fail(s"${f.getName}: statement does not parse:\n$stmt\n→ ${e.getMessage.take(300)}")
        }
      }
    }
  }

  test("monaco_end_to_end.sql runs verbatim: read_blob over real HTTP, COPY " +
    "download, build, SET valhalla_config, GeoJSON export") {
    val dir = Files.createTempDirectory("graft-e2esql").toString
    val pbfPath = gridPbf(dir, "served.osm.pbf")
    val bytes = Files.readAllBytes(Paths.get(pbfPath))

    // serve the fixture over real HTTP — the script's Geofabrik download
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/monaco-latest.osm.pbf",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    val url =
      s"http://127.0.0.1:${server.getAddress.getPort}/monaco-latest.osm.pbf"

    val prevMacro = Qualify.macrosOf(spark).get("travel_time_route")
    try {
      val script = new String(
        Files.readAllBytes(ReferenceCheckout.require("examples/monaco_end_to_end.sql")),
        java.nio.charset.StandardCharsets.UTF_8)
        .replace("https://download.geofabrik.de/europe/monaco-latest.osm.pbf", url)
        .replace("'monaco.osm.pbf'", s"'$dir/monaco.osm.pbf'")
        .replace("valhalla_build_tiles('monaco.osm.pbf'",
          s"valhalla_build_tiles('$dir/monaco.osm.pbf'")
        .replace("'monaco_tiles'", s"'$dir/monaco_tiles'")
        .replace("'monaco_tiles/valhalla.json'", s"'$dir/monaco_tiles/valhalla.json'")
        .replace("'monaco_route.geojson'", s"'$dir/monaco_route.geojson'")

      val results = runAll(script)
      assert(results.length > 15)

      // the downloaded PBF landed byte-identical through read_blob + COPY
      assert(java.util.Arrays.equals(
        Files.readAllBytes(Paths.get(s"$dir/monaco.osm.pbf")), bytes))

      // the route section returns a real route with WKT geometry
      val routeRow = results.collectFirst {
        case (stmt, rows) if stmt.contains("route_geometry") => rows.head
      }.get
      assert(routeRow.getDouble(routeRow.fieldIndex("distance_km")) > 0.1)
      assert(routeRow.getString(routeRow.fieldIndex("route_geometry"))
        .startsWith("LINESTRING("))

      // the exported single-feature GeoJSON
      val geo = new String(
        Files.readAllBytes(Paths.get(s"$dir/monaco_route.geojson")),
        java.nio.charset.StandardCharsets.UTF_8).trim
      assert(geo.startsWith("""{"type":"Feature","properties":"""))
      assert(geo.contains(""""geometry":{"type":"LineString""""))
    } finally {
      server.stop(0)
      prevMacro match {
        case Some(m) => Qualify.registerMacro(spark, m)
        case None => Qualify.unregisterMacro(spark, "travel_time_route")
      }
      graft.queries.Routing.ensure(spark)
    }
  }
}
