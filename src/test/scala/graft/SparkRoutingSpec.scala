package graft

import graft.geo.Wkb
import graft.graph.GridFixture
import graft.queries.Routing
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end SQL-surface assertions — Scala ports of the reference's
  * SQLLogicTest cases (test/sql/travel_time.test registration checks;
  * test/sql/monaco_routing.test behavioral invariants) against the grid
  * fixture through the registered functions.
  */
class SparkRoutingSpec extends AnyFunSuite {

  private lazy val spark = { val s = SparkTestBase.spark; Routing.ensure(s); s }

  private def one(sql: String): Row = { spark.sql(sql).collect().head }

  test("registration: every travel_time* function resolves (travel_time.test:14-48)") {
    Seq(
      "SELECT travel_time_is_loaded()",
      "SELECT travel_time(43.7, 7.4, 43.745, 7.445, 'auto')",
      "SELECT travel_time_node_count('auto')",
      "SELECT travel_time_locate(43.7, 7.4, 'auto')",
      "SELECT travel_time_snap(43.7, 7.4, 'auto')",
      "SELECT travel_time_route('POINT(7.4 43.7)', 'POINT(7.42 43.72)', 'auto')",
      "SELECT travel_time_matrix(array(43.7), array(7.4), array(43.72), array(7.42), 'auto')",
      "SELECT travel_time_isochrone(43.7, 7.4, 120.0, 'auto')",
      "SELECT travel_time_request('status', '{}')"
    ).foreach(q => assert(spark.sql(q).collect().nonEmpty, q))
  }

  test("loaded state and node count") {
    assert(one("SELECT travel_time_is_loaded() AS x").getBoolean(0))
    assert(one("SELECT travel_time_node_count('auto') AS n").getInt(0) == 100)
  }

  test("route: distance and duration positive, geometry decodes to LINESTRING " +
    "with >2 waypoints (monaco_routing.test:22-31,55-69)") {
    val r = one("""SELECT travel_time_route('POINT(7.4 43.7)', 'POINT(7.481 43.781)', 'auto') AS r""")
      .getStruct(0)
    assert(r.getDouble(0) > 0)     // distance_km
    assert(r.getDouble(1) > 0)     // duration_minutes
    val pts = Wkb.readLineString(r.getAs[Array[Byte]](2)).get
    assert(pts.length > 2)
  }

  test("WKT and WKB inputs give identical results (monaco_routing.test:33-47)") {
    val viaWkt = one(
      """SELECT travel_time_route('POINT(7.4 43.7)', 'POINT(7.44 43.74)', 'auto') AS r""").getStruct(0)
    val viaWkb = one(
      """SELECT travel_time_route_wkb(st_point(7.4, 43.7), st_point(7.44, 43.74), 'auto') AS r""").getStruct(0)
    assert(viaWkt.getDouble(0) == viaWkb.getDouble(0))
    assert(viaWkt.getDouble(1) == viaWkb.getDouble(1))
    assert(java.util.Arrays.equals(viaWkt.getAs[Array[Byte]](2), viaWkb.getAs[Array[Byte]](2)))
  }

  test("far-off coordinates return NULL, not a clamp to the nearest corner " +
    "(travel_time.test 'invalid coordinates should return NULL')") {
    assert(one("SELECT travel_time_route_wkb('POINT(0 0)', 'POINT(0 0)', 'auto') IS NULL AS n")
      .getBoolean(0))
    assert(one("SELECT travel_time(0.0, 0.0, 43.74, 7.44, 'auto') AS t").isNullAt(0))
    // within the cutoff, off-lattice points still snap (the bbox test below)
    assert(!one("SELECT travel_time_locate(43.69, 7.39, 'auto') AS l").isNullAt(0))
  }

  test("NULL inputs produce NULL, not errors (src/travel_time_extension.cpp:636-639)") {
    assert(one("SELECT travel_time(NULL, 7.4, 43.74, 7.44, 'auto') AS t").isNullAt(0))
    assert(one("SELECT travel_time_route(NULL, 'POINT(7.4 43.7)', 'auto') AS r").isNullAt(0))
    assert(one("SELECT travel_time_route('garbage wkt', 'POINT(7.4 43.7)', 'auto') AS r").isNullAt(0))
  }

  test("unknown costing throws IllegalStateException (src/travel_time_extension.cpp:38-42)") {
    val e = intercept[Exception] {
      spark.sql("SELECT travel_time(43.7, 7.4, 43.74, 7.44, 'hovercraft')").collect()
    }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[IllegalStateException]))
  }

  /** `body`'s result and the jobs it started, counted by job group. The
    * status tracker is fed by the listener bus, so a marker job in a second
    * group is awaited first: once it shows, every job started before it
    * has been recorded.
    */
  private def withJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    def inGroup[R](g: String)(f: => R): R = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val result = inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + java.util.concurrent.TimeUnit.SECONDS.toNanos(30)
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty,
      "listener bus never recorded the marker job")
    (result, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("one-row routing statements are answered on the driver without a job, " +
    "with the same row as over a table") {
    Seq(
      "travel_time(43.7, 7.4, 43.745, 7.445, 'auto')",
      "travel_time_route_wkb(st_point(7.4, 43.7), st_point(7.44, 43.74), 'auto')",
      s"travel_time_route_wkb(X'${wkbHex(7.4, 43.7)}', X'${wkbHex(7.44, 43.74)}', 'auto')",
      "travel_time_snap(43.7, 7.4, 'auto')",
      "travel_time_isochrone(43.7, 7.4, 120.0, 'auto')",
      """travel_time_request('route', '{"locations": [{"lat": 43.7, "lon": 7.4},
        |  {"lat": 43.781, "lon": 7.481}], "costing": "auto"}')""".stripMargin
    ).foreach { call =>
      val (folded, foldedJobs) = withJobs(one(s"SELECT $call AS v"))
      val (scanned, scannedJobs) =
        withJobs(spark.range(1).selectExpr(s"$call AS v").collect().head)
      assert(foldedJobs == 0, call)
      assert(scannedJobs > 0, call)
      assert(!folded.isNullAt(0), call)
      assert(folded == scanned, call)
      // no typed encoder is resolved for a statement of routing functions
      // alone (st_point stays a typed UDF)
      if (!call.contains("st_point")) {
        val encoderRuns = spark.sql(s"SELECT $call AS v").queryExecution.tracker.rules
          .collect { case (rule, s) if rule.endsWith("ResolveEncodersInUDF") =>
            s.numEffectiveInvocations }
        assert(encoderRuns.sum == 0, call)
      }
    }
  }

  private def wkbHex(lon: Double, lat: Double): String =
    Wkb.writePoint(lon, lat).map("%02X".format(_)).mkString

  test("a nondeterministic one-row statement still runs as a job") {
    assert(withJobs(spark.sql("SELECT rand() AS r").collect())._2 > 0)
  }

  test("matrix SQL: N×M rows, from/to indices complete (monaco_routing.test:107-124)") {
    val rows = spark.sql(
      """SELECT m.* FROM (SELECT explode(travel_time_matrix(
        |  array(43.7, 43.745), array(7.4, 7.445),
        |  array(43.781, 43.7), array(7.481, 7.44), 'auto')) AS m)""".stripMargin).collect()
    assert(rows.length == 4) // 2x2 (z_integration.test.skip:43-53)
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSet ==
      Set((0, 0), (0, 1), (1, 0), (1, 1)))
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0) // all reachable on the fixture
    }
  }

  test("matrix diagonal zero when source == destination") {
    val r = one("""SELECT explode(travel_time_matrix(
      |  array(43.7), array(7.4), array(43.7), array(7.4), 'auto')) AS m""".stripMargin)
      .getStruct(0)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0)
  }

  test("locate snaps into lattice bounding box (monaco_routing.test:96-105)") {
    val p = one("SELECT travel_time_locate(43.733, 7.427, 'auto') AS p").getStruct(0)
    val lat = p.getDouble(0); val lon = p.getDouble(1)
    assert(lat >= GridFixture.Lat0 && lat <= GridFixture.Lat0 + 9 * GridFixture.SpacingDeg)
    assert(lon >= GridFixture.Lon0 && lon <= GridFixture.Lon0 + 9 * GridFixture.SpacingDeg)
  }

  test("request API: status + route JSON round-trip (wrapper.cpp:182-223 shape)") {
    val status = one("SELECT travel_time_request('status', '{}') AS s").getString(0)
    assert(status.contains("\"has_tiles\":true"))
    val route = one(
      s"""SELECT travel_time_request('route',
         |  '{"locations": [{"lat": 43.7, "lon": 7.4}, {"lat": 43.781, "lon": 7.481}],
         |    "costing": "auto"}') AS r""".stripMargin).getString(0)
    assert(route.contains("\"trip\""))
    val shape = one(s"""SELECT get_json_object('$route', '$$.trip.legs[0].shape') AS s""")
    assert(shape.getString(0).nonEmpty)
    val err = one("SELECT travel_time_request('teleport', '{}') AS e").getString(0)
    assert(err.contains("\"error\""))
  }

  test("ITALY.md multi-mode replay: per-costing route structs, truck never beats car (ITALY.md:222-245)") {
    // the reference's multi-mode section shape: one travel_time_route call
    // per costing over the same endpoints, mode supplied AS DATA
    val rows = spark.sql(
      """SELECT m,
        |  travel_time_route('POINT(7.4 43.7)', 'POINT(7.481 43.781)', m).distance_km AS km,
        |  travel_time_route('POINT(7.4 43.7)', 'POINT(7.481 43.781)', m).duration_minutes / 60.0 AS hours
        |FROM VALUES ('auto'), ('truck'), ('bicycle') AS t(m)""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((_, (km, h)) <- rows) assert(km > 0 && h > 0)
    // the golden's ordering: car <= truck <= bicycle in hours; truck's
    // route stays distance-comparable to the car route (same corridor)
    assert(rows("auto")._2 <= rows("truck")._2)
    assert(rows("truck")._2 <= rows("bicycle")._2)
    assert(math.abs(rows("truck")._1 - rows("auto")._1) / rows("auto")._1 < 0.15)
  }

  test("request API: directions_options.units converts lengths to miles (README.md:242)") {
    val locs = """[{"lat": 43.7, "lon": 7.4}, {"lat": 43.781, "lon": 7.481}]"""
    def len(json: String): Double =
      one(s"SELECT CAST(get_json_object('$json', '$$.trip.summary.length') AS DOUBLE) AS l")
        .getDouble(0)
    val km = one(s"""SELECT travel_time_request('route',
      '{"locations": $locs, "costing": "auto"}') AS r""").getString(0)
    val mi = one(s"""SELECT travel_time_request('route',
      '{"locations": $locs, "costing": "auto",
        "directions_options": {"units": "miles"}}') AS r""").getString(0)
    assert(km.contains("\"units\":\"kilometers\""))
    assert(mi.contains("\"units\":\"miles\""))
    assert(math.abs(len(mi) - len(km) / 1.609344) < 1e-9)
    // top-level "units" (newer Valhalla spelling) works too
    val mi2 = one(s"""SELECT travel_time_request('route',
      '{"locations": $locs, "costing": "auto", "units": "mi"}') AS r""").getString(0)
    assert(math.abs(len(mi2) - len(mi)) < 1e-12)
  }

  test("request API: service limits from the reference's generated config " +
    "(valhalla_build_tiles_simple.cpp:104-129) answer on the error channel") {
    val h = Routing.ensure(spark)
    def loc(i: Int) =
      s"""{"lat": ${GridFixture.latOf(i % 100)}, "lon": ${GridFixture.lonOf(i % 100)}}"""
    def isErr(json: String, needle: String): Unit =
      assert(json.contains("\"error\"") && json.contains(needle), json)
    // route: max 20 locations for auto, 50 for bicycle (21 passes there)
    val locs21 = (0 until 21).map(loc).mkString("[", ",", "]")
    isErr(graft.routing.RequestApi.dispatch(h, "route",
      s"""{"locations": $locs21, "costing": "auto"}"""), "max locations")
    assert(graft.routing.RequestApi.dispatch(h, "route",
      s"""{"locations": $locs21, "costing": "bicycle"}""").contains("\"trip\""))
    // matrix: 51 x 51 = 2601 > 2500 pairs
    val locs51 = (0 until 51).map(loc).mkString("[", ",", "]")
    isErr(graft.routing.RequestApi.dispatch(h, "sources_to_targets",
      s"""{"sources": $locs51, "targets": $locs51, "costing": "auto"}"""),
      "max location pairs")
    // isochrone: > 4 contours; > 120 min contour; > 1 location
    val c5 = (1 to 5).map(i => s"""{"time": ${i * 10}}""").mkString("[", ",", "]")
    isErr(graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [${loc(0)}], "contours": $c5}"""), "max contours")
    isErr(graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [${loc(0)}], "contours": [{"time": 150}]}"""),
      "max time contour")
    isErr(graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [${loc(0)}, ${loc(5)}], "contours": [{"time": 10}]}"""),
      "max locations")
    // trace: > 16000 shape points (via encoded_polyline to keep the JSON small)
    val pts = Array.tabulate(16001)(i =>
      (GridFixture.latOf(i % 100), GridFixture.lonOf(i % 100))).toSeq
    val enc = graft.geo.Polyline.encode(pts, precision = 6)
    isErr(graft.routing.RequestApi.dispatch(h, "trace_route",
      s"""{"encoded_polyline": "${enc.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""),
      "max shape")
    // at-limit requests still answer on the data channel
    val c4 = (1 to 4).map(i => s"""{"time": ${i * 10}}""").mkString("[", ",", "]")
    assert(graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [${loc(0)}], "contours": $c4}""").contains("features"))
    // route max_distance is enforced PRE-search on the straight-line
    // (haversine) location distance, like loki: an oversized pedestrian
    // request (>250 km beeline) errors without paying a graph search —
    // the endpoints here aren't even snappable, which is the point
    isErr(graft.routing.RequestApi.dispatch(h, "route",
      """{"locations": [{"lat": 43.7, "lon": 7.4}, {"lat": 46.5, "lon": 7.4}],
        | "costing": "pedestrian"}""".stripMargin), "max distance")
    // the same beeline is fine for auto (5000 km limit)
    assert(!graft.routing.RequestApi.dispatch(h, "route",
      """{"locations": [{"lat": 43.7, "lon": 7.4}, {"lat": 46.5, "lon": 7.4}],
        | "costing": "auto"}""".stripMargin).contains("max distance"))
    // matrix: max_matrix_distance (400 km auto, 200 km bicycle) also
    // rejects pre-search on the worst source→target beeline
    isErr(graft.routing.RequestApi.dispatch(h, "sources_to_targets",
      """{"sources": [{"lat": 43.7, "lon": 7.4}],
        | "targets": [{"lat": 47.5, "lon": 7.4}], "costing": "auto"}""".stripMargin),
      "max distance")
    isErr(graft.routing.RequestApi.dispatch(h, "sources_to_targets",
      """{"sources": [{"lat": 43.7, "lon": 7.4}],
        | "targets": [{"lat": 45.6, "lon": 7.4}], "costing": "bicycle"}""".stripMargin),
      "max distance")
    // max_exclude_locations: 51 avoid points answer on the error channel
    val excl51 = (0 until 51).map(loc).mkString("[", ",", "]")
    isErr(graft.routing.RequestApi.dispatch(h, "route",
      s"""{"locations": [${loc(0)}, ${loc(99)}], "costing": "auto",
         | "exclude_locations": $excl51}""".stripMargin), "max avoid locations")
    // skadi max_shape: height rejects >750000 points (via encoded_polyline
    // to keep the request JSON bounded)
    val heightPts = Array.tabulate(750001)(i =>
      (GridFixture.latOf(i % 100), GridFixture.lonOf(i % 100))).toSeq
    val heightEnc = graft.geo.Polyline.encode(heightPts, precision = 6)
    isErr(graft.routing.RequestApi.dispatch(h, "height",
      s"""{"encoded_polyline": "${heightEnc.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""),
      "max shape")
  }

  test("request API: isochrone GeoJSON contour response matches the wrapper " +
    "contract (valhalla-wrapper/src/wrapper.cpp:323-383)") {
    // The wrapper's consumer loop: parse the response as GeoJSON, walk
    // `features[]` IN ORDER mapping features[idx] -> contour_minutes[idx],
    // and re-serialize each feature's `geometry` member verbatim. So the
    // contract under test: FeatureCollection shape, one feature per
    // requested contour in request (ascending) order, and a standalone-
    // serializable Polygon/MultiPolygon geometry per feature with closed
    // linear rings. (Real Valhalla can emit contours largest-first for
    // render stacking; the wrapper indexes blindly, so we pin the
    // ascending request order our requests use.)
    val h = Routing.ensure(spark)
    val minutes = Seq(2.0, 5.0, 10.0)
    val contours = minutes.map(m => s"""{"time": $m}""").mkString("[", ",", "]")
    val resp = graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [{"lat": 43.727, "lon": 7.427}], "costing": "auto",
         | "contours": $contours, "polygons": true}""".stripMargin)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val doc = JsonMethods.parse(resp)
    assert((doc \ "error") == JNothing, resp.take(200))
    assert((doc \ "type").extract[String] == "FeatureCollection")
    val features = (doc \ "features").extract[List[JValue]]
    assert(features.length == minutes.length)
    def rings(geom: JValue): List[List[(Double, Double)]] = {
      def ring(r: JValue): List[(Double, Double)] =
        r.extract[List[List[Double]]].map(p => (p(0), p(1)))
      (geom \ "type").extract[String] match {
        case "Polygon" => (geom \ "coordinates").extract[List[JValue]].map(ring)
        case "MultiPolygon" =>
          (geom \ "coordinates").extract[List[List[JValue]]].flatten.map(ring)
        case other => fail(s"geometry type $other")
      }
    }
    val bboxes = features.zip(minutes).map { case (f, m) =>
      assert((f \ "type").extract[String] == "Feature")
      // properties.contour carries the requested minutes, by index
      assert((f \ "properties" \ "contour").extract[Double] == m)
      val geom = f \ "geometry"
      // the wrapper re-serializes `geometry` standalone — it must be a
      // self-contained object with closed rings of >= 4 positions
      val rs = rings(geom)
      assert(rs.nonEmpty, s"contour $m has no rings")
      rs.foreach { r =>
        assert(r.length >= 4, s"contour $m ring of ${r.length} points")
        assert(r.head == r.last, s"contour $m ring not closed")
      }
      val xs = rs.flatten.map(_._1); val ys = rs.flatten.map(_._2)
      (xs.min, ys.min, xs.max, ys.max)
    }
    // contours nest: each larger-minute bbox contains the smaller's
    bboxes.sliding(2).foreach { case Seq(a, b) =>
      assert(b._1 <= a._1 && b._2 <= a._2 && b._3 >= a._3 && b._4 >= a._4,
        s"contour bboxes not nested: $a vs $b")
    }
    // the (snapped) origin lies inside every contour's bbox
    val snap = one("SELECT travel_time_locate(43.727, 7.427, 'auto') AS p").getStruct(0)
    val (sLat, sLon) = (snap.getDouble(0), snap.getDouble(1))
    bboxes.foreach { case (x0, y0, x1, y1) =>
      assert(sLon >= x0 && sLon <= x1 && sLat >= y0 && sLat <= y1)
    }
  }

  test("request API: distance contours (contours[].distance) — second metric, " +
    "no mixing, max_distance_contour limit") {
    val h = Routing.ensure(spark)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val loc = """{"lat": 43.727, "lon": 7.427}"""
    // polygon form: features carry metric=distance and nest like time's
    val resp = graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [$loc], "costing": "auto",
         | "contours": [{"distance": 2}, {"distance": 5}], "polygons": true}""".stripMargin)
    val doc = JsonMethods.parse(resp)
    assert((doc \ "error") == JNothing, resp.take(200))
    val fs = (doc \ "features").extract[List[JValue]]
    assert(fs.length == 2)
    assert(fs.forall(f => (f \ "properties" \ "metric").extract[String] == "distance"))
    assert((fs(0) \ "properties" \ "contour").extract[Double] == 2.0)
    // point-cloud form: every node's meters within the cutoff, and the
    // 2 km cloud is a strict subset of the 5 km cloud
    def cloud(km: Double): Map[(Double, Double), Double] = {
      val r = JsonMethods.parse(graft.routing.RequestApi.dispatch(h, "isochrone",
        s"""{"locations": [$loc], "costing": "auto",
           | "contours": [{"distance": $km}]}""".stripMargin))
      (r \ "features").extract[List[JValue]].map { f =>
        val c = (f \ "geometry" \ "coordinates").extract[List[Double]]
        (c(0), c(1)) -> (f \ "properties" \ "meters").extract[Double]
      }.toMap
    }
    val c2 = cloud(2.0); val c5 = cloud(5.0)
    assert(c2.nonEmpty && c5.size > c2.size)
    assert(c2.values.forall(_ <= 2000.0) && c5.values.forall(_ <= 5000.0))
    assert(c2.keySet.subsetOf(c5.keySet))
    // min-DISTANCE metric, not rescaled time: meters to a lattice neighbor
    // equal the haversine hop, whatever the road's speed
    // mixing metrics and oversize contours answer on the error channel
    assert(graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [$loc], "contours": [{"time": 5}, {"distance": 2}]}""")
      .contains("mix"))
    assert(graft.routing.RequestApi.dispatch(h, "isochrone",
      s"""{"locations": [$loc], "contours": [{"distance": 250}]}""")
      .contains("max distance contour"))
  }

  test("request API: multi-stop route emits one leg per pair, summary sums legs") {
    def timeOf(json: String): Double =
      one(s"SELECT get_json_object('$json', '$$.trip.summary.time') AS t")
        .getString(0).toDouble
    val via = one(
      s"""SELECT travel_time_request('route',
         |  '{"locations": [{"lat": 43.7, "lon": 7.4}, {"lat": 43.7, "lon": 7.418},
         |                  {"lat": 43.718, "lon": 7.418}],
         |    "costing": "auto"}') AS r""".stripMargin).getString(0)
    val leg0 = one(s"SELECT get_json_object('$via', '$$.trip.legs[0].shape') AS s").getString(0)
    val leg1 = one(s"SELECT get_json_object('$via', '$$.trip.legs[1].shape') AS s").getString(0)
    assert(leg0 != null && leg1 != null && leg0.nonEmpty && leg1.nonEmpty)
    def oneLeg(a: (Double, Double), b: (Double, Double)): Double = timeOf(one(
      s"""SELECT travel_time_request('route',
         |  '{"locations": [{"lat": ${a._1}, "lon": ${a._2}}, {"lat": ${b._1}, "lon": ${b._2}}],
         |    "costing": "auto"}') AS r""".stripMargin).getString(0))
    val expect = oneLeg((43.7, 7.4), (43.7, 7.418)) + oneLeg((43.7, 7.418), (43.718, 7.418))
    assert(math.abs(timeOf(via) - expect) < 1e-6,
      s"multi-stop total ${timeOf(via)} != leg sum $expect")
  }

  test("request API: exclude_locations forces a costlier route (valhalla option)") {
    def timeOf(json: String): Double =
      one(s"SELECT get_json_object('$json', '$$.trip.summary.time') AS t")
        .getString(0).toDouble
    val plain = one(
      s"""SELECT travel_time_request('route',
         |  '{"locations": [{"lat": 43.7, "lon": 7.4}, {"lat": 43.7, "lon": 7.418}],
         |    "costing": "auto"}') AS r""".stripMargin).getString(0)
    val detour = one(
      s"""SELECT travel_time_request('route',
         |  '{"locations": [{"lat": 43.7, "lon": 7.4}, {"lat": 43.7, "lon": 7.418}],
         |    "exclude_locations": [{"lat": 43.7, "lon": 7.409}],
         |    "costing": "auto"}') AS r""".stripMargin).getString(0)
    assert(plain.contains("\"trip\"") && detour.contains("\"trip\""))
    assert(timeOf(detour) > timeOf(plain),
      s"excluding the corridor node must cost more: $detour vs $plain")
  }

  test("trace_route: jittered row trace matches the along-row path and its " +
    "time equals the endpoint route (wrapper.cpp:439-441)") {
    val jit = GridFixture.SpacingDeg * 0.2
    val shape = Seq(50, 53, 55).map(i =>
      s"""{"lat": ${GridFixture.latOf(i) + jit}, "lon": ${GridFixture.lonOf(i)}}""")
      .mkString("[", ", ", "]")
    val tr = one(s"""SELECT travel_time_request('trace_route',
      |  '{"shape": $shape, "costing": "auto"}') AS r""".stripMargin).getString(0)
    assert(tr.contains("\"trip\""))
    val time = one(s"SELECT CAST(get_json_object('$tr', '$$.trip.summary.time') AS DOUBLE) AS t")
      .getDouble(0)
    // trace stitches 50→53→55 along row 5 = the direct shortest path 50→55
    val direct = one(s"""SELECT travel_time(${GridFixture.latOf(50)}, ${GridFixture.lonOf(50)},
      |  ${GridFixture.latOf(55)}, ${GridFixture.lonOf(55)}, 'auto') AS t""".stripMargin).getDouble(0)
    assert(math.abs(time - direct) < 1e-6)
  }

  test("trace_attributes: 5 edges spanning shape indices 0..5, all input " +
    "points matched with snap distance (wrapper.cpp:442-443)") {
    val jit = GridFixture.SpacingDeg * 0.2
    val pts = Seq(50, 53, 55).map(i => (GridFixture.latOf(i) + jit, GridFixture.lonOf(i)))
    val g = graft.routing.RoutingContext.handle.get.requireGraph("auto")
    val m = graft.routing.RoutingOps.traceMatch(g, pts).get
    assert(m.pathNodes.toSeq == Seq(50, 51, 52, 53, 54, 55))
    assert(m.edges.length == 5)
    assert(m.edges.head.begin_shape_index == 0 && m.edges.last.end_shape_index == 5)
    assert(m.edges.forall(e => e.length_km > 0 && e.speed_kph > 0))
    assert(m.points.forall(p => p.ok && p.distance_m > 0)) // jitter > 0 off-node
    // unmatchable trace (empty costing graph region) errors, not throws
    val bad = one("""SELECT travel_time_request('trace_attributes', '{"shape": []}') AS r""")
      .getString(0)
    assert(bad.contains("\"error\""))
  }

  test("height: null without provider, sampled with one; range form " +
    "accumulates distance (wrapper.cpp:445-446)") {
    graft.routing.RoutingContext.clearElevation()
    val req = """'{"shape": [{"lat": 43.7, "lon": 7.4}, {"lat": 43.71, "lon": 7.4}]}'"""
    val noElev = one(s"SELECT travel_time_request('height', $req) AS r").getString(0)
    assert(noElev.contains("\"height\":[null,null]"))
    graft.routing.RoutingContext.setElevation((lat, _) => lat * 10)
    try {
      val withElev = one(s"SELECT travel_time_request('height', $req) AS r").getString(0)
      assert(withElev.contains("437.0") && withElev.contains("437.1"))
      val range = one(s"""SELECT travel_time_request('height',
        |  '{"shape": [{"lat": 43.7, "lon": 7.4}, {"lat": 43.71, "lon": 7.4}], "range": true}') AS r"""
        .stripMargin).getString(0)
      // ~1112 m per 0.01° latitude
      val d = one(s"SELECT CAST(get_json_object('$range', '$$.range_height[1][0]') AS DOUBLE) AS d")
        .getDouble(0)
      assert(math.abs(d - 1112.0) < 5.0)
    } finally graft.routing.RoutingContext.clearElevation()
  }

  test("route_wkb accepts WKT-string endpoints like the host's VARCHAR→BLOB cast " +
    "(monaco_routing.test:23-29)") {
    val viaStr = one(
      """SELECT travel_time_route_wkb('POINT(7.4 43.7)', 'POINT(7.44 43.74)', 'auto') AS r""")
      .getStruct(0)
    val viaWkt = one(
      """SELECT travel_time_route('POINT(7.4 43.7)', 'POINT(7.44 43.74)', 'auto') AS r""")
      .getStruct(0)
    assert(viaStr.getDouble(0) > 0)
    assert(viaStr.getDouble(0) == viaWkt.getDouble(0))
    assert(viaStr.getDouble(1) == viaWkt.getDouble(1))
  }

  test("reference geometry macro runs verbatim: CREATE MACRO + struct_pack " +
    "(examples/geometry_macro.sql:30-36)") {
    import graft.plans.Qualify
    // the reference's statement text, unmodified (macro name shadows the
    // built-in at Qualify.sql call sites, as CREATE OR REPLACE does there)
    Qualify.sql(spark,
      """CREATE OR REPLACE MACRO travel_time_route(from_geom, to_geom, costing) AS (
        |    SELECT struct_pack(
        |        distance_km := r.distance_km,
        |        duration_minutes := r.duration_minutes,
        |        geometry := ST_GeomFromWKB(r.geometry)
        |    ) FROM (SELECT travel_time_route_wkb(from_geom, to_geom, costing) as r)
        |);""".stripMargin)
    val viaMacro = Qualify.sql(spark,
      "SELECT travel_time_route('POINT(7.4 43.7)', 'POINT(7.481 43.781)', 'auto') AS r")
      .collect().head.getStruct(0)
    val direct = one(
      "SELECT travel_time_route_wkb('POINT(7.4 43.7)', 'POINT(7.481 43.781)', 'auto') AS r")
      .getStruct(0)
    assert(viaMacro.getDouble(viaMacro.fieldIndex("distance_km")) == direct.getDouble(0))
    assert(viaMacro.getDouble(viaMacro.fieldIndex("duration_minutes")) == direct.getDouble(1))
    assert(java.util.Arrays.equals(
      viaMacro.getAs[Array[Byte]](viaMacro.fieldIndex("geometry")),
      direct.getAs[Array[Byte]](2)))
  }

  test("reference registration assertions run verbatim via duckdb_functions() " +
    "(travel_time.test:16-48)") {
    graft.functions.Introspection.register(spark)
    Seq("travel_time_load_config", "travel_time", "travel_time_is_loaded",
      "travel_time_locate", "travel_time_request", "travel_time_matrix")
      .foreach { fn =>
        val rows = spark.sql(
          s"SELECT function_name FROM duckdb_functions() WHERE function_name = '$fn'")
          .collect()
        assert(rows.map(_.getString(0)).toSeq == Seq(fn), fn)
      }
    // travel_time.test:31 asserts by count
    assert(spark.sql(
      "SELECT count(*) FROM duckdb_functions() WHERE function_name = 'travel_time_route_wkb'")
      .collect().head.getLong(0) == 1L)
  }

  test("ST_GeomType spelling runs verbatim (monaco_routing.test:57,150)") {
    assert(one(
      """SELECT ST_GeomType(ST_GeomFromWKB(
        |    travel_time_route_wkb('POINT(7.4281 43.7396)', 'POINT(7.4197 43.7312)', 'auto').geometry
        |)) AS t""".stripMargin).getString(0) == "LINESTRING")
    assert(one(
      "SELECT ST_GeomType(travel_time_route(st_point(7.4281, 43.7396), st_point(7.4197, 43.7312), 'auto').geometry) AS t")
      .getString(0) == "LINESTRING")
  }

  test("reference GeoJSON export statement runs verbatim: json_object + json_array + " +
    "::JSON (examples/monaco_pure_sql.sql:93-113)") {
    import graft.plans.Qualify
    graft.functions.JsonCompat.register(spark)
    // the reference's COPY statement, unmodified except the target path —
    // parses, routes, renders, and lands as ONE file exactly as in the host
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson").toString
    val ack = Qualify.sql(spark,
      s"""COPY (
         |    WITH route AS (
         |        SELECT travel_time_route(
         |            ST_Point(7.4275, 43.7397),
         |            ST_Point(7.4254, 43.7308),
         |            'auto'
         |        ) as r
         |    )
         |    SELECT json_object(
         |        'type', 'FeatureCollection',
         |        'features', json_array(
         |            json_object(
         |                'type', 'Feature',
         |                'properties', json_object(
         |                    'name', 'Casino to Museum',
         |                    'distance_km', round(r.distance_km, 3),
         |                    'duration_min', round(r.duration_minutes, 2)
         |                ),
         |                'geometry', ST_AsGeoJSON(r.geometry)::JSON
         |            )
         |        )
         |    )
         |    FROM route
         |) TO '$dir/monaco_route.geojson'""".stripMargin).collect().head.getLong(0)
    assert(ack == 1L)
    val fileBody = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/monaco_route.geojson")),
      java.nio.charset.StandardCharsets.UTF_8).trim
    assert(fileBody.startsWith("""{"type":"FeatureCollection""""))
    val feature = Qualify.sql(spark,
      """WITH route AS (
        |    SELECT travel_time_route(
        |        ST_Point(7.4275, 43.7397),
        |        ST_Point(7.4254, 43.7308),
        |        'auto'
        |    ) as r
        |)
        |SELECT json_object(
        |    'type', 'FeatureCollection',
        |    'features', json_array(
        |        json_object(
        |            'type', 'Feature',
        |            'properties', json_object(
        |                'name', 'Casino to Museum',
        |                'distance_km', round(r.distance_km, 3),
        |                'duration_min', round(r.duration_minutes, 2)
        |            ),
        |            'geometry', ST_AsGeoJSON(r.geometry)::JSON
        |        )
        |    )
        |) AS geojson
        |FROM route""".stripMargin).collect().head.getString(0)
    // valid GeoJSON with the geometry embedded RAW (an object, not an
    // escaped string) — the ::JSON semantics
    assert(feature.startsWith("""{"type":"FeatureCollection","features":[{"type":"Feature","properties":{"name":"Casino to Museum","distance_km":"""))
    assert(feature.contains(""""geometry":{"type":"LineString","coordinates":[["""))
    assert(!feature.contains("\\\"type\\\""))
    // the payload numbers are real route results
    val dist = "\"distance_km\":([0-9.]+)".r.findFirstMatchIn(feature).get.group(1).toDouble
    assert(dist > 0.5 && dist < 5.0)
  }

  test("reference route-analysis statement runs verbatim: travel_time_route_geom + " +
    "ST_Length/ST_NPoints/ST_AsText (ITALY.md:256-273)") {
    // the ITALY.md shape, with grid-fixture endpoints
    val r = one(
      """WITH route AS (
        |    SELECT travel_time_route_geom(
        |        ST_Point(7.4, 43.7),
        |        ST_Point(7.47, 43.77),
        |        'auto'
        |    ) as r
        |)
        |SELECT
        |    round(r.distance_km, 1) as km,
        |    round(r.duration_minutes / 60.0, 1) as hours,
        |    ST_NPoints(r.geometry) as waypoints,
        |    round(ST_Length(r.geometry), 4) as length_degrees,
        |    round(r.distance_km / (r.duration_minutes / 60.0), 0) as avg_speed_kmh,
        |    ST_AsText(ST_StartPoint(r.geometry)) as start_point,
        |    ST_AsText(ST_EndPoint(r.geometry)) as end_point
        |FROM route""".stripMargin)
    assert(r.getDouble(0) > 5.0)                  // km: ~0.07° each way
    assert(r.getInt(2) > 2)                       // waypoints
    // ≥ the snapped straight-line separation (hypot(0.07, 0.07) ≈ 0.099°)
    assert(r.getDouble(3) >= 0.099 && r.getDouble(3) < 1.0)
    assert(r.getDouble(4) > 10.0 && r.getDouble(4) < 150.0)
    assert(r.getString(5).startsWith("POINT("))
    assert(r.getString(6).startsWith("POINT("))
  }

  test("macro equivalence: travel_time ≈ route duration (monaco_routing.test:132-160)") {
    val t = one("SELECT travel_time(43.7, 7.4, 43.781, 7.481, 'auto') AS t").getDouble(0)
    val r = one("SELECT travel_time_route('POINT(7.4 43.7)', 'POINT(7.481 43.781)', 'auto').duration_minutes AS m")
      .getDouble(0)
    assert(math.abs(t / 60.0 - r) < 0.01)
  }
}
