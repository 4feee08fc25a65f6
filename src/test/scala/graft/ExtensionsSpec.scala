package graft

import graft.graph.{GraphStore, GridFixture}
import graft.routing.RoutingContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** graft.GraftExtensions installs the native function + plan-time load rule
  * at session build — the zero-code-change deployment route
  * (`spark.sql.extensions=graft.GraftExtensions`).
  */
class ExtensionsSpec extends AnyFunSuite {

  test("extensions session: cosine_sim resolves and load_config loads, no register calls") {
    val base = SparkTestBase.spark // ensures the shared context exists
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // same SparkContext, fresh session WITH extensions applied
      val s2 = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne base)
      val c = s2.sql(
        "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
        .collect().head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)

      // zero-code contract: NO install/register call — the injected
      // functions resolve the names at analysis, the injected optimizer
      // rule performs the load at plan time
      val dir = java.nio.file.Files.createTempDirectory("graft-ext").toString
      GraphStore.save(Map("auto" -> GridFixture.dataFrames(s2, "auto")), dir)
      RoutingContext.unload()
      // the whole surface resolves before any load
      assert(!s2.sql("SELECT travel_time_is_loaded() AS l").collect().head.getBoolean(0))
      val unloaded = intercept[Exception] {
        s2.sql("SELECT travel_time(43.7, 7.4, 43.718, 7.418, 'auto') AS t").collect()
      }
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(unloaded).exists(e => e.isInstanceOf[IllegalStateException] &&
        e.getMessage.contains("Router not loaded")), unloaded)
      val ok = s2.sql(s"SELECT travel_time_load_config('$dir') AS ok")
        .collect().head.getBoolean(0)
      assert(ok && RoutingContext.isLoaded)
      // the next statement binds the loaded router at analysis and routes
      val t = s2.sql("SELECT travel_time(43.7, 7.4, 43.718, 7.418, 'auto') AS t")
        .collect().head
      assert(!t.isNullAt(0) && t.getDouble(0) > 0)
      // the rule runs once, from the injected optimizer batch: the load
      // added no second copy to the session's extra optimizations
      assert(!s2.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.routing.RoutingFunctions.DriverSideRule]))
    } finally {
      prev.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
      RoutingContext.unload()
      graft.queries.Routing.ensure(SparkTestBase.spark)
    }
  }

  test("extensions session: the full native kernel vocabulary resolves in plain SQL") {
    val base = SparkTestBase.spark
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      assert(s2 ne base)
      val r = s2.sql(
        """SELECT
          |  nearest_cells(array(0.1D, 0.1D),
          |    array(array(0.0D, 0.0D), array(5.0D, 5.0D)), 1)[0] AS cell,
          |  hyperplane_sig(array(1.0D, -1.0D),
          |    array(array(1.0D, 0.0D), array(0.0D, 1.0D))) AS sig,
          |  adc_distance(array(1.0D, 2.0D), array(0),
          |    array(array(array(1.0D, 2.0D), array(9.0D, 9.0D)))) AS adc,
          |  size(minhash_sig('hello world text', 5, 12)) AS k
          |""".stripMargin).collect().head
      assert(r.getInt(0) == 0)
      assert(r.getString(1) == "10") // +proj then -proj
      assert(r.getDouble(2) == 0.0)  // exact codebook match
      assert(r.getInt(3) == 12)
      val agg = s2.sql(
        """SELECT topk_min_pairs(s, i, 2) AS tk FROM
          |  VALUES (3L, 30L), (1L, 10L), (2L, 20L) AS t(s, i)""".stripMargin)
        .collect().head.getSeq[org.apache.spark.sql.Row](0)
      assert(agg.map(_.getLong(1)) == Seq(10L, 20L))
      // media vocabulary: the SQL path must route each fixture to its REAL
      // decoder and produce exactly the DataFrame path's features
      import s2.implicits._
      val media = Seq(
        (0L, graft.ops.Multimodal.syntheticPng(7L)),
        (1L, graft.ops.Multimodal.syntheticWav(7L)),
        (2L, graft.ops.Multimodal.syntheticFlac(7L)),
        (3L, graft.ops.Multimodal.syntheticCompandedWav(7L, "ulaw")),
        (4L, graft.ops.Multimodal.syntheticAvi(7L)),
        (5L, "opaque lossy payload".getBytes)).toDF("id", "media")
      media.createOrReplaceTempView("media_fixture")
      // fallback disabled: the media expressions must survive codegen (the
      // CodegenSweepSpec contract — they are not on any driver query path,
      // so the sweep does not cover them)
      s2.conf.set("spark.sql.codegen.fallback", "false")
      val (kinds, combined) =
        try {
          val k = s2.sql(
            """SELECT id, media_kind(media) AS kind, media_features(media) AS f
              |FROM media_fixture ORDER BY id""".stripMargin).collect()
          // media_decode: ONE dispatch pass for kind + features — must
          // agree field-for-field with the two single-purpose functions
          val c = s2.sql(
            """SELECT id, media_decode(media).kind AS kind,
              |  media_decode(media).features AS f
              |FROM media_fixture ORDER BY id""".stripMargin).collect()
          (k, c)
        } finally s2.conf.unset("spark.sql.codegen.fallback")
      assert(kinds.map(_.getString(1)).toSeq ==
        Seq("image", "audio", "flac", "companded", "video", "stub"))
      kinds.foreach { row =>
        val viaSql = row.getSeq[Float](2)
        val direct = graft.ops.Multimodal.decode(
          media.filter($"id" === row.getLong(0)).collect()(0).getAs[Array[Byte]](1))
        assert(viaSql == direct.toSeq, s"id ${row.getLong(0)} features diverge")
      }
      kinds.zip(combined).foreach { case (a, b) =>
        assert(a.getLong(0) == b.getLong(0) && a.getString(1) == b.getString(1)
          && a.getSeq[Float](2) == b.getSeq[Float](2),
          s"media_decode diverges from media_kind/media_features at id ${a.getLong(0)}")
      }
    } finally {
      prev.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }

  test("duck compat pack: host-spelled built-ins resolve to native expressions") {
    val base = SparkTestBase.spark
    val prev = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      assert(s2 ne base)
      val r = s2.sql(
        """SELECT len('abcd') AS a, len(list_value(1, 2, 3)) AS b,
          |  list_contains(string_split('x,y,z', ','), 'y') AS c,
          |  list_has_any(list_value(1, 2), list_value(2, 9)) AS d,
          |  list_min(list_value(4, 1, 7)) AS e, list_max(list_value(4, 1, 7)) AS f,
          |  list_unique(list_value(1, 1, 2)) AS g,
          |  regexp_matches('ab123', '[0-9][0-9]') AS h,
          |  string_split('a.b.c', '.')[1] AS i
          |""".stripMargin).collect().head
      assert(r.getInt(0) == 4)        // string len
      assert(r.getInt(1) == 3)        // list len
      assert(r.getBoolean(2))         // list_contains on literal-split
      assert(r.getBoolean(3))         // list_has_any overlap
      assert(r.getInt(4) == 1 && r.getInt(5) == 7)
      assert(r.getInt(6) == 2)        // unique count
      assert(r.getBoolean(7))         // regexp find-anywhere
      assert(r.getString(8) == "b")   // literal '.' delimiter, NOT regex
      val r2 = s2.sql(
        """SELECT list_transform(list_value(1, 2, 3), x -> x * 10) AS a,
          |  list_filter(list_value(1, 2, 3, 4), x -> x % 2 = 0) AS b,
          |  list_sort(list_value(3, 1, 2)) AS c,
          |  list_concat(list_value(1), list_value(2, 3)) AS d,
          |  list_extract(list_value(7, 8, 9), 1) AS e,
          |  list_extract(list_value(7, 8, 9), 99) AS f
          |""".stripMargin).collect().head
      assert(r2.getSeq[Int](0) == Seq(10, 20, 30))   // host lambda syntax
      assert(r2.getSeq[Int](1) == Seq(2, 4))
      assert(r2.getSeq[Int](2) == Seq(1, 2, 3))
      assert(r2.getSeq[Int](3) == Seq(1, 2, 3))
      assert(r2.getInt(4) == 7)                      // 1-based element
      assert(r2.isNullAt(5))                         // OOB → NULL under ANSI
    } finally {
      prev.foreach { p => SparkSession.setDefaultSession(p); SparkSession.setActiveSession(p) }
    }
  }

  test("graft_functions(): reference registration assertions run verbatim") {
    val s = SparkTestBase.spark
    graft.functions.Introspection.register(s)
    graft.queries.Routing.ensure(s)
    // test/sql/travel_time.test:16-20 shape, one per function
    for (f <- Seq("travel_time_load_config", "travel_time",
        "travel_time_is_loaded", "travel_time_locate", "travel_time_request",
        "travel_time_matrix")) {
      val got = s.sql(
        s"SELECT function_name FROM graft_functions() WHERE function_name = '$f'")
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq(f), s"$f not introspectable")
    }
    // travel_time.test:31-33 count shape
    val n = s.sql("SELECT count(*) AS n FROM graft_functions() " +
      "WHERE function_name = 'travel_time_route_wkb'").collect().head.getLong(0)
    assert(n == 1L)
    // a name that must NOT exist yields zero rows, not an error
    assert(s.sql("SELECT function_name FROM graft_functions() " +
      "WHERE function_name = 'no_such_function'").collect().isEmpty)
    // monaco_routing.test:51 typeof shape — with the host vocabulary pack
    // active, typeof speaks the host's type names (BLOB, not binary)
    graft.functions.DuckCompat.register(s)
    val t = s.sql("SELECT typeof(travel_time_route_wkb(" +
      "'POINT(7.4005 43.7005)', 'POINT(7.4055 43.7055)', 'auto').geometry) AS t")
      .collect().head.getString(0)
    assert(t == "BLOB", s"route wkb introspects as $t")
  }

  test("bloom surface: no false negatives, prune+residual equals exact anti-join") {
    val spark = SparkTestBase.spark
    graft.functions.BloomSql.register(spark)
    import spark.implicits._
    (0L until 2000L).map(i => (i, s"doc-$i")).toDF("id", "key")
      .createOrReplaceTempView("bloom_corpus")
    // blocklist = every third key
    spark.sql("SELECT key FROM bloom_corpus WHERE id % 3 = 0")
      .createOrReplaceTempView("bloom_bl")
    // no false negatives: every blocklisted key must hit the filter
    val missed = spark.sql(
      """SELECT count(*) AS n FROM bloom_bl
        |WHERE NOT might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(key), 1000L, 8192L) FROM bloom_bl),
        |  xxhash64(key))""".stripMargin).collect().head.getLong(0)
    assert(missed == 0L, "bloom filter produced a false negative")
    // bloom-pruned + exact residual == plain anti-join
    val pruned = spark.sql(
      """WITH clean AS (
        |  SELECT id FROM bloom_corpus
        |  WHERE NOT might_contain(
        |    (SELECT bloom_filter_agg(xxhash64(key), 1000L, 8192L) FROM bloom_bl),
        |    xxhash64(key))),
        |cand AS (
        |  SELECT id, key FROM bloom_corpus
        |  WHERE might_contain(
        |    (SELECT bloom_filter_agg(xxhash64(key), 1000L, 8192L) FROM bloom_bl),
        |    xxhash64(key)))
        |SELECT id FROM clean
        |UNION ALL
        |SELECT c.id FROM cand c LEFT ANTI JOIN bloom_bl b ON c.key = b.key
        |""".stripMargin).collect().map(_.getLong(0)).toSet
    val exact = (0L until 2000L).filter(_ % 3 != 0).toSet
    assert(pruned == exact)
  }
}
