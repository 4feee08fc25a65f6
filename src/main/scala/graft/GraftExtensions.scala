package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point — the idiomatic way to install graft into
  * any Spark deployment without touching application code:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * Installs at session build time:
  *  - the native `cosine_sim` (functions.CosineSim) and `nfc_normalize`
  *    (functions.NfcNormalize) expressions into the function registry via
  *    injectFunction — resolve in SQL and `call_function` without any
  *    per-session register call;
  *  - the routing SQL surface (routing.RoutingFunctions: every travel_time*
  *    function, valhalla_build_tiles and the FROM-position
  *    travel_time_matrix), registered once; each call binds the loaded
  *    router when its statement is analyzed, so the surface resolves
  *    before any load and follows every reload;
  *  - the driver-side plan-time rule
  *    (routing.RoutingFunctions.DriverSideRule) via injectOptimizerRule, so
  *    `SELECT travel_time_load_config('<path>')` works as a session's first
  *    statement (the reference's script-opening contract,
  *    src/travel_time_extension.cpp:446-462), and one-row statements of
  *    deterministic functions are answered without a Spark job.
  *    RoutingContext.install finds the surface present and adds nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.Expression

  private def arity(name: String, n: Int)(f: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${exprs.length}")
      f(exprs)
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.CosineSim].getName, "cosine_sim"),
      arity("cosine_sim", 2)(exprs => graft.functions.CosineSim(exprs(0), exprs(1)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("nfc_normalize"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NfcNormalize].getName, "nfc_normalize"),
      arity("nfc_normalize", 1)(exprs => graft.functions.NfcNormalize(exprs(0)))))
    // Spark ships bloom_filter_agg / might_contain as Catalyst expressions
    // for its internal runtime-filter rewrite but never registers them for
    // users; exposing them makes the broadcast-bloom blocklist prune (the
    // 100 TB alternative to a shuffle anti-join) writable as plain SQL.
    // might_contain's own type check restricts the bloom side to a literal
    // or scalar subquery, so the aggregate runs once and broadcasts.
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("bloom_filter_agg"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      arity("bloom_filter_agg", 3)(exprs =>
        org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2), 0, 0))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("might_contain"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      arity("might_contain", 2)(exprs =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1)))))
    // the routing SQL surface, resolvable before any load: each call binds
    // the loaded router when its statement is analyzed
    routing.RoutingFunctions.injectable.foreach(ext.injectFunction)
    ext.injectTableFunction(routing.RoutingFunctions.matrixTable)
    // catalog introspection parity with the reference's registration test
    // (test/sql/travel_time.test:16-48) — both spellings, so the reference
    // assertions run verbatim
    Seq("graft_functions", "duckdb_functions").foreach { name =>
      ext.injectTableFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          graft.functions.Introspection.getClass.getName, name),
        graft.functions.Introspection.builder))
    }
    // the host's file-ingest table functions over the binaryFile source
    Seq("read_blob" -> graft.functions.ReadBlob.blobBuilder,
        "read_text" -> graft.functions.ReadBlob.textBuilder).foreach {
      case (name, builder) =>
        ext.injectTableFunction((
          new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            graft.functions.ReadBlob.getClass.getName, name),
          builder))
    }
    // the remaining native graft kernels — the per-session register()
    // calls stay for programmatic use, but a SQL-first deployment gets
    // the whole vocabulary from the extension alone
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("nearest_cells"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.NearestCells].getName, "nearest_cells"),
      arity("nearest_cells", 3)(exprs =>
        graft.functions.NearestCells(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("hyperplane_sig"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.HyperplaneSig].getName, "hyperplane_sig"),
      arity("hyperplane_sig", 2)(exprs =>
        graft.functions.HyperplaneSig(exprs(0), exprs(1)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("adc_distance"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.AdcDistance].getName, "adc_distance"),
      arity("adc_distance", 3)(exprs =>
        graft.functions.AdcDistance(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("topk_min_pairs"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.TopKMinPairs].getName, "topk_min_pairs"),
      arity("topk_min_pairs", 3)(exprs =>
        graft.functions.TopKMinPairs(exprs(0), exprs(1), exprs(2)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("secret_scan"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.SecretScan].getName, "secret_scan"),
      graft.functions.SecretScan.builder _))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("minhash_sig"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MinhashSig].getName, "minhash_sig"),
      arity("minhash_sig", 3) { exprs =>
        require(exprs(1).foldable && exprs(2).foldable,
          "minhash_sig: q and k must be literals")
        def asInt(e: Expression, what: String): Int = e.eval() match {
          case i: Int  => i
          case l: Long => l.toInt
          case other   => throw new IllegalArgumentException(
            s"minhash_sig: $what must be an integer literal, got $other")
        }
        graft.functions.MinhashSig(exprs(0),
          asInt(exprs(1), "q"), asInt(exprs(2), "k"))
      }))
    // the multimodal decode dispatch as SQL vocabulary: featurize/route a
    // BINARY media column from pure SQL (real ImageIO / native FLAC /
    // G.711+ADPCM / AVI decode paths, the stub only past all of them)
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("media_features"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MediaFeatures].getName, "media_features"),
      arity("media_features", 1)(exprs =>
        graft.functions.MediaFeatures(exprs(0)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("media_kind"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MediaKind].getName, "media_kind"),
      arity("media_kind", 1)(exprs => graft.functions.MediaKind(exprs(0)))))
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("media_decode"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MediaDecode].getName, "media_decode"),
      arity("media_decode", 1)(exprs => graft.functions.MediaDecode(exprs(0)))))
    // HTML main-content extraction as SQL vocabulary: the crawl chain's
    // last step (gzip → WARC → HTTP → html_text → clean blocks)
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("html_text"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.HtmlText].getName, "html_text"),
      arity("html_text", 1)(exprs => graft.functions.HtmlText(exprs(0)))))
    // DOM-aware main-content election (readability/trafilatura class):
    // per-document structural extraction, no corpus pass
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("html_main"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.HtmlMain].getName, "html_main"),
      arity("html_main", 1)(exprs => graft.functions.HtmlMain(exprs(0)))))
    // ftfy-class double-encoding repair (mojibake_fix) — per-row, codegen'd
    ext.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("mojibake_fix"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[graft.functions.MojibakeFix].getName, "mojibake_fix"),
      arity("mojibake_fix", 1)(exprs => graft.functions.MojibakeFix(exprs(0)))))
    // host-dialect function-name aliases (len, list_*, string_split,
    // regexp_matches, ...) — vocabulary parity so reference-host statements
    // resolve unchanged; every alias is a native codegen'd expression
    graft.functions.DuckCompat.injectable.foreach(ext.injectFunction)
    // host JSON-construction vocabulary (json_object/json_array/json) —
    // the reference's GeoJSON-export examples run verbatim
    graft.functions.JsonCompat.injectable.foreach(ext.injectFunction)
    ext.injectOptimizerRule(spark => new routing.RoutingFunctions.DriverSideRule(spark))
    // the host engine's QUALIFY clause (window-result filtering), folded at
    // parse time into the equivalent window-subquery shape (plans.Qualify)
    ext.injectParser((session, delegate) => new plans.QualifyParser(session, delegate))
  }
}
