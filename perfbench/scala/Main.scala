package perfbench

import org.apache.spark.sql.SparkSession

/** Shared context of one benchmark run. Everything the run writes lands
  * under `dir`, a directory made fresh for this run.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     dir: java.nio.file.Path, cores: Int) {
  def path(name: String): String = dir.resolve(name).toString
  def freshDir(name: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}

/** JSON fields of a run's result, in insertion order. */
final class Result {
  private val fields = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def put(k: String, json: String): Unit = fields += (k -> json)
  def nums(k: String, xs: Iterable[Double]): Unit = put(k, Json.nums(xs))
  def num(k: String, x: Double): Unit = put(k, Json.num(x))
  def window(k: String, ops: Iterable[OpRec], seconds: Double): Unit = {
    val list = ops.toSeq
    val causes = list.filterNot(_.ok).groupBy(_.cause).toSeq.sortBy(-_._2.size)
      .map { case (c, xs) => Json.obj("cause" -> Json.str(c), "count" -> Json.num(xs.size.toLong)) }
    put(k, Json.obj(
      "seconds" -> Json.num(seconds),
      "ops" -> Json.arr(list.map(o => Json.arr(Seq(Json.str(o.kind), Json.num(o.ms),
        o.ok.toString, Json.num(o.pairs.toLong))))),
      "causes" -> Json.arr(causes)))
  }
  def window(k: String, ops: java.util.Collection[OpRec], seconds: Double): Unit = {
    import scala.jdk.CollectionConverters._
    window(k, ops.asScala, seconds)
  }
  def json: String = Json.obj(fields.toSeq: _*)
}

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir>`.
  * Writes `result.json` (and `spans.jsonl` when traced) into the run dir.
  */
object Main {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line with seconds since JVM start, for the run log. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dir) = args
    // half the cores: a stage as wide as the machine makes every run wait
    // for whichever task another process's load delays
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val runDir = java.nio.file.Paths.get(dir).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log("session up")
    val ctx = Ctx(spark, seed.toLong, seconds.toDouble, runDir, cores)
    val out = new Result
    out.put("workload", Json.str(workload))
    out.num("cores", cores.toDouble)
    val tr = if (trace == "1") Some(new Trace) else None
    try {
      workload match {
        case "sql_routing" => SqlRouting.run(ctx, out, tr)
        case "tiled_od" => TiledOd.run(ctx, out, tr)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      log("workload done")
      out.num("peak_heap_mb", Heap.peakMb)
      tr.foreach(_.write(runDir.resolve("spans.jsonl")))
      java.nio.file.Files.writeString(runDir.resolve("result.json"), out.json)
    } finally spark.stop()
  }
}
