package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Minimal JSON text builder for the result file run.py reads. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Epoch microseconds on the monotonic clock, so spans from System.nanoTime
  * line up with the epoch-millisecond times Spark reports.
  */
object Clock {
  private val n0 = System.nanoTime()
  private val m0 = System.currentTimeMillis()
  def us(): Long = m0 * 1000L + (System.nanoTime() - n0) / 1000L
  def ms(t0Nanos: Long): Double = (System.nanoTime() - t0Nanos) / 1e6
}

/** One timed span. `layer` names the module the span's self time belongs
  * to; `op` groups every span caused by one request or statement.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String, op: Long,
                      startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def json: String = Json.obj(
    "id" -> Json.num(id), "parent" -> Json.num(parent), "name" -> Json.str(name),
    "layer" -> Json.str(layer), "op" -> Json.num(op),
    "start_us" -> Json.num(startUs), "end_us" -> Json.num(endUs),
    "attrs" -> Json.obj(attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
}

/** In-memory span store, written out once when the run ends. */
final class Trace {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s): Unit
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s => w.write(s.json); w.write('\n') } finally w.close()
  }
}

/** Spark scheduler spans: one per job (parent = the op whose id is the job
  * group) and one per stage (parent = its job), carrying the stage's task
  * counters. Attached only for traced windows.
  */
final class LayerListener(trace: Trace) extends SparkListener {
  import LayerListener.JobRec
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val started = new AtomicLong(0)
  val ended = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)
    val rec = JobRec(trace.nextId(), op, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val rec = jobs.remove(e.jobId)
    if (rec != null)
      trace.add(Span(rec.id, rec.op, "job", "spark", rec.op, rec.startMs * 1000L, e.time * 1000L))
    ended.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val rec = stageJob.get(si.stageId)
    if (rec != null && si.submissionTime.isDefined && si.completionTime.isDefined) {
      val m = si.taskMetrics
      val attrs: Map[String, Double] =
        if (m == null) Map("tasks" -> si.numTasks.toDouble)
        else Map(
          "tasks" -> si.numTasks.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "input_bytes" -> m.inputMetrics.bytesRead.toDouble)
      trace.add(Span(trace.nextId(), rec.id, "stage", "spark", rec.op,
        si.submissionTime.get * 1000L, si.completionTime.get * 1000L, attrs))
    }
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended (bounded, so a lost event cannot hang the run).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (ended.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}

object LayerListener {
  private final case class JobRec(id: Long, op: Long, startMs: Long)

  /** Run `body` with a listener attached, then wait for its events. */
  def around[T](spark: SparkSession, t: Trace)(body: => T): T = {
    val l = new LayerListener(t)
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      l.drain()
      spark.sparkContext.removeSparkListener(l)
    }
  }
}

object Plans extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in an executed plan, looking inside AQE stages. */
  def exchanges(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeLike => e }.size
}

/** Outcome of one request or statement. A failed op keeps its cause; its
  * latency is recorded but counts as missing every limit downstream.
  */
final case class OpRec(kind: String, ms: Double, ok: Boolean, pairs: Int, cause: String)

/** Runs ops and, in traced windows, wraps each in an op span with its job
  * group set, so the listener can parent that op's jobs. SQL statements
  * also get their planning phases as `sql` spans.
  */
final class OpRunner(spark: SparkSession, trace: Option[Trace], batch: Boolean = false) {
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val kernelOps = new ConcurrentLinkedQueue[(Long, AnyRef)]()

  /** Run one op. `body` returns the pairs it answered and a check of its
    * output (null when correct, else the cause), which runs after the
    * op's clock has stopped.
    */
  def run(kind: String, replay: AnyRef)(body: Long => (Int, () => String)): OpRec = {
    val sc = spark.sparkContext
    val opId = trace.map(_.nextId()).getOrElse(0L)
    trace.foreach(_ => sc.setJobGroup(opId.toString, kind, interruptOnCancel = false))
    val t0 = System.nanoTime(); val s0 = Clock.us()
    def failed(e: Throwable) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    val done = try Right(body(opId)) catch { case e: Throwable => Left(failed(e)) }
    val ms = Clock.ms(t0)
    trace.foreach { t =>
      t.add(Span(opId, 0L, kind, "op", opId, s0, Clock.us(),
        if (batch) attrs.get() + ("batch" -> 1.0) else attrs.get()))
      attrs.remove()
      sc.clearJobGroup()
      if (replay != null) kernelOps.add((opId, replay))
    }
    val (pairs, cause) = done match {
      case Right((n, check)) => (n, try check() catch { case e: Throwable => failed(e) })
      case Left(c) => (0, c)
    }
    val rec = OpRec(kind, ms, cause == null, pairs, cause)
    ops.add(rec)
    rec
  }

  /** Attributes for the op span of the op running on this thread. */
  private val attrs = ThreadLocal.withInitial[Map[String, Double]](() => Map.empty)

  /** Collect a SQL statement's rows, recording planning phases and the
    * executed plan's exchanges when tracing.
    */
  def collect(df: DataFrame, opId: Long): Array[org.apache.spark.sql.Row] = {
    val rows = df.collect()
    trace.foreach(t => recordPlan(t, df, opId))
    rows
  }

  def recordPlan(t: Trace, df: DataFrame, opId: Long): Unit = {
    val qe = df.queryExecution
    qe.tracker.phases.foreach { case (phase, s) =>
      t.add(Span(t.nextId(), opId, phase, "sql", opId, s.startTimeMs * 1000L, s.endTimeMs * 1000L))
    }
    val a = attrs.get()
    attrs.set(Map(
      "statements" -> (a.getOrElse("statements", 0.0) + 1),
      "exchanges" -> (a.getOrElse("exchanges", 0.0) + Plans.exchanges(qe.executedPlan))))
  }
}

/** A closed loop of one client: op k is sent when op k-1 has returned.
  * Ops started before the deadline all complete and count; returns the
  * seconds the loop took.
  */
object ClosedLoop {
  def run(seconds: Double)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var k = 0
    while (System.nanoTime() < deadline) { op(k); k += 1 }
    (System.nanoTime() - t0) / 1e9
  }
}

/** Heap retained after full collections. run.py reports the largest
  * of these checkpoints, taken after set-up and after each measured
  * window: heap in use at other moments depends on when the collector
  * happens to run.
  */
object Heap {
  private var peakBytes = 0L
  /** Collect until the heap stops shrinking: Spark's cleaner releases
    * blocks (broadcasts of old graphs) only after a collection has found
    * them unreachable, so one collection can leave them counted.
    */
  def checkpoint(): Unit = synchronized {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var used = Long.MaxValue
    var rounds = 0
    var shrinking = true
    while (shrinking && rounds < 5) {
      System.gc()
      val now = mem.getHeapMemoryUsage.getUsed
      shrinking = now < used - (1L << 20)
      used = math.min(used, now)
      rounds += 1
      if (shrinking) Thread.sleep(200)
    }
    peakBytes = math.max(peakBytes, used)
    Main.log(f"heap retained ${used / 1048576.0}%.1f MB after $rounds collections")
  }
  def peakMb: Double = synchronized(peakBytes / 1048576.0)
}
