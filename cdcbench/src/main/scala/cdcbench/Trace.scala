package cdcbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON encoding for the raw result the driver hands to run.py. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Spark task metrics summed per job group. */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "cpu_s" -> cpuNs / 1e9,
    "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_mb" -> shuffleBytes / 1e6, "input_mb" -> inputBytes / 1e6,
    "output_mb" -> outputBytes / 1e6)
}

/** What the traced run records. Untraced runs build a `Tracer(enabled =
  * false)`: job groups are still set around each call (a thread-local
  * property, no listener), spans and listeners are not.
  *
  *   - spans: (name, start, end, parent, run id), kept in memory and written
  *     once at the end;
  *   - task metrics per job group, from a SparkListener — the group is set
  *     by the benchmark around each public call it times, and a streaming
  *     query's jobs carry the query's run id as their group;
  *   - per-batch streaming progress, from a StreamingQueryListener.
  *
  * `costNs` is the time spent inside the tracing code itself (listener
  * callbacks, on the listener-bus thread, and span bookkeeping); the
  * ingest passes read it before and after each pass, so the traced run can
  * report what tracing cost while the measured work ran. */
final class Tracer(val enabled: Boolean, val runId: String) {
  final case class Span(name: String, startNs: Long, endNs: Long, parent: String)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[String]
  private val origin = System.nanoTime()
  val costNs = new AtomicLong(0L)

  private val groups = mutable.Map.empty[String, GroupTotals]
  private val stageGroup = mutable.Map.empty[Int, String]
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Recording now? Off between `detach` and `attach`. */
  @volatile private var on = false

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans.synchronized(spans += Span(name, t0 - origin, t1 - origin, parent))
      costNs.addAndGet(System.nanoTime() - t1)
    }
  }

  /** Run `body` with Spark job group `group` (so its jobs' task metrics
    * sum under that name), as a span of the same name. */
  def call[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try span(group)(body)
    finally sc.clearJobGroup()
  }

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("other")
      groups.synchronized {
        e.stageIds.foreach(stageGroup.put(_, g))
        groups.getOrElseUpdate(g, new GroupTotals).jobs += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) groups.synchronized {
        val t = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "other"),
          new GroupTotals)
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        t.inputBytes += m.inputMetrics.bytesRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      progress.synchronized {
        progress += Map("run_id" -> p.runId.toString, "batch" -> p.batchId,
          "rows" -> p.numInputRows, "add_batch_ms" -> ms("addBatch"),
          "trigger_ms" -> ms("triggerExecution"))
      }
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally costNs.addAndGet(System.nanoTime() - t0)
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    on = true
    spark.sparkContext.addSparkListener(taskListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    on = false
    BenchListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(taskListener)
    spark.streams.removeListener(streamListener)
  }

  /** Forget the task totals so far (a new pass starts counting at zero). */
  def reset(spark: SparkSession): Unit = if (enabled) {
    BenchListenerBus.drain(spark.sparkContext)
    groups.synchronized(groups.clear())
    progress.synchronized(progress.clear())
  }

  /** Tracing cost so far, once the listener bus has caught up. */
  def settledCostNs(spark: SparkSession): Long = {
    if (enabled) BenchListenerBus.drain(spark.sparkContext)
    costNs.get
  }

  /** Streaming progress rows seen since the last reset (waits for the
    * listener bus). */
  def progressRows(spark: SparkSession): List[Map[String, Any]] = {
    if (enabled) BenchListenerBus.drain(spark.sparkContext)
    progress.synchronized(progress.toList)
  }

  /** Totals per job group seen so far (waits for the listener bus). */
  def groupTotals(spark: SparkSession): Map[String, GroupTotals] = {
    if (enabled) BenchListenerBus.drain(spark.sparkContext)
    groups.synchronized(groups.toMap)
  }

  def spanCount: Int = spans.synchronized(spans.size)

  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json(Map("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "run_id" -> runId))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
