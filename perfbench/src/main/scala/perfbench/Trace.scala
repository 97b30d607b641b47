package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** One traced interval: a timed op (parent = 0) or a call into one layer
  * inside it. `attrs` carries the counts attributed to this span alone
  * (Spark work of jobs submitted while it was the innermost open span,
  * scan and stream-progress figures, and values the caller records). */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val t0Ns: Long) {
  var t1Ns: Long = 0L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v
  /** Intervals (epoch ms) of the jobs submitted while this span was the
    * innermost open one. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Span recorder for the traced run. Spans are opened around the
  * benchmark's own calls into each engine layer; Spark's listener events
  * are attributed to the innermost open span through a job-local property
  * (set on the submitting thread, inherited by the stream execution
  * thread), and the listener bus is drained before a span closes so every
  * event of its jobs has landed. In an untraced run [[span]] only runs
  * its body. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val PropSpan = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stack = mutable.Stack.empty[Span]
  @volatile private var top: Span = _
  /** The op span that closed last (see [[recordOp]]). */
  private var lastOp: Span = _
  /** Clock readings at the first span: span times are written relative to
    * the first, job times (epoch ms, from the listener) likewise. */
  private var baseNs = 0L
  private var baseMs = 0L
  /** Per-op switch: a traced run leaves every other deck of ops untraced,
    * so the same run also measures the tracing overhead. */
  private var active = false
  private var nextId = 1
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(PropSpan)))
      .flatMap(s => Option(byId.get(s.toInt))).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        s.add("jobs", 1)
        jobStart.put(e.jobId, (s, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) => s.jobIntervals += ((t0, e.time)) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        stageSpan.put(e.stageInfo.stageId, s)
        s.add("stages", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.add("tasks", 1)
        s.add("executor_cpu_ms", m.executorCpuTime / 1e6)
        s.add("executor_run_ms", m.executorRunTime.toDouble)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  /** File-scan figures of every plan that finished while a span was the
    * innermost open one (listener-bus thread; drained before close). */
  private def onPlan(qe: QueryExecution): Unit = {
    val s = top
    if (s != null) scans(qe.executedPlan).foreach { scan =>
      scan.metrics.get("numFiles").foreach(m => s.add("scan_files", m.value.toDouble))
      scan.metrics.get("filesSize").foreach(m => s.add("scan_bytes", m.value.toDouble))
      s.add("scans", 1)
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  /** Streaming progress: per-trigger phase durations and rows, summed on
    * the open change-feed span. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val s = top
      if (s != null) {
        val p = e.progress
        s.add("triggers", 1)
        s.add("stream_rows", p.numInputRows.toDouble)
        p.durationMs.forEach((k, v) => s.add(s"stream.$k", v.doubleValue))
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    ScanListener.sink = onPlan
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.graftshim.ListenerDrain.drain(sc)

  /** Run one timed op. `traceIt` false runs it plain even in a traced run. */
  def op[T](name: String, traceIt: Boolean)(body: => T): T = {
    if (!enabled || !traceIt) return body
    active = true
    try span(name)(body) finally active = false
  }

  /** Record a span around `body` (a no-op wrapper when not tracing). */
  def span[T](name: String)(body: => T): T = {
    if (!active) return body
    drain()
    if (spans.isEmpty) { baseNs = System.nanoTime(); baseMs = System.currentTimeMillis() }
    val parent = if (stack.isEmpty) null else stack.top
    val s = new Span(nextId, if (parent == null) 0 else parent.id,
      if (parent == null) nextId else parent.op, name, System.nanoTime())
    nextId += 1
    byId.put(s.id, s)
    spans += s
    stack.push(s)
    top = s
    val prevProp = sc.getLocalProperty(PropSpan)
    sc.setLocalProperty(PropSpan, s.id.toString)
    try body
    finally {
      drain()
      s.t1Ns = System.nanoTime()
      sc.setLocalProperty(PropSpan, prevProp)
      stack.pop()
      top = if (stack.isEmpty) null else stack.top
      if (parent == null) lastOp = s
    }
  }

  /** Attach a value to the innermost open span (ignored when untraced). */
  def record(k: String, v: Double): Unit =
    if (active && stack.nonEmpty) stack.top.add(k, v)

  /** Attach a value to the op span that closed last: figures the
    * benchmark takes after an op, outside its span. */
  def recordOp(k: String, v: Double): Unit = if (lastOp != null) lastOp.add(k, v)

  def isActive: Boolean = active

  /** Spans as JSON lines (times in ms relative to the first span). */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString(",")
      val jobs = s.jobIntervals.map { case (a, b) => s"[${a - baseMs},${b - baseMs}]" }
        .mkString("[", ",", "]")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num((s.t0Ns - baseNs) / 1e6)},"end_ms":${Json.num((s.t1Ns - baseNs) / 1e6)},""" +
        s""""jobs_ms":$jobs,"attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Forwards every finished plan of every session to the open trace. It is
  * registered through `spark.sql.queryExecutionListeners` (see
  * [[Main.session]]) because the catalog's SQL router plans in a child
  * session of its own, which a listener registered on one session's
  * `listenerManager` does not see. */
final class ScanListener extends QueryExecutionListener {
  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val f = ScanListener.sink
    if (f != null) f(qe)
  }
  def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object ScanListener {
  @volatile var sink: QueryExecution => Unit = _
}

/** Minimal JSON writing (no JSON library on the classpath is assumed). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
