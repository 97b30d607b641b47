package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Result of one correctness check (untimed; counts toward failures). */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** One latency sample: its kind (write, read, freshness), the op that
  * gave it (a commit verb, a query name) and its milliseconds. */
final case class Sample(kind: String, op: String, ms: Double)

/** What a workload hands the harness. One instance serves one run:
  * [[prepare]] is called several times (each into a fresh directory, the
  * earlier states discarded) so its time is a median, [[warmUp]] once,
  * then the timed loop calls [[step]] until the time is up. */
trait Workload {
  /** Latency kind whose distribution is the workload's headline. */
  def primary: String
  /** Generate and load the inputs under `dir` (repeated; timed). */
  def prepare(dir: Path): Unit
  /** Untimed-loop warm-up ops on the last prepared state (once; timed). */
  def warmUp(): Unit
  /** Release what a discarded set-up holds (caches, open state). */
  def discard(): Unit = ()
  /** Run op `i`; return its latency samples. */
  def step(i: Int, tr: Trace): Seq[Sample]
  /** Runs one traced op. A workload that keeps untimed books on what an op
    * changed takes them here, around `op` and outside its span, and
    * attaches them with [[Trace.recordOp]]. */
  def accounted[T](tr: Trace)(op: => T): T = op
  /** True when the loop may stop after op `i` (whole cycles only). */
  def canStop(i: Int): Boolean = true
  /** Untimed correctness checks of everything the run produced. */
  def verify(): Seq[Check]
  /** End-state figures (space, files, cache) for the detail file. */
  def endState(): Map[String, Double] = Map.empty
  /** The generated op log, one JSON object per line. */
  def opLog: Seq[String]
  /** Digest of the final state (the self-test's determinism check). */
  def stateHash(): String
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, out: String)

object Main {
  /** Data generation-and-load passes per run; `setup_s` takes their median. */
  val Setups = 3

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1", m("out"))
  }

  /** `traced` adds the scan listener a traced run needs (every session
    * Spark makes then carries it, so an untraced run leaves it out). */
  def session(work: Path, traced: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    // the one configuration graft.Verify checks: shuffle partitions =
    // cpus, UTC, CBO on, AQE at its default
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[ScanListener].getName)
    b.getOrCreate()
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "ingest_small_commits" => new IngestSmallCommits(spark, seed)
    case "pipeline_queries" => new PipelineQueries(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = Paths.get(a.out).toAbsolutePath
    Files.createDirectories(out)
    val work = out.resolve("work")
    val t0 = System.nanoTime()
    val spark = session(work, a.trace)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, a, out, work, sessionS) finally spark.stop()
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      // linear interpolation between closest ranks
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def run(spark: SparkSession, a: Args, out: Path, work: Path, sessionS: Double): Unit = {
    val wl = workload(a.workload, spark, a.seed)
    // data generation and load, repeated into fresh directories (only the
    // last state is kept), then the warm-up once
    val prepS = (0 until Setups).map { r =>
      if (r > 0) wl.discard()
      val t = System.nanoTime()
      wl.prepare(work.resolve(s"setup$r"))
      (System.nanoTime() - t) / 1e9
    }
    val warmT = System.nanoTime()
    wl.warmUp()
    val warmUpS = (System.nanoTime() - warmT) / 1e9
    val tr = new Trace(spark, a.trace)
    val samples = mutable.ArrayBuffer.empty[(Sample, Boolean)]
    var attempted = 0; var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val loopT0 = System.nanoTime()
    val cpu0 = threadCpuNs()
    val (jit0, gc0) = (jitMs(), gcMs())
    var i = 0
    // whole decks/cycles; a traced run alternates traced and untraced ones
    // (at least one of each), so it also measures the tracing overhead.
    // The traced deck goes first: what JIT warm-up is left then inflates
    // the overhead estimate rather than hiding it.
    var cycle = 0
    def more: Boolean =
      System.nanoTime() < deadline || !wl.canStop(i - 1) || (a.trace && cycle < 2)
    while (more) {
      val traced = a.trace && cycle % 2 == 0
      attempted += 1
      try {
        def body = tr.op(s"op.${a.workload}", traced)(wl.step(i, tr))
        val s = if (traced) wl.accounted(tr)(body) else body
        s.foreach(x => samples += ((x, traced)))
      } catch { case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      if (wl.canStop(i)) cycle += 1
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val loopCpuMs = threadCpuNs().map { case (id, ns) => ns - cpu0.getOrElse(id, 0L) }.sum / 1e6
    val (loopJitMs, loopGcMs) = (jitMs() - jit0, gcMs() - gc0)
    if (a.trace) tr.write(out.resolve("spans.jsonl"))
    val checks = try wl.verify() catch { case e: Throwable =>
      Seq(Check("verify", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    Files.write(out.resolve("oplog.jsonl"), (wl.opLog.mkString("\n") + "\n").getBytes("UTF-8"))
    val end = wl.endState()

    // end-to-end figures are over untraced ops only
    def lat(kind: String) = samples.collect { case (x, false) if x.kind == kind => x.ms }.toSeq
    val prim = lat(wl.primary)
    val samplesJson = samples.map { case (x, t) =>
      s"[${Json.str(x.kind)},${Json.str(x.op)},${Json.num(x.ms)},$t]" }.mkString("[", ",", "]")
    val m = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (sessionS + pct(prepS, 0.5) + warmUpS),
      "ops_per_s" -> (i - failed) / loopS,
      "cpu_ms_per_op" -> loopCpuMs / math.max(1, i),
      "latency_geomean_ms" -> geomean(prim))
    val detail = mutable.LinkedHashMap[String, Double](
      "session_s" -> sessionS, "loop_s" -> loopS, "ops" -> i.toDouble,
      "loop_jit_ms" -> loopJitMs, "loop_gc_ms" -> loopGcMs,
      "failed_frac" -> (failed + checks.count(!_.ok)).toDouble / (attempted + checks.size))
    prepS.zipWithIndex.foreach { case (s, r) => detail(s"prepare${r}_s") = s }
    detail("warmup_s") = warmUpS
    Seq("write", "read", "freshness").foreach { k =>
      val xs = lat(k)
      if (xs.nonEmpty) {
        detail(s"${k}_p50_ms") = pct(xs, 0.5)
        detail(s"${k}_p90_ms") = pct(xs, 0.9)
        detail(s"${k}_n") = xs.size.toDouble
      }
    }
    end.foreach { case (k, v) => detail(k) = v }
    if (a.trace) {
      // like with like: per op name, the traced decks' geometric mean over
      // the untraced decks'; the overhead is the geometric mean of the ratios
      val ratios = samples.filter(_._1.kind == wl.primary).groupBy(_._1.op).values.flatMap { xs =>
        val t = xs.collect { case (x, true) => x.ms }.toSeq
        val u = xs.collect { case (x, false) => x.ms }.toSeq
        if (t.nonEmpty && u.nonEmpty) Some(geomean(t) / geomean(u)) else None
      }
      detail("trace_overhead_ratio") = geomean(ratios.toSeq)
      detail("untraced_latency_geomean_ms") = geomean(prim)
    }
    def nums(xs: Iterable[(String, Double)]) =
      Json.obj(xs.toSeq.map { case (k, v) => k -> Json.num(v) })
    val res = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "attempted" -> (attempted + checks.size).toString,
      "failed" -> (failed + checks.count(!_.ok)).toString,
      "metrics" -> nums(m), "detail" -> nums(detail),
      "checks" -> checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))).mkString("[", ",", "]"),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "samples" -> samplesJson))
    Files.write(out.resolve("result.json"), res.getBytes("UTF-8"))
  }

  /** Geometric mean: every op of a fixed mix counts, none dominates. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else math.exp(xs.map(x => math.log(math.max(x, 1e-3))).sum / xs.size)

  /** CPU time so far of each live Java thread of this JVM: the driver,
    * the executor task threads (local mode) and Spark's own threads, but
    * not the JIT-compiler or GC threads. The JIT keeps about two cores
    * compiling through the whole loop, so its CPU grows with the loop's
    * wall time and would carry every stall into a CPU figure. */
  def threadCpuNs(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** JIT compiler time of this JVM so far (ms). */
  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Collection time of this JVM's garbage collectors so far (ms). */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Order-insensitive content hash of a frame: (rows, sum of row hashes). */
  def tableHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def sameTable(name: String, got: DataFrame, want: DataFrame): Check = {
    val cols = want.columns.toIndexedSeq
    val g = tableHash(got.select(cols.map(col): _*))
    val w = tableHash(want)
    Check(name, g == w, if (g == w) "" else s"rows/hash lake=$g model=$w")
  }

  /** Total bytes of regular files under `dir`. */
  def duBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L else {
      val s = Files.walk(dir)
      try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }
}
