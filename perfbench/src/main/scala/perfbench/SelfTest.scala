package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Self-tests of the benchmark itself (not of the engine):
  *
  *  1. The timed action materializes everything: a sorted aggregate's
  *     optimized plan keeps its `Sort` and every output column under
  *     `collect()` and under a `noop` write, which `count()` does not
  *     (Catalyst drops the sort and the non-key columns there).
  *  2. Inputs are a function of the seed: the same seed gives an identical
  *     op log and final-table hash, a different seed a different op log,
  *     for every workload of the benchmark.
  *
  * Usage: `python3 perfbench/run.py --selftest`. Prints PASS/FAIL lines and
  * exits non-zero on any failure. */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    results += ((name, ok, if (ok) "" else detail))
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
  }

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session(out.resolve("work"), traced = false)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      materializingAction(spark)
      Seq("ingest_small_commits", "pipeline_queries").foreach(w =>
        seededInputs(spark, w, out.resolve(w)))
    } finally spark.stop()
    val failed = results.count(!_._2)
    println(s"${results.size - failed}/${results.size} self-tests passed")
    if (failed > 0) sys.exit(1)
  }

  private def hasSort(p: LogicalPlan): Boolean = p.collectFirst { case s: Sort => s }.isDefined

  private def materializingAction(spark: SparkSession): Unit = {
    val df = spark.range(0, 10000, 1, 4)
      .selectExpr("id % 97 AS k", "id AS v", "cast(id AS string) AS s")
      .groupBy("k")
      .agg(sum("v").as("total"), collect_list("s").as("items"), md5(max("s")).as("digest"))
      .orderBy(col("total").desc, col("k"))
    val cols = df.columns.toSet
    val collected = df.queryExecution.optimizedPlan
    check("collect() plan keeps the Sort", hasSort(collected), collected.treeString)
    check("collect() plan keeps every output column",
      collected.output.map(_.name).toSet == cols, collected.output.mkString(","))
    // the noop write: capture the plan Spark actually runs
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      df.write.format("noop").mode("overwrite").save()
      val qe = seen.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      val written = Option(qe).map(_.optimizedPlan)
      val query = written.flatMap(_.collectFirst { case s: Sort => s })
      check("noop write plan keeps the Sort", query.isDefined,
        written.map(_.treeString).getOrElse("no plan"))
      check("noop write plan keeps every output column",
        query.exists(_.output.map(_.name).toSet == cols),
        query.map(_.output.mkString(",")).getOrElse("no sort"))
    } finally spark.listenerManager.unregister(l)
    // the action the earlier bench timed: recorded, not asserted (it is
    // the reason that action is not used here)
    val counted = df.groupBy().count().queryExecution.optimizedPlan
    println(s"INFO count() plan keeps the Sort: ${hasSort(counted)}; " +
      s"columns read: ${counted.collectLeaves().flatMap(_.output.map(_.name)).distinct.mkString(",")}")
  }

  private def seededInputs(spark: SparkSession, w: String, dir: java.nio.file.Path): Unit = {
    val ops = 12
    def once(seed: Long, tag: String): (Seq[String], String) = {
      val wl = Main.workload(w, spark, seed)
      wl.prepare(dir.resolve(tag))
      wl.warmUp()
      val tr = new Trace(spark, enabled = false)
      (0 until ops).foreach(i => wl.step(i, tr))
      val bad = wl.verify().filterNot(_.ok)
      check(s"$w seed $seed ($tag): run's own checks pass", bad.isEmpty, bad.mkString("; "))
      val h = wl.stateHash()
      wl.discard()
      (wl.opLog, h)
    }
    Files.createDirectories(dir)
    val (logA, hashA) = once(7, "a")
    val (logB, hashB) = once(7, "b")
    val (logC, _) = once(8, "c")
    check(s"$w: same seed gives an identical op log", logA == logB,
      logA.zip(logB).find(p => p._1 != p._2).toString)
    check(s"$w: same seed gives an identical final-table hash", hashA == hashB, s"$hashA vs $hashB")
    check(s"$w: different seed gives a different op log", logA != logC)
  }
}
