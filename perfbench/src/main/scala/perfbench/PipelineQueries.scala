package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Judged pipeline and relational queries over `Tables.warm` (the cached,
  * bucketed source tables) at scale factor 0.01: dedup, TF-IDF, similarity
  * search, TPC-H and three floor queries, cycled in a seeded order, whole
  * cycles only. Executor compute and shuffle in `ops.Pipeline` /
  * `ops.Relational` do the work; no lake layer is involved.
  *
  * Each query is timed from the builder call to a fully materialized
  * result (`collect()`, the same work DuckDB's `fetchall` does). The
  * rows each query returned in the timed loop are written out and checked
  * against `SparkEntry.oracleSql` in DuckDB by the Python runner. */
final class PipelineQueries(spark: SparkSession, seed: Long) extends Workload {
  import PipelineQueries.Sf
  def primary: String = "read"

  val names: Seq[String] = Seq("dd1_exact_dedup", "dd2_ngram_jaccard",
    "dd3_minhash_lsh", "dd4_simhash", "x7_tfidf_topterms",
    "x21_cross_source_overlap", "ss1_cosine_topk", "ss6_hybrid_search",
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q18_large_orders", "p1_projection",
    "a2_groupby_count", "o4_limit")

  private var dir: String = _
  private var outDir: Path = _
  private val rnd = new scala.util.Random(seed)
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private val log = mutable.ArrayBuffer.empty[String]
  /** Last timed result of each query (rows, schema), for the oracle check. */
  private val results = mutable.LinkedHashMap.empty[String, DataFrame]
  private var warmS = 0.0
  private var cachedMb = 0.0

  def prepare(d: Path): Unit = {
    dir = d.resolve("data").toString
    outDir = d.getParent.getParent.resolve("dumps")
    log.clear(); results.clear()
    new Gen(spark, seed).writeTables(dir, Sf)
    log += s"""{"op":"generate","sf":$Sf,"tables":${Tables.names.map(Json.str).mkString("[", ",", "]")}}"""
    val t = System.nanoTime()
    Tables.warm(spark, dir)
    warmS = (System.nanoTime() - t) / 1e9
    // block-manager bytes the warm cache holds (memory + disk)
    cachedMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
  }

  /** Every query once (JIT, codegen caches). */
  def warmUp(): Unit = names.foreach(q => run(q, null))

  override def discard(): Unit = spark.catalog.clearCache()

  private def run(q: String, tr: Trace): (Double, DataFrame) = {
    def span[T](name: String)(f: => T): T = if (tr != null) tr.span(name)(f) else f
    val t0 = System.nanoTime()
    val df = span("ops.build")(SparkEntry.queries(q)(spark, dir))
    if (tr != null) span("ops.plan")(df.queryExecution.executedPlan)
    val rows = span("ops.exec")(df.collect())
    val ms = (System.nanoTime() - t0) / 1e6
    graft.ops.Cached.release()
    (ms, spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
  }

  def step(i: Int, tr: Trace): Seq[Sample] = {
    if (i % names.size == 0) order = rnd.shuffle(names).toIndexedSeq
    val q = order(i % names.size)
    log += s"""{"i":$i,"op":"query","name":"$q"}"""
    val (ms, res) = run(q, if (tr.isActive) tr else null)
    results(q) = res
    Seq(Sample("read", q, ms))
  }

  override def canStop(i: Int): Boolean = (i + 1) % names.size == 0

  /** Writes each query's timed result and its oracle SQL for the DuckDB
    * compare; the checks themselves run in the Python runner. */
  def verify(): Seq[Check] = {
    Files.createDirectories(outDir)
    val oracle = SparkEntry.oracleSql
    results.foreach { case (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(q).toString)
    }
    Files.write(outDir.resolve("oracle_sql.json"), Json.obj(
      results.keys.toSeq.filter(oracle.contains).map(q => q -> Json.str(oracle(q))))
      .getBytes("UTF-8"))
    Files.write(outDir.resolve("data_dir"), dir.getBytes("UTF-8"))
    results.keys.toSeq.filterNot(oracle.contains).map(q => Check(s"$q has an oracle", ok = false))
  }

  override def endState(): Map[String, Double] =
    Map("cached_mb" -> cachedMb, "warm_s" -> warmS)

  def opLog: Seq[String] = log.toSeq

  def stateHash(): String =
    Tables.names.map(t => Main.tableHash(spark.read.parquet(s"$dir/$t.parquet"))).mkString(";")
}

object PipelineQueries {
  /** Scale factor of the generated tables. */
  val Sf = 0.01
}
