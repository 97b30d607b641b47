package perfbench

import graft.lake.{LakeCatalog, Mv}
import graft.streaming.ChangeFeed
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Path
import scala.collection.mutable

object IngestSmallCommits {
  final case class Reading(sensor: String, tsMs: Long, temp: Double, hum: Double, loc: String)
  /** The tables as the op log says they must be at one version. */
  final case class Model(rows: Map[Long, Reading], alerts: Map[Long, (Long, String)],
      extraCols: Int)

  /** One deck of ops: 20 commits (12 inserts of 1-100 rows, 2 merge
    * upserts, 2 range updates, 1 range delete, 1 two-table transaction,
    * 1 ADD COLUMN, 1 compaction) and two time-travel reads, then one
    * change-feed sync. The seed draws every size, key, range and version;
    * the order is fixed. Where the ADD COLUMN and the compaction fall
    * decides how many files and schema versions the other commits meet,
    * and a seeded order made that most of the run-to-run spread. The
    * ADD COLUMN sits mid-deck, so half the commits always meet a table
    * split across two schema versions, and the compaction ends the deck.
    * The loop runs whole decks, so every run has the same op mix. */
  val Deck: Seq[String] = Seq("insert", "merge", "insert", "update", "insert",
    "read_range", "insert", "delete", "insert", "txn", "alter", "insert", "merge",
    "insert", "update", "insert", "read_sql", "insert", "insert", "insert", "insert",
    "compact", "sync")
}

/** Small-commit ingest into the reference's demo-4 `sensor_data` table
  * (with a primary key, and demo-3 `ADD COLUMN`s), plus a `sensor_alerts`
  * side table written by demo-1 style two-table transactions. The commit
  * path (`lake.Tx` + `lake.Manifest`) does the work; the headline latency
  * is the commit's.
  *
  * Two lake read paths and the change feed ride in the same deck so every
  * lake layer is measured on this workload: an `AT (VERSION => v)` SQL
  * aggregate through a freshly opened catalog (SQL router, cold snapshot
  * load, file pruning) and a `readRange` on the open catalog (warm
  * snapshot, pruning), and a closing sync that runs `ChangeFeed.applyPass`
  * from `sensor_alerts` into a replica and refreshes a materialized view
  * (`Mv`) over it (its latency is the freshness lag). The feed follows the
  * side table because a pass costs seconds plus about half a second per
  * source commit in its window; over `sensor_data` it would cover all 20
  * commits of a deck and outgrow the run.
  *
  * The model is kept per version in memory from the generated op log; the
  * final tables, a seeded sample of past versions, every timed read, the
  * replica and the view are checked against it. */
final class IngestSmallCommits(spark: SparkSession, seed: Long) extends Workload {
  import IngestSmallCommits._
  def primary: String = "write"

  private val schema = StructType(Seq(
    StructField("reading_id", LongType), StructField("sensor_id", StringType),
    StructField("ts", TimestampType), StructField("temperature", DoubleType),
    StructField("humidity", DoubleType), StructField("location", StringType)))
  private val alertSchema = StructType(Seq(
    StructField("alert_id", LongType), StructField("reading_id", LongType),
    StructField("level", StringType)))
  private val locations = IndexedSeq("north", "south", "east", "west",
    "roof", "basement", "lab", "yard")
  private val levels = IndexedSeq("info", "warn", "crit")

  private var cat: LakeCatalog = _
  private var root: String = _
  private var ckpt: String = _
  private var rnd: scala.util.Random = _
  private var model: Model = _
  private val versions = mutable.LinkedHashMap.empty[Long, Model]
  private val log = mutable.ArrayBuffer.empty[String]
  /** Timed reads: (op, description, result hash, model version, lo, hi). */
  private val reads = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Long, Long)]
  private var nextId = 0L
  private var nextAlert = 0L
  private var deck: Iterator[String] = Iterator.empty

  /** Deterministic reading for (id, salt): the same op log always
    * generates the same rows. */
  private def reading(id: Long, salt: Int): Reading = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, id, salt))
    val h2 = scala.util.hashing.MurmurHash3.productHash((salt, id, seed))
    Reading(f"s${math.abs(h % 200)}%03d", 1704067200000L + id * 1000L,
      math.abs(h % 5000) / 100.0 - 10.0, math.abs(h2 % 10000) / 100.0,
      locations(math.abs(h2 % locations.size)))
  }

  private def frame(rows: Iterable[(Long, Reading)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq.map { case (id, r) =>
      Row(id, r.sensor, new java.sql.Timestamp(r.tsMs), r.temp, r.hum, r.loc) }: _*), schema)

  /** `sensor_data` as the model says, with the added columns (each
    * holds its default: no op writes them). */
  private def modelFrame(m: Model): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(m.rows.toSeq.map { case (id, r) =>
      Row.fromSeq(Seq(id, r.sensor, new java.sql.Timestamp(r.tsMs), r.temp, r.hum, r.loc) ++
        (1 to m.extraCols)) }: _*),
      StructType(schema.fields ++ (1 to m.extraCols).map(k => StructField(s"c$k", IntegerType))))

  private def alertFrame(alerts: Iterable[(Long, (Long, String))]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(alerts.toSeq.map { case (a, (rid, lvl)) =>
      Row(a, rid, lvl) }: _*), alertSchema)

  /** The aggregate both read paths run. */
  private def agg(df: DataFrame): DataFrame =
    df.groupBy("location").agg(count(lit(1)).as("n_rows"),
      sum("reading_id").as("sum_reading_id"), min("temperature").as("min_temperature"),
      max("temperature").as("max_temperature"))

  /** The aggregate the view maintains over `sensor_alerts`. */
  private def alertAgg(df: DataFrame): DataFrame =
    df.groupBy("level").agg(count(lit(1)).as("n_rows"),
      sum("reading_id").as("sum_reading_id"), min("alert_id").as("min_alert_id"),
      max("alert_id").as("max_alert_id"))

  private def newAlerts(rows: Seq[(Long, Reading)]): Seq[(Long, (Long, String))] =
    rows.map { case (id, r) =>
      val a = nextAlert; nextAlert += 1
      a -> ((id, levels(math.abs((r.temp * 100).toInt) % levels.size))) }

  def prepare(dir: Path): Unit = {
    root = dir.resolve("lake").toString
    ckpt = dir.resolve("ckpt").toString
    cat = new LakeCatalog(spark, root)
    rnd = new scala.util.Random(seed)
    model = Model(Map.empty, Map.empty, 0)
    versions.clear(); log.clear(); reads.clear()
    nextId = 0L; nextAlert = 0L; deck = Iterator.empty
    cat.createTable("sensor_data", schema, primaryKey = Seq("reading_id"))
    cat.createTable("sensor_alerts", alertSchema, primaryKey = Seq("alert_id"))
    cat.createTable("alerts_replica", alertSchema, primaryKey = Seq("alert_id"))
    val seedRows = (0L until 500L).map(id => id -> reading(id, 0))
    val seedAlerts = newAlerts(seedRows.take(50))
    cat.transaction { tx =>
      tx.insert("sensor_data", frame(seedRows)); tx.insert("sensor_alerts", alertFrame(seedAlerts)) }
    model = model.copy(rows = seedRows.toMap, alerts = seedAlerts.toMap)
    nextId = 500L
    log += s"""{"op":"seed","ids":[0,500],"alerts":[0,50]}"""
    versions(cat.currentVersion) = model
    Mv.create(cat, "alerts_mv", "sensor_alerts", keys = Seq("level"),
      sums = Seq("reading_id"), mins = Seq("alert_id"), maxs = Seq("alert_id"))
    ChangeFeed.applyPass(cat, "sensor_alerts", "alerts_replica", Seq("alert_id"), ckpt)
    versions(cat.currentVersion) = model
    log += """{"op":"create_view_and_replica","source":"sensor_alerts"}"""
  }

  /** Warm-up: one op of every kind, the closing sync included (untimed,
    * logged). */
  def warmUp(): Unit =
    Deck.distinct.zipWithIndex.foreach { case (k, j) => run(-1 - j, k, null) }

  private def span[T](tr: Trace, name: String)(f: => T): T =
    if (tr != null) tr.span(name)(f) else f

  /** Run one op of `kind`; returns its latency sample. */
  private def run(i: Int, kind: String, tr: Trace): Sample = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    kind match {
      case "read_sql" | "read_range" => Sample("read", kind, read(i, kind, tr))
      case "sync" =>
        val batches = span(tr, "changefeed.pass")(
          ChangeFeed.applyPass(cat, "sensor_alerts", "alerts_replica", Seq("alert_id"), ckpt))
        if (tr != null) tr.record("batches", batches.toDouble)
        val mode = span(tr, "mv.refresh")(Mv.refresh(cat, "alerts_mv"))
        val t = ms
        versions(cat.currentVersion) = model
        log += s"""{"i":$i,"op":"sync","batches":$batches,"mv":"$mode"}"""
        Sample("freshness", kind, t)
      case _ =>
        commit(i, kind, tr)
        val t = ms
        versions(cat.currentVersion) = model
        Sample("write", kind, t)
    }
  }

  private def commit(i: Int, kind: String, tr: Trace): Unit = kind match {
    case "insert" =>
      val n = 1 + rnd.nextInt(100)
      val rows = (nextId until nextId + n).map(id => id -> reading(id, 0))
      log += s"""{"i":$i,"op":"insert","ids":[$nextId,${nextId + n}]}"""
      nextId += n
      val df = frame(rows)
      span(tr, "tx.insert")(cat.insert("sensor_data", df))
      model = model.copy(rows = model.rows ++ rows)
    case "merge" =>
      val n = 1 + rnd.nextInt(100)
      val old = (0 until n / 2).map(_ => (rnd.nextDouble() * nextId).toLong).distinct
      val fresh = nextId until nextId + (n - n / 2)
      nextId += fresh.size
      val rows = (old ++ fresh).map(id => id -> reading(id, i))
      log += s"""{"i":$i,"op":"merge","old":[${old.mkString(",")}],"new":[${fresh.head},${fresh.last + 1}],"salt":$i}"""
      val df = frame(rows)
      span(tr, "tx.merge")(cat.merge("sensor_data", df, Seq("reading_id")))
      model = model.copy(rows = model.rows ++ rows)
    case "update" =>
      val (a, b) = keyRange(200)
      log += s"""{"i":$i,"op":"update","range":[$a,$b],"set":"temperature+1"}"""
      span(tr, "tx.update")(cat.update("sensor_data", col("reading_id").between(a, b),
        Map("temperature" -> (col("temperature") + 1.0))))
      model = model.copy(rows = model.rows.map { case (id, r) =>
        id -> (if (id >= a && id <= b) r.copy(temp = r.temp + 1.0) else r) })
    case "delete" =>
      val (a, b) = keyRange(50)
      log += s"""{"i":$i,"op":"delete","range":[$a,$b]}"""
      span(tr, "tx.delete")(cat.delete("sensor_data", col("reading_id").between(a, b)))
      model = model.copy(rows = model.rows.filterNot { case (id, _) => id >= a && id <= b })
    case "txn" =>
      val n = 1 + rnd.nextInt(20)
      val rows = (nextId until nextId + n).map(id => id -> reading(id, 0))
      val alerts = newAlerts(rows)
      log += s"""{"i":$i,"op":"txn","ids":[$nextId,${nextId + n}],"alerts":[${alerts.head._1},${alerts.last._1 + 1}]}"""
      nextId += n
      val df = frame(rows)
      val adf = alertFrame(alerts)
      span(tr, "tx.multi_table")(cat.transaction { tx =>
        tx.insert("sensor_data", df); tx.insert("sensor_alerts", adf) })
      model = model.copy(rows = model.rows ++ rows, alerts = model.alerts ++ alerts)
    case "alter" =>
      val k = model.extraCols + 1
      log += s"""{"i":$i,"op":"add_column","name":"c$k","default":$k}"""
      span(tr, "tx.alter")(cat.transaction(
        _.addColumn("sensor_data", s"c$k", IntegerType, Some(k.toString))))
      model = model.copy(extraCols = k)
    case "compact" =>
      log += s"""{"i":$i,"op":"compact"}"""
      span(tr, "tx.compact")(cat.compact("sensor_data"))
  }

  /** A key range [a, b] of width <= w inside the ids issued so far. */
  private def keyRange(w: Int): (Long, Long) = {
    val a = (rnd.nextDouble() * nextId).toLong
    (a, a + rnd.nextInt(w))
  }

  private def rowsHash(df: DataFrame): Long =
    df.collect().foldLeft(0L)((h, r) => h + r.toSeq.map(String.valueOf).mkString("|").##)

  /** A time-travel read; returns its latency (ms). */
  private def read(i: Int, kind: String, tr: Trace): Double = {
    val vs = versions.keys.toIndexedSeq
    val (a, b) = keyRange(1000)
    val t0 = System.nanoTime()
    val (c, name, v) =
      if (kind == "read_sql")
        (span(tr, "catalog.open")(new LakeCatalog(spark, root)), "manifest.snapshot_cold",
          vs(rnd.nextInt(vs.size)))
      else (cat, "manifest.snapshot_warm", cat.currentVersion)
    val snap = span(tr, name)(c.snapshot(v))
    if (tr != null) tr.record("files_live", snap.tables("sensor_data").files.size.toDouble)
    val (desc, df) =
      if (kind == "read_sql") {
        val q = "SELECT location, count(*) AS n_rows, sum(reading_id) AS sum_reading_id, " +
          "min(temperature) AS min_temperature, max(temperature) AS max_temperature " +
          s"FROM sensor_data AT (VERSION => $v) WHERE reading_id BETWEEN $a AND $b GROUP BY location"
        (q, span(tr, "catalog.sql")(c.sql(q)))
      } else (s"readRange(sensor_data, reading_id, $a, $b) @ $v",
        agg(span(tr, "catalog.read_range")(c.readRange("sensor_data", "reading_id", a.toString, b.toString))))
    val h = span(tr, "spark.collect")(rowsHash(df))
    val ms = (System.nanoTime() - t0) / 1e6
    log += s"""{"i":$i,"op":"$kind","version":$v,"query":${Json.str(desc)}}"""
    reads += ((i, desc, h, v, a, b))
    ms
  }

  def step(i: Int, tr: Trace): Seq[Sample] = {
    if (!deck.hasNext) deck = Deck.iterator
    val kind = deck.next()
    val t = if (tr.isActive) tr else null
    if (t != null && !Set("read_sql", "read_range", "sync").contains(kind)) t.record("commits", 1)
    Seq(run(i, kind, t))
  }

  /** Files added, manifest bytes written and OCC retries of one traced op,
    * taken outside its span so they never count as the op's time. */
  override def accounted[T](tr: Trace)(op: => T): T = {
    val files0 = liveFiles
    val meta0 = Main.duBytes(Path.of(root, "_manifest"))
    val retries0 = LakeCatalog.occRetries.sum()
    val r = op
    tr.recordOp("files_added", (liveFiles -- files0).size.toDouble)
    tr.recordOp("meta_bytes", (Main.duBytes(Path.of(root, "_manifest")) - meta0).toDouble)
    tr.recordOp("occ_retries", (LakeCatalog.occRetries.sum() - retries0).toDouble)
    r
  }

  override def canStop(i: Int): Boolean = (i + 1) % Deck.size == 0

  private def liveFiles: Set[String] =
    cat.current.tables.values.flatMap(_.files.map(_.path)).toSet

  def verify(): Seq[Check] = {
    // a run cut short of its deck's closing sync (fixed op count) syncs here
    if (deck.hasNext) run(Int.MaxValue, "sync", null)
    val check = new LakeCatalog(spark, root)
    val head = check.currentVersion
    val src = check.read("sensor_data")
    val alerts = check.read("sensor_alerts")
    val tables = Seq(
      Main.sameTable("final sensor_data", src, modelFrame(model)),
      Main.sameTable("final sensor_alerts", alerts, alertFrame(model.alerts)),
      Main.sameTable("replica = source", check.read("alerts_replica"), alerts),
      Main.sameTable("view = recomputed aggregate", check.read("alerts_mv"), alertAgg(alerts)))
    val past = new scala.util.Random(seed ^ 0x5eedL)
      .shuffle(versions.keys.filter(_ < head).toSeq).take(3)
      .map(v => Main.sameTable(s"readAt($v) sensor_data", check.readAt("sensor_data", v),
        modelFrame(versions(v))))
    val timed = reads.toSeq.map { case (i, desc, h, v, a, b) =>
      val want = rowsHash(agg(frame(versions(v).rows).filter(col("reading_id").between(a, b))))
      Check(s"read $i: $desc", want == h, if (want == h) "" else s"hash lake=$h model=$want")
    }
    tables ++ past ++ timed
  }

  override def endState(): Map[String, Double] = {
    val st = cat.current.tables("sensor_data")
    val live = cat.current.tables.values.flatMap(_.files.map(_.sizeBytes)).sum
    Map("live_files" -> st.files.size.toDouble,
      "space_amp" -> Main.duBytes(Path.of(root)).toDouble / math.max(1L, live),
      "versions" -> cat.currentVersion.toDouble)
  }

  def opLog: Seq[String] = log.toSeq

  def stateHash(): String = {
    val c = new LakeCatalog(spark, root)
    Seq("sensor_data", "sensor_alerts").map(t => Main.tableHash(c.read(t))).mkString(";")
  }
}
