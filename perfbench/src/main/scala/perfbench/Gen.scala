package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded synthetic inputs. Every value is a pure function of (seed, salt,
  * row id) through `xxhash64`, so a table is identical for a given seed
  * whatever the partitioning, and two seeds give different tables. The
  * schemas, value domains and row counts follow the engine's TPC-H-style
  * test tables (customer/orders/lineitem/... plus events, documents and
  * embeddings) at scale factor `sf`. */
final class Gen(spark: SparkSession, seed: Long) {

  /** Uniform integer in [0, m) for row `id` (SQL expression). */
  def u(salt: Int, m: Long, id: String = "id"): String =
    s"pmod(xxhash64(${seed}L, $salt, $id), ${m}L)"

  private def pick(salt: Int, values: Seq[String], id: String = "id"): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(", ")}), " +
      s"cast(${u(salt, values.size, id)} AS int) + 1)"

  private def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  val words: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  def tables(sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    Seq(
      "region" -> range(5).selectExpr("cast(id AS int) AS r_regionkey",
        "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), " +
          "cast(id AS int) + 1) AS r_name"),
      "nation" -> range(25).selectExpr("cast(id AS int) AS n_nationkey",
        "concat('NATION_', id) AS n_name", "cast(id % 5 AS int) AS n_regionkey"),
      "customer" -> range(n(150000)).selectExpr("id AS c_custkey",
        "concat('Customer#', lpad(cast(id AS string), 9, '0')) AS c_name",
        s"cast(${u(1, 25)} AS int) AS c_nationkey",
        s"(${u(2, 1099964)} - 99985) / 100.0D AS c_acctbal",
        s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment"),
      "supplier" -> range(n(10000)).selectExpr("id AS s_suppkey",
        "concat('Supplier#', lpad(cast(id AS string), 9, '0')) AS s_name",
        s"cast(${u(4, 25)} AS int) AS s_nationkey",
        s"(${u(5, 1096405)} - 97602) / 100.0D AS s_acctbal"),
      "part" -> range(n(200000)).selectExpr("id AS p_partkey",
        s"concat(${pick(6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"))}, ' ', " +
          s"${pick(7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))}) AS p_name",
        s"concat('Brand#', ${u(8, 25)} + 1) AS p_brand",
        s"${pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))} AS p_type",
        s"cast(${u(10, 50)} + 1 AS int) AS p_size",
        "900.0D + (id % 1000) / 10.0D AS p_retailprice"),
      "orders" -> range(n(1500000)).selectExpr("id AS o_orderkey",
        s"${u(11, n(150000))} AS o_custkey",
        s"${pick(12, Seq("F", "O", "P"))} AS o_orderstatus",
        s"(100191 + ${u(13, 49899128)}) / 100.0D AS o_totalprice",
        s"cast(date_add(DATE'1995-01-01', cast(${u(14, 2404)} AS int)) AS timestamp_ntz) AS o_orderdate",
        s"${pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority"),
      "lineitem" -> range(n(6000000)).selectExpr(
        s"${u(30, n(1500000))} AS l_orderkey", s"${u(31, n(200000))} AS l_partkey",
        s"${u(32, n(10000))} AS l_suppkey",
        s"cast(${u(33, 7)} + 1 AS int) AS l_linenumber",
        s"cast(${u(34, 50)} + 1 AS double) AS l_quantity",
        s"(90068 + ${u(35, 10409923)}) / 100.0D AS l_extendedprice",
        s"${u(36, 11)} / 100.0D AS l_discount", s"${u(37, 9)} / 100.0D AS l_tax",
        s"${pick(38, Seq("A", "N", "R"))} AS l_returnflag",
        s"${pick(39, Seq("F", "O"))} AS l_linestatus",
        s"cast(date_add(DATE'1995-01-02', cast(${u(40, 2497)} AS int)) AS timestamp_ntz) AS l_shipdate"),
      "events" -> range(n(1000000)).selectExpr("id AS event_id",
        s"cast(timestamp_micros(1704067200000000L + id * ${2592000000000L / n(1000000)}L + " +
          s"${u(16, 2592000000000L / n(1000000))}) AS timestamp_ntz) AS ts",
        s"${u(17, 1500)} AS user_id",
        s"${pick(18, Seq("click", "error", "purchase", "signup", "view"))} AS event_type",
        s"round(-ln((${u(19, 1000000)} + 1) / 1000001.0D) * 50.0D, 2) AS value",
        s"concat('{\"k\": ', ${u(20, 100)}, '}') AS props"),
      "documents" -> documents(n(50000)),
      "embeddings" -> range(n(20000)).selectExpr("id AS vec_id",
        s"transform(sequence(0, 63), i -> (${u(21, 1000000, "id, i")} + " +
          s"${u(22, 1000000, "id, i")} + ${u(23, 1000000, "id, i")}) / 1000000.0D - 1.5D) AS raw",
        s"cast(${u(24, 10)} AS int) AS label")
        .selectExpr("vec_id",
          "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0.0D, (acc, y) -> acc + y * y)) AS float)) AS embedding",
          "label"))
  }

  /** Bag-of-words documents over a 30-word vocabulary, with ~3% exact
    * copies and ~3% near copies (one extra token) of an earlier document,
    * so the dedup and similarity queries have true positives. */
  private def documents(rows: Long): DataFrame = {
    val vocab = words.map(w => s"'$w'").mkString("array(", ", ", ")")
    range(rows)
      .selectExpr("id AS doc_id",
        s"CASE WHEN ${u(41, 100)} < 6 AND id > 50 THEN id - 1 - ${u(42, 50)} ELSE id END AS src",
        s"${u(41, 100)} AS kind")
      .selectExpr("doc_id", "kind",
        s"array_join(transform(sequence(1, cast(${u(43, 80, "src")} + 8 AS int)), " +
          s"i -> element_at($vocab, cast(${u(44, words.size, "src, i")} AS int) + 1)), ' ') AS body")
      .selectExpr("doc_id",
        "CASE WHEN kind BETWEEN 3 AND 5 AND doc_id > 50 THEN concat(body, ' dup') ELSE body END AS text",
        s"CASE WHEN ${u(45, 100, "doc_id")} < 41 THEN 'en' " +
          s"ELSE ${pick(46, Seq("de", "es", "fr", "zh"), "doc_id")} END AS lang",
        s"concat('src', ${u(47, 20, "doc_id")}) AS source")
      .selectExpr("doc_id", "text", "lang", "source", "cast(length(text) AS bigint) AS n_chars")
  }

  /** Write every table as `<dir>/<name>.parquet` (one file each). */
  def writeTables(dir: String, sf: Double): Unit =
    tables(sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
