package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, salt, row),
  * so the same seed gives the same rows whatever the partitioning. The
  * engine only ever sees the parquet these write. */
object Gen {

  private def h(seed: Long, salt: String, cs: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cs): _*)

  /** Uniform integer in [0, n). */
  private def pick(seed: Long, salt: String, n: Long, cs: Column*): Column =
    pmod(h(seed, salt, cs: _*), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(seed: Long, salt: String, cs: Column*): Column =
    pick(seed, salt, 1000000L, cs: _*).cast("double") / 1e6

  val MetsRole = "http://www.loc.gov/METS/"
  val Host = "https://findingaids.princeton.edu"

  /** First mtime of the generated components, and their spread. */
  val MtimeBase = 1767225600L // 2026-01-01T00:00:00Z
  val MtimeSpanS = 100L * 86400L

  /** Components in the F1 mix. The category is `(row + seed) % 20`, so
    * every seed gives the same category counts:
    *   0-15  harvestable `.pdf` dao (0-1 carry show="new", 2 a non-METS role)
    *   16    `.pdf` under `/Accessions/`        (excluded by F1)
    *   17    `.jpg` image dao                   (excluded)
    *   18    `.pdf` with show="none"            (excluded)
    *   19    `.pdf` already carrying a METS role (excluded)
    * mtime rises with the row over 100 days (plus under a minute of
    * jitter), so the newest 1% of rows are the last 1% of the table.
    * Columns: id, href, show, role, title, mtime, and the generator's
    * own `cat`/`row` (kept out of the engine's input; [[candidates]]
    * recovers them from the id). */
  def components(spark: SparkSession, seed: Long, n: Long, files: Int): DataFrame = {
    val row = col("id")
    val coll = concat(lit("MC"), pick(seed, "coll", 400, row).cast("string"))
    val cid = format_string("%s_c%07d", coll, row)
    // 0-3 pad characters make the payload length, and so the page
    // count the pipeline derives from it, uniform over 1..4
    val stem = concat(cid, lit("_"), pick(seed, "k", 100000, row).cast("string"),
      expr(s"repeat('x', CAST(pmod(xxhash64(${seed}L, 'pad', id), 4) AS INT))"))
    val cat = pmod(row + lit(seed), lit(20L))
    spark.range(0, n, 1, files).select(
      row.as("row"),
      cat.as("cat"),
      cid.as("id"),
      when(cat === 16, format_string(s"$Host/Accessions/%s/%s.pdf", coll, stem))
        .when(cat === 17, format_string(s"$Host/images/%s/%s.jpg", coll, stem))
        .otherwise(format_string(s"$Host/pdfs/%s/%s.pdf", coll, stem)).as("href"),
      when(cat === 18, lit("none")).when(cat < 2, lit("new"))
        .otherwise(lit(null).cast("string")).as("show"),
      when(cat === 19, lit(MetsRole))
        .when(cat === 2, lit("http://www.loc.gov/standards/mods/"))
        .otherwise(lit(null).cast("string")).as("role"),
      format_string("Folder %d, %d", pick(seed, "folder", 200, row) + 1,
        pick(seed, "year", 120, row) + 1900).as("title"),
      timestamp_seconds(lit(MtimeBase) + (row * lit(MtimeSpanS)) / lit(n)
        + pick(seed, "jitter", 60, row)).as("mtime"))
  }

  /** The F1 candidates of a generated table, by the generator's own rule:
    * categories 0-15, with the row read back from the id. */
  def candidates(components: DataFrame, seed: Long): DataFrame = {
    val row = regexp_extract(col("id"), "_c(\\d+)$", 1).cast("long")
    components.filter(pmod(row + lit(seed), lit(20L)) < 16).select("id")
  }

  /** The engine's view of a components table. */
  val EngineColumns: Seq[String] = Seq("id", "href", "show", "role", "title", "mtime")

  /** Timestamp that the newest `fraction` of an n-row table is newer than. */
  def mtimeCutoff(fraction: Double): java.sql.Timestamp =
    new java.sql.Timestamp((MtimeBase + (MtimeSpanS * (1.0 - fraction)).toLong) * 1000L)

  // ---- query_mix tables: the shapes of the TPC-H-like test tables ----

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  private def oneOf(values: Seq[String], seed: Long, salt: String, cs: Column*): Column =
    element_at(array(values.map(lit): _*), (pick(seed, salt, values.size, cs: _*) + 1).cast("int"))

  private def ts(base: String, spanS: Long, seed: Long, salt: String, cs: Column*): Column =
    timestamp_seconds(unix_timestamp(lit(base)) + pick(seed, salt, spanS, cs: _*))

  /** Writes the ten tables at `scale` × the row counts of the sf0.1 test
    * tables (TESTDATA.md) into `dir`. */
  def queryTables(spark: SparkSession, seed: Long, scale: Double, dir: String): Unit = {
    def n(base: Long): Long = math.max(10L, math.round(base * scale))
    val nOrders = n(150000); val nLines = n(600000); val nCust = n(15000)
    val nPart = n(20000); val nSupp = n(1000); val nDocs = n(5000)
    val nVecs = n(2000); val nEvents = n(100000)
    val id = col("id")

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(id.cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (id + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        pmod(id, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> spark.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick(seed, "c_nation", 25, id).cast("int").as("c_nationkey"),
        round(unit(seed, "c_acct", id) * 10000.0 - 1000.0, 2).as("c_acctbal"),
        oneOf(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
          seed, "c_seg", id).as("c_mktsegment")),
      "supplier" -> spark.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        pick(seed, "s_nation", 25, id).cast("int").as("s_nationkey"),
        round(unit(seed, "s_acct", id) * 10000.0 - 1000.0, 2).as("s_acctbal")),
      "part" -> spark.range(nPart).select(id.as("p_partkey"),
        concat_ws(" ", oneOf(Seq("large", "hot", "small", "cold", "bright"), seed, "p_n1", id),
          oneOf(Seq("ring", "bolt", "gear", "pipe", "valve"), seed, "p_n2", id)).as("p_name"),
        concat(lit("Brand#"), (pick(seed, "p_brand", 25, id) + 1).cast("string")).as("p_brand"),
        oneOf(Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"),
          seed, "p_type", id).as("p_type"),
        (pick(seed, "p_size", 50, id) + 1).cast("int").as("p_size"),
        round(lit(900.0) + pmod(id, lit(1000L)).cast("double") * 0.1, 2).as("p_retailprice")),
      "orders" -> spark.range(nOrders).select(id.as("o_orderkey"),
        pick(seed, "o_cust", nCust, id).as("o_custkey"),
        oneOf(Seq("F", "O", "P"), seed, "o_status", id).as("o_orderstatus"),
        round(lit(1000.0) + unit(seed, "o_price", id) * 499000.0, 2).as("o_totalprice"),
        ts("1995-01-01 00:00:00", 2404L * 86400L, seed, "o_date", id).as("o_orderdate0"),
        oneOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
          seed, "o_prio", id).as("o_orderpriority"))
        .withColumn("o_orderdate", date_trunc("day", col("o_orderdate0"))).drop("o_orderdate0")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
          "o_orderpriority"),
      "lineitem" -> spark.range(nLines).select(
        pick(seed, "l_order", nOrders, id).as("l_orderkey"),
        pick(seed, "l_part", nPart, id).as("l_partkey"),
        pick(seed, "l_supp", nSupp, id).as("l_suppkey"),
        (pick(seed, "l_line", 7, id) + 1).cast("int").as("l_linenumber"),
        (pick(seed, "l_qty", 50, id) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + unit(seed, "l_price", id) * 104100.0, 2).as("l_extendedprice"),
        (pick(seed, "l_disc", 11, id).cast("double") / 100.0).as("l_discount"),
        (pick(seed, "l_tax", 9, id).cast("double") / 100.0).as("l_tax"),
        oneOf(Seq("A", "N", "R"), seed, "l_rf", id).as("l_returnflag"),
        oneOf(Seq("O", "F"), seed, "l_ls", id).as("l_linestatus"),
        date_trunc("day", ts("1995-01-02 00:00:00", 2498L * 86400L, seed, "l_ship", id))
          .as("l_shipdate")),
      "documents" -> documents(spark, seed, nDocs),
      "embeddings" -> embeddings(spark, seed, nVecs),
      "events" -> spark.range(nEvents).select(id.as("event_id"),
        timestamp_micros(unix_micros(lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
          + pick(seed, "e_ts", 30L * 86400L * 1000000L, id)).as("ts"),
        pick(seed, "e_user", 1500, id).as("user_id"),
        oneOf(Seq("signup", "click", "error", "view", "purchase"), seed, "e_type", id)
          .as("event_type"),
        round(unit(seed, "e_val", id) * 560.0, 2).as("value"),
        format_string("{\"k\": %d}", pick(seed, "e_k", 100, id)).as("props")))

    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  /** [[queryTables]] into `dir` unless a complete copy is already there.
    * Written beside `dir` and renamed into place, so a copy is whole or absent. */
  def cachedTables(spark: SparkSession, seed: Long, scale: Double,
      dir: java.nio.file.Path): Unit =
    if (!java.nio.file.Files.exists(dir.resolve("_READY"))) {
      val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
      queryTables(spark, seed, scale, tmp.toString)
      java.nio.file.Files.createFile(tmp.resolve("_READY"))
      try java.nio.file.Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException => Stats.deleteTree(tmp) }
    }

  /** 10-100 words from a 30-word vocabulary. One document in 50 repeats
    * another's text exactly, and one in 20 repeats another's with one
    * word replaced by "dup", so the dedup queries have work to find. */
  private def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val exactDup = pmod(id, lit(50L)) === 7 && id >= 7
    val nearDup = pmod(id, lit(20L)) === 3 && id >= 3
    val textKey = when(exactDup, id - 7).when(nearDup, id - 3).otherwise(id)
    val words = spark.range(n).select(id, textKey.as("tk"), nearDup.as("near"))
      .withColumn("len", pick(seed, "len", 91, col("tk")) + 10)
      .withColumn("w", expr(
        s"""transform(sequence(1, CAST(len AS INT)), i ->
           |  element_at(array(${Words.map(w => s"'$w'").mkString(",")}),
           |    CAST(pmod(xxhash64(${seed}L, 'word', tk, i), ${Words.size}) + 1 AS INT)))""".stripMargin))
      .withColumn("w", when(col("near"),
        expr(s"transform(w, (x, i) -> IF(i = CAST(pmod(xxhash64(${seed}L, 'dup', id), len) AS INT), 'dup', x))"))
        .otherwise(col("w")))
    words.select(id.as("doc_id"),
      concat_ws(" ", col("w")).as("text"),
      when(pick(seed, "lang", 20, id) < 8, lit("en"))
        .otherwise(oneOf(Seq("de", "es", "fr", "zh"), seed, "lang2", id)).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float vectors around ten labelled centres. */
  private def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      pick(seed, "label", 10, col("id")).cast("int").as("label"))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, 63), j -> CAST(
           |  (pmod(xxhash64(${seed}L, 'centre', label, j), 1000000) / 1e6 - 0.5) * 0.6
           |  + (pmod(xxhash64(${seed}L, 'noise', vec_id, j), 1000000) / 1e6 - 0.5) * 0.2
           |  AS FLOAT))""".stripMargin))
      .select("vec_id", "embedding", "label")
}
