package ingestbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables in the layout `graft.gen.RawGen` reads
  * (`<dir>/<name>.parquet`, the TPC-H-like star schema plus `events`,
  * `documents` and `embeddings`). Every column is a pure function of the row
  * number, so two checkouts generate identical bytes of data and the
  * curation checksums recorded in `expected/curation.json` stay valid.
  * The workload seed never reaches this generator: it only picks and orders
  * rows of the finished tables. */
object Corpus {
  /** Bump when any generated value changes; it keys the on-disk cache. */
  val Version = "v1"

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  /** Uniform integer in [0, n) from the row id and a salt. */
  private def u(id: String, salt: Int, n: Int) =
    expr(s"pmod(xxhash64($id, $salt), $n)")
  /** Uniform double in [0, 1). */
  private def f(id: String, salt: Int) =
    expr(s"pmod(xxhash64($id, $salt), 1000000007) / 1000000007.0")

  /** Writes every table of one scale under `dir` unless a finished copy is
    * there (`_DONE` marker). `events` is the only table the streaming
    * workloads read; `eventRows` sizes it independently of the others. */
  def ensure(spark: SparkSession, dir: String, scale: Int, eventRows: Int): Unit = {
    val done = java.nio.file.Paths.get(dir, "_DONE")
    if (java.nio.file.Files.exists(done)) return
    val tables = build(spark, scale, eventRows)
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    java.nio.file.Files.write(done, Version.getBytes("UTF-8"))
  }

  /** `scale` = customers / 1500, the sf0.01 proportions of the reference
    * test tables (customer 1500, orders 15000, lineitem 60000, documents 500,
    * embeddings 500). */
  def build(spark: SparkSession, scale: Int, eventRows: Int): Seq[(String, DataFrame)] = {
    def range(n: Long) = spark.range(n).withColumnRenamed("id", "i")
    val nCust = 1500L * scale; val nSupp = 100L * scale; val nPart = 2000L * scale
    val nOrd = 15000L * scale; val nLine = 60000L * scale
    val nDoc = 500L * scale; val nVec = 500L * scale
    val users = math.max(150, eventRows / 66)

    val region = range(5).select(col("i").cast("int").as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
        col("i").cast("int") + 1).as("r_name"))
    val nation = range(25).select(col("i").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("i")).as("n_name"),
      (col("i") % 5).cast("int").as("n_regionkey"))
    val customer = range(nCust).select(col("i").as("c_custkey"),
      format_string("Customer#%09d", col("i")).as("c_name"),
      u("i", 1, 25).cast("int").as("c_nationkey"),
      round(f("i", 2) * 10999.0 - 999.99, 2).as("c_acctbal"),
      element_at(typedLit(Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE",
        "HOUSEHOLD")), u("i", 3, 5).cast("int") + 1).as("c_mktsegment"))
    val supplier = range(nSupp).select(col("i").as("s_suppkey"),
      format_string("Supplier#%09d", col("i")).as("s_name"),
      u("i", 4, 25).cast("int").as("s_nationkey"),
      round(f("i", 5) * 10999.0 - 999.99, 2).as("s_acctbal"))
    val adj = typedLit(Seq("red", "small", "hot", "old", "large", "blue", "green", "cold"))
    val noun = typedLit(Seq("plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve"))
    val part = range(nPart).select(col("i").as("p_partkey"),
      concat_ws(" ", element_at(adj, u("i", 6, 8).cast("int") + 1),
        element_at(noun, u("i", 7, 8).cast("int") + 1)).as("p_name"),
      concat(lit("Brand#"), u("i", 8, 25)).as("p_brand"),
      element_at(typedLit(Seq("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL",
        "ECONOMY")), u("i", 9, 6).cast("int") + 1).as("p_type"),
      (u("i", 10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u("i", 11, 1000) / 10.0, 1).as("p_retailprice"))
    val day = 86400L * 1000000L
    val base1995 = 788918400L * 1000000L // 1995-01-01 UTC, microseconds
    def ntz(micros: org.apache.spark.sql.Column) =
      timestamp_micros(micros).cast("timestamp_ntz")
    val orders = range(nOrd).select(col("i").as("o_orderkey"),
      u("i", 12, nCust.toInt).as("o_custkey"),
      element_at(typedLit(Seq("P", "O", "F")), u("i", 13, 3).cast("int") + 1)
        .as("o_orderstatus"),
      round(lit(1000.0) + f("i", 14) * 499000.0, 2).as("o_totalprice"),
      ntz(lit(base1995) + u("i", 15, 2400) * day).as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")), u("i", 16, 5).cast("int") + 1).as("o_orderpriority"))
    val lineitem = range(nLine).select(u("i", 17, nOrd.toInt).as("l_orderkey"),
      u("i", 18, nPart.toInt).as("l_partkey"),
      u("i", 19, nSupp.toInt).as("l_suppkey"),
      (u("i", 20, 7) + 1).cast("int").as("l_linenumber"),
      (u("i", 21, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + f("i", 22) * 104000.0, 2).as("l_extendedprice"),
      (u("i", 23, 11) / 100.0).as("l_discount"),
      (u("i", 24, 9) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("R", "A", "N")), u("i", 25, 3).cast("int") + 1)
        .as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")), u("i", 26, 2).cast("int") + 1)
        .as("l_linestatus"),
      ntz(lit(base1995) + (u("i", 27, 2500) + 1) * day).as("l_shipdate"))
    // events: ~30 days from 2024-01-01, monotone in event_id with jitter
    val base2024 = 1704067200L * 1000000L
    val step = 30L * day / math.max(1, eventRows)
    val events = range(eventRows.toLong).select(col("i").as("event_id"),
      ntz(lit(base2024) + col("i") * step + u("i", 28, step.toInt)).as("ts"),
      u("i", 29, users).as("user_id"),
      element_at(typedLit(Seq("signup", "error", "click", "view", "purchase")),
        u("i", 30, 5).cast("int") + 1).as("event_type"),
      round(lit(0.01) - log(lit(1.0) - f("i", 31)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", u("i", 32, 100)).as("props"))
    // documents: 10-99 words from a 30-word vocabulary; every 20th document
    // repeats an earlier one plus " dup" so the dedup operators find pairs
    val words = expr(s"transform(sequence(1, 10 + cast(pmod(xxhash64(src, 33), 90) as int)), " +
      s"k -> element_at(array(${vocab.map(w => s"'$w'").mkString(",")}), " +
      s"1 + cast(pmod(xxhash64(src, k), ${vocab.size}) as int)))")
    val documents = range(nDoc)
      .withColumn("src", when(col("i") % 20 === 19, col("i") - 7).otherwise(col("i")))
      .withColumn("text0", array_join(words, " "))
      .select(col("i").as("doc_id"),
        when(col("i") % 20 === 19, concat(col("text0"), lit(" dup")))
          .otherwise(col("text0")).as("text"),
        element_at(typedLit(Seq("en", "en", "en", "zh", "es", "de", "fr")),
          u("i", 34, 7).cast("int") + 1).as("lang"),
        concat(lit("src"), col("i") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // embeddings: 64 dims around one of 10 label centroids
    val embeddings = range(nVec)
      .withColumn("label", u("i", 35, 10).cast("int"))
      .select(col("i").as("vec_id"),
        expr("transform(sequence(0, 63), d -> cast(" +
          "(pmod(xxhash64(label, d, 36), 2001) - 1000) / 4000.0 + " +
          "(pmod(xxhash64(i, d, 37), 2001) - 1000) / 12000.0 as float))")
          .as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }
}
