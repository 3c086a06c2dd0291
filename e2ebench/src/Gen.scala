package e2ebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, column salt) through `xxhash64`, so the same seed gives
  * the same bytes whatever the partitioning or core count.
  *
  * `writeTables` writes the ten-table star schema the query families read,
  * with the column types, value domains and one-file/one-row-group layout of
  * the repo's sf fixtures. `companyFacts` renders SEC CompanyFacts JSON for a
  * (ticker, version) pair; `FactOracle` predicts what the serving routes
  * must return for it. */
object Gen {

  /** Uniform double in [0, 1) from (seed, id, salt). */
  def u(seed: Long, id: Column, salt: Int): Column =
    xxhash64(lit(seed), id, lit(salt)).bitwiseAND(lit(0xFFFFFFFFFFFFL)).cast("double") / lit(281474976710656.0)

  private def pick(seed: Long, id: Column, salt: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (floor(u(seed, id, salt) * values.size) + 1).cast("int"))

  private def uniInt(seed: Long, id: Column, salt: Int, lo: Long, hi: Long): Column =
    (floor(u(seed, id, salt) * (hi - lo + 1)) + lo).cast("long")

  private def money(seed: Long, id: Column, salt: Int, lo: Double, hi: Double): Column =
    round(u(seed, id, salt) * (hi - lo) + lo, 2)

  private def tsBetween(seed: Long, id: Column, salt: Int, from: String, days: Int,
                        withMicros: Boolean): Column = {
    val base = to_timestamp(lit(from)).cast("long")
    val off =
      if (withMicros) floor(u(seed, id, salt) * days * 86400e6).cast("long")
      else floor(u(seed, id, salt) * days).cast("long") * 86400000000L
    timestamp_micros(lit(base * 1000000L) + off).cast("timestamp_ntz")
  }

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Row counts at scale factor `sf` (sf0.1: 600k lineitem rows). */
  def rows(sf: Double): Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L,
    "customer" -> (150000 * sf).toLong, "supplier" -> (10000 * sf).toLong,
    "part" -> (200000 * sf).toLong, "orders" -> (1500000 * sf).toLong,
    "lineitem" -> (6000000 * sf).toLong, "events" -> (1000000 * sf).toLong,
    "documents" -> (50000 * sf).toLong, "embeddings" -> (20000 * sf).toLong)

  /** Build every table as a single-partition DataFrame (one parquet file,
    * one row group once written). */
  def tableFrames(spark: SparkSession, sf: Double, seed: Long): Map[String, DataFrame] = {
    val n = rows(sf)
    def range(t: String) = spark.range(0, n(t), 1, 4)
    val id = col("id")
    val s = seed
    val region = spark.createDataFrame(Seq(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA",
      3 -> "EUROPE", 4 -> "MIDDLE EAST")).toDF("r_regionkey", "r_name")
    val nation = range("nation").select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey"))
    val customer = range("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uniInt(s, id, 1, 0, 24).cast("int").as("c_nationkey"),
      money(s, id, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(s, id, 3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"))
        .as("c_mktsegment"))
    val supplier = range("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uniInt(s, id, 11, 0, 24).cast("int").as("s_nationkey"),
      money(s, id, 12, -999.99, 9999.99).as("s_acctbal"))
    val part = range("part").select(id.as("p_partkey"),
      concat_ws(" ",
        pick(s, id, 21, Seq("blue", "old", "small", "new", "large", "hot", "cold", "red")),
        pick(s, id, 22, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), uniInt(s, id, 23, 1, 25)).as("p_brand"),
      pick(s, id, 24, Seq("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      uniInt(s, id, 25, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 2).as("p_retailprice"))
    val orders = range("orders").select(id.as("o_orderkey"),
      uniInt(s, id, 31, 0, n("customer") - 1).as("o_custkey"),
      pick(s, id, 32, Seq("P", "O", "F")).as("o_orderstatus"),
      money(s, id, 33, 1000.0, 500000.0).as("o_totalprice"),
      tsBetween(s, id, 34, "1995-01-01", 2404, withMicros = false).as("o_orderdate"),
      pick(s, id, 35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    val lineitem = range("lineitem").select(
      uniInt(s, id, 41, 0, n("orders") - 1).as("l_orderkey"),
      uniInt(s, id, 42, 0, n("part") - 1).as("l_partkey"),
      uniInt(s, id, 43, 0, n("supplier") - 1).as("l_suppkey"),
      uniInt(s, id, 44, 1, 7).cast("int").as("l_linenumber"),
      uniInt(s, id, 45, 1, 50).cast("double").as("l_quantity"),
      money(s, id, 46, 900.0, 105000.0).as("l_extendedprice"),
      (uniInt(s, id, 47, 0, 10) / 100.0).as("l_discount"),
      (uniInt(s, id, 48, 0, 8) / 100.0).as("l_tax"),
      pick(s, id, 49, Seq("N", "R", "A")).as("l_returnflag"),
      pick(s, id, 50, Seq("F", "O")).as("l_linestatus"),
      tsBetween(s, id, 51, "1995-01-02", 2498, withMicros = false).as("l_shipdate"))
    val events = range("events").select(id.as("event_id"),
      tsBetween(s, id, 61, "2024-01-01", 30, withMicros = true).as("ts"),
      uniInt(s, id, 62, 0, math.max(1L, (15000 * sf).toLong) - 1).as("user_id"),
      pick(s, id, 63, Seq("signup", "purchase", "view", "click", "error")).as("event_type"),
      round(-log1p(-u(s, id, 64) * 0.99) * 80.0, 2).as("value"),
      format_string("{\"k\": %d}", uniInt(s, id, 65, 0, 99)).as("props"))
    // ~1 doc in 20 repeats an earlier doc's words with a "dup" marker, so
    // the dedup and near-duplicate operators have something to find
    val words = (src: Column) => transform(sequence(lit(1), uniInt(s, src, 71, 10, 100).cast("int")),
      j => element_at(typedLit(Vocab), (floor(u(s, src * 1000 + j, 72) * Vocab.size) + 1).cast("int")))
    val isDup = u(s, id, 73) < 0.05 && id > 0
    val srcDoc = when(isDup, uniInt(s, id, 74, 0, 1000000) % id).otherwise(id)
    val text = when(isDup, concat_ws(" ", concat(words(srcDoc), array(lit("dup")))))
      .otherwise(concat_ws(" ", words(srcDoc)))
    val documents = range("documents").select(id.as("doc_id"), text.as("text"),
      when(u(s, id, 75) < 0.41, "en").otherwise(pick(s, id, 76, Seq("zh", "es", "fr", "de")))
        .as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // unit-norm 64-d gaussian vectors (Box-Muller)
    val gauss = transform(sequence(lit(0), lit(63)), j =>
      sqrt(lit(-2.0) * log(lit(1.0) - u(s, id * 64 + j, 81))) * cos(lit(2 * math.Pi) * u(s, id * 64 + j, 82)))
    val embeddings = range("embeddings").select(id.as("vec_id"), gauss.as("g"),
      uniInt(s, id, 83, 0, 9).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label"))
    Map("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Write the tables as `<dir>/<name>.parquet`, one file each; the
    * single-task writes run side by side. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = tableFrames(spark, sf, seed).toSeq.map { case (name, df) =>
      Future(df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }
    Await.result(Future.sequence(writes), scala.concurrent.duration.Duration.Inf)
  }

  // ---- CompanyFacts universe --------------------------------------------

  /** us-gaap concept → label; labels hit the serving routes' alias match
    * and the statement routes' tag fallback. */
  val Concepts: Seq[(String, String, String)] = Seq(
    ("RevenueFromContractWithCustomerExcludingAssessedTax", "Revenues", "revenue"),
    ("GrossProfit", "Gross Profit", "gross_profit"),
    ("OperatingIncomeLoss", "Operating Income (Loss)", "operating_income"),
    ("NetIncomeLoss", "Net Income (Loss)", "net_income"),
    ("Assets", "Assets", "assets"),
    ("Liabilities", "Liabilities", "liabilities"),
    ("StockholdersEquity", "Stockholders Equity", "equity"),
    ("CashAndCashEquivalentsAtCarryingValue", "Cash and Cash Equivalents", "cash"),
    ("CostOfRevenue", "Cost of Revenue", "cost_of_revenue"),
    ("NetCashProvidedByUsedInOperatingActivities", "Operating Cash Flow", "operating_cash_flow"))

  val Periods: Seq[String] = Seq("FY", "Q1", "Q2", "Q3")

  def ticker(i: Int): String = f"T$i%03d"

  /** The fact value a ticker reports at a version: positive, distinct per
    * (ticker, version, concept, year, period) and exact in a double. */
  def factValue(seed: Long, t: Int, version: Int, c: Int, fy: Int, fp: Int): Double = {
    val h = scala.util.hashing.MurmurHash3.productHash((seed, t, version, c, fy, fp))
    1000.0 + (h & 0x3FFFFFFF).toDouble
  }

  /** CompanyFacts JSON of ticker `t` at `version` — the document the
    * benchmark's in-memory fetch serves. */
  def companyFacts(seed: Long, t: Int, version: Int, firstYear: Int, years: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""{"cik":${100000 + t},"entityName":"Company ${ticker(t)} v$version","facts":{"us-gaap":{"""
    Concepts.zipWithIndex.foreach { case ((tag, label, _), c) =>
      if (c > 0) sb += ','
      sb ++= s""""$tag":{"label":"$label","description":"$label","units":{"USD":["""
      var first = true
      for (y <- 0 until years; (fp, p) <- Periods.zipWithIndex) {
        val fy = firstYear + y
        if (!first) sb += ','
        first = false
        val end = if (fp == "FY") s"$fy-12-31" else f"$fy-${3 * (p)}%02d-28"
        val form = if (fp == "FY") "10-K" else "10-Q"
        sb ++= s"""{"val":${factValue(seed, t, version, c, fy, p)},"start":"$fy-01-01","end":"$end","fy":$fy,"fp":"$fp","form":"$form"}"""
      }
      sb ++= "]}}"
    }
    sb ++= "}}}"
    sb.toString
  }
}
