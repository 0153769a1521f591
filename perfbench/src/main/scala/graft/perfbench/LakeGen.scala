package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the tables the query slice reads: the TPC-H-like
  * star schema, the `events` stream table, and the `documents` /
  * `embeddings` corpus tables, with the column names, types (timestamps
  * are TIMESTAMP_NTZ, one parquet file per table) and value domains of the
  * data the engine's queries were written against. Every value is a pure
  * function of (row id, seed, column salt), so the same seed gives the
  * same bytes at any parallelism, and the queries see only generated data.
  *
  * Row counts scale linearly with `sf`: lineitem = 6,000,000 × sf.
  */
object LakeGen {

  private val WriterThreads = 3

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private final class Gen(seed: Long) {
    def h(id: Column, salt: Int): Column = xxhash64(id, lit(seed), lit(salt))
    def mod(id: Column, salt: Int, n: Long): Column = pmod(h(id, salt), lit(n))
    /** Uniform in [0, 1). */
    def u(id: Column, salt: Int): Column =
      mod(id, salt, 1000000000L).cast("double") / 1e9
    def pick(id: Column, salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), mod(id, salt, xs.size).cast("int") + 1)
    def money(id: Column, salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(id, salt) * (hi - lo), 2)
    def day(id: Column, salt: Int, from: String, days: Int): Column =
      date_add(lit(from).cast("date"), mod(id, salt, days).cast("int"))
        .cast("timestamp_ntz")
  }

  private def rows(spark: SparkSession, n: Long, name: String): DataFrame =
    spark.range(0, n, 1, math.max(1, spark.sparkContext.defaultParallelism))
      .withColumnRenamed("id", name)

  /** Writes every table under `dir` as `<dir>/<table>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val g = new Gen(seed)
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000); val nVecs = n(20000)

    val region = spark.createDataFrame(Seq(
      0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

    val c = col("c_custkey")
    val customer = rows(spark, nCust, "c_custkey").select(c,
      format_string("Customer#%09d", c).as("c_name"),
      g.mod(c, 1, 25).cast("int").as("c_nationkey"),
      g.money(c, 2, -999.99, 9999.99).as("c_acctbal"),
      g.pick(c, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))

    val s = col("s_suppkey")
    val supplier = rows(spark, nSupp, "s_suppkey").select(s,
      format_string("Supplier#%09d", s).as("s_name"),
      g.mod(s, 11, 25).cast("int").as("s_nationkey"),
      g.money(s, 12, -999.99, 9999.99).as("s_acctbal"))

    val p = col("p_partkey")
    val part = rows(spark, nPart, "p_partkey").select(p,
      concat(g.pick(p, 21, Seq("blue", "cold", "hot", "large", "new", "old",
        "red", "small")), lit(" "), g.pick(p, 22, Seq("anvil", "bolt", "gear",
        "gizmo", "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), g.mod(p, 23, 25) + 1).as("p_brand"),
      g.pick(p, 24, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (g.mod(p, 25, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(p, lit(1000)) * 0.1, 1).as("p_retailprice"))

    val o = col("o_orderkey")
    val orders = rows(spark, nOrders, "o_orderkey").select(o,
      g.mod(o, 31, nCust).as("o_custkey"),
      g.pick(o, 32, Seq("F", "O", "P")).as("o_orderstatus"),
      g.money(o, 33, 1000.0, 500000.0).as("o_totalprice"),
      g.day(o, 34, "1995-01-01", 2404).as("o_orderdate"),
      g.pick(o, 35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))

    val l = col("l_id")
    val lineitem = rows(spark, nLines, "l_id").select(
      g.mod(l, 41, nOrders).as("l_orderkey"),
      g.mod(l, 42, nPart).as("l_partkey"),
      g.mod(l, 43, nSupp).as("l_suppkey"),
      (g.mod(l, 44, 7) + 1).cast("int").as("l_linenumber"),
      (g.mod(l, 45, 50) + 1).cast("double").as("l_quantity"),
      g.money(l, 46, 900.0, 105000.0).as("l_extendedprice"),
      (g.mod(l, 47, 11).cast("double") / 100).as("l_discount"),
      (g.mod(l, 48, 9).cast("double") / 100).as("l_tax"),
      g.pick(l, 49, Seq("A", "N", "R")).as("l_returnflag"),
      g.pick(l, 50, Seq("F", "O")).as("l_linestatus"),
      g.day(l, 51, "1995-01-02", 2498).as("l_shipdate"))

    // ts rises with event_id over 30 days, jittered within each slot
    val e = col("event_id")
    val slotMicros = 30L * 86400L * 1000000L / nEvents
    val events = rows(spark, nEvents, "event_id").select(e,
      timestamp_add("MICROSECOND",
        e * slotMicros + (g.u(e, 61) * slotMicros).cast("long"),
        lit("2024-01-01 00:00:00").cast("timestamp_ntz")).as("ts"),
      g.mod(e, 62, nUsers).as("user_id"),
      g.pick(e, 63, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - g.u(e, 64)) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), g.mod(e, 65, 100), lit("}")).as("props"))

    // 1 doc in 20 is a near-duplicate: an earlier doc's text plus " dup"
    // (text is a pure function of its doc id, so no join is needed)
    val d = col("doc_id")
    val vocab = array(Vocab.map(lit): _*)
    def textOf(id: Column): Column = array_join(transform(
      sequence(lit(0), (pmod(xxhash64(id, lit(seed), lit(71)), lit(91)) + 9).cast("int")),
      i => element_at(vocab,
        pmod(xxhash64(id, lit(seed), i), lit(Vocab.size.toLong)).cast("int") + 1)), " ")
    val isDup = g.mod(d, 72, 20) === 0 && d > 0
    val documents = rows(spark, nDocs, "doc_id")
      .withColumn("text", when(isDup, concat(textOf(g.mod(d, 73, Long.MaxValue) % d),
        lit(" dup"))).otherwise(textOf(d)))
      .select(d, col("text"),
        when(g.u(d, 74) < 0.41, lit("en"))
          .otherwise(g.pick(d, 75, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), pmod(d, lit(20))).as("source"),
        length(col("text")).cast("long").as("n_chars"))

    // unit-norm 64-d vectors of Box-Muller gaussians, labels uniform
    val v = col("vec_id")
    val gauss = transform(sequence(lit(0), lit(63)), i =>
      sqrt(lit(-2.0) * log(lit(1.0) -
        pmod(xxhash64(v, lit(seed), i), lit(1000000000L)).cast("double") / 1e9)) *
        cos(lit(2 * math.Pi) *
          pmod(xxhash64(v, lit(seed), i + 64), lit(1000000000L)).cast("double") / 1e9))
    val embeddings = rows(spark, nVecs, "vec_id")
      .withColumn("g", gauss)
      .withColumn("norm", sqrt(aggregate(col("g"), lit(0.0), (acc, x) => acc + x * x)))
      .select(v, transform(col("g"), x => (x / col("norm")).cast("float")).as("embedding"),
        g.mod(v, 81, 10).cast("int").as("label"))

    // the tables are independent: write them from a few threads at once
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WriterThreads)
    try {
      Seq("region" -> region, "nation" -> nation, "customer" -> customer,
        "supplier" -> supplier, "part" -> part, "orders" -> orders,
        "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
        "embeddings" -> embeddings).map { case (name, df) =>
        pool.submit[Unit](() =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet"))
      }.foreach(_.get())
    } finally pool.shutdown()
  }
}
