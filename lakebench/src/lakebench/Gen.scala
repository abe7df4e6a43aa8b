package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, salt, row id) through Spark's `xxhash64`, so one seed gives
  * byte-identical tables on every run and at every parallelism. Schemas
  * follow the engine's fixture contract (TPC-H-ish star plus the events,
  * documents and embeddings tables); only the tables the b1–b15 suite and
  * the lake workloads read are produced. `scale` plays the role of the
  * TPC-H scale factor: orders = 1.5M × scale, lineitem ≈ 4 × orders.
  * Order dates fall in the `orderDays` days from 1995-01-01. */
final class Gen(spark: SparkSession, seed: Long, scale: Double, orderDays: Int = 2404) {

  val nCustomer: Long = math.max(300L, (150000 * scale).toLong)
  val nOrders: Long = math.max(3000L, (1500000 * scale).toLong)
  val nEvents: Long = math.max(1000L, (1000000 * scale).toLong)
  val nDocuments: Long = math.max(500L, (50000 * scale).toLong)
  val nEmbeddings: Long = 500L

  /** Uniform [0, 1) from (seed, salt, key columns). */
  def u(salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1L << 30))
      .cast("double") / lit((1L << 30).toDouble)

  /** Uniform integer in [0, n). */
  def ui(salt: Int, n: Long, keys: Column*): Column =
    floor(u(salt, keys: _*) * lit(n.toDouble)).cast("long")

  private def pick(salt: Int, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), (ui(salt, values.size.toLong, keys: _*) + 1).cast("int"))

  private val epochDay = to_date(lit("1995-01-01"))

  def region: DataFrame = spark.range(5).select(
    col("id").cast("int").as("r_regionkey"),
    element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
      (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame = spark.range(25).select(
    col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), lpad(col("id").cast("string"), 2, "0")).as("n_name"),
    pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer: DataFrame = spark.range(nCustomer).select(
    (col("id") + 1).as("c_custkey"),
    concat(lit("Customer#"), lpad((col("id") + 1).cast("string"), 9, "0")).as("c_name"),
    ui(11, 25, col("id")).cast("int").as("c_nationkey"),
    round(u(12, col("id")) * 10998.99 - 999.99, 2).as("c_acctbal"),
    pick(13, Seq("MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"), col("id"))
      .as("c_mktsegment"))

  /** Order columns for keys in `keyCol`; `salt0` separates the value
    * streams of the base table and of each upsert batch. Customers whose
    * key is a multiple of 3 never order (the b7 anti-join has an answer). */
  def orderCols(keyCol: Column, salt0: Int): Seq[Column] = {
    val k = ui(salt0 + 1, nCustomer, keyCol) + 1
    Seq(
      keyCol.as("o_orderkey"),
      when(pmod(k, lit(3)) === 0, k - 1).otherwise(k).as("o_custkey"),
      pick(salt0 + 2, Seq("F", "F", "O", "O", "P"), keyCol).as("o_orderstatus"),
      round(u(salt0 + 3, keyCol) * 500000 + 900, 2).as("o_totalprice"),
      date_add(epochDay, ui(salt0 + 4, orderDays, keyCol).cast("int")).cast("timestamp")
        .as("o_orderdate"),
      pick(salt0 + 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), keyCol)
        .as("o_orderpriority"))
  }

  def orders: DataFrame = spark.range(nOrders).select(orderCols(col("id") + 1, 20): _*)

  def lineitem: DataFrame = {
    val o = orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), (ui(30, 7, col("o_orderkey")) + 1).cast("int"))))
    val key = Seq(col("o_orderkey"), col("l_linenumber"))
    val qty = (ui(32, 50, key: _*) + 1).cast("double")
    o.select(
      col("o_orderkey").as("l_orderkey"),
      (ui(33, math.max(1000L, (200000 * scale).toLong), key: _*) + 1).as("l_partkey"),
      (ui(34, math.max(100L, (10000 * scale).toLong), key: _*) + 1).as("l_suppkey"),
      col("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (u(35, key: _*) * 1100 + 900), 2).as("l_extendedprice"),
      (ui(36, 11, key: _*).cast("double") / 100).as("l_discount"),
      (ui(37, 9, key: _*).cast("double") / 100).as("l_tax"),
      pick(38, Seq("A", "N", "R"), key: _*).as("l_returnflag"),
      pick(39, Seq("F", "O"), key: _*).as("l_linestatus"),
      date_add(to_date(col("o_orderdate")), (ui(40, 121, key: _*) + 1).cast("int"))
        .cast("timestamp").as("l_shipdate"))
  }

  def events: DataFrame = spark.range(nEvents).select(
    col("id").as("event_id"),
    timestamp_micros(lit(1704067200000000L) + ui(50, 29L * 86400L * 1000000L, col("id")))
      .as("ts"),
    ui(51, math.max(100L, nEvents / 50), col("id")).as("user_id"),
    pick(52, Seq("signup", "click", "view", "purchase", "error"), col("id")).as("event_type"),
    round(u(53, col("id")) * 100, 2).as("value"),
    concat(lit("{\"k\": "), ui(54, 100, col("id")).cast("string"), lit("}")).as("props"))

  private val vocab = Seq("spark", "lake", "delta", "iceberg", "parquet", "table", "commit",
    "snapshot", "manifest", "file", "scan", "join", "shuffle", "stage", "task", "query",
    "plan", "rule", "window", "bucket", "partition", "filter", "stream", "batch", "merge",
    "upsert", "delete", "vacuum", "schema", "column", "row", "vector", "token", "model",
    "prompt", "embedding", "index", "hash", "sort", "range")

  def documents: DataFrame = {
    // one document in ten repeats an earlier text, so b15's dedup is not trivial
    val textId = when(u(60, col("id")) < 0.1, ui(61, 1L << 40, col("id")) % (col("id") + 1))
      .otherwise(col("id"))
    val words = transform(sequence(lit(1), (ui(62, 36, textId) + 5).cast("int")),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(63), textId, i), lit(vocab.size.toLong)) + 1).cast("int")))
    spark.range(nDocuments)
      .select(col("id").as("doc_id"), array_join(words, " ").as("text"),
        pick(64, Seq("en", "es", "de", "fr", "zh"), col("id")).as("lang"),
        concat(lit("src"), ui(65, 20, col("id")).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings: DataFrame = spark.range(nEmbeddings).select(
    col("id").as("vec_id"),
    transform(sequence(lit(0), lit(63)),
      j => ((pmod(xxhash64(lit(seed), lit(70), col("id"), j), lit(1L << 30))
        .cast("double") / lit((1L << 30).toDouble)) * 2 - 1).cast("float")).as("embedding"),
    ui(71, 10, col("id")).cast("int").as("label"))

  def table(name: String): DataFrame = name match {
    case "region" => region
    case "nation" => nation
    case "customer" => customer
    case "orders" => orders
    case "lineitem" => lineitem
    case "events" => events
    case "documents" => documents
    case "embeddings" => embeddings
  }
}
