package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.Envelope

/** Seeded input generator. Every value is a hash of (seed, column salt,
  * row id), so the output depends on the seed alone — not on partitioning,
  * thread count or run order.
  *
  * The star schema mirrors the fixture tables the library's queries are
  * written against (same names, columns, types and value domains), scaled
  * by `sf` from the sf1 row counts below.
  */
object Gen {

  /** Uniform double in [0, 1) from (seed, salt, key). */
  def u(seed: Long, salt: String, key: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), key), 11).cast("double") / lit(math.pow(2, 53))

  def uInt(seed: Long, salt: String, key: Column, n: Int): Column =
    floor(u(seed, salt, key) * n).cast("int")

  private def pick(seed: Long, salt: String, key: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), uInt(seed, salt, key, values.size) + 1)

  private val Sf1Rows = Map(
    "customer" -> 150000L, "supplier" -> 10000L, "part" -> 200000L, "orders" -> 1500000L,
    "lineitem" -> 6000000L, "events" -> 1000000L, "documents" -> 50000L, "embeddings" -> 20000L)

  def rows(table: String, sf: Double): Long = math.max(1L, math.round(Sf1Rows(table) * sf))

  private val Vocab = Seq("row", "the", "query", "stream", "fast", "spark", "line", "small", "customer",
    "group", "value", "hash", "batch", "sort", "data", "big", "filter", "dup", "key", "agg", "scan", "slow",
    "table", "part", "a", "merge", "window", "order", "column", "join", "vector")

  private def day(base: String, seed: Long, salt: String, span: Int): Column =
    date_add(lit(java.sql.Date.valueOf(base)), uInt(seed, salt, col("id"), span)).cast("timestamp")

  def customer(s: SparkSession, sf: Double, seed: Long): DataFrame = {
    val id = col("id")
    s.range(rows("customer", sf)).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uInt(seed, "c_nation", id, 25).as("c_nationkey"),
      round(lit(-999.99) + u(seed, "c_bal", id) * 10998.99, 2).as("c_acctbal"),
      pick(seed, "c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
  }

  /** The query tables, one parquet file each under `dir`, written by
    * `threads` concurrent jobs (each table is one task, so sequential writes
    * would leave all but one core idle).
    */
  def tables(s: SparkSession, dir: String, sf: Double, seed: Long, threads: Int): Unit = {
    import s.implicits._
    val id = col("id")
    val pending = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def write(name: String, df: DataFrame): Unit = pending += name -> df

    write("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", customer(s, sf, seed))
    write("supplier", s.range(rows("supplier", sf)).select(
      id.as("s_suppkey"), format_string("Supplier#%09d", id).as("s_name"),
      uInt(seed, "s_nation", id, 25).as("s_nationkey"),
      round(lit(-999.99) + u(seed, "s_bal", id) * 10998.99, 2).as("s_acctbal")))
    write("part", s.range(rows("part", sf)).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, "p_adj", id, Seq("hot", "large", "cold", "small", "new", "blue", "old", "red")),
        pick(seed, "p_noun", id, Seq("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"))).as("p_name"),
      concat(lit("Brand#"), (uInt(seed, "p_brand", id, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, "p_type", id, Seq("SMALL", "MEDIUM", "PROMO", "ECONOMY", "STANDARD", "LARGE")).as("p_type"),
      (uInt(seed, "p_size", id, 50) + 1).as("p_size"),
      round(lit(900.0) + (id % 1000) * 0.1, 2).as("p_retailprice")))
    val nOrders = rows("orders", sf)
    write("orders", s.range(nOrders).select(
      id.as("o_orderkey"),
      floor(u(seed, "o_cust", id) * rows("customer", sf)).cast("long").as("o_custkey"),
      pick(seed, "o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, "o_price", id) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", seed, "o_date", 2404).as("o_orderdate"),
      pick(seed, "o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    write("lineitem", s.range(rows("lineitem", sf)).select(
      floor(u(seed, "l_order", id) * nOrders).cast("long").as("l_orderkey"),
      floor(u(seed, "l_part", id) * rows("part", sf)).cast("long").as("l_partkey"),
      floor(u(seed, "l_supp", id) * rows("supplier", sf)).cast("long").as("l_suppkey"),
      (uInt(seed, "l_line", id, 7) + 1).as("l_linenumber"),
      (uInt(seed, "l_qty", id, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(seed, "l_ext", id) * 104100.0, 2).as("l_extendedprice"),
      (uInt(seed, "l_disc", id, 11).cast("double") / 100).as("l_discount"),
      (uInt(seed, "l_tax", id, 9).cast("double") / 100).as("l_tax"),
      pick(seed, "l_rf", id, Seq("R", "A", "N")).as("l_returnflag"),
      pick(seed, "l_ls", id, Seq("O", "F")).as("l_linestatus"),
      day("1995-01-02", seed, "l_ship", 2498).as("l_shipdate")))
    val nEvents = rows("events", sf)
    val monthMicros = 30L * 24 * 3600 * 1000000L
    write("events", s.range(nEvents).select(
      id.as("event_id"),
      timestamp_micros(lit(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L) +
        (id * (monthMicros / nEvents)).cast("long") +
        floor(u(seed, "e_jit", id) * (monthMicros / nEvents)).cast("long")).as("ts"),
      floor(u(seed, "e_user", id) * math.max(1L, nEvents * 15 / 1000)).cast("long").as("user_id"),
      pick(seed, "e_type", id, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
      round(lit(0.01) + u(seed, "e_val", id) * 490.0, 2).as("value"),
      format_string("{\"k\": %d}", uInt(seed, "e_k", id, 100)).as("props")))
    val vocab = array(Vocab.map(lit): _*)
    val nWords = uInt(seed, "d_len", id, 90) + 10
    val text = array_join(
      transform(sequence(lit(1), nWords), i =>
        element_at(vocab, (pmod(xxhash64(lit(seed), lit("d_word"), id, i), lit(Vocab.size.toLong)) + 1).cast("int"))),
      " ")
    val u2 = u(seed, "d_lang", id)
    write("documents", s.range(rows("documents", sf)).select(id.as("doc_id"), text.as("text"),
      when(u2 < 0.44, "en").when(u2 < 0.58, "zh").when(u2 < 0.72, "de").when(u2 < 0.86, "es")
        .otherwise("fr").as("lang"),
      concat(lit("src"), uInt(seed, "d_src", id, 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (shiftrightunsigned(xxhash64(lit(seed), lit("v"), id, j), 11).cast("double") / lit(math.pow(2, 53))) - 0.5)
    write("embeddings", s.range(rows("embeddings", sf))
      .select(id.as("vec_id"), raw.as("raw"), uInt(seed, "v_label", id, 10).as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float"))
          .as("embedding"),
        col("label")))

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      pending.toSeq.map { case (name, df) =>
        pool.submit(new Runnable {
          def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  // ------------------------------------------------------------- CDC inputs

  val payload: StructType = StructType(Seq(
    StructField("id", LongType), StructField("version", LongType), StructField("name", StringType)))
  val envelopeValue: StructType = Envelope.envelopeSchema(payload)
  val envelopeSchema: StructType = StructType(Seq(
    StructField("key", StructType(Seq(StructField("id", LongType)))),
    StructField("value", envelopeValue)))

  /** Envelope kinds, in the shares of `Envelope.synthesizeFromEvents`
    * (≈1 % each of tombstones, deletes and zero ids); a valid envelope
    * misses the dimension with probability `missShare`.
    */
  val Tombstone = 0; val Delete = 1; val ZeroId = 2; val Hit = 3; val Miss = 4
}
