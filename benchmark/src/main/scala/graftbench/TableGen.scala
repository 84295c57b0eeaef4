package graftbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deterministic synthetic tables with the schemas `graft.Tables` loads
  * (a TPC-H-like star plus events, documents and embeddings), sized by a
  * scale factor. Every value is a function of (row id, data seed, salt),
  * so a data seed gives the same tables on every run and every machine.
  */
object TableGen {

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window",
    "order", "data", "column", "join", "small", "customer", "query", "big", "stream",
    "group", "filter", "index", "cache", "shard", "page", "token", "model", "learn")

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit =
    tables(spark, sf, seed).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  def tables(spark: SparkSession, sf: Double, seed: Long): Seq[(String, DataFrame)] = {
    def n(base: Double): Long = math.max(10L, (base * sf).toLong)
    def u(salt: Int, id: Column = col("id")): Column =
      pmod(xxhash64(id, lit(seed), lit(salt)), lit(1000003L)).cast("double") / 1000003.0
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(salt) * xs.size).cast("int") + 1)
    def between(salt: Int, lo: Long, hi: Long): Column =
      (lit(lo) + (u(salt) * (hi - lo + 1)).cast("long")).cast("long")
    def money(salt: Int, lo: Double, hi: Double): Column =
      round(lit(lo) + u(salt) * (hi - lo), 2)
    def day(salt: Int, from: String, days: Int): Column =
      to_timestamp(date_add(lit(from).cast("date"), (u(salt) * days).cast("int")))

    val customers = n(150000)
    val suppliers = n(10000)
    val parts = n(200000)
    val orders = n(1500000)
    val users = n(15000)

    val region = spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (r, i) => (i, r) }).toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      (u(1) * 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 9999.99).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))
    val supplier = spark.range(suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      (u(4) * 25).cast("int").as("s_nationkey"),
      money(5, -999.99, 9999.99).as("s_acctbal"))
    val part = spark.range(parts).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(6, Seq("small", "red", "blue", "green", "large", "shiny", "matte")),
        pick(7, Seq("ring", "widget", "bolt", "gear", "valve", "spring", "panel"))).as("p_name"),
      concat(lit("Brand#"), (u(8) * 25 + 1).cast("int").cast("string")).as("p_brand"),
      pick(9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (u(10) * 50 + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice"))
    val order = spark.range(orders).select(col("id").as("o_orderkey"),
      between(11, 0, customers - 1).as("o_custkey"),
      pick(12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(13, 1000, 500000).as("o_totalprice"),
      day(14, "1995-01-01", 2404).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    val lineitem = spark.range(orders)
      .select(col("id").as("ok"), explode(sequence(lit(1), (u(16) * 7).cast("int") + 1)).as("ln"))
      .withColumn("id", col("ok") * 8 + col("ln"))
      .select(col("ok").as("l_orderkey"),
        between(17, 0, parts - 1).as("l_partkey"),
        between(18, 0, suppliers - 1).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (u(19) * 50 + 1).cast("int").cast("double").as("l_quantity"),
        money(20, 900, 100000).as("l_extendedprice"),
        round((u(21) * 11).cast("int") * 0.01, 2).as("l_discount"),
        round((u(22) * 9).cast("int") * 0.01, 2).as("l_tax"),
        pick(23, Seq("A", "N", "R")).as("l_returnflag"),
        pick(24, Seq("F", "O")).as("l_linestatus"),
        day(25, "1995-01-01", 2600).as("l_shipdate"))
    val events = spark.range(n(1000000)).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 180000000L + (u(26) * 180000000L).cast("long")).as("ts"),
      between(27, 0, users - 1).as("user_id"),
      pick(28, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      money(29, 0.5, 400).as("value"),
      concat(lit("{\"k\": "), (u(30) * 100).cast("int").cast("string"), lit("}")).as("props"))
    val words = transform(sequence(lit(1), (u(31) * 60).cast("int") + 20),
      i => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed), i), lit(vocab.size.toLong)) + 1).cast("int")))
    val documents = spark.range(n(50000)).select(col("id").as("doc_id"),
      array_join(words, " ").as("text"),
      pick(32, Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), (u(33) * 20).cast("int").cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val embeddings = spark.range(n(50000)).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), lit(seed), i), lit(20001L)).cast("double") / 20001.0 - 0.5) * 0.6 +
          when(pmod(col("id"), lit(10L)) === pmod(i, lit(10)), lit(0.2)).otherwise(lit(0.0)))
          .cast("float")).as("embedding"),
      pmod(col("id"), lit(10L)).cast("int").as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> order, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
