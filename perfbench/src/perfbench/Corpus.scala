package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded corpus tables for the query mix, in the column shapes of the
  * repository's test tables (TESTDATA.md, FIXTURES.md: `customer`,
  * `orders`, `lineitem`, `events`, `documents`). Built with Spark expressions over `range`, hashing
  * (seed, id, salt) with xxhash64, so the same seed writes the same values.
  * Prices and amounts carry two decimals; timestamps are naive
  * (TIMESTAMP_NTZ, written as TIMESTAMP(MICROS, isAdjustedToUTC=false)).
  * Each table is one parquet file under `<dir>/<name>.parquet/`.
  */
object Corpus {

  val Tables: Seq[String] = Seq("customer", "orders", "lineitem", "events", "documents")

  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "the", "line", "sort", "window", "order", "data",
    "column", "join", "small", "big", "customer", "query", "stream", "filter", "group", "a",
    "vector")

  /** Write the five tables for `orders` orders under `dir`. */
  def write(spark: SparkSession, dir: String, seed: Long, orders: Long): Unit = {
    def hs(salt: Int): org.apache.spark.sql.Column = xxhash64(lit(seed), col("id"), lit(salt))
    def mod(salt: Int, n: Long) = pmod(hs(salt), lit(n))
    def oneOf(salt: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (mod(salt, xs.size.toLong) + 1).cast("int"))
    def day(salt: Int, from: String, days: Int) =
      date_add(lit(from).cast("date"), mod(salt, days.toLong).cast("int")).cast("timestamp_ntz")

    val customers = math.max(10L, orders / 10)
    val users     = math.max(10L, orders / 100)
    val tables: Map[String, DataFrame] = Map(
      "customer" -> spark.range(customers).select(
        col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        mod(1, 25).cast("int").as("c_nationkey"),
        round((mod(2, 1099999L) - 99999) / 100.0, 2).as("c_acctbal"),
        oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "orders" -> spark.range(orders).select(
        col("id").as("o_orderkey"),
        mod(10, customers).as("o_custkey"),
        oneOf(11, Seq("F", "O", "P")).as("o_orderstatus"),
        round(mod(12, 49900000L) / 100.0 + 1000.0, 2).as("o_totalprice"),
        day(13, "1995-01-01", 2404).as("o_orderdate"),
        oneOf(14, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> spark.range(orders)
        .select(col("id").as("o"), explode(sequence(lit(1), (mod(20, 7) + 1).cast("int"))).as("ln"))
        .select(col("o"), col("ln"), (col("o") * 8 + col("ln")).as("id"))
        .select(
          col("o").as("l_orderkey"),
          mod(21, 2000).as("l_partkey"),
          mod(22, 100).as("l_suppkey"),
          col("ln").cast("int").as("l_linenumber"),
          (mod(23, 50) + 1).cast("double").as("l_quantity"),
          round(mod(24, 10000000L) / 100.0 + 900.0, 2).as("l_extendedprice"),
          (mod(25, 11) / 100.0).as("l_discount"),
          (mod(26, 9) / 100.0).as("l_tax"),
          oneOf(27, Seq("A", "N", "R")).as("l_returnflag"),
          oneOf(28, Seq("F", "O")).as("l_linestatus"),
          day(29, "1995-01-02", 2500).as("l_shipdate")),
      "events" -> spark.range(orders * 2 / 3).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 258000000L + mod(30, 258000000L))
          .cast("timestamp_ntz").as("ts"),
        mod(31, users).as("user_id"),
        oneOf(32, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        round((mod(33, 49001) + 1) / 100.0, 2).as("value"),
        concat(lit("{\"k\": "), mod(34, 100).cast("string"), lit("}")).as("props")),
      "documents" -> spark.range(math.max(20L, orders / 30))
        .select(col("id"), sequence(lit(1), (mod(40, 40) + 20).cast("int")).as("pos"))
        .select(
          col("id").as("doc_id"),
          concat_ws(" ", transform(col("pos"), i =>
            element_at(array(Vocab.map(lit): _*),
              (pmod(xxhash64(lit(seed), col("id"), i), lit(Vocab.size.toLong)) + 1).cast("int"))))
            .as("text"),
          oneOf(41, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
          concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")))

    Tables.foreach(t => tables(t).coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
  }
}
