package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-ins for the star-schema test tables that the queries of
  * [[RegistryMix]] read (same names, columns, types and value domains), so
  * they run on inputs the benchmark makes itself. Every value is a hash of
  * (seed, row id, column tag), so a seed always yields the same tables.
  * `scale = 1` gives 60 000 line items. */
object RegistryTables {

  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  def write(spark: SparkSession, dir: java.nio.file.Path, seed: Long, scale: Double): Unit = {
    def h(tag: Int): Column = xxhash64(lit(seed), col("id"), lit(tag))
    def uni(tag: Int, n: Long): Column = pmod(h(tag), lit(n))
    def frac(tag: Int): Column = pmod(h(tag), lit(1000000L)) / 1e6
    def oneOf(tag: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (uni(tag, xs.size) + 1).cast("int"))
    def days(tag: Int, from: String, span: Int): Column =
      to_timestamp(date_add(lit(from).cast("date"), uni(tag, span).cast("int")))
    def rows(n: Long): DataFrame = spark.range(0, math.max(1L, n), 1, 1).toDF()
    // the tables are small: write them concurrently, one Spark job each
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val pending = scala.collection.mutable.ArrayBuffer[java.util.concurrent.Future[_]]()
    def save(name: String, df: DataFrame): Unit =
      pending += pool.submit(new Runnable {
        def run(): Unit = df.write.parquet(dir.resolve(s"$name.parquet").toString)
      })
    val n = (k: Int) => math.max(1L, (k * scale).round)
    val (nCust, nSupp, nPart, nOrd, nLine) = (n(1500), n(100), n(2000), n(15000), n(60000))

    save("supplier", rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni(1, 25).cast("int").as("s_nationkey"),
      round(frac(2) * 10999.99 - 999.99, 2).as("s_acctbal")))
    save("orders", rows(nOrd).select(col("id").as("o_orderkey"),
      uni(1, nCust).as("o_custkey"),
      oneOf(2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + frac(3) * 499000, 2).as("o_totalprice"),
      days(4, "1995-01-01", 2404).as("o_orderdate"),
      oneOf(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    val qty = (uni(5, 50) + 1).cast("double")
    save("lineitem", rows(nLine).select(uni(1, nOrd).as("l_orderkey"),
      uni(2, nPart).as("l_partkey"), uni(3, nSupp).as("l_suppkey"),
      (uni(4, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + frac(6) * 1200), 2).as("l_extendedprice"),
      round(uni(7, 11) / 100.0, 2).as("l_discount"),
      round(uni(8, 9) / 100.0, 2).as("l_tax"),
      oneOf(9, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(10, Seq("F", "O")).as("l_linestatus"),
      days(11, "1995-01-02", 2498).as("l_shipdate")))
    val nEvents = n(10000)
    save("events", rows(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * (30L * 86400L * 1000000L / nEvents)) + uni(1, 60000000L)).as("ts"),
      uni(2, 150).as("user_id"),
      oneOf(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(lit(0.01) + frac(4) * 490, 2).as("value"),
      concat(lit("{\"k\": "), uni(5, 100), lit("}")).as("props")))
    val nDocs = n(500)
    val text = array_join(transform(sequence(lit(1), (uni(1, 70) + 8).cast("int")),
      i => element_at(array(words.map(lit): _*),
        (pmod(xxhash64(lit(seed), col("id"), i), lit(words.size.toLong)) + 1).cast("int"))), " ")
    save("documents", rows(nDocs).select(col("id").as("doc_id"), text.as("text"),
      oneOf(2, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), uni(3, 20)).as("source")).withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", rows(nDocs).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        ((pmod(xxhash64(lit(seed), col("id"), j), lit(1000000L)) / 1e6 - 0.5) * 0.7).cast("float"))
        .as("embedding"),
      uni(1, 10).cast("int").as("label")))
    try pending.foreach(_.get()) finally pool.shutdown()
  }
}
