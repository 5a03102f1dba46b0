package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table generator. Every value is a hash of (seed, row key, column
  * tag), so one seed gives byte-identical tables whatever the
  * partitioning. The benchmark builds its tables from the fixed
  * [[Data.TableSeed]] (like a TPC-H generator's fixed data) and draws
  * every workload input — query parameters, write-op sequences, batch
  * composition — from the run's --seed. Shapes and row counts follow the sf0.1 test data:
  * lineitem 600k rows (4 lines per order), orders 150k, customer 15k,
  * documents 5k before growth; ship dates span 1995-01 to 2001-11, so
  * one segment per ship month gives 83 segments.
  */
final class Data(spark: SparkSession, seed: Long, dir: String) {
  val Orders = 150000L
  val LinesPerOrder = 4
  val Customers = 15000L
  val BaseDocs = 5000L
  val Replicas = 10
  /** The 30% of lineitem held back from ingest_mixed's base table
    * (l_orderkey % 10 >= 7), cut into this many slices by order key.
    */
  val Slices = 60

  def lineitemDir = s"$dir/lineitem_by_month"
  def lineitemPlainPath = s"$dir/lineitem.parquet"
  def ordersPath = s"$dir/orders.parquet"
  def customerPath = s"$dir/customer.parquet"
  def corpusPath = s"$dir/corpus.parquet"
  def slicePath(i: Int) = s"$dir/slices/slice=$i"

  /** h(tag, cols...) as a non-negative long. */
  private def h(tag: String, cols: Column*): Column =
    abs(xxhash64(Seq(lit(seed), lit(tag)) ++ cols: _*) % lit(Long.MaxValue))

  private def pick(tag: String, key: Column, n: Long): Column = pmod(h(tag, key), lit(n))

  private def choice(tag: String, key: Column, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), (pick(tag, key, vals.size) + 1).cast("int"))

  private def orderDate(okey: Column): Column =
    date_add(lit(java.sql.Date.valueOf("1995-01-01")),
      pick("odate", okey, 2404).cast("int"))

  def customer: DataFrame = spark.range(Customers).select(
    col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    pick("nation", col("id"), 25).cast("int").as("c_nationkey"),
    ((pick("bal", col("id"), 1099999) - 99999) / 100.0).as("c_acctbal"),
    choice("seg", col("id"),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
      .as("c_mktsegment"))

  def orders: DataFrame = spark.range(Orders).select(
    col("id").as("o_orderkey"),
    pick("cust", col("id"), Customers).as("o_custkey"),
    choice("ostatus", col("id"), Seq("O", "F", "P")).as("o_orderstatus"),
    ((pick("tprice", col("id"), 49900000) + 100000) / 100.0).as("o_totalprice"),
    orderDate(col("id")).cast("timestamp").as("o_orderdate"),
    choice("prio", col("id"),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .as("o_orderpriority"))

  def lineitem: DataFrame = {
    val ok = (col("id") / LinesPerOrder).cast("long")
    val qty = (pick("qty", col("id"), 50) + 1).cast("double")
    spark.range(Orders * LinesPerOrder).select(
      ok.as("l_orderkey"),
      pick("part", col("id"), 20000).as("l_partkey"),
      pick("supp", col("id"), 1000).as("l_suppkey"),
      (pmod(col("id"), lit(LinesPerOrder)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (pick("price", col("id"), 100000) / 100.0 + 900.0), 2)
        .as("l_extendedprice"),
      (pick("disc", col("id"), 11) / 100.0).as("l_discount"),
      (pick("tax", col("id"), 9) / 100.0).as("l_tax"),
      choice("rflag", col("id"), Seq("A", "N", "R")).as("l_returnflag"),
      choice("lstatus", col("id"), Seq("F", "O")).as("l_linestatus"),
      date_add(orderDate(ok), (pick("ship", col("id"), 121) + 1).cast("int"))
        .cast("timestamp").as("l_shipdate"))
  }

  /** Word list: content words plus the language-marker words graft's
    * language scorer counts, so scoring has something to decide.
    */
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "fast",
    "row", "key", "scan", "query", "part", "batch", "agg", "the", "a", "and",
    "of", "to", "el", "la", "de", "que", "le", "les", "et", "der", "die", "und")

  /** 5k base documents (10–100 words) grown 10x by the word-prefix
    * scheme of tools/make_sf1.py: replica r prefixes every word with
    * `r<r>` (replica 0 is the identity) and shifts doc_id by r * 5000,
    * which keeps the duplicate rate of the base corpus constant.
    */
  def corpus: DataFrame = {
    val vocab = array(Vocab.map(lit): _*)
    val base = spark.range(BaseDocs).select(
      col("id").as("doc_id"),
      (pick("nw", col("id"), 91) + 10).cast("int").as("nw"))
      .withColumn("words", transform(sequence(lit(1), col("nw")), i =>
        element_at(vocab, (pmod(xxhash64(lit(seed), lit("w"), col("doc_id"), i),
          lit(Vocab.size.toLong)) + 1).cast("int"))))
      .select(col("doc_id"), col("words"),
        choice("lang", col("doc_id"), Seq("en", "en", "zh", "es", "fr", "de"))
          .as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20)).cast("string")).as("source"))
    spark.range(Replicas).toDF("r").crossJoin(base).select(
      (col("doc_id") + col("r") * BaseDocs).as("doc_id"),
      array_join(when(col("r") === 0, col("words")).otherwise(
        transform(col("words"), w => concat(lit("r"), col("r").cast("string"), w))),
        " ").as("text"),
      col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Writes every table unless `dir` already holds them (the tables
    * depend only on the seed, so runs in one checkout share them);
    * returns the wall time it took.
    */
  def generate(): Double = {
    val t0 = System.nanoTime()
    if (new java.io.File(s"$dir/_DONE").exists) return 0.0
    lineitem.coalesce(1).write.mode("overwrite").parquet(lineitemPlainPath)
    lineitem.withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
      .repartition(4, col("ship_month"))
      .write.mode("overwrite").partitionBy("ship_month").parquet(lineitemDir)
    orders.coalesce(1).write.mode("overwrite").parquet(ordersPath)
    customer.coalesce(1).write.mode("overwrite").parquet(customerPath)
    corpus.coalesce(1).write.mode("overwrite").parquet(corpusPath)
    spark.read.parquet(lineitemPlainPath).filter(col("l_orderkey") % 10 >= 7)
      .withColumn("slice", pmod(h("slice", col("l_orderkey")), lit(Slices.toLong)))
      .repartition(4, col("slice"))
      .write.mode("overwrite").partitionBy("slice").parquet(s"$dir/slices")
    new java.io.File(s"$dir/_DONE").createNewFile()
    (System.nanoTime() - t0) / 1e9
  }

  /** Ship months present, ascending ("yyyy-MM"). */
  def months: Seq[String] =
    new java.io.File(lineitemDir).listFiles().map(_.getName)
      .filter(_.startsWith("ship_month=")).map(_.stripPrefix("ship_month="))
      .sorted.toSeq

  def monthPath(m: String) = s"$lineitemDir/ship_month=$m"

  /** All lineitem rows as one plain Parquet file (the reference side). */
  def lineitemPlain: DataFrame = spark.read.parquet(lineitemPlainPath)
}

object Data {
  val TableSeed = 42L
}
