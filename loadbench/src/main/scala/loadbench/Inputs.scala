package loadbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-shaped base tables (the column names and types
  * of the repository's test data) and the denormalized loader exports
  * built from them.
  *
  * Every value is a hash of a fixed salt and the row id, so a table is
  * the same whatever the partitioning. The base data never depends on
  * the workload seed; the seed only permutes the row order of the
  * exports ([[writeExport]]).
  */
object Inputs {

  private val Salt = 42L

  /** Uniform draw in [0, m) keyed by (salt, column, id). */
  private def h(tag: Int, id: Column, m: Long): Column =
    pmod(xxhash64(lit(Salt), lit(tag), id), lit(m))

  private def pick(tag: Int, id: Column, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (h(tag, id, values.size) + 1).cast("int"))

  private val RegionNames = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val NationNames = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  private val NationRegion = Seq(0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0,
    1, 2, 3, 4, 2, 3, 3, 1)
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Colors = Seq("almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blue", "blush", "brown", "burlywood", "chartreuse", "chiffon",
    "chocolate", "coral", "cornflower", "cream", "cyan", "dark", "deep", "dim")
  private val Words = Seq("a", "the", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "value", "vector", "window")
  private val Langs = Seq("en", "en", "en", "es", "zh", "de", "fr")
  private val EventTypes = Seq("click", "signup", "error", "view", "purchase")

  private def ids(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, math.max(1, math.min(8, (n / 20000L).toInt))).toDF()

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    RegionNames.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    NationNames.indices.map(i => (i, NationNames(i), NationRegion(i)))
      .toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def customer(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    ids(spark, (150000 * sf).toLong).select(
      (id + 1).as("c_custkey"),
      format_string("Customer#%09d", id + 1).as("c_name"),
      h(1, id, 25).cast("int").as("c_nationkey"),
      ((h(2, id, 1100000) - 99999) / 100.0).as("c_acctbal"),
      pick(3, id, Segments).as("c_mktsegment"))
  }

  def supplier(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    ids(spark, (10000 * sf).toLong).select(
      (id + 1).as("s_suppkey"),
      format_string("Supplier#%09d", id + 1).as("s_name"),
      h(4, id, 25).cast("int").as("s_nationkey"),
      ((h(5, id, 1100000) - 99999) / 100.0).as("s_acctbal"))
  }

  def part(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    ids(spark, (200000 * sf).toLong).select(
      (id + 1).as("p_partkey"),
      concat_ws(" ", pick(6, id, Colors), pick(7, id, Colors), pick(8, id, Colors))
        .as("p_name"),
      format_string("Brand#%d%d", h(9, id, 5) + 1, h(10, id, 5) + 1).as("p_brand"),
      concat_ws(" ", pick(11, id, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE")),
        pick(12, id, Seq("BRUSHED", "BURNISHED", "PLATED", "POLISHED"))).as("p_type"),
      (h(13, id, 50) + 1).cast("int").as("p_size"),
      (h(14, id, 110000) / 100.0 + 900).as("p_retailprice"))
  }

  def orders(spark: SparkSession, sf: Double): DataFrame = {
    val id = col("id")
    val nCust = (150000 * sf).toLong
    ids(spark, (1500000 * sf).toLong).select(
      (id + 1).as("o_orderkey"),
      (h(15, id, nCust) + 1).as("o_custkey"),
      pick(16, id, Seq("O", "F", "P")).as("o_orderstatus"),
      (h(17, id, 50000000) / 100.0 + 850).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + h(18, id, 2400) * 86400L)
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(19, id, Priorities).as("o_orderpriority"))
  }

  /** 1 to 7 lines per order (4 on average), like TPC-H. */
  def lineitem(spark: SparkSession, sf: Double): DataFrame = {
    val nPart = (200000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val lines = ids(spark, (1500000 * sf).toLong)
      .select((col("id") + 1).as("l_orderkey"),
        explode(sequence(lit(1), (h(20, col("id"), 7) + 1).cast("int"))).as("l_linenumber"))
    val k = col("l_orderkey") * 8 + col("l_linenumber")
    lines.select(
      col("l_orderkey"),
      (h(21, k, nPart) + 1).as("l_partkey"),
      (h(22, k, nSupp) + 1).as("l_suppkey"),
      col("l_linenumber"),
      (h(23, k, 50) + 1).cast("double").as("l_quantity"),
      (h(24, k, 10000000) / 100.0).as("l_extendedprice"),
      (h(25, k, 11) / 100.0).as("l_discount"),
      (h(26, k, 9) / 100.0).as("l_tax"),
      pick(27, k, Seq("A", "N", "R")).as("l_returnflag"),
      pick(28, k, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + h(29, k, 2500) * 86400L)
        .cast("timestamp_ntz").as("l_shipdate"))
  }

  /** Word-salad documents over a 30-word vocabulary, 8 to 90 words. */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val words = array(Words.map(lit): _*)
    val text = concat_ws(" ", transform(
      sequence(lit(0), (h(30, id, 83) + 7).cast("int")),
      i => element_at(words, (pmod(xxhash64(lit(Salt), id, i), lit(Words.size)) + 1).cast("int"))))
    ids(spark, n).select(id.as("doc_id"), text.as("text"),
      pick(31, id, Langs).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float vectors around ten label centroids. */
  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val label = h(32, id, 10).cast("int")
    def u(a: Column, b: Column): Column =
      pmod(xxhash64(lit(Salt), a, b), lit(2000001L)).cast("double") / 1e6 - 1.0
    val vec = transform(sequence(lit(0), lit(63)), d =>
      ((u(label, d) * 0.12 + u(id, d) * 0.08)).cast("float"))
    ids(spark, n).select(id.as("vec_id"), vec.as("embedding"), label.as("label"))
  }

  /** Event log over 30 days, about 66 events per user. */
  def events(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val span = 30L * 86400L * 1000000L
    ids(spark, n).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * (span / n) + h(33, id, span / n))
        .cast("timestamp_ntz").as("ts"),
      h(34, id, math.max(10L, n / 66)).as("user_id"),
      pick(35, id, EventTypes).as("event_type"),
      (h(36, id, 5000) / 100.0).as("value"),
      format_string("{\"k\": %d}", h(37, id, 100)).as("props"))
  }

  /** Write `df` as one parquet file whose row order is a permutation
    * drawn from `seed`.
    */
  def writeExport(df: DataFrame, seed: Long, path: String): Unit =
    df.orderBy(xxhash64(lit(seed), struct(df.columns.map(col): _*)))
      .coalesce(1).write.mode("overwrite").parquet(path)
}
