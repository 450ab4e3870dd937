package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic star-schema tables in the harness layout graft's
  * `sources.Tables` reads (region, nation, customer, orders, lineitem,
  * part — one parquet file each).
  *
  * Every column is a pure function of (generator seed, row id) through
  * `xxhash64`, so a table is byte-for-byte the same whatever the
  * partitioning. Row counts follow the TPC-H scale factor `sf`
  * (customer 150k·sf, orders 1.5M·sf, lineitem 6M·sf, part 200k·sf);
  * value domains match the harness generator (1995-2001 order dates,
  * 5 priorities, 64 part names, 25 brands).
  */
object Fixtures {
  /** Rows per table at scale factor `sf`. */
  def rowCounts(sf: Double): Map[String, Long] = Map(
    "customer" -> 150000.0, "orders" -> 1500000.0, "lineitem" -> 6000000.0,
    "part" -> 200000.0)
    .map { case (k, n) => k -> math.max(10L, (n * sf).toLong) }

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val rows = rowCounts(sf)
    val (nCust, nOrd, nLine) = (rows("customer"), rows("orders"), rows("lineitem"))
    val nPart = rows("part")

    // the salt keeps two columns of one row independent
    def h(salt: Int): Column = xxhash64(lit(seed), lit(salt), col("id"))
    def uni(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
    def pick(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (uni(salt, xs.size.toLong) + 1).cast("int"))
    def money(salt: Int, lo: Double, cents: Long): Column =
      (uni(salt, cents) / 100.0 + lo).cast("double")
    def day(salt: Int, from: String, days: Long): Column =
      timestamp_seconds(unix_seconds(to_timestamp(lit(from))) + uni(salt, days) * 86400L)

    def out(name: String, df: DataFrame, parts: Int = 1): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val parts = math.max(1, (nLine / 200000).toInt)

    out("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION_"), col("id")).as("r_name")))
    out("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    out("customer", spark.range(nCust).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      uni(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 1099998L).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    out("orders", spark.range(nOrd).select(col("id").as("o_orderkey"),
      uni(1, nCust).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 900.0, 50000000L).as("o_totalprice"),
      day(4, "1995-01-01 00:00:00", 2404L).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")), parts)
    out("lineitem", spark.range(nLine).select(uni(1, nOrd).as("l_orderkey"),
      uni(2, nPart).as("l_partkey"),
      uni(3, math.max(1L, nCust / 15)).as("l_suppkey"),
      (uni(4, 7L) + 1).cast("int").as("l_linenumber"),
      (uni(5, 50L) + 1).cast("double").as("l_quantity"),
      money(6, 900.0, 10000000L).as("l_extendedprice"),
      (uni(7, 11L) / 100.0).as("l_discount"),
      (uni(8, 9L) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("O", "F")).as("l_linestatus"),
      day(11, "1995-01-02 00:00:00", 2526L).as("l_shipdate")), parts)
    val colors = Seq("red", "blue", "green", "small", "large", "hot", "cold", "dark")
    val nouns = Seq("bolt", "ring", "widget", "gear", "valve", "pipe", "nut", "spring")
    out("part", spark.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, colors), pick(2, nouns)).as("p_name"),
      concat(lit("Brand#"), uni(3, 25L) + 1).as("p_brand"),
      pick(4, Seq("ECONOMY", "LARGE", "SMALL", "STANDARD", "PROMO")).as("p_type"),
      (uni(5, 50L) + 1).cast("int").as("p_size"),
      (col("id") % 20000 / 10.0 + 900.0).as("p_retailprice")))
  }
}
