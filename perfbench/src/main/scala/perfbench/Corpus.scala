package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, TPC-H-shaped `lineitem` and `orders` tables, with the columns
  * `graft.sources.TaxiDerive.feeds` reads to derive the four taxi feeds.
  *
  * Every value is a pure function of (seed, row index), so the same seed
  * gives byte-identical inputs whatever the partitioning. Value domains
  * follow TPC-H at the given scale factor (150k orders and ~600k line
  * items at sf0.1, order dates 1992-01-01..1998-08-02, ship dates up to
  * 121 days later, so the feeds span 84 (year, month) partitions); those
  * domains are what TaxiDerive's modulus-based edge cases (null ids, null
  * timestamps, negative amounts) were written against.
  */
object Corpus {

  private val startDate = java.time.LocalDate.of(1992, 1, 1)
  private val orderDays = java.time.temporal.ChronoUnit.DAYS
    .between(startDate, java.time.LocalDate.of(1998, 8, 2)).toInt + 1

  /** A non-negative pseudo-random long per (seed, row, stream). */
  private def h(seed: Long, stream: Int, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(stream), key), lit(Long.MaxValue))

  private def uniform(seed: Long, stream: Int, key: Column, lo: Long, n: Long): Column =
    lit(lo) + pmod(h(seed, stream, key), lit(n))

  private def day(offset: Column): Column =
    date_add(lit(java.sql.Date.valueOf(startDate)), offset.cast("int"))
      .cast("timestamp_ntz")

  /** Write both tables as `<dir>/lineitem.parquet` and
    * `<dir>/orders.parquet` (the layout `graft.Tables` reads). */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long, files: Int): Unit = {
    val nOrders = math.max(100L, math.round(1500000 * sf))
    val nCust = math.max(10L, math.round(150000 * sf))
    val nPart = math.max(10L, math.round(200000 * sf))
    val nSupp = math.max(10L, math.round(10000 * sf))

    // order keys are sparse like TPC-H's: 8 used keys in every 32
    val idx = col("id")
    val orders = spark.range(0, nOrders, 1, files).select(
      ((idx / 8).cast("long") * 32 + idx % 8 + 1).as("o_orderkey"),
      uniform(seed, 1, idx, 1, nCust).as("o_custkey"),
      uniform(seed, 2, idx, 0, orderDays).as("o_day"),
      uniform(seed, 3, idx, 1, 7).as("o_lines"),
      (uniform(seed, 4, idx, 85000, 45000000) / 100.0).as("o_totalprice"))

    val o = orders.cache()
    try {
      o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        day(col("o_day")).as("o_orderdate"))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")

      val li = o.select(col("o_orderkey"), col("o_day"),
        explode(sequence(lit(1L), col("o_lines"))).as("l_linenumber"))
      val key = col("o_orderkey") * 8 + col("l_linenumber")
      val ship = col("o_day") + uniform(seed, 5, key, 1, 121)
      val cutoff = java.time.temporal.ChronoUnit.DAYS
        .between(startDate, java.time.LocalDate.of(1995, 6, 17))
      val qty = uniform(seed, 8, key, 1, 50).cast("double")
      val partkey = uniform(seed, 6, key, 1, nPart)
      val retail = (lit(90000) + (partkey / 10).cast("long") % 20001 +
        (partkey % 1000) * 100) / 100.0
      li.select(
        col("o_orderkey").as("l_orderkey"),
        partkey.as("l_partkey"),
        uniform(seed, 7, key, 1, nSupp).as("l_suppkey"),
        col("l_linenumber").cast("int").as("l_linenumber"),
        qty.as("l_quantity"),
        (qty * retail).as("l_extendedprice"),
        when(ship > cutoff, lit("N"))
          .otherwise(when(uniform(seed, 11, key, 0, 2) === 0, "R").otherwise("A"))
          .as("l_returnflag"),
        when(ship > cutoff, lit("O")).otherwise(lit("F")).as("l_linestatus"),
        day(ship).as("l_shipdate"))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    } finally o.unpersist()
  }
}
