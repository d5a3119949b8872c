package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generation. Every column is a pure function of
 * (seed, row id, column stream), so one seed always yields the same tables
 * no matter how Spark partitions the work. Tables are written once per
 * (seed, scale) under the data directory and re-read from there. */
object Gen {
  private val Two53 = 9007199254740992L

  /** SQL for a uniform double in [0, 1) drawn from stream `k`. */
  def u(seed: Long, k: Int): String =
    s"(pmod(xxhash64(${seed}L, $k, id), ${Two53}L) / ${Two53.toDouble})"

  /** Write `df` to `dir` unless a complete copy is already there, then check
   * the row count: a short table would silently shrink every measurement. */
  def cached(spark: SparkSession, dir: Path, rows: Long)(df: => DataFrame): DataFrame = {
    val done = dir.resolve("_SUCCESS")
    if (!Files.exists(done)) df.write.mode("overwrite").parquet(dir.toString)
    val back = spark.read.parquet(dir.toString)
    val n = back.count()
    require(n == rows, s"generated $dir holds $n rows, expected $rows")
    back
  }

  /** The lineitem columns the query templates read, TPC-H shaped: 4 lines
   * per order, a skewed supplier key (a cubed uniform over 2,000
   * suppliers, so at 1.2M rows strata range from ~95k rows down to ~200),
   * and flags derived from the ship date. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    spark.range(0, rows, 1, 8).selectExpr(
      "id div 4 + 1 AS l_orderkey",
      s"cast(floor(pow(${u(seed, 2)}, 3.0) * 2000) + 1 AS BIGINT) AS l_suppkey",
      s"cast(floor(${u(seed, 3)} * 50) + 1 AS DOUBLE) AS l_quantity",
      s"round(900 + ${u(seed, 4)} * 1200, 2) AS l_unitprice",
      s"round(floor(${u(seed, 5)} * 11) / 100, 2) AS l_discount",
      s"cast(floor(${u(seed, 7)} * 2526) AS INT) AS l_shipday",
      s"${u(seed, 8)} AS l_flagdraw")
      .selectExpr(
        "l_orderkey", "l_suppkey", "l_quantity",
        "round(l_quantity * l_unitprice, 2) AS l_extendedprice",
        "l_discount",
        "CASE WHEN l_shipday < 1263 THEN (CASE WHEN l_flagdraw < 0.5 THEN 'R' ELSE 'A' END) " +
          "ELSE 'N' END AS l_returnflag",
        "CASE WHEN l_shipday > 1250 THEN 'O' ELSE 'F' END AS l_linestatus",
        "timestamp_seconds(694310400L + l_shipday * 86400L) AS l_shipdate")

  def orders(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    spark.range(0, rows, 1, 4).selectExpr(
      "id + 1 AS o_orderkey",
      s"timestamp_seconds(694310400L + cast(floor(${u(seed, 14)} * 2400) AS BIGINT) * 86400L) AS o_orderdate",
      s"element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), " +
        s"cast(floor(${u(seed, 15)} * 5) AS INT) + 1) AS o_orderpriority")
}
