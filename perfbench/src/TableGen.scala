package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A deterministic TPC-H-like `lineitem` table, the one the driver query
  * reads, at scale factor `sf` (sf 0.01 gives 60,000 rows). Every column is a
  * pure function of the row id, so the same `sf` always writes the same table.
  */
object TableGen {
  val names: Seq[String] = Seq("lineitem")

  private def h(salt: Int, m: Long): Column = pmod(xxhash64(col("id"), lit(salt)), lit(m))
  private def pick(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (h(salt, xs.length.toLong) + 1).cast("int"))
  private def money(salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + h(salt, ((hi - lo) * 100).toLong) / 100.0, 2)
  private def day(salt: Int, from: String, days: Long): Column =
    timestamp_seconds(unix_timestamp(lit(from)) + h(salt, days) * 86400)

  def write(spark: SparkSession, sf: Double, dir: Path): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def rows(k: Long) = spark.range(0, k, 1, 1)

    save("lineitem", rows(4 * nOrd).select((col("id") / 4).cast("long").as("l_orderkey"),
      h(17, nPart).as("l_partkey"), h(18, nSupp).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"), (h(19, 50) + 1).cast("double").as("l_quantity"),
      money(20, 900.0, 100000.0).as("l_extendedprice"), (h(21, 11) / 100.0).as("l_discount"),
      (h(22, 9) / 100.0).as("l_tax"), pick(23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(24, Seq("F", "O")).as("l_linestatus"), day(25, "1992-01-02 00:00:00", 2557).as("l_shipdate")))
  }
}
