package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions.{col, lit}

/** Seeded lineitem rows for the lakehouse write batches, with the schema
  * and value domains of the base table that fixtures.py writes. Every
  * value is a pure function of (seed, order id, salt), so the same op log
  * writes the same rows whatever the partitioning.
  */
object Fixtures {
  val Orders = 150000L
  val Parts = 20000L
  val Suppliers = 1000L

  /** Deterministic non-negative hash of (seed, row id, salt…), in [0, m). */
  def h(seed: Long, m: Long, parts: Column*): Column =
    F.pmod(F.xxhash64((lit(seed) +: parts): _*), lit(m))
  /** Deterministic uniform double in [0, 1). */
  def u(seed: Long, parts: Column*): Column = h(seed, 1000000007L, parts: _*) / 1000000007.0

  private def pick(values: Seq[String], idx: Column): Column =
    F.element_at(F.array(values.map(lit): _*), (idx + 1).cast("int"))

  private def ntz(days: Column, base: String): Column =
    F.date_add(lit(base).cast("date"), days.cast("int")).cast("timestamp_ntz")

  /** Lines of the orders `[from, until)`: 1–7 lines per order. `keyOffset`
    * shifts the order key so appended batches never collide with the
    * base table. */
  def lineitem(spark: SparkSession, seed: Long, from: Long = 0L, until: Long = Orders,
      keyOffset: Long = 0L, salt: String = "l"): DataFrame =
    lines(spark.range(from, until).select(col("id").as("ok")), seed, keyOffset, salt,
      oneLine = false)

  /** Lines for the order ids in column `ok` of `orders`: all 1–7 of them,
    * or only line 1 (`oneLine`, one row per key — a merge source). */
  def lines(orders: DataFrame, seed: Long, keyOffset: Long, salt: String,
      oneLine: Boolean): DataFrame = {
    val ok = col("ok")
    val ln = col("l_linenumber")
    val nLines = if (oneLine) lit(1) else (h(seed, 7, ok, lit(salt)) + 1).cast("int")
    orders.select(ok, F.explode(F.sequence(lit(1), nLines)).as("l_linenumber"))
      .select(
        (ok + keyOffset).as("l_orderkey"),
        h(seed, Parts, ok, ln, lit(salt + "1")).as("l_partkey"),
        h(seed, Suppliers, ok, ln, lit(salt + "2")).as("l_suppkey"),
        ln.as("l_linenumber"),
        (h(seed, 50, ok, ln, lit(salt + "3")) + 1).cast("double").as("l_quantity"),
        F.round(lit(900.0) + u(seed, ok, ln, lit(salt + "4")) * 104100.0, 2).as("l_extendedprice"),
        (h(seed, 11, ok, ln, lit(salt + "5")) / 100.0).as("l_discount"),
        (h(seed, 9, ok, ln, lit(salt + "6")) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), h(seed, 3, ok, ln, lit(salt + "7"))).as("l_returnflag"),
        pick(Seq("F", "O"), h(seed, 2, ok, ln, lit(salt + "8"))).as("l_linestatus"),
        ntz(h(seed, 2498, ok, ln, lit(salt + "9")), "1995-01-02").as("l_shipdate"))
  }
}
