package graft

import graft.cubes.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Guard against silent fixture regeneration: the driver has re-written
  * `/root/testdata` mid-build (round 10: events.ts went TIMESTAMP(NANOS)
  * → timestamp[us], breaking 25 queries / 30 tests through one loader).
  * This spec pins BOTH the raw fixture dtypes the loaders must handle and
  * the normalized schema the engine contracts on, so the next
  * regeneration fails ONE named test here instead of 30 unrelated ones.
  */
class FixtureSchemaSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  test("events.ts normalizes to TimestampType regardless of fixture dtype") {
    val ts = Tables.events(spark, sf).schema("ts").dataType
    assert(ts == TimestampType,
      s"Tables.events must serve ts as TimestampType, got $ts — " +
        "normalizeEventTs is missing a branch for the raw fixture dtype")
  }

  test("normalizeEventTs handles all three ts encodings identically") {
    import spark.implicits._
    val micros = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    // nanos-as-long (legacy fixture), NTZ (current fixture), LTZ (warehouse)
    val asLong = Seq(micros * 1000L).toDF("ts")
    val asNtz = asLong.selectExpr(
      "cast(timestamp_micros(ts div 1000) as timestamp_ntz) as ts")
    val asLtz = asLong.selectExpr("timestamp_micros(ts div 1000) as ts")
    for (df <- Seq(asLong, asNtz, asLtz)) {
      val out = Tables.normalizeEventTs(df)
      assert(out.schema("ts").dataType == TimestampType)
      val got = out.selectExpr("unix_micros(ts)").head.getLong(0)
      assert(got == micros, s"value drift for input ${df.schema("ts").dataType}")
    }
  }

  test("core fixture columns the engine contracts on are present and typed") {
    def dt(t: String, c: String) =
      spark.read.parquet(s"$sf/$t.parquet").schema(c).dataType
    // date-ish columns ship as timestamp[us]; loaders/compilers treat them
    // as timestamps and the oracles agree — a flip to DATE or string must
    // fail here first
    assert(Set[DataType](DateType, TimestampNTZType, TimestampType)
      .contains(dt("lineitem", "l_shipdate")))
    assert(dt("lineitem", "l_quantity").isInstanceOf[NumericType])
    assert(Set[DataType](DateType, TimestampNTZType, TimestampType)
      .contains(dt("orders", "o_orderdate")))
    assert(dt("documents", "text") == StringType)
    assert(dt("documents", "n_chars").isInstanceOf[NumericType])
    assert(dt("embeddings", "embedding").isInstanceOf[ArrayType] &&
      dt("embeddings", "embedding").asInstanceOf[ArrayType].elementType == FloatType)
    assert(dt("events", "user_id").isInstanceOf[NumericType])
    assert(dt("events", "event_type") == StringType)
    assert(dt("events", "props") == StringType)
  }
}
