package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB co-location story: pre-bucketing both fact tables on the
  * join key makes the fact-fact join shuffle-free (each bucket pair joins
  * locally). On a cluster this is the difference between re-shuffling
  * 100 TB per query and never shuffling it again.
  */
class BucketingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  test("bucketed fact-fact join plans without a shuffle exchange") {
    import org.apache.spark.sql.functions.col
    // suites share one JVM-wide session: flip the broadcast threshold at
    // runtime and restore it, or other suites' join plans change
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")

    // the in-memory catalog is fresh each JVM but the warehouse dir is
    // not: drop tables AND clear leftover locations from aborted runs
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }

    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")

    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .count()

    val plan = joined.queryExecution.executedPlan.toString
    // the JOIN itself must not shuffle either side: the only Exchange
    // allowed is the one feeding the final aggregation
    val joinPart = plan.split("SortMergeJoin")(1)
    assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
      s"join inputs were shuffled:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scan not bucketed:\n$plan")

    // and the result is still correct vs the plain join
    val plain = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).count()
      .collect().map(_.toString).sorted
    assert(joined.collect().map(_.toString).sorted.sameElements(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
