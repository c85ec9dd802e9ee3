package graft

import graft.cubes.Tables
import graft.functions.TopKFreq
import graft.operators.TopK
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TopKSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  test("SpaceSaving sketch at sufficient capacity equals exact two-phase topK") {
    val li = Tables.lineitem(spark, sf)
    val exact = TopK.perGroupFlat(li, Seq("flag" -> col("l_returnflag")),
        "part_key", col("l_partkey"), 3)
      .select("flag", "part_key", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val sketch = li.groupBy(col("l_returnflag").as("flag"))
      .agg(TopKFreq(3, capacity = 1024)(col("l_partkey")).as("topk"))
      .selectExpr("flag", "inline(topk)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    assert(sketch == exact, s"sketch != exact; diff=${sketch diff exact} / ${exact diff sketch}")
  }

  test("sketch counts never underestimate true counts (SpaceSaving bound)") {
    val li = Tables.lineitem(spark, sf)
    // tiny capacity forces evictions/overestimates
    val sketch = li.groupBy(col("l_returnflag").as("flag"))
      .agg(TopKFreq(5, capacity = 16)(col("l_partkey")).as("topk"))
      .selectExpr("flag", "inline(topk)")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val truth = li.groupBy(col("l_returnflag").as("flag"), col("l_partkey").as("pk"))
      .count().collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    sketch.foreach { case (key, est) =>
      assert(est >= truth.getOrElse(key, 0L), s"underestimate at $key")
    }
  }

  test("merge preserves the overestimate bound when capacity < distinct count") {
    val li = Tables.lineitem(spark, sf)
    val distinctParts = li.select("l_partkey").distinct().count()
    val cap = 8
    assert(cap < distinctParts, "test needs capacity below distinct count")
    // many partitions -> many full partial sketches -> merge-heavy path;
    // the mergeable-summaries merge must keep every estimate >= truth
    // (the old top-count truncation forfeited this exact property)
    val sketch = li.repartition(16).groupBy(col("l_returnflag").as("flag"))
      .agg(TopKFreq(cap, capacity = cap)(col("l_partkey")).as("topk"))
      .selectExpr("flag", "inline(topk)")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val truth = li.groupBy(col("l_returnflag").as("flag"), col("l_partkey").as("pk"))
      .count().collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    assert(sketch.nonEmpty)
    sketch.foreach { case (key, est) =>
      assert(est >= truth.getOrElse(key, 0L), s"underestimate at $key")
    }
  }

  test("weighted sketch: exact at capacity, overestimate bound under merge below capacity") {
    import graft.functions.TopKWeighted
    val li = Tables.lineitem(spark, sf)
    val qtyLong = col("l_quantity").cast("long")
    // exact at sufficient capacity: equals the exact weighted top-3
    val sketch = li.groupBy(col("l_returnflag").as("flag"))
      .agg(TopKWeighted(3, capacity = 65536)(col("l_partkey"), qtyLong).as("topk"))
      .selectExpr("flag", "inline(topk)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exact = li.groupBy(col("l_returnflag").as("flag"), col("l_partkey").as("pk"))
      .agg(org.apache.spark.sql.functions.sum(qtyLong).as("w"))
      .collect().groupBy(_.getString(0)).toSeq.flatMap { case (f, rows) =>
        rows.toSeq.map(r => (f, r.getLong(1), r.getLong(2)))
          .sortBy { case (_, pk, w) => (-w, pk) }.take(3)
      }.toSet
    assert(sketch.nonEmpty && sketch == exact)
    // merge-heavy path below capacity: estimates never underestimate
    val small = li.repartition(16).groupBy(col("l_returnflag").as("flag"))
      .agg(TopKWeighted(8, capacity = 8)(col("l_partkey"), qtyLong).as("topk"))
      .selectExpr("flag", "inline(topk)")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    val truth = li.groupBy(col("l_returnflag").as("flag"), col("l_partkey").as("pk"))
      .agg(org.apache.spark.sql.functions.sum(qtyLong).as("w"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    small.foreach { case (key, est) =>
      assert(est >= truth.getOrElse(key, 0L), s"weighted underestimate at $key")
    }
  }

  test("uniqUpTo: exact below N, saturates at N+1, partitioning-invariant, nulls skip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // group a: 5 distinct (< N=3? no — use N=3: saturates at 4)
    // group b: 2 distinct (exact); null rows never count
    val df = Seq(
      ("a", Some(1L)), ("a", Some(2L)), ("a", Some(3L)), ("a", Some(4L)),
      ("a", Some(5L)), ("a", Some(1L)),
      ("b", Some(7L)), ("b", Some(7L)), ("b", Some(8L)), ("b", None))
      .toDF("g", "v")
    def run(parts: Int) = df.repartition(parts)
      .groupBy("g").agg(graft.functions.UniqUpTo(3)(col("v")).as("u"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val out = run(1)
    assert(out == Map("a" -> 4, "b" -> 2)) // 5 distinct saturates at N+1=4
    (2 to 8).foreach(p => assert(run(p) == out, s"parts=$p diverged"))
  }

  test("null inputs are skipped (FILTER-style conditional tuple metric)") {
    import org.apache.spark.sql.functions.when
    val li = Tables.lineitem(spark, sf)
    val conditional = li.groupBy(col("l_returnflag").as("flag"))
      .agg(TopKFreq(3, capacity = 1024)(
        when(col("l_quantity") > 25, col("l_partkey"))).as("topk"))
      .selectExpr("flag", "inline(topk)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val exact = TopK.perGroupFlat(li.filter(col("l_quantity") > 25),
        Seq("flag" -> col("l_returnflag")), "part_key", col("l_partkey"), 3)
      .select("flag", "part_key", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(conditional == exact)
  }
}
