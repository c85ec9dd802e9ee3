package graft

import graft.cubes.Cubes
import graft.query.{CubeQuery, Pred}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Property-style tests (SURVEY §5.3): randomized query trees checked
  * against engine invariants. Seeded so failures reproduce.
  */
class PropertySpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  private def base = CubeQuery(Cubes.lineitemCube(spark, sf))

  private val slicePool = Seq(
    ("flag", "returnFlag", Seq.empty[String]),
    ("status", "lineStatus", Seq.empty[String]),
    ("yr", "shipDate", Seq("year")),
    ("mo", "shipDate", Seq("month")))

  private val predPool: Seq[Random => Pred] = Seq(
    r => Pred.eq("returnFlag", Seq("A", "N", "R")(r.nextInt(3))),
    r => Pred.gt("quantity", r.nextInt(45)),
    r => Pred.lteq("quantity", 5 + r.nextInt(45)),
    r => Pred.between("price", 1000 + r.nextInt(5000), 20000 + r.nextInt(40000)),
    r => Pred.in("lineStatus", Seq("F", "O").take(1 + r.nextInt(2))),
    r => Pred.notEq("returnFlag", Seq("A", "N", "R")(r.nextInt(3))))

  private def randomQuery(r: Random): CubeQuery = {
    val slices = r.shuffle(slicePool).take(1 + r.nextInt(2))
    var q = base
    slices.foreach { case (k, d, p) => q = q.slice(k, d, p: _*) }
    q = q.measure("cnt", "count")
    if (r.nextBoolean()) q = q.measure("sq", "sumQty")
    q
  }

  test("adding a when() never increases the total row weight") {
    val r = new Random(42)
    (1 to 12).foreach { i =>
      val q = randomQuery(r)
      val p = predPool(r.nextInt(predPool.size))(r)
      val before = q.toDF.agg(org.apache.spark.sql.functions.sum("cnt"))
        .collect()(0).getLong(0)
      val after = q.when(p).toDF
        .agg(org.apache.spark.sql.functions.sum("cnt")).collect()(0)
      val afterSum = if (after.isNullAt(0)) 0L else after.getLong(0)
      assert(afterSum <= before, s"case $i: pred $p grew $before -> $afterSum")
    }
  }

  test("pruned (None-arg) predicates are exact no-ops") {
    val r = new Random(7)
    val prunable = Seq("gt", "lt", "gteq", "lteq", "in", "like", "between")
    (1 to 8).foreach { i =>
      val q = randomQuery(r)
      val op = prunable(r.nextInt(prunable.size))
      val a = q.toDF.collect().map(_.toString).sorted
      val b = q.when(Pred.Op("quantity", op, None)).toDF.collect().map(_.toString).sorted
      assert(a.sameElements(b), s"case $i: pruned '$op' changed the result")
    }
  }

  test("limitBy(n) bounds every group; limit(n) bounds the total") {
    val r = new Random(13)
    (1 to 8).foreach { i =>
      val n = 1 + r.nextInt(3)
      val q = randomQuery(r)
      val sliceKey = q.slices.head._1
      val byGroup = q.desc("cnt").limitBy(Seq(sliceKey), n).toDF
        .groupBy(sliceKey).count().collect().map(_.getLong(1))
      assert(byGroup.forall(_ <= n), s"case $i: limitBy($n) violated")
      val total = q.desc("cnt").limit(n).toDF.count()
      assert(total <= n, s"case $i: limit($n) gave $total rows")
    }
  }

  test("conditional metric is always <= unconditional") {
    val r = new Random(99)
    (1 to 8).foreach { i =>
      val p = predPool(r.nextInt(predPool.size))(r)
      val row = base
        .measure("all", "count")
        .measureWhen("cond", "count", p)
        .toDF.collect()(0)
      assert(row.getLong(1) <= row.getLong(0), s"case $i: FILTER grew the count")
    }
  }

  test("as-of flavors on random data: native == composed, left keeps all lefts, matches precede") {
    val r = new Random(21)
    val sqlc = spark
    import sqlc.implicits._
    (1 to 3).foreach { i =>
      val nKeys = 4 + r.nextInt(4)
      // right side unique on (k, ts) so "latest prior row" is well-defined
      val right = (0 until nKeys).flatMap { k =>
        r.shuffle((0 until 300).toList).take(25)
          .map(ts => (k.toLong, ts.toLong, r.nextInt(1000)))
      }.toDF("k", "ts", "rv")
      val left = Seq.fill(120)(
        (r.nextInt(nKeys).toLong, r.nextInt(300).toLong, r.nextInt(1000))).toDF("k", "ts", "lv")
      val vcols = Seq("ts" -> "m_ts", "rv" -> "m_rv")
      val composed = graft.operators.Joins.asOf(
        left, right, Seq("k"), "ts", "ts", vcols, joinType = "left")
      val native = graft.plans.AsOfJoin.dataframe(spark,
        left, right, Seq("k"), "ts", "ts", vcols, joinType = "left")
      val cRows = composed.select("k", "ts", "lv", "m_ts", "m_rv")
        .collect().map(_.toString).sorted
      val nRows = native.select("k", "ts", "lv", "m_ts", "m_rv")
        .collect().map(_.toString).sorted
      assert(cRows.sameElements(nRows), s"case $i: native != composed")
      // left flavor preserves left cardinality exactly
      assert(cRows.length == left.count(), s"case $i: left rows dropped/duplicated")
      // inner flavor == the matched subset of left
      val inner = graft.operators.Joins.asOf(
          left, right, Seq("k"), "ts", "ts", vcols)
        .select("k", "ts", "lv", "m_ts", "m_rv").collect().map(_.toString).sorted
      val matched = composed.filter(org.apache.spark.sql.functions.col("m_ts").isNotNull)
        .select("k", "ts", "lv", "m_ts", "m_rv").collect().map(_.toString).sorted
      assert(inner.sameElements(matched), s"case $i: inner != matched-left")
      // every match is at-or-before the left timestamp
      assert(composed.filter($"m_ts".isNotNull && $"m_ts" > $"ts").count() == 0,
        s"case $i: a match came from the future")
    }
  }

  test("rollup == groupingSets over key prefixes (fixed shapes are the general form)") {
    val q = base.slice("f", "returnFlag").slice("s", "lineStatus")
      .measure("c", "count").measure("sq", "sumQty")
    val rollup = q.withRollup.toDF.collect().map(_.toString).sorted
    val sets = q.withGroupingSets(Seq(Seq("f", "s"), Seq("f"), Seq()))
      .toDF.collect().map(_.toString).sorted
    assert(rollup.nonEmpty && rollup.sameElements(sets))
  }

  test("slice+measure row count equals distinct slice combinations") {
    val r = new Random(5)
    (1 to 6).foreach { i =>
      val q = randomQuery(r)
      val df = q.toDF
      val sliceCols = q.slices.map(_._1)
      val distinct = df.select(sliceCols.head, sliceCols.tail: _*).distinct().count()
      assert(df.count() == distinct, s"case $i: duplicate slice rows")
    }
  }

  test("HLL sketch union at fixed lgK is lossless: union-of-daily == one-shot sketch") {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.functions.col
    // the q101 pre-aggregation contract: merging per-cell sketches must
    // give EXACTLY the estimate a single sketch over the union would —
    // otherwise rollup answers depend on how the data was partitioned
    val ev = graft.cubes.Tables.events(spark, sf)
      .withColumn("day", F.to_date(col("ts")))
    val unioned = ev.groupBy(col("day"))
      .agg(F.hll_sketch_agg(col("user_id"), F.lit(14)).as("sk"))
      .agg(F.hll_sketch_estimate(F.hll_union_agg(col("sk"))).as("est"))
      .collect()(0).getLong(0)
    val oneShot = ev
      .agg(F.hll_sketch_estimate(F.hll_sketch_agg(col("user_id"), F.lit(14))).as("est"))
      .collect()(0).getLong(0)
    assert(unioned == oneShot, s"union=$unioned oneShot=$oneShot")
    assert(oneShot > 0)
  }

  test("overlap rollup cells serve bit-identically to the single-shot estimate") {
    import graft.operators.Overlap
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.functions.col
    // inclusion–exclusion over per-day sketch cells must equal the
    // single-shot sketches exactly (HLL union at fixed lgK is lossless),
    // so overlap answers don't depend on how the rollup was partitioned
    val ev = graft.cubes.Tables.events(spark, sf)
      .withColumn("day", F.to_date(col("ts")))
    val a = col("event_type") === "view"
    val b = col("event_type") === "purchase"
    val fromCells = Overlap.overlapFromCells(
      Overlap.overlapCells(ev, Seq("day" -> col("day")), col("user_id"), a, b))
      .collect()(0)
    val oneShot = Overlap
      .overlapEstimate(ev, Nil, col("user_id"), a, b).collect()(0)
    assert(fromCells == oneShot, s"cells=$fromCells oneShot=$oneShot")
    assert(fromCells.getDouble(2) > 0, "fixture overlap should be non-trivial")
  }

  test("quantile sketch cells union with the one-shot rank guarantee") {
    import graft.functions.QuantileSketch
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.functions.col
    val ev = graft.cubes.Tables.events(spark, sf)
      .withColumn("day", F.to_date(col("ts")))
    def median(cells: org.apache.spark.sql.DataFrame) = cells
      .agg(QuantileSketch.quantileUnion(0.5, 0.01)(col("sk")).as("m"))
      .collect()(0).getDouble(0)
    // union of per-day cells vs a single whole-range cell: both must
    // satisfy the ε rank bound against the EXACT percentiles
    val daily = median(ev.groupBy(col("day"))
      .agg(QuantileSketch.quantileCell(0.01)(col("value")).as("sk")))
    val oneShot = median(ev
      .agg(QuantileSketch.quantileCell(0.01)(col("value")).as("sk")))
    val Array(p45, p55) = ev.agg(
      F.expr("percentile(value, 0.45)"), F.expr("percentile(value, 0.55)"))
      .collect()(0).toSeq.map(_.asInstanceOf[Double]).toArray
    assert(daily >= p45 && daily <= p55, s"daily-union median $daily outside [$p45,$p55]")
    assert(oneShot >= p45 && oneShot <= p55, s"one-shot median $oneShot outside [$p45,$p55]")
  }

  test("histogram bins partition the rows: per-group bin sums equal group counts") {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.functions.col
    val li = graft.cubes.Tables.lineitem(spark, sf)
    val rows = li.groupBy(col("l_returnflag"))
      .agg(
        F.sum(F.lit(1)).as("n"),
        F.array((1 to 10).map(i =>
          F.sum(F.when(F.width_bucket(
            col("l_quantity"), F.lit(1.0), F.lit(51.0), F.lit(10)) === i, 1L)
            .otherwise(0L))): _*).as("hist"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](2).sum == r.getLong(1),
        s"bins lost rows for flag ${r.getString(0)}")
    }
  }

  test("packing invariants hold on random workloads (seeded)") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.functions.col
    val r = new Random(42)
    (1 to 5).foreach { trial =>
      val cap = 50 + r.nextInt(200)
      val nDocs = 50 + r.nextInt(300)
      // token sizes skewed: mostly small, some oversize beyond cap
      val docs = (1 to nDocs).map { i =>
        (i.toLong, if (r.nextInt(10) == 0) cap + r.nextInt(cap) else 1 + r.nextInt(cap))
      }.toDF("doc_id", "n")
      val parts = 1 + r.nextInt(6)
      val packed = graft.llm.Packing.packSequences(
        docs, col("doc_id"), col("n"), cap, parts)
      val rows = packed.collect()
      assert(rows.length == nDocs, s"trial $trial: pack-once broken")
      assert(rows.map(_.getLong(0)).distinct.length == nDocs)
      val byBin = rows.groupBy(_.getLong(2))
      byBin.foreach { case (bin, ds) =>
        val fill = ds.map(_.getInt(1).toLong).sum
        assert(fill <= cap || ds.length == 1,
          s"trial $trial: bin $bin overfull ($fill > $cap) with ${ds.length} docs")
      }
      // lower bound: each oversize doc (n >= cap) owns a bin; the
      // normal tokens need at least ceil(total_normal / cap) more
      val (over, normal) = rows.partition(_.getInt(1) >= cap)
      val normalTotal = normal.map(_.getInt(1).toLong).sum
      assert(byBin.size >= over.length + math.ceil(normalTotal.toDouble / cap).toLong,
        s"trial $trial: fewer bins than the token lower bound")
    }
  }

  test("hash splits partition the corpus: disjoint by construction, exhaustive, stable size") {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.functions.col
    val docs = graft.cubes.Tables.documents(spark, sf)
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = docs.select(col("doc_id"),
      graft.llm.Splits.assignSplit(col("doc_id"), w).as("split"))
    // exhaustive: every doc gets exactly one label (a column can't give
    // two, so partition == no null labels + counts summing to total)
    assert(labeled.filter(col("split").isNull).count() == 0)
    assert(labeled.groupBy("split").count().agg(F.sum("count")).collect()(0).getLong(0)
      == docs.count())
  }

  test("sketch stats merge under RANDOM batch splits == the full scan, bit for bit") {
    import graft.sources.Stats
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.{functions => F}
    val docs = graft.cubes.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
    val cols = Seq("doc_id", "source")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("column", "n_rows", "n_nulls", "kmv", "min_d", "max_d",
        "min_s", "max_s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toList, Option(r.get(4)), Option(r.get(5)),
        Option(r.get(6)), Option(r.get(7)))).sortBy(_._1)
    val full = canon(Stats.analyzeSketch(docs, cols))
    val rnd = new Random(7)
    for (_ <- 1 to 3) {
      // a random number of batches with a random disjoint assignment —
      // the merge contract must hold for ANY partitioning
      val k = 2 + rnd.nextInt(4)
      val salt = rnd.nextInt(1000)
      val batches = (0 until k).map(i =>
        Stats.analyzeSketch(
          docs.filter(F.pmod(F.xxhash64(col("doc_id") + salt), F.lit(k)) === i),
          cols))
      assert(canon(Stats.mergeSketchStats(batches)).sameElements(full),
        s"merge mismatch at k=$k salt=$salt")
    }
  }
}
