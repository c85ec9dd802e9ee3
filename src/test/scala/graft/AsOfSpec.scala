package graft

import graft.cubes.Tables
import graft.operators.Joins
import graft.plans.AsOfJoin
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class AsOfSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  private def purchases = Tables.events(spark, sf)
    .filter(col("event_type") === "purchase")
    .select(col("user_id"), col("ts"), col("event_id"))
  private def signups = Tables.events(spark, sf)
    .filter(col("event_type") === "signup")
    .select(col("user_id"), col("ts"), col("event_id"))

  test("native AsOfJoinExec == union+window asOf, row for row") {
    val native = AsOfJoin.dataframe(spark, purchases, signups,
        Seq("user_id"), "ts", "ts",
        Seq("event_id" -> "signup_id", "ts" -> "signup_ts"))
      .collect().map(_.toString).sorted
    val composed = Joins.asOf(purchases, signups,
        Seq("user_id"), "ts", "ts",
        Seq("event_id" -> "signup_id", "ts" -> "signup_ts"))
      .select("user_id", "ts", "event_id", "signup_id", "signup_ts")
      .collect().map(_.toString).sorted
    assert(native.nonEmpty && native.sameElements(composed))
  }

  test("left flavor: native == composed, supersets inner, unmatched lefts NULL") {
    val args = (Seq("user_id"), "ts", "ts",
      Seq("event_id" -> "signup_id", "ts" -> "signup_ts"))
    val cols = Seq("user_id", "ts", "event_id", "signup_id", "signup_ts")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
    val nativeLeft = AsOfJoin.dataframe(spark, purchases, signups,
      args._1, args._2, args._3, args._4, joinType = "left")
    val composedLeft = Joins.asOf(purchases, signups,
      args._1, args._2, args._3, args._4, joinType = "left")
    val nl = rows(nativeLeft)
    assert(nl.sameElements(rows(composedLeft)))
    // every purchase survives; the inner flavor is the matched subset
    assert(nl.length == purchases.count())
    val inner = rows(Joins.asOf(purchases, signups,
      args._1, args._2, args._3, args._4))
    assert(inner.length < nl.length, "fixture should contain unmatched purchases")
    assert(inner.toSet.subsetOf(nl.toSet))
    // unmatched rows carry NULLs in both payload columns
    val unmatched = nativeLeft.filter(col("signup_id").isNull)
    assert(unmatched.count() == nl.length - inner.length)
    assert(unmatched.filter(col("signup_ts").isNotNull).count() == 0)
  }

  test("forward direction: native == composed; hand-checked next-match semantics; ties inclusive") {
    import spark.implicits._
    // forward = earliest right with rts >= lts: l(1,10)->r12 (not r20),
    // l(1,25)->none, l(2,5)->none (r(2,1) is in the past), tie l(3,7)->r7
    val l = Seq((1L, 10L), (1L, 25L), (2L, 5L), (3L, 7L)).toDF("k", "ts")
    val r = Seq((1L, 12L, "a"), (1L, 20L, "b"), (2L, 1L, "c"), (3L, 7L, "d"))
      .toDF("k", "ts", "v")
    val native = AsOfJoin.dataframe(spark, l, r, Seq("k"), "ts", "ts",
        Seq("v" -> "v", "ts" -> "rts"), direction = "forward")
      .collect().map(_.toString).sorted
    assert(native.toSeq == Seq("[1,10,a,12]", "[3,7,d,7]"))
    val composed = Joins.asOf(l, r, Seq("k"), "ts", "ts",
        Seq("v" -> "v", "ts" -> "rts"), direction = "forward")
      .select("k", "ts", "v", "rts")
      .collect().map(_.toString).sorted
    assert(composed.sameElements(native))
    // left + forward: unmatched lefts survive with nulls, both forms
    val nativeLeft = AsOfJoin.dataframe(spark, l, r, Seq("k"), "ts", "ts",
        Seq("v" -> "v"), joinType = "left", direction = "forward")
      .collect().map(_.toString).sorted
    val composedLeft = Joins.asOf(l, r, Seq("k"), "ts", "ts",
        Seq("v" -> "v"), joinType = "left", direction = "forward")
      .select("k", "ts", "v")
      .collect().map(_.toString).sorted
    assert(nativeLeft.length == 4 && nativeLeft.sameElements(composedLeft))
    // fixture-scale agreement on real data
    val big = AsOfJoin.dataframe(spark, purchases, signups,
        Seq("user_id"), "ts", "ts", Seq("event_id" -> "signup_id"),
        direction = "forward")
      .collect().map(_.toString).sorted
    val bigComposed = Joins.asOf(purchases, signups,
        Seq("user_id"), "ts", "ts", Seq("event_id" -> "signup_id"),
        direction = "forward")
      .select("user_id", "ts", "event_id", "signup_id")
      .collect().map(_.toString).sorted
    assert(big.nonEmpty && big.sameElements(bigComposed))
  }

  test("right side is column-pruned before the exchange (custom nodes don't get ColumnPruning)") {
    // hand the FULL events table to the right side; only user_id/ts/event_id
    // are needed — value and props must never reach a scan
    val fullRight = Tables.events(spark, sf).filter(col("event_type") === "signup")
    val df = AsOfJoin.dataframe(spark, purchases, fullRight,
      Seq("user_id"), "ts", "ts", Seq("event_id" -> "signup_id"))
    assert(df.count() > 0)
    val scans = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(!scans.contains("props") && !scans.contains("value"),
      s"unpruned right-side scan:\n$scans")
  }

  test("AsOfPushdownRule: left-only filters sink below the join, into the scan") {
    val joined = AsOfJoin.dataframe(spark, purchases, signups,
      Seq("user_id"), "ts", "ts", Seq("event_id" -> "signup_id"))
    val filtered = joined.filter(col("event_id") % 2 === 0) // left-only pred
    // correctness: pushing must not change results
    val expected = joined.collect().filter(_.getLong(2) % 2 == 0)
      .map(_.toString).sorted
    assert(filtered.collect().map(_.toString).sorted.sameElements(expected))
    // the optimized tree has the Filter INSIDE the join's left subtree:
    // the AsOfJoinPlan line prints before any Filter line
    val lines = filtered.queryExecution.optimizedPlan.toString.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("AsOfJoinPlan"))
    val filterIdx = lines.indexWhere(_.contains("Filter"))
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"filter not pushed below the as-of join:\n${lines.mkString("\n")}")
    // and the built-in rules carry it on into the parquet scan
    val scans = filtered.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(scans.contains("event_id"), s"predicate never reached a scan:\n$scans")
  }

  test("AsOfPushdownRule: non-deterministic predicates stay above the join") {
    import org.apache.spark.sql.functions.rand
    val joined = AsOfJoin.dataframe(spark, purchases, signups,
      Seq("user_id"), "ts", "ts", Seq("event_id" -> "signup_id"))
    // rand() references nothing, so a reference-only split would push it;
    // pushing changes which rows it is evaluated on (Catalyst's own
    // PushDownPredicates requires cond.deterministic — so do we)
    val filtered = joined.filter(rand(42) < 0.5)
    val lines = filtered.queryExecution.optimizedPlan.toString.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("AsOfJoinPlan"))
    val randIdx = lines.indexWhere(_.contains("rand("))
    assert(joinIdx >= 0 && randIdx >= 0 && randIdx < joinIdx,
      s"non-deterministic filter was pushed below the as-of join:\n${lines.mkString("\n")}")
    assert(filtered.count() <= joined.count())
  }

  test("physical plan uses the custom exec with co-partitioned sorted inputs") {
    val df = AsOfJoin.dataframe(spark, purchases, signups,
      Seq("user_id"), "ts", "ts", Seq("event_id" -> "signup_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin ["), s"custom exec missing:\n$plan") // nodeName strips "Exec"
    assert(plan.contains("Exchange hashpartitioning(user_id"), s"no co-partitioning:\n$plan")
    assert(plan.contains("Sort [user_id"), s"inputs not sorted:\n$plan")
  }

  test("repeat registration: AsOfJoin.dataframe and GraftFunctions.register " +
      "install each strategy, rule and function once on a plain session") {
    import graft.plans.{AsOfPushdownRule, AsOfStrategy}
    import spark.implicits._
    val l = Seq((1L, 10L)).toDF("k", "ts")
    val r = Seq((1L, 5L, "a")).toDF("k", "ts", "v")
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    def entries() = (
      spark.sessionState.functionRegistry
        .lookupFunction(FunctionIdentifier("simhash64")).get,
      spark.sessionState.tableFunctionRegistry
        .lookupFunction(FunctionIdentifier("table_history")).get)
    AsOfJoin.dataframe(spark, l, r, Seq("k"), "ts", "ts", Seq("v" -> "v"))
    graft.functions.GraftFunctions.register(spark)
    val (scalar1, table1) = entries()
    AsOfJoin.dataframe(spark, l, r, Seq("k"), "ts", "ts", Seq("v" -> "v"))
    graft.functions.GraftFunctions.register(spark)
    // a repeat call registers nothing: the same entries, no replace
    val (scalar2, table2) = entries()
    assert(scalar2 eq scalar1)
    assert(table2 eq table1)
    assert(spark.experimental.extraStrategies.count(_ == AsOfStrategy) == 1)
    assert(spark.experimental.extraOptimizations.count(_ == AsOfPushdownRule) == 1)
    assert(!spark.sql("SELECT simhash64(split('a b c', ' '))").head().isNullAt(0))
    val tbl = java.nio.file.Files.createTempDirectory("graft_asof_reg").toString + "/t"
    graft.sources.Manifest.create(spark, tbl, Seq((1L, 2L)).toDF("id", "v"))
    assert(spark.sql(s"SELECT version FROM table_history('$tbl')")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
