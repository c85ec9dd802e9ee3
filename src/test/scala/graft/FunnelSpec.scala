package graft

import graft.operators.Funnel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

class FunnelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  private def ev(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("user_id", "t", "event_type")
      .select(col("user_id"), col("t").cast("timestamp").as("ts"), col("event_type"))
  }

  private val steps = Seq("signup", "view", "purchase")
  private val day = 86400L * 1000000 // micros

  private def stages(df: org.apache.spark.sql.DataFrame, windowDays: Int = 7) =
    Funnel.funnelStages(df, col("user_id"), col("ts"), col("event_type"),
      steps, windowDays * day)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("funnel: ordering, anchor, window cutoff, and strictness semantics") {
    val df = ev(
      // u1 completes in order within window
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-02 00:00:00", "view"),
      (1L, "2024-01-03 00:00:00", "purchase"),
      // u2: purchase BEFORE view — chain stops at view
      (2L, "2024-01-01 00:00:00", "signup"),
      (2L, "2024-01-02 00:00:00", "purchase"),
      (2L, "2024-01-03 00:00:00", "view"),
      // u3: view outside the 7-day window of first signup
      (3L, "2024-01-01 00:00:00", "signup"),
      (3L, "2024-01-09 00:00:01", "view"),
      // u4: no anchor at all — later steps alone count for nothing
      (4L, "2024-01-02 00:00:00", "view"),
      (4L, "2024-01-03 00:00:00", "purchase"),
      // u5: anchor is the FIRST signup; a later signup cannot rescue the
      // out-of-window view (first-touch attribution)
      (5L, "2024-01-01 00:00:00", "signup"),
      (5L, "2024-01-08 00:00:00", "signup"),
      (5L, "2024-01-09 00:00:00", "view"))
    assert(stages(df) == Map(1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0, 5L -> 1))
  }

  test("funnel: equal timestamps do not advance the chain (strict >)") {
    val df = ev(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-01 00:00:00", "view"),
      (2L, "2024-01-01 00:00:00", "signup"),
      (2L, "2024-01-01 00:00:01", "view"))
    assert(stages(df) == Map(1L -> 1, 2L -> 2))
  }

  test("funnel: greedy-earliest takes the chain-maximizing view") {
    // the EARLIEST view after signup leaves room for the purchase;
    // anchoring on it (not the later one) is what finds stage 3
    val df = ev(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-02 00:00:00", "view"),
      (1L, "2024-01-06 00:00:00", "view"),
      (1L, "2024-01-03 00:00:00", "purchase"))
    assert(stages(df) == Map(1L -> 3))
  }

  test("any-anchor mode: later anchors rescue chains the first anchor missed") {
    def anyStages(df: org.apache.spark.sql.DataFrame, windowDays: Int) =
      Funnel.funnelStages(df, col("user_id"), col("ts"), col("event_type"),
        steps, windowDays * day, anyAnchor = true)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val df = ev(
      // u1: first anchor's window misses the purchase; the later
      // signup@04's chain (view@06, purchase@08) completes. Window 5d:
      // first-touch = 2 (view@02 only), any-anchor = 3.
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-02 00:00:00", "view"),
      (1L, "2024-01-04 00:00:00", "signup"),
      (1L, "2024-01-06 00:00:00", "view"),
      (1L, "2024-01-08 00:00:00", "purchase"),
      // u2: no anchor rescues an out-of-window view
      (2L, "2024-01-01 00:00:00", "signup"),
      (2L, "2024-01-20 00:00:00", "view"),
      // u3: equal timestamps still don't chain
      (3L, "2024-01-01 00:00:00", "signup"),
      (3L, "2024-01-01 00:00:00", "view"))
    assert(anyStages(df, 5) == Map(1L -> 3, 2L -> 1, 3L -> 1))
    assert(stages(df, 5) == Map(1L -> 2, 2L -> 1, 3L -> 1),
      "first-touch mode must NOT use the later anchor")
    // any-anchor dominates first-touch on every user
    val big = graft.cubes.Tables.events(spark, "/root/testdata/sf0.001")
    val ft = Funnel.funnelStages(big, col("user_id"), col("ts"),
      col("event_type"), steps, 7 * day)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val any = Funnel.funnelStages(big, col("user_id"), col("ts"),
      col("event_type"), steps, 7 * day, anyAnchor = true)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ft.keySet == any.keySet)
    ft.foreach { case (u, s) => assert(any(u) >= s, s"user $u: any < first-touch") }
  }

  test("funnel plan: one shuffle total (per-user aggregate, no per-step joins)") {
    val df = Funnel.funnelStages(
      graft.cubes.Tables.events(spark, "/root/testdata/sf0.001"),
      col("user_id"), col("ts"), col("event_type"), steps, 7 * day)
    df.collect()
    // AQE prints "== Final Plan ==" then "== Initial Plan ==" — count
    // shuffles in the final section only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"funnel should be one shuffle, saw $shuffles:\n$plan")
    assert(!plan.contains("Join"), s"funnel should not join:\n$plan")
    // the chain scan is the custom expression (it prints in the logical
    // plan; physically it folds into the aggregate's result projection)
    assert(df.queryExecution.optimizedPlan.toString.contains("funnel_stage"))
    // and the step events are filtered AT the scan
    assert(plan.contains("PushedFilters: [In(event_type"), plan)
  }

  test("funnel runs as a LIVE STREAM: stream == batch in both anchor modes") {
    val sf = "/root/testdata/sf0.001"
    for ((anchorMode, name) <- Seq(false -> "funnel_live_ft", true -> "funnel_live_any")) {
      def funnel(df: org.apache.spark.sql.DataFrame) =
        Funnel.funnelStages(df, col("user_id"), col("ts"), col("event_type"),
          steps, 7 * day, anyAnchor = anchorMode)
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_${name}_ckpt").toString
      val q = funnel(graft.streaming.Streaming.eventsStream(spark, sf))
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", ckpt).queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      val stream = spark.table(name).collect().map(_.toString).sorted
      val batch = funnel(graft.cubes.Tables.events(spark, sf))
        .collect().map(_.toString).sorted
      assert(stream.nonEmpty && stream.sameElements(batch), s"mode anyAnchor=$anchorMode")
    }
  }

  test("retention: anchor gates every later window") {
    val df = ev(
      (1L, "2024-01-01 00:00:00", "signup"),   // cohort, returns wk2
      (1L, "2024-01-10 00:00:00", "click"),
      (2L, "2024-01-02 00:00:00", "signup"),   // cohort, never returns
      (3L, "2024-01-10 00:00:00", "signup"),   // NOT cohort (late signup)
      (3L, "2024-01-11 00:00:00", "click"))
    val r = Funnel.retention(df, col("user_id"), Seq(
      col("event_type") === "signup" && col("ts") < F.lit("2024-01-04").cast("timestamp"),
      col("ts") >= F.lit("2024-01-08").cast("timestamp") &&
        col("ts") < F.lit("2024-01-15").cast("timestamp"))).collect()(0)
    assert(r.getLong(0) == 2 && r.getLong(1) == 1)
  }

  test("retentionJson plan-backed contract: groups, pred gating, zero series") {
    val df = ev(
      (1L, "2024-01-01 00:00:00", "signup"),   // grp A: cohort, returns
      (1L, "2024-01-10 00:00:00", "click"),
      (2L, "2024-01-02 00:00:00", "signup"),   // grp A: cohort, no return
      (3L, "2024-01-10 00:00:00", "signup"),   // grp B: late signup only
      (3L, "2024-01-11 00:00:00", "click"))
      .withColumn("grp", F.when(col("user_id") < 3, "A").otherwise("B"))
    val conds = Seq(
      col("event_type") === "signup" && col("ts") < F.lit("2024-01-04").cast("timestamp"),
      col("ts") >= F.lit("2024-01-08").cast("timestamp") &&
        col("ts") < F.lit("2024-01-15").cast("timestamp"))
    val got = Funnel.retentionJson(df, Seq("grp" -> col("grp")), col("user_id"),
        conds, pred = None)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // grp B has rows but an empty cohort: zero series, present, not null
    assert(got == Map("A" -> "[2,1]", "B" -> "[0,0]"))
    // metric-level pred removes every grp-A row: A still appears, zeroed
    val gated = Funnel.retentionJson(df, Seq("grp" -> col("grp")), col("user_id"),
        conds, pred = Some(col("user_id") >= 3))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(gated == Map("A" -> "[0,0]", "B" -> "[0,0]"))
    // global (no slice): one row, anchored counts
    val global = Funnel.retentionJson(df, Seq.empty, col("user_id"), conds, None)
      .collect()
    assert(global.length == 1 && global(0).getString(0) == "[2,1]")
  }

  test("sequenceCount: greedy disjoint occurrences; matched = count > 0") {
    val df = ev(
      // u1: two full disjoint chains plus a dangling anchor
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-02 00:00:00", "view"),
      (1L, "2024-01-03 00:00:00", "purchase"),
      (1L, "2024-01-04 00:00:00", "signup"),
      (1L, "2024-01-05 00:00:00", "view"),
      (1L, "2024-01-06 00:00:00", "purchase"),
      (1L, "2024-01-07 00:00:00", "signup"),
      // u2: steps out of order — no match
      (2L, "2024-01-01 00:00:00", "purchase"),
      (2L, "2024-01-02 00:00:00", "view"),
      (2L, "2024-01-03 00:00:00", "signup"),
      // u3: doubled steps s s v v p p — the greedy automaton consumes
      // s(1) v(3) p(5); only p(6) remains after the restart, so exactly
      // one disjoint chain despite two of every step
      (3L, "2024-01-01 00:00:00", "signup"),
      (3L, "2024-01-02 00:00:00", "signup"),
      (3L, "2024-01-03 00:00:00", "view"),
      (3L, "2024-01-04 00:00:00", "view"),
      (3L, "2024-01-05 00:00:00", "purchase"),
      (3L, "2024-01-06 00:00:00", "purchase"))
    val out = Funnel.sequenceCount(df, col("user_id"), col("ts"),
        col("event_type"), steps)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out == Map(1L -> (2, true), 2L -> (0, false), 3L -> (1, true)))
  }

  test("sequenceCount: no time window — far-apart steps still chain; unmatched users absent only when no step events") {
    val df = ev(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2025-06-01 00:00:00", "view"),
      (1L, "2026-01-01 00:00:00", "purchase"),
      (2L, "2024-01-01 00:00:00", "click")) // filtered out entirely
    val out = Funnel.sequenceCount(df, col("user_id"), col("ts"),
        col("event_type"), steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 1))
  }

  test("sequenceCount plan: one shuffle total, same as the funnel") {
    val df = ev((1L, "2024-01-01 00:00:00", "signup"))
    val plan = Funnel.sequenceCount(df, col("user_id"), col("ts"),
      col("event_type"), steps).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("sequenceCount runs as a LIVE STREAM: stream == batch") {
    val sf = "/root/testdata/sf0.001"
    def seq(df: org.apache.spark.sql.DataFrame) =
      Funnel.sequenceCount(df, col("user_id"), col("ts"), col("event_type"), steps)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_seq_live_ckpt").toString
    val q = seq(graft.streaming.Streaming.eventsStream(spark, sf))
      .writeStream.outputMode("complete").format("memory")
      .option("checkpointLocation", ckpt).queryName("seq_live").start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("seq_live").collect().map(_.toString).sorted
    val batch = seq(graft.cubes.Tables.events(spark, sf))
      .collect().map(_.toString).sorted
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("sequenceTotalPlan group contract: all groups present, pred gates, zeros never null") {
    val df = ev(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-02 00:00:00", "view"),
      (1L, "2024-01-03 00:00:00", "purchase"),
      (2L, "2024-01-01 00:00:00", "click"))
      .withColumn("grp", F.when(col("user_id") === 1L, "A").otherwise("B"))
    // NOTE steps here are the FunnelSpec order: signup -> view -> purchase
    val out = Funnel.sequenceTotalPlan(df, Seq("grp" -> col("grp")),
        col("user_id"), col("ts"), col("event_type"), steps, pred = None)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // grp B has no step events at all -> 0, not absent, not null
    assert(out == Map("A" -> 1L, "B" -> 0L))
    // pred removes every A row: A remains, zeroed
    val gated = Funnel.sequenceTotalPlan(df, Seq("grp" -> col("grp")),
        col("user_id"), col("ts"), col("event_type"), steps,
        pred = Some(col("user_id") >= 2))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gated == Map("A" -> 0L, "B" -> 0L))
    // global (no slice): one row
    val global = Funnel.sequenceTotalPlan(df, Seq.empty,
      col("user_id"), col("ts"), col("event_type"), steps, None).collect()
    assert(global.length == 1 && global(0).getLong(0) == 1L)
  }

  test("whale cap: bounded state, deterministic earliest-N truncation, capped corpus unchanged") {
    // 1) STATE BOUND, proven on the aggregator itself: feed 50k events
    //    into one buffer in descending-ts order (the worst case — every
    //    element is a new minimum, so none can be early-rejected) and
    //    assert the buffer never exceeds 2n at any point, map-side merge
    //    included.
    val n = 100
    val agg = new graft.functions.EarliestN(n)
    var buf = agg.zero
    var maxSeen = 0
    (50000 to 1 by -1).foreach { i =>
      buf = agg.reduce(buf, graft.functions.EarliestN.In(i.toLong, 0))
      maxSeen = math.max(maxSeen, buf.size)
    }
    assert(maxSeen <= 2 * n, s"buffer grew to $maxSeen > 2n")
    var other = agg.zero
    (1 to 5000).foreach { i => other = agg.reduce(other, graft.functions.EarliestN.In(i.toLong, 1)) }
    val merged = agg.merge(buf, other)
    assert(merged.size <= n, s"merged buffer ${merged.size} > n")
    // the surviving N are the true earliest-N of the union: both sides
    // kept ts 1..(at least 50), so the merged earliest-100 is each ts in
    // 1..50 twice — once per step side, (ts, step)-lexicographic
    val fin = agg.finish(merged)
    assert(fin.map(e => (e.ts, e.step)) ==
      (1 to n / 2).flatMap(i => Seq((i.toLong, 0), (i.toLong, 1))),
      "not the earliest-N of the union")

    // 2) PLANTED WHALE end-to-end: one bot user with 4000 step events
    //    among normal users; capped at 50 the whale's stage must equal
    //    the uncapped stage computed over its earliest-50 events, and
    //    every non-whale user must be bit-identical to the uncapped run.
    import spark.implicits._
    val normal = ev(
      (1L, "2024-01-01 00:00:00", "signup"),
      (1L, "2024-01-02 00:00:00", "view"),
      (1L, "2024-01-03 00:00:00", "purchase"),
      (2L, "2024-01-01 00:00:00", "signup"))
    // whale: 4000 views spread after one signup — a purchase only at the
    // very END, beyond the earliest-50 prefix, so the cap visibly (and
    // correctly-by-contract) truncates the chain at stage 2
    val whale = spark.range(4000).select(
        F.lit(99L).as("user_id"),
        F.expr("timestamp '2024-01-01 01:00:00' + make_interval(0,0,0,0,0,0,id+1)")
          .as("ts"),
        F.when(F.col("id") === 3999, "purchase").otherwise("view").as("event_type"))
      .unionByName(ev((99L, "2024-01-01 00:00:00", "signup")))
    val df = normal.unionByName(whale)
    def run(cap: Option[Int]) =
      Funnel.funnelStages(df, col("user_id"), col("ts"), col("event_type"),
        steps, 7 * day, maxEventsPerUser = cap)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val uncapped = run(None)
    val capped = run(Some(50))
    assert(uncapped == Map(1L -> 3, 2L -> 1, 99L -> 3))
    assert(capped == Map(1L -> 3, 2L -> 1, 99L -> 2),
      "whale must truncate to its earliest-50 events (signup + 49 views = stage 2)")
    // cap above every user's count: bit-identical to uncapped
    assert(run(Some(5000)) == uncapped)

    // 3) sequenceCount takes the same cap
    val sc = Funnel.sequenceCount(df, col("user_id"), col("ts"),
        col("event_type"), steps, maxEventsPerUser = Some(50))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sc == Map(1L -> 1, 2L -> 0, 99L -> 0),
      "whale's only purchase is outside the earliest-50 prefix")
  }

  test("maxEventsPerUser through the front door: binding cap changes the count and matches the library operator") {
    import graft.parse.QueryParser
    val dir = "/root/testdata/sf0.001"
    val cube = graft.cubes.Cubes.eventsCube(spark, dir)
    def parsed(capArg: String): Long =
      QueryParser.parse(cube,
        s"""{ "cube": "events",
           |  "fields": [
           |    {"name": "seqConversions", "alias": "conv"$capArg} ] }""".stripMargin)
        .query.toDF.collect()(0).getLong(0)
    val uncapped = parsed("")
    val explicit0 = parsed(""", "args": {"maxEventsPerUser": 0}""")
    val capped = parsed(""", "args": {"maxEventsPerUser": 2}""")
    assert(explicit0 == uncapped, "explicit 0 must mean uncapped")
    assert(uncapped > 0, "fixture must have completed chains")
    assert(capped < uncapped,
      "a 2-event cap must drop chains (every user keeps only their earliest 2 step events)")
    // the front-door arg is EXACTLY the library operator's cap
    val lib = Funnel.sequenceTotalPlan(
      graft.cubes.Tables.events(spark, dir),
      Seq.empty, col("user_id"), col("ts"), col("event_type"),
      Seq("view", "signup", "purchase"), None,
      maxEventsPerUser = Some(2)).collect()(0).getLong(0)
    assert(capped == lib)
    // validation: negative cap and unknown arg both reject at parse/apply
    val neg = intercept[graft.model.CubeQueryException](
      parsed(""", "args": {"maxEventsPerUser": -3}"""))
    assert(neg.getMessage.contains("non-negative"))
    val unk = intercept[graft.model.CubeQueryException](
      parsed(""", "args": {"maxEvents": 5}"""))
    assert(unk.getMessage.contains("takes no argument"))
  }

  test("retentionWeekly through the front door requires flat grouping") {
    val cube = graft.cubes.Cubes.eventsCube(spark, "/root/testdata/sf0.001")
    val err = intercept[graft.model.CubeQueryException] {
      graft.query.CubeQuery(cube).slice("arm", "arm")
        .measure("r", "retentionWeekly").withRollup.toDF.collect()
    }
    assert(err.getMessage.contains("flat grouping"))
  }

  test("attribution: linear splits, first/last pick the right touch, " +
      "lookback excludes, tie breaks by id") {
    import graft.operators.Attribution
    import spark.implicits._
    // user 1: click(t1) → view(t2) → purchase(t3): linear ½/½,
    //   first = click, last = view
    // user 2: view 25h before purchase (outside 24h lookback) and a
    //   click inside: click gets everything, the view nothing
    // user 3: two clicks at the SAME ts: earliest id is first, latest
    //   id is last, each ½ linear
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "click"),
      (2L, 1L, "2024-01-01 11:00:00", "view"),
      (3L, 1L, "2024-01-01 12:00:00", "purchase"),
      (4L, 2L, "2024-01-01 09:00:00", "view"),
      (5L, 2L, "2024-01-02 09:30:00", "click"),
      (6L, 2L, "2024-01-02 10:00:00", "purchase"),
      (7L, 3L, "2024-01-03 08:00:00", "click"),
      (8L, 3L, "2024-01-03 08:00:00", "click"),
      (9L, 3L, "2024-01-03 09:00:00", "purchase")
    ).toDF("event_id", "user_id", "t", "event_type")
      .select(col("event_id"), col("user_id"),
        col("t").cast("timestamp").as("ts"), col("event_type"))
    val out = Attribution.report(rows, col("event_id"), col("user_id"),
        col("ts"), col("event_type"), "purchase", lookbackHours = 24)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // click: ½ (u1) + 1 (u2) + ½+½ (u3) = 2.5 linear; first for u1,
    // u2, u3; last for u2 and u3 — 25h-old views never appear
    assert(out("click") == ((2.5, 3L, 2L, 3L)))
    assert(out("view") == ((0.5, 0L, 1L, 1L)))
    assert(out.size == 2, "the out-of-window view credits nothing extra")
  }
}
