package graft

import graft.cubes.Tables
import graft.streaming.Streaming
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The streaming contract: every Streaming.* transform must produce the
  * SAME result running as a live stream (memory sink, processAllAvailable)
  * as it does in batch — one code path for backfill and live.
  */
class StreamingSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  private def runStream(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "complete"): Array[String] = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$name").toString
    val q = df.writeStream.outputMode(mode).format("memory")
      .option("checkpointLocation", ckpt).queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect().map(_.toString).sorted
  }

  private def batchRows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("tumbling window: stream == batch") {
    val stream = runStream(
      Streaming.tumblingCounts(Streaming.eventsStream(spark, sf)), "tumb")
    val batch = batchRows(Streaming.tumblingCounts(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("sliding window: stream == batch") {
    val stream = runStream(
      Streaming.slidingCounts(Streaming.eventsStream(spark, sf)), "slide")
    val batch = batchRows(Streaming.slidingCounts(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("session window with watermark: stream == batch") {
    val stream = runStream(
      Streaming.sessionAggs(
        Streaming.eventsStream(spark, sf).withWatermark("ts", "10 minutes")),
      "sess")
    val batch = batchRows(Streaming.sessionAggs(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("watermarked tumbling in append mode emits closed windows") {
    // append mode only emits windows the watermark has passed; with a
    // 10-minute watermark over a finite file stream, all but the last
    // window(s) must be emitted
    val rows = runStream(
      Streaming.watermarkedTumbling(Streaming.eventsStream(spark, sf)),
      "wm_append", mode = "append")
    val batch = batchRows(Streaming.tumblingCounts(Tables.events(spark, sf)))
    assert(rows.nonEmpty)
    assert(rows.toSet.subsetOf(batch.toSet), "append emitted a window batch doesn't have")
    assert(rows.length >= batch.length - 10, "append mode withheld too many windows")
  }

  test("mapGroupsWithState running totals match batch aggregation") {
    val stream = runStream(
      Streaming.runningUserTotals(spark, Streaming.eventsStream(spark, sf)).toDF(),
      "running", mode = "update")
    val batch = batchRows(Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.round(
          org.apache.spark.sql.functions.sum("value"), 2).as("total_value")))
    // single file = single micro-batch, so the last update per user IS the total
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("live rollup maintenance: streamed sketch cells serve the cube like on-the-fly cells") {
    import org.apache.spark.sql.functions.col
    import graft.cubes.Cubes
    val dir = java.nio.file.Files.createTempDirectory("graft_rollup_cells").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_rollup_ckpt").toString
    val q = Streaming.maintainSketchRollup(
      Streaming.eventsStream(spark, sf), dir, ckpt)
    try q.processAllAvailable() finally q.stop()
    def answers(cube: graft.model.Cube) =
      graft.query.CubeQuery(cube)
        .slice("day", "day").measure("n", "count")
        .measure("uu", "uniqueUsersApprox").measure("med", "medianValueApprox")
        .asc("day").toDF.collect().map(_.toString)
    val streamed = Cubes.eventsCubeWithSketchRollup(spark,
      graft.sources.PathCatalog(sf), Some(spark.read.parquet(dir)))
    val onTheFly = Cubes.eventsCubeWithSketchRollup(spark, sf)
    // the streamed table actually serves: optimal-source selection picks it
    assert(graft.compile.Compiler.chosenSourceName(
      graft.query.CubeQuery(streamed).slice("day", "day").measure("n", "count"))
      == "daily_sketch")
    val a = answers(streamed)
    val b = answers(onTheFly)
    assert(a.nonEmpty && a.sameElements(b),
      s"streamed=${a.take(3).mkString(";")} fly=${b.take(3).mkString(";")}")
  }

  test("ingestion-time decontamination: stream-static gram join, stream == batch") {
    import org.apache.spark.sql.functions.col
    // arriving docs (stream) screened against the static benchmark set
    // (src0) — explode + broadcast static join are stateless, the
    // per-pair count is the only stateful aggregation
    def screen(docs: org.apache.spark.sql.DataFrame) =
      graft.llm.Decontaminate.contaminationPairs(
        docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
        Tables.documents(spark, sf).filter(col("source") === "src0"),
        col("doc_id"), col("text"), n = 4, minHits = 1)
    val stream = runStream(screen(Streaming.documentsStream(spark, sf)), "decon")
    val batch = batchRows(screen(Tables.documents(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("custom SQL functions register and run via spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT simhash64(split('a b c a', ' ')) AS sh,
        |cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |           array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cs,
        |polyhash64('abc') AS ph,
        |size(word_shingles(split('a b c d', ' '), 2)) AS ws""".stripMargin)
      .collect()(0)
    assert(r.getDouble(1) == 1.0 && r.getInt(3) == 3 && r.getLong(2) != 0L)
  }

  test("stream-stream interval join: stream == batch") {
    val stream = runStream(
      Streaming.purchasesWithRecentSignup(Streaming.eventsStream(spark, sf)),
      "ssjoin", mode = "append")
    val batch = batchRows(
      Streaming.purchasesWithRecentSignup(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("parquet file sink: exactly-once across a checkpointed restart") {
    val out = java.nio.file.Files.createTempDirectory("graft_psink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_psink_ckpt").toString
    def run(): Unit = {
      val q = Streaming.toParquetSink(
        Streaming.dedupedEvents(Streaming.eventsStream(spark, sf))
          .select("event_id", "event_type", "value"),
        s"$out/data", ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val expected = Tables.events(spark, sf).count()
    assert(spark.read.parquet(s"$out/data").count() == expected)
    // restart from the same checkpoint: no new input => nothing re-emitted
    run()
    assert(spark.read.parquet(s"$out/data").count() == expected)
  }

  test("JDBC warehouse sink lands the stream; batch replay is idempotent") {
    val url = "jdbc:derby:memory:graftsink;create=true"
    val opts = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jsink_ckpt").toString
    val q = Streaming.toJdbcSink(
      Streaming.dedupedEvents(Streaming.eventsStream(spark, sf))
        .select("event_id", "event_type", "value"),
      url, "events_sink", ckpt, opts)
    try q.processAllAvailable() finally q.stop()
    def sinkCount(): Long = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "events_sink")
      .option("driver", opts("driver")).load().count()
    val expected = Tables.events(spark, sf).count()
    assert(sinkCount() == expected)
    // replaying micro-batch 0 with the same rows must NOT duplicate:
    // the writer deletes its own batch id before inserting
    val replay = Tables.events(spark, sf).select("event_id", "event_type", "value")
    Streaming.jdbcBatchWriter(url, "events_sink", opts)(replay, 0L)
    assert(sinkCount() == expected)
  }

  test("JDBC writer: credentials reach the DELETE connection; dialect quotes the batch column") {
    // connection properties mirror Spark's split: user/password (and any
    // driver flag) pass through; Spark-side knobs like driver/batchsize don't
    val p = Streaming.connectionProperties(Map(
      "user" -> "u", "password" -> "pw", "ssl" -> "true",
      "driver" -> "org.x.Driver", "batchsize" -> "1000", "dbtable" -> "t"))
    assert(p.getProperty("user") == "u" && p.getProperty("password") == "pw"
      && p.getProperty("ssl") == "true")
    assert(p.getProperty("driver") == null && p.getProperty("batchsize") == null
      && p.getProperty("dbtable") == null)
    // identifier quoting follows the warehouse dialect: backticks on MySQL
    // (ANSI double quotes are a syntax error there), double quotes elsewhere
    assert(Streaming.deleteStatement("jdbc:mysql://h/db", "t", 7) ==
      "DELETE FROM t WHERE `__batch_id` = 7")
    assert(Streaming.deleteStatement("jdbc:postgresql://h/db", "t", 7) ==
      "DELETE FROM t WHERE \"__batch_id\" = 7")
    assert(Streaming.deleteStatement("jdbc:derby:memory:x", "t", 7)
      .contains("\"__batch_id\""))
  }

  test("cube queries compile against a STREAMING fact: stream == batch") {
    import graft.model.{Cube, Dimension, Metric, Selector}
    import graft.query.{CubeQuery, Pred}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.{functions => F}
    // the same cube declaration over a streaming vs batch fact — the
    // compiler emits one declarative plan; Spark runs it in either mode
    def cubeOf(fact: org.apache.spark.sql.DataFrame) = Cube(
      name = "events_live", fact = fact,
      dimensions = Map("eventType" -> Dimension("eventType", col("event_type"))),
      metrics = Map(
        "cnt" -> Metric.countAll("cnt"),
        "sv" -> Metric.sumOf("sv", col("value")).mapValue(F.round(_, 2))),
      selectors = Map("value" -> Selector("value", col("value"))))
    def query(fact: org.apache.spark.sql.DataFrame) =
      CubeQuery(cubeOf(fact)).slice("t", "eventType")
        .measure("cnt", "cnt").measure("sv", "sv")
        .when(Pred.gt("value", 10)).toDF
    val stream = runStream(query(Streaming.eventsStream(spark, sf)), "cube_live")
    val batch = batchRows(query(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("PARSED query served from a LIVE STREAM: watermark + update mode, stream == batch") {
    // the full front door — JSON tree -> parser -> events cube ->
    // compiled plan — against a watermarked streaming fact in UPDATE
    // mode, and the SAME parsed document against the batch table. One
    // declaration, one parser, one compiler, two execution modes.
    import graft.parse.QueryParser
    val doc =
      """{ "cube": "events",
        |  "args": { "value": {"gt": 10} },
        |  "fields": [
        |    {"name": "ts", "fields": [{"name": "hour"}]},
        |    {"name": "eventType", "alias": "etype"},
        |    {"name": "count", "alias": "cnt"},
        |    {"name": "sumValue", "alias": "sv"} ] }""".stripMargin
    def query(fact: org.apache.spark.sql.DataFrame) =
      QueryParser.parse(graft.cubes.Cubes.eventsCubeOver(fact), doc).query.toDF
    val stream = runStream(
      query(Streaming.eventsStream(spark, sf).withWatermark("ts", "10 minutes")),
      "parsed_live", mode = "update")
    val batch = batchRows(query(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("parsed SESSION-WINDOW query served from a live stream: stream == batch") {
    // past plain aggregation: the parsed document slices the `session`
    // dimension (gap-based session_window), so the compiled plan is a
    // STATEFUL session-window aggregation — merging sessions as events
    // arrive — not just a keyed running count. Same JSON document, same
    // parser, same compiler; only the fact is live.
    import graft.parse.QueryParser
    val doc =
      """{ "cube": "events",
        |  "fields": [
        |    {"name": "session"},
        |    {"name": "user", "alias": "user_id"},
        |    {"name": "count", "alias": "n_events"},
        |    {"name": "sumValue", "alias": "sum_value"} ] }""".stripMargin
    def query(fact: org.apache.spark.sql.DataFrame) =
      QueryParser.parse(graft.cubes.Cubes.eventsCubeOver(fact), doc).query.toDF
    val stream = runStream(
      query(Streaming.eventsStream(spark, sf).withWatermark("ts", "10 minutes")),
      "parsed_sess_live")
    val batch = batchRows(query(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
    // and the parsed plan IS the library sessionization: identical
    // (user, n_events, sum_value) cell multiset as Streaming.sessionAggs
    val cells = batchRows(query(Tables.events(spark, sf))
      .selectExpr("user_id", "n_events", "sum_value"))
    val lib = batchRows(Streaming.sessionAggs(Tables.events(spark, sf))
      .selectExpr("user_id", "n_events", "sum_value"))
    assert(cells.sameElements(lib))
  }

  test("SpaceSaving top-K sketch aggregates a STREAM: matches exact batch top-3") {
    import org.apache.spark.sql.functions.col
    // mergeable-summaries construction => valid as a streaming aggregate
    def topUsers(events: org.apache.spark.sql.DataFrame) = events
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKFreq(3, capacity = 65536)(col("user_id")).as("topk"))
      .selectExpr("event_type", "inline(topk)")
    val stream = runStream(topUsers(Streaming.eventsStream(spark, sf)), "topk_live")
    val batch = batchRows(topUsers(Tables.events(spark, sf)))
    assert(stream.nonEmpty && stream.sameElements(batch))
  }

  test("live funnel (flatMapGroupsWithState + event-time timeout): " +
      "emitted stages match batch, coverage near-complete") {
    import org.apache.spark.sql.functions.col
    val steps = Seq("signup", "view", "purchase")
    val window = 3L * 86400 * 1000000 // 3 days: horizon well inside fixture span
    val live = runStream(
      Streaming.funnelStagesLive(spark, Streaming.eventsStream(spark, sf),
        steps, window, lateness = "10 minutes").toDF(),
      "funnel_live", mode = "append")
    val batchDf = graft.operators.Funnel.funnelStages(
      Tables.events(spark, sf), col("user_id"), col("ts"), col("event_type"),
      steps, window)
    val batch = batchDf.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val emitted = spark.table("funnel_live").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(emitted.nonEmpty)
    // exactly-once per user in this single-batch stream
    assert(emitted.map(_._1).distinct.length == emitted.length)
    // every emitted stage is exactly the batch stage for that user
    emitted.foreach { case (u, st) =>
      assert(batch.get(u).contains(st),
        s"user $u: live stage $st != batch ${batch.get(u)}") }
    // only users whose horizon is within window+lateness of stream end may
    // be withheld; with a 3-day window over the month-long fixture that
    // must be a small minority
    assert(emitted.length >= batch.size * 8 / 10,
      s"live emitted ${emitted.length} of ${batch.size} users")
  }

  test("live funnel across MULTIPLE micro-batches: incremental state merge, " +
      "mid-stream finalization") {
    import org.apache.spark.sql.functions.col
    // split the fixture into 4 time-ordered files; maxFilesPerTrigger=1
    // makes each a micro-batch, so (a) users spanning chunks exercise the
    // state-merge path, (b) the watermark advances batch-by-batch and
    // early anchors finalize MID-stream, not in one end-of-stream flush
    val tmp = java.nio.file.Files.createTempDirectory("graft_funnel_mb")
    val ev = Tables.events(spark, sf)
    val chunked = ev.withColumn("__chunk",
      org.apache.spark.sql.functions.ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
    (1 to 4).foreach { i =>
      val stage = tmp.resolve(s"stage$i")
      chunked.filter(col("__chunk") === i).drop("__chunk")
        .coalesce(1).write.parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).iterator()
      var moved = false
      while (part.hasNext && !moved) {
        val p = part.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          java.nio.file.Files.move(p, tmp.resolve(f"f$i%02d.parquet"))
          moved = true
        }
      }
      assert(moved, s"no parquet part written for chunk $i")
    }
    val schema = spark.read.parquet(tmp.resolve("f01.parquet").toString).schema
    val arrivals = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "f*.parquet")
      .parquet(tmp.toString)
    val steps = Seq("signup", "view", "purchase")
    val window = 3L * 86400 * 1000000
    runStream(
      Streaming.funnelStagesLive(spark, arrivals, steps, window,
        lateness = "10 minutes").toDF(),
      "funnel_mb", mode = "append")
    val batch = graft.operators.Funnel.funnelStages(
        ev, col("user_id"), col("ts"), col("event_type"), steps, window)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val emitted = spark.table("funnel_mb").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(emitted.nonEmpty)
    assert(emitted.map(_._1).distinct.length == emitted.length,
      "a user emitted more than once")
    emitted.foreach { case (u, st) =>
      assert(batch.get(u).contains(st),
        s"user $u: live stage $st != batch ${batch.get(u)}") }
    assert(emitted.length >= batch.size * 8 / 10,
      s"live emitted ${emitted.length} of ${batch.size} users")
  }

  test("ingestion screening: per-batch foreachBatch screen == batch screen, " +
      "zero streaming state") {
    import graft.llm.Dedup
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 400)
    val index = Dedup.bandIndex(corpus, col("doc_id"), col("text"))
    val corpusSh = Dedup.shingleDocs(corpus, col("doc_id"), col("text"))
    val out = java.nio.file.Files.createTempDirectory("graft_screen_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_screen_ckpt").toString
    val q = Streaming.screenArrivals(
      Streaming.documentsStream(spark, sf).filter(col("doc_id") >= 400),
      index, corpusSh, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    // zero streaming state: the argmax ran batch-local inside foreachBatch
    assert(q.lastProgress.stateOperators.isEmpty,
      s"expected stateless sink, got ${q.lastProgress.stateOperators.length} state operators")
    val live = spark.read.parquet(out)
      .select("doc_id", "match_id", "jaccard")
      .collect().map(_.toString).sorted
    val batch = batchRows(Dedup.nearDupScreen(
      docs.filter(col("doc_id") >= 400), corpus, col("doc_id"), col("text")))
    assert(live.nonEmpty && live.sameElements(batch))
  }

  test("live IVF maintenance: arrivals land in stored-centroid cells, " +
      "updated index serves exactly, compaction preserves it") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_live").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivf_ckpt").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    Similarity.ivfBuildIndex(spark, emb.filter(col("id") < 400), dir, nLists = 8)
    val q = Streaming.maintainIvfIndex(
      Streaming.embeddingsStream(spark, sf).filter(col("vec_id") >= 400)
        .select(col("vec_id").as("id"), col("embedding")),
      dir, ckpt)
    try q.processAllAvailable() finally q.stop()
    // every arrival exactly once, in the cell the STORED centroids assign
    val centroids = Similarity.readCentroids(spark, dir)
    val delta = spark.read.parquet(s"$dir/delta")
      .select(col("id"), col("cell")).collect().map(_.toString).sorted
    val expected = Similarity
      .assignCells(emb.filter(col("id") >= 400), centroids)
      .select(col("id"), col("cell")).collect().map(_.toString).sorted
    assert(delta.nonEmpty && delta.sameElements(expected))
    // full-probe serving over the LIVE index == brute force over the
    // full corpus (base + arrivals): the delta rows are first-class
    val queries = emb.filter(col("id") < 10)
    def served = batchRows(
      Similarity.ivfTopKIndexed(spark, queries, dir, k = 5, nProbe = 8))
    val exact = batchRows(Similarity.bruteForceTopK(queries, emb, 5))
    assert(served.sameElements(exact))
    // ...and ARRIVAL vectors are served as neighbors (several of these
    // queries' exact top-5s are stream-arrived ids), so delta rows are
    // provably first-class, not just carried dead weight
    assert(Similarity.ivfTopKIndexed(spark, queries, dir, k = 5, nProbe = 8)
      .filter(col("neighbor_id") >= 400).count() >= 1)
    // compaction folds deltas into the base without changing what serves
    Similarity.ivfCompactIndex(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta")))
    assert(served.sameElements(exact))
    // CRASH WINDOW between the compaction's commit and its delta
    // deletion: resurrect an already-folded batch dir — the recorded
    // folded-through high-water must keep serving WITHOUT duplicates,
    // and the next compaction just deletes the leftover
    val leftover = Similarity.assignCells(
      emb.filter(col("id") >= 400), centroids)
    leftover.write.partitionBy("cell").parquet(s"$dir/delta/batch=0")
    assert(served.sameElements(exact), "folded leftovers must be excluded")
    Similarity.ivfCompactIndex(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta")))
    assert(served.sameElements(exact))
    // a RECYCLED batch id with DIFFERENT content (a wiped-checkpoint
    // lineage) must not be silently destroyed: compaction refuses
    Similarity.assignCells(emb.filter(col("id") < 50), centroids)
      .write.partitionBy("cell").parquet(s"$dir/delta/batch=0")
    val e = intercept[RuntimeException] {
      Similarity.ivfCompactIndex(spark, dir)
    }
    assert(e.getMessage.contains("recycled batch ids"))
    // the operator-documented recovery: rebuild the index — which
    // fences and supersedes every delta in its own commit
    Similarity.ivfBuildIndex(spark, emb, dir, nLists = 8)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta")))
    assert(served.sameElements(exact))
  }

  test("rebuild after a fold-all compaction RESETS the delta fence: a " +
      "fresh-lineage stream's batch 0 is accepted, not refused") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_fence").toString
    val ckpt1 = java.nio.file.Files.createTempDirectory("graft_ivf_fck1").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_ivf_fck2").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    Similarity.ivfBuildIndex(spark, emb.filter(col("id") < 400), dir, nLists = 8)
    val q1 = Streaming.maintainIvfIndex(
      Streaming.embeddingsStream(spark, sf)
        .filter(col("vec_id") >= 400 && col("vec_id") < 450)
        .select(col("vec_id").as("id"), col("embedding")), dir, ckpt1)
    try q1.processAllAvailable() finally q1.stop()
    // compaction folds every live delta and stamps the fence high-water
    Similarity.ivfCompactIndex(spark, dir)
    assert(Similarity.foldedState(spark, s"$dir/corpus")._1 >= 0L)
    // rebuild with NO live deltas: commitRewrite merges snap.meta ++
    // meta, so the rebuild must stamp the RESET fence explicitly — an
    // empty fence map would inherit the stale fold and permanently
    // refuse the fresh lineage's batches 0..fence-1
    Similarity.ivfBuildIndex(spark, emb.filter(col("id") < 450), dir, nLists = 8)
    assert(Similarity.foldedState(spark, s"$dir/corpus") == ((-1L, Map.empty)))
    // ...so a NEW stream lineage (fresh checkpoint, batch ids from 0)
    // attaches cleanly where the stale fence would have sys.error'd
    val q2 = Streaming.maintainIvfIndex(
      Streaming.embeddingsStream(spark, sf).filter(col("vec_id") >= 450)
        .select(col("vec_id").as("id"), col("embedding")), dir, ckpt2)
    try q2.processAllAvailable() finally q2.stop()
    assert(q2.exception.isEmpty, s"fresh lineage refused: ${q2.exception}")
    val queries = emb.filter(col("id") < 10)
    val served = batchRows(
      Similarity.ivfTopKIndexed(spark, queries, dir, k = 5, nProbe = 8))
    val exact = batchRows(Similarity.bruteForceTopK(queries, emb, 5))
    assert(served.sameElements(exact))
  }

  test("live band-index maintenance: admitted arrivals join the screen's " +
      "store; grown store == rebuilt store; replay is idempotent") {
    import graft.llm.Dedup
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_band_idx").toString
    val out = java.nio.file.Files.createTempDirectory("graft_band_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_band_ckpt").toString
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 300)
    val arrivalsPred = col("doc_id") >= 300 && col("doc_id") < 400
    val arrivals = docs.filter(arrivalsPred)
    Dedup.writeBandIndexStore(corpus, col("doc_id"), col("text"), idx)
    def runStream(): Unit = {
      val q = screenAndMaintainQuery(idx, out, ckpt, arrivalsPred)
      try q.processAllAvailable() finally q.stop()
    }
    runStream()
    // single-file source ⇒ one micro-batch: live verdicts == the batch
    // screen against the base corpus
    val live = spark.read.parquet(out)
      .select("doc_id", "match_id", "jaccard").collect().map(_.toString).sorted
    val oneShot = batchRows(Dedup.nearDupScreen(
      arrivals, corpus, col("doc_id"), col("text")))
    assert(live.nonEmpty && live.sameElements(oneShot))
    // the GROWN store (base + admitted deltas) screens later probes
    // exactly like a store rebuilt over corpus ∪ admitted
    val admitted = arrivals.join(
      spark.read.parquet(out).select("doc_id"), Seq("doc_id"), "left_anti")
    assert(admitted.count() > 0)
    // plant one probe duplicating an admitted arrival, so delta rows are
    // provably served (not just carried)
    val aRow = admitted.select("doc_id", "text").orderBy(col("doc_id")).first()
    val probes = docs.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(Seq((99999L, aRow.getString(1))).toDF("doc_id", "text"))
    val (bandsDf, shDf) = Dedup.readBandIndexStore(spark, idx)
    val viaStore = batchRows(Dedup.nearDupScreen(
      probes, col("doc_id"), col("text"), bandsDf, shDf))
    val grown = corpus.select("doc_id", "text")
      .unionByName(admitted.select("doc_id", "text"))
    val viaRebuild = batchRows(Dedup.nearDupScreen(
      probes, grown, col("doc_id"), col("text")))
    assert(viaStore.sameElements(viaRebuild))
    assert(viaStore.exists(_.startsWith(s"[99999,${aRow.getLong(0)},")),
      "planted duplicate of an admitted arrival must match it via the store")
    // materialize the store content NOW — the replay below overwrites
    // the delta files, so pre-replay frames must not be re-collected
    val bandsBefore = batchRows(bandsDf)
    val shCountBefore = shDf.count()
    // replay idempotency: wipe the checkpoint and re-run — batch 0
    // re-screens EXCLUDING its own delta, so verdicts and store repeat
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmTree)
      java.nio.file.Files.delete(p)
    }
    rmTree(java.nio.file.Paths.get(ckpt))
    runStream()
    val replayed = spark.read.parquet(out)
      .select("doc_id", "match_id", "jaccard").collect().map(_.toString).sorted
    assert(replayed.sameElements(live))
    val (b2, s2) = Dedup.readBandIndexStore(spark, idx)
    assert(batchRows(b2).sameElements(bandsBefore))
    assert(s2.count() == shCountBefore)
  }

  private def screenAndMaintainQuery(idx: String, out: String, ckpt: String,
      pred: org.apache.spark.sql.Column) =
    Streaming.screenAndMaintain(
      Streaming.documentsStream(spark, sf).filter(pred), idx, out, ckpt)

  test("pre-manifest IVF index: first compaction adopts it into the " +
      "manifest protocol, serving unchanged") {
    import graft.llm.Similarity
    import graft.sources.Manifest
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_legacy").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    Similarity.ivfBuildIndex(spark, emb.filter(col("id") < 400), dir, nLists = 8)
    // de-manifest to the pre-protocol layout: hoist the snapshot's
    // cell= directories to the corpus root, drop the manifest
    val corpus = java.nio.file.Paths.get(s"$dir/corpus")
    val v1 = java.nio.file.Files.list(corpus).filter(p =>
        p.getFileName.toString.startsWith(Manifest.dataDirName(1)))
      .findFirst().get()
    java.nio.file.Files.list(v1).forEach { p =>
      if (p.getFileName.toString.startsWith("cell="))
        java.nio.file.Files.move(p, corpus.resolve(p.getFileName))
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmTree)
      java.nio.file.Files.delete(p)
    }
    rmTree(v1); rmTree(corpus.resolve("_manifest"))
    assert(!Manifest.isManifested(spark, s"$dir/corpus"))
    // a delta batch in the maintenance layout, then compaction
    val centroids = Similarity.readCentroids(spark, dir)
    Similarity.assignCells(emb.filter(col("id") >= 400), centroids)
      .withColumn("batch", lit(0L))
      .write.partitionBy("batch", "cell").parquet(s"$dir/delta")
    val queries = emb.filter(col("id") < 10)
    val before = batchRows(
      Similarity.ivfTopKIndexed(spark, queries, dir, k = 5, nProbe = 8))
    Similarity.ivfCompactIndex(spark, dir)
    assert(Manifest.isManifested(spark, s"$dir/corpus"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta")))
    val after = batchRows(
      Similarity.ivfTopKIndexed(spark, queries, dir, k = 5, nProbe = 8))
    assert(after.nonEmpty && after.sameElements(before))
  }

  test("live IVFADC maintenance: arrivals take the stored model's cells and " +
      "codes; exhaustive serve == flat pqTopK over the grown corpus; " +
      "compaction preserves the serve") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfadc_live").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ivfadc_ckpt").toString
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
    Similarity.ivfadcBuildIndex(spark, emb.filter(col("id") < 400), dir,
      nLists = 8, m = 8, ksub = 16)
    val q = Streaming.maintainIvfAdcIndex(
      Streaming.embeddingsStream(spark, sf).filter(col("vec_id") >= 400)
        .select(col("vec_id").as("id"), col("embedding")),
      dir, ckpt)
    try q.processAllAvailable() finally q.stop()
    // every arrival exactly once, with the cell AND codes a rebuild
    // under the stored centroids + codebooks would assign
    val centroids = Similarity.readCentroids(spark, dir)
    val cbs = Similarity.readCodebooks(spark, dir)
    val delta = spark.read.parquet(s"$dir/delta")
      .select("id", "cell", "codes").collect().map(_.toString).sorted
    val expected = Similarity.assignCells(emb.filter(col("id") >= 400), centroids)
      .withColumn("codes", graft.functions.PqEncode(col("embedding"), cbs))
      .select("id", "cell", "codes").collect().map(_.toString).sorted
    assert(delta.nonEmpty && delta.sameElements(expected))
    // exhaustive probe over the LIVE index == flat pqTopK over the grown
    // corpus under the stored codebooks — delta rows are first-class in
    // the compressed scan, not just carried
    val queries = emb.filter(col("id") < 10)
    def served = batchRows(Similarity.ivfadcTopK(spark, queries, dir,
      k = 5, nProbe = 8, rerank = 64))
    val flat = batchRows(Similarity.pqTopK(queries, emb, 5, m = 8,
      ksub = 16, rerank = 64, codebooks = cbs))
    val beforeCompact = served
    assert(beforeCompact.sameElements(flat))
    assert(Similarity.ivfadcTopK(spark, queries, dir, 5, nProbe = 8, rerank = 64)
      .filter(col("neighbor_id") >= 400).count() >= 1)
    // compaction folds the coded deltas into the next snapshot unchanged
    Similarity.ivfCompactIndex(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/delta")))
    assert(served.sameElements(flat))
  }

  test("live decontamination: per-batch keep-lists union to the batch keep-list") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_decon_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_decon_ckpt").toString
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("source") === "src0")
    val arrivals = docs.filter(col("source") =!= "src0")
    val q = Streaming.decontaminateArrivals(
      Streaming.documentsStream(spark, sf).filter(col("source") =!= "src0"),
      bench, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val batch = graft.llm.Decontaminate.decontaminated(
        arrivals, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), n = 4, minHits = 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(live.nonEmpty && live.sameElements(batch))
    // the gate actually dropped something (planted overlaps exist)
    assert(live.length < arrivals.count())
  }

  test("session sequences from a LIVE stream equal the batch extraction") {
    import graft.llm.Sessions
    val live = runStream(
      Sessions.sessionSequences(Streaming.eventsStream(spark, sf)),
      "session_seqs")
    val batch = batchRows(Sessions.sessionSequences(Tables.events(spark, sf)))
    assert(live.nonEmpty && live.sameElements(batch))
  }

  test("live exact-dup screen: bloom verdicts on a stream equal the batch screen") {
    import org.apache.spark.sql.functions.col
    import graft.llm.Dedup
    val out = java.nio.file.Files.createTempDirectory("graft_exd_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_exd_ckpt").toString
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(col("doc_id") % 3 =!= 0)
    val arr = docs.filter(col("doc_id") % 3 === 0)
    val bloom = Dedup.historyBloom(hist, col("text"), expectedItems = 10000L)
    val fps = hist.select(org.apache.spark.sql.functions.md5(col("text"))).distinct()
    val q = Streaming.screenExactArrivals(
      Streaming.documentsStream(spark, sf).filter(col("doc_id") % 3 === 0),
      bloom, fps, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(out).select("doc_id", "is_dup")
      .collect().map(_.toString).sorted
    val batch = Dedup.bloomExactScreen(arr, col("doc_id"), col("text"), bloom, fps)
      .select("doc_id", "is_dup").collect().map(_.toString).sorted
    assert(live.nonEmpty && live.sameElements(batch))
  }

  test("live PII scrub: per-batch outputs equal the one-shot batch scrub") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val out = java.nio.file.Files.createTempDirectory("graft_pii_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pii_ckpt").toString
    // plant PII on the live side the same deterministic way q163 does
    def withPii(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text", concat(col("text"),
        lit(" ping user"), col("doc_id").cast("string"), lit("@ex.org")))
    val q = Streaming.scrubArrivals(
      withPii(Streaming.documentsStream(spark, sf)), out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(out)
      .select("doc_id", "n_email", "has_pii", "text_redacted")
      .collect().map(_.toString).sorted
    val batch = graft.llm.Pii.scrub(
        withPii(Tables.documents(spark, sf)), col("doc_id"), col("text"))
      .select("doc_id", "n_email", "has_pii", "text_redacted")
      .collect().map(_.toString).sorted
    assert(live.nonEmpty && live.sameElements(batch))
    // every arriving doc carried (and lost) its planted address
    assert(spark.read.parquet(out)
      .filter(col("n_email") >= 1 &&
        !col("text_redacted").contains("@")).count()
      == spark.read.parquet(out).count())
  }

  test("live perplexity gate: arrivals scored under the stored KN model == batch") {
    import graft.llm.LangModel
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files.createTempDirectory("graft_lm_store").toString
    val out = java.nio.file.Files.createTempDirectory("graft_lm_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lm_ckpt").toString
    val docs = Tables.documents(spark, sf)
    // offline: train on the curated corpus (everything but src0), store
    LangModel.writeTrigramModel(LangModel.trainTrigramModel(
      docs.filter(col("source") =!= "src0"), col("doc_id"), col("text")), store)
    val stored = LangModel.readTrigramModel(spark, store)
    // live: score arriving src0 docs under the FROZEN stored model
    val q = Streaming.scoreArrivals(
      Streaming.documentsStream(spark, sf).filter(col("source") === "src0"),
      stored, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(out)
      .select("doc_id", "n_trigrams", "logprob")
      .collect().map(_.toString).sorted
    val batch = LangModel.kneserNeyScoreAgainst(stored,
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"))
      .select("doc_id", "n_trigrams", "logprob")
      .collect().map(_.toString).sorted
    assert(live.nonEmpty && live.sameElements(batch))
    // and the stored-model round trip didn't perturb a single score:
    // the same split scored under the in-memory model is identical
    val direct = LangModel.kneserNeyScoreAgainst(
        LangModel.trainTrigramModel(
          docs.filter(col("source") =!= "src0"), col("doc_id"), col("text")),
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"))
      .select("doc_id", "n_trigrams", "logprob")
      .collect().map(_.toString).sorted
    assert(batch.sameElements(direct))
  }

  test("widened live scrub runs the full round-13 pattern set") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val out = java.nio.file.Files.createTempDirectory("graft_piiw_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_piiw_ckpt").toString
    // plant an IBAN — only the widened pattern set catches it
    def withIban(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text", concat(col("text"),
        lit(" iban GB29NWBK6016"),
        org.apache.spark.sql.functions.lpad(
          (col("doc_id") % 100000000).cast("string"), 8, "0")))
    val q = Streaming.scrubArrivals(
      withIban(Streaming.documentsStream(spark, sf)), out, ckpt, widened = true)
    try q.processAllAvailable() finally q.stop()
    val live = spark.read.parquet(out)
      .select("doc_id", "n_iban", "has_pii", "text_redacted")
      .collect().map(_.toString).sorted
    val batch = graft.llm.Pii.scrubAll(
        withIban(Tables.documents(spark, sf)), col("doc_id"), col("text"))
      .select("doc_id", "n_iban", "has_pii", "text_redacted")
      .collect().map(_.toString).sorted
    assert(live.nonEmpty && live.sameElements(batch))
    assert(spark.read.parquet(out).filter(col("n_iban") >= 1).count()
      == spark.read.parquet(out).count())
  }

  test("manifest sink: streamed docs land as append commits exactly once; " +
      "a wiped-checkpoint replay appends nothing") {
    import graft.sources.Manifest
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_msink").toString
    val tbl = s"$dir/docs"
    def run(ckpt: String): Unit = {
      val q = Streaming.sinkToManifest(
        Streaming.documentsStream(spark, sf).select("doc_id", "source"),
        tbl, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run(java.nio.file.Files.createTempDirectory("graft_msink_c1").toString)
    val expected = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(_.toString).sorted
    val landed = Manifest.read(spark, tbl).collect().map(_.toString).sorted
    assert(landed.nonEmpty && landed.sameElements(expected))
    val versions = Manifest.versions(spark, tbl)
    assert(Manifest.currentSnapshot(spark, tbl).get.meta
      .get("stream_batch").contains("0"))
    // crash-then-replay with a FRESH checkpoint: the source replays the
    // same batch id with the same content; the recorded commit metadata
    // makes the sink skip it — content and version chain unchanged
    run(java.nio.file.Files.createTempDirectory("graft_msink_c2").toString)
    assert(Manifest.versions(spark, tbl) == versions)
    assert(Manifest.read(spark, tbl).collect().map(_.toString).sorted
      .sameElements(expected))
    // the commit protocol stays fully composable after streaming:
    // compaction is just the next version, content identical — and the
    // batch high-water mark INHERITS through it
    Manifest.compact(spark, tbl, targetBytes = 1L << 30)
    assert(Manifest.read(spark, tbl).collect().map(_.toString).sorted
      .sameElements(expected))
    assert(Manifest.currentSnapshot(spark, tbl).get.meta
      .get("stream_batch").contains("0"))
    // the hard case: compaction + vacuum erase every manifest the sink
    // itself wrote; a wiped-checkpoint replay must STILL append nothing,
    // which only metadata inheritance guarantees
    Manifest.vacuum(spark, tbl, keep = 1)
    run(java.nio.file.Files.createTempDirectory("graft_msink_c3").toString)
    assert(Manifest.read(spark, tbl).collect().map(_.toString).sorted
      .sameElements(expected))
  }

  test("manifest sink lineage protection: same id with different content " +
      "or a below-high-water id fails loudly instead of silently dropping") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_msink_lin").toString
    val tbl = s"$dir/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    Streaming.landBatchExactlyOnce(tbl, b0, 2L)
    assert(Manifest.read(spark, tbl).count() == 2)
    // identical replay of the landed batch: the exactly-once skip
    Streaming.landBatchExactlyOnce(tbl, b0, 2L)
    assert(Manifest.versions(spark, tbl) == Seq(1L))
    // same id, DIFFERENT content — a fresh checkpoint over a grown
    // source; the old high-water check silently dropped the new rows
    val grown = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    val e1 = intercept[RuntimeException] {
      Streaming.landBatchExactlyOnce(tbl, grown, 2L)
    }
    assert(e1.getMessage.contains("DIFFERENT content"))
    // an id below the recorded high-water: a restarted lineage
    val e2 = intercept[RuntimeException] {
      Streaming.landBatchExactlyOnce(tbl, b0, 1L)
    }
    assert(e2.getMessage.contains("below"))
    assert(Manifest.read(spark, tbl).count() == 2, "nothing landed twice")
  }

  test("live curation pipeline: all four gates + frozen stores + " +
      "exactly-once landing == the batch pipeline over the same arrivals") {
    import graft.llm.{Dedup, LangModel, Pii, TextAnalysis}
    import graft.sources.Manifest
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_curate").toString
    val (bandPath, lmPath, tbl) = (s"$dir/bands", s"$dir/lm", s"$dir/t")
    val docs = Tables.documents(spark, sf)
    // offline artifacts over the curated corpus' REDACTED text
    def redact(df: org.apache.spark.sql.DataFrame) =
      df.drop("text").join(
        Pii.scrubAll(df, col("doc_id"), col("text"))
          .select(col("doc_id"), col("text_redacted").as("text")), "doc_id")
    val corpus = redact(docs.filter(col("source") =!= "src0"))
    Dedup.writeBandIndexStore(corpus, col("doc_id"), col("text"), bandPath)
    LangModel.writeTrigramModel(LangModel.trainTrigramModel(
      corpus, col("doc_id"), col("text")), lmPath)
    def run(ckpt: String): Unit = {
      val q = Streaming.curateArrivals(
        Streaming.documentsStream(spark, sf).filter(col("source") === "src0"),
        bandPath, lmPath, tbl, ckpt,
        minWords = 20, minStopHits = 1, logprobMin = -20.0)
      try q.processAllAvailable() finally q.stop()
    }
    run(java.nio.file.Files.createTempDirectory("graft_curate_c1").toString)
    // the batch mirror: same stages, same frozen stores
    val arrivals = docs.filter(col("source") === "src0")
    val gated = arrivals.join(
      TextAnalysis.gopherRules(arrivals, col("doc_id"), col("text"),
          minWords = 20, minStopHits = 1)
        .filter(col("kept")).select("doc_id"), Seq("doc_id"), "left_semi")
    val red = redact(gated)
    val (bands, shingles) = Dedup.readBandIndexStore(spark, bandPath)
    val admitted = red.join(
      Dedup.nearDupScreen(red, col("doc_id"), col("text"), bands, shingles)
        .select("doc_id"), Seq("doc_id"), "left_anti")
    val expected = admitted.join(
      LangModel.kneserNeyScoreAgainst(
          LangModel.readTrigramModel(spark, lmPath), admitted,
          col("doc_id"), col("text"))
        .filter(col("logprob") >= -20.0).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id", "text").collect().map(_.toString).sorted
    val landed = Manifest.read(spark, tbl)
      .select("doc_id", "text").collect().map(_.toString).sorted
    assert(landed.nonEmpty && landed.sameElements(expected))
    assert(landed.length < arrivals.count(), "some arrivals were gated out")
    // wiped-checkpoint replay: re-screens against the same frozen
    // stores, then skips at the commit — nothing lands twice
    run(java.nio.file.Files.createTempDirectory("graft_curate_c2").toString)
    assert(Manifest.read(spark, tbl)
      .select("doc_id", "text").collect().map(_.toString).sorted
      .sameElements(expected))
  }

  test("streaming dedup drops duplicate event_ids") {
    val deduped = Streaming.dedupedEvents(Streaming.eventsStream(spark, sf))
      .groupBy("event_type").count()
    val stream = runStream(deduped, "dedup")
    val batch = batchRows(Tables.events(spark, sf).groupBy("event_type").count())
    assert(stream.sameElements(batch)) // fixture ids unique -> no-op dedup
  }

  test("exactly-once streaming upsert sink: keyed micro-batches merge " +
      "on read, replays skip, lineage divergence and ambiguity refuse") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_musink").toString
    val tbl = s"$dir/t"
    def rows = Manifest.read(spark, tbl).collect().map(_.toString).sorted.toSeq
    // batch 0 creates the table
    val b0 = Seq((1L, "a1", 10L), (2L, "a2", 10L), (3L, "a3", 10L))
      .toDF("id", "s", "seq")
    Streaming.upsertBatchExactlyOnce(tbl, b0, 0L, Seq("id"), Some("seq"))
    assert(Manifest.read(spark, tbl).count() == 3)
    // batch 1: update 2 (two versions — seq winner), insert 4; ONE
    // commit: every base file carried, mask + append together
    val v1Paths = Manifest.currentSnapshot(spark, tbl).get.paths.toSet
    val b1 = Seq((2L, "a2v1", 11L), (2L, "a2v2", 12L), (4L, "a4", 11L))
      .toDF("id", "s", "seq")
    Streaming.upsertBatchExactlyOnce(tbl, b1, 1L, Seq("id"), Some("seq"))
    val s2 = Manifest.currentSnapshot(spark, tbl).get
    assert(s2.version == 2L && v1Paths.subsetOf(s2.paths.toSet))
    assert(s2.meta.contains("delete_vectors"))
    val expected = Seq((1L, "a1", 10L), (2L, "a2v2", 12L),
      (3L, "a3", 10L), (4L, "a4", 11L))
      .toDF("id", "s", "seq").collect().map(_.toString).sorted.toSeq
    assert(rows == expected)
    // identical replay of batch 1 (fresh-checkpoint crash shape): skip
    Streaming.upsertBatchExactlyOnce(tbl, b1, 1L, Seq("id"), Some("seq"))
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L) && rows == expected)
    // same id, different content: loud refusal
    val e1 = intercept[RuntimeException](Streaming.upsertBatchExactlyOnce(
      tbl, b1.limit(1), 1L, Seq("id"), Some("seq")))
    assert(e1.getMessage.contains("DIFFERENT content"))
    // a tied order column with different rows: loud refusal
    val tied = Seq((5L, "x", 7L), (5L, "y", 7L)).toDF("id", "s", "seq")
    val e2 = intercept[RuntimeException](Streaming.upsertBatchExactlyOnce(
      tbl, tied, 2L, Seq("id"), Some("seq")))
    assert(e2.getMessage.contains("tied"))
    // duplicate keys without an order column: loud refusal
    val e3 = intercept[RuntimeException](Streaming.upsertBatchExactlyOnce(
      tbl, tied, 2L, Seq("id"), None))
    assert(e3.getMessage.contains("duplicate keys"))
    // the real stream driver end-to-end: upsert the documents stream
    // into a fresh table keyed by doc_id (single batch ⇒ pure create)
    val tbl2 = s"$dir/t2"
    val q = Streaming.upsertToManifest(
      Streaming.documentsStream(spark, sf).select("doc_id", "source"),
      tbl2, java.nio.file.Files.createTempDirectory("graft_musink_c").toString,
      Seq("doc_id"))
    try q.processAllAvailable() finally q.stop()
    assert(Manifest.read(spark, tbl2).count() ==
      graft.cubes.Tables.documents(spark, sf).count())
    // fold maintenance composes
    Manifest.foldDeletes(spark, tbl)
    assert(rows == expected)
  }

  test("fused fingerprint+key-hygiene aggregation equals the separate " +
      "passes: identical fingerprint string, exact dup/NULL flag") {
    import spark.implicits._
    def check(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
        expectDup: Boolean): Unit = {
      val (fp0, n0) = Streaming.contentFingerprint(df)
      val (fp1, n1, dup) = Streaming.fingerprintAndKeyCheck(df, keys)
      assert(fp1 == fp0, s"fused fingerprint drifted: $fp1 vs $fp0")
      assert(n1 == n0)
      assert(dup == expectDup)
    }
    val clean = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", -1.0))
      .toDF("id", "s", "v")
    check(clean, Seq("id"), expectDup = false)
    // duplicate key (different payloads)
    check(clean.unionAll(Seq((2L, "zz", 9.9)).toDF("id", "s", "v")),
      Seq("id"), expectDup = true)
    // NULL key component flags even without duplicates
    check(Seq((Some(1L), "a"), (None, "b")).toDF("id", "s"),
      Seq("id"), expectDup = true)
    // composite keys
    check(clean.withColumn("k2", $"id" % 2), Seq("id", "k2"),
      expectDup = false)
    // empty frame: "0:0", zero rows, no dup
    val empty = clean.limit(0)
    check(empty, Seq("id"), expectDup = false)
    assert(Streaming.contentFingerprint(empty)._1 == "0:0")
  }
}
