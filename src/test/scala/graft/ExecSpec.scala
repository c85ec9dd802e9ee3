package graft

import graft.cubes.Cubes
import graft.exec.{CubeRunner, DatabaseRegistry}
import graft.model.CubeQueryException
import graft.query.Pred
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExecSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkEntry.session(4)

  private val registry = DatabaseRegistry.paths(
    Map("tiny" -> "/root/testdata/sf0.001", "small" -> "/root/testdata/sf0.01"),
    default = "tiny")

  private val doc =
    """{"fields": [{"name": "count", "alias": "cnt"}]}"""

  test("O17: database routing picks the named connection") {
    val tiny = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc)
    val small = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc,
      database = Some("small"))
    val (a, b) = (tiny.rows.head.getLong(0), small.rows.head.getLong(0))
    assert(a > 0 && b > 5 * a, s"sf0.01 ($b) should dwarf sf0.001 ($a)")
  }

  test("O17: heterogeneous catalogs — one query routed to parquet AND a JDBC warehouse") {
    import graft.model.{Cube, Dimension, Metric, Selector}
    import graft.sources.{Catalog, JdbcCatalog, PathCatalog}
    import org.apache.spark.sql.functions.col
    // seed an in-memory Derby warehouse from the fixture (the spec-local
    // stand-in for the reference's named ClickHouse connection)
    val url = "jdbc:derby:memory:graftdb;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    graft.cubes.Tables.load(spark, "/root/testdata/sf0.001", "region")
      .write.mode("overwrite").format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "region").save()

    val hetero = DatabaseRegistry(Map(
      "lake" -> PathCatalog("/root/testdata/sf0.001"),
      "warehouse" -> JdbcCatalog(url, Map("driver" -> driver))), default = "lake")
    def regionCube(s: SparkSession, cat: Catalog): Cube = Cube(
      name = "region",
      fact = graft.cubes.Tables.table(s, cat, "region"),
      dimensions = Map("name" -> Dimension("name", col("r_name"))),
      metrics = Map("count" -> Metric.countAll("count")),
      selectors = Map("name" -> Selector("name", col("r_name"))))
    val rdoc =
      """{"fields": [{"name": "name"}, {"name": "count", "alias": "cnt"}],
          "args": {"options": {"asc": "name"}}}"""

    val lake = CubeRunner.execute(spark, hetero, regionCube, rdoc)
    val wh = CubeRunner.execute(spark, hetero, regionCube, rdoc,
      database = Some("warehouse"))
    assert(lake.rows.nonEmpty)
    assert(lake.rows.map(_.toString) == wh.rows.map(_.toString))
    assert(lake.columns == wh.columns)
  }

  test("O17: unknown database raises") {
    val e = intercept[CubeQueryException](CubeRunner.execute(
      spark, registry, Cubes.lineitemCube, doc, database = Some("prod")))
    assert(e.getMessage.contains("unknown database"))
  }

  test("O18: query hook scopes the query before compilation") {
    val unhooked = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc)
    val hooked = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc,
      hook = _.when(Pred.eq("returnFlag", "R")))
    assert(hooked.rows.head.getLong(0) < unhooked.rows.head.getLong(0))
    assert(hooked.rows.head.getLong(0) > 0)
  }

  test("plan cache: statsOnly plans are never memoized — a cached " +
      "serve would replay a frozen LocalRelation after the table moved") {
    import graft.sources.Manifest
    import graft.model.{Cube, Metric}
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("exec_statsonly").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val cubeFor = (s: SparkSession, _: graft.sources.Catalog) =>
      Cube("t", Manifest.read(s, tbl),
        dimensions = Map.empty, metrics = Map("n" -> Metric.countAll("n")),
        selectors = Map.empty, manifestTable = Some(tbl))
    val cache = new graft.exec.PlanCache()
    val sdoc = """{"fields": [{"name": "n", "alias": "n"}],
                   "args": {"options": {"statsOnly": true}}}"""
    val r1 = CubeRunner.execute(spark, registry, cubeFor, sdoc,
      cache = Some(cache))
    Manifest.commitAppend(spark, tbl, Seq((3L, 30L)).toDF("id", "v"))
    val r2 = CubeRunner.execute(spark, registry, cubeFor, sdoc,
      cache = Some(cache))
    assert(r1.rows.head.getLong(0) == 2)
    assert(r2.rows.head.getLong(0) == 3,
      "second execution must re-serve the moved table, not a cached row")
    assert(cache.hits == 0 && cache.misses == 0,
      s"statsOnly must bypass the cache: hits=${cache.hits} misses=${cache.misses}")
    // the SOURCE form of the same hazard: a plain (non-statsOnly)
    // query on a manifested cube resolves the snapshot at compile —
    // caching it would keep serving the old version after a commit
    val pdoc = """{"fields": [{"name": "n", "alias": "n"}]}"""
    val p1 = CubeRunner.execute(spark, registry, cubeFor, pdoc,
      cache = Some(cache))
    Manifest.commitAppend(spark, tbl, Seq((4L, 40L)).toDF("id", "v"))
    val p2 = CubeRunner.execute(spark, registry, cubeFor, pdoc,
      cache = Some(cache))
    assert(p1.rows.head.getLong(0) == 3 && p2.rows.head.getLong(0) == 4)
    assert(cache.hits == 0 && cache.misses == 0,
      s"manifested cubes must bypass the cache: hits=${cache.hits} misses=${cache.misses}")
  }

  test("plan cache: repeated query compiles once, results identical, keys scope by database") {
    val cache = new graft.exec.PlanCache()
    val doc2 =
      """{"fields": [{"name": "returnFlag", "alias": "flag"},
                     {"name": "count", "alias": "cnt"}],
          "args": {"options": {"asc": "flag"}}}"""
    val r1 = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc2,
      cache = Some(cache))
    val r2 = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc2,
      cache = Some(cache))
    assert(cache.misses == 1 && cache.hits == 1, s"hits=${cache.hits} misses=${cache.misses}")
    assert(r1.rows.map(_.toString) == r2.rows.map(_.toString) && r1.rows.nonEmpty)
    // a different database root is a different plan (reads different files)
    val r3 = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc2,
      database = Some("small"), cache = Some(cache))
    assert(cache.misses == 2)
    assert(r3.rows.map(_.getLong(1)).sum > r1.rows.map(_.getLong(1)).sum)
    // a hooked (tenant-scoped) query must NOT collide with the unhooked one
    val r4 = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc2,
      hook = _.when(Pred.eq("returnFlag", "R")), cache = Some(cache))
    assert(cache.misses == 3)
    assert(r4.rows.map(_.getLong(1)).sum < r1.rows.map(_.getLong(1)).sum)
  }

  test("concurrent serving: N threads, repeat + distinct queries, one build per shape, correct results") {
    // the serving-path race surface: many dashboard clients hitting one
    // CubeRunner + shared PlanCache. Contract under concurrency:
    // results are correct per shape, hit/miss accounting adds up, and
    // single-flight means each distinct shape compiles EXACTLY once no
    // matter how many threads race on its first request.
    val cache = new graft.exec.PlanCache()
    val shapes = Seq(
      """{"fields": [{"name": "count", "alias": "cnt"}]}""",
      """{"fields": [{"name": "returnFlag", "alias": "flag"},
                     {"name": "count", "alias": "cnt"}],
          "args": {"options": {"asc": "flag"}}}""",
      """{"fields": [{"name": "lineStatus", "alias": "st"},
                     {"name": "sumQty", "alias": "qty"}],
          "args": {"options": {"asc": "st"}}}""",
      """{"fields": [{"name": "returnFlag", "alias": "flag"},
                     {"name": "uniqueOrders", "alias": "uo"}],
          "args": {"quantity": {"gt": 10}, "options": {"asc": "flag"}}}""")
    // single-threaded reference results, computed WITHOUT the cache
    val expect = shapes.map { s =>
      s -> CubeRunner.execute(spark, registry, Cubes.lineitemCube, s)
        .rows.map(_.toString)
    }.toMap
    val nThreads = 8
    val iters = 5
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val barrier = new java.util.concurrent.CyclicBarrier(nThreads)
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try {
          barrier.await() // maximize first-build contention
          for (i <- 0 until iters; s <- shapes) {
            val r = CubeRunner.execute(spark, registry, Cubes.lineitemCube, s,
              cache = Some(cache))
            if (r.rows.map(_.toString) != expect(s))
              failures.add(s"thread $t iter $i: wrong rows for shape $s")
          }
        } catch { case e: Throwable => failures.add(s"thread $t: $e") }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    val calls = nThreads * iters * shapes.size
    assert(cache.misses == shapes.size,
      s"single-flight violated: ${cache.misses} builds for ${shapes.size} shapes")
    assert(cache.hits == calls - shapes.size,
      s"accounting: hits=${cache.hits} misses=${cache.misses} calls=$calls")
  }

  test("snapshot metrics bypass the plan cache: centroids must not be frozen by memoization") {
    // semanticSurvivors trains centroids AT COMPILE and bakes them as
    // literals — caching that plan would replay a stale index after the
    // table changes, so CubeRunner compiles it fresh every time
    val cache = new graft.exec.PlanCache()
    val doc =
      """{"fields": [
           {"name": "vectors"},
           {"name": "semanticSurvivors", "alias": "sv",
            "args": {"threshold": 0.9, "nLists": 1}}]}"""
    val r1 = CubeRunner.execute(spark, registry, Cubes.embeddingsCube, doc,
      cache = Some(cache))
    val r2 = CubeRunner.execute(spark, registry, Cubes.embeddingsCube, doc,
      cache = Some(cache))
    assert(cache.hits == 0 && cache.misses == 0,
      s"snapshot metric must not touch the cache: hits=${cache.hits} misses=${cache.misses}")
    assert(r1.rows.map(_.toString) == r2.rows.map(_.toString) && r1.rows.nonEmpty)
    // a cacheable query through the same cache still memoizes
    val plain = """{"fields": [{"name": "vectors", "alias": "n"}]}"""
    CubeRunner.execute(spark, registry, Cubes.embeddingsCube, plain, cache = Some(cache))
    CubeRunner.execute(spark, registry, Cubes.embeddingsCube, plain, cache = Some(cache))
    assert(cache.misses == 1 && cache.hits == 1)
  }

  test("plan cache is bounded: LRU eviction at maxEntries, access refreshes recency") {
    // a long-lived server accumulating distinct query shapes must not
    // grow without bound (janino classes pin metaspace)
    val cache = new graft.exec.PlanCache(maxEntries = 2)
    def df(n: Int) = spark.range(n).toDF()
    cache.getOrCompile("a")(df(1))
    cache.getOrCompile("b")(df(2))
    cache.getOrCompile("a")(df(1))           // touch a → b is now eldest
    cache.getOrCompile("c")(df(3))           // evicts b, not a
    assert(cache.misses == 3 && cache.hits == 1)
    cache.getOrCompile("a")(df(1))           // still cached
    assert(cache.hits == 2, "recently-used entry must survive eviction")
    cache.getOrCompile("b")(df(2))           // evicted → rebuilt
    assert(cache.misses == 4, "evicted entry must be a miss")
  }

  test("plan cache settles a repeat request into its first run's rows") {
    val cache = new graft.exec.PlanCache()
    val doc2 =
      """{"fields": [{"name": "returnFlag", "alias": "flag"},
                     {"name": "count", "alias": "cnt"}],
          "args": {"options": {"asc": "flag"}}}"""
    val runs = (1 to 3).map(_ => CubeRunner.execute(spark, registry,
      Cubes.lineitemCube, doc2, cache = Some(cache)))
    assert(runs.head.rows.nonEmpty)
    assert(runs(2).rows.map(_.toString) == runs.head.rows.map(_.toString))
    assert(runs(2).columns == runs.head.columns)
    assert(runs(2).stats.physicalPlan.contains("LocalTableScan"),
      runs(2).stats.physicalPlan)
    assert(cache.hits == 2 && cache.misses == 1,
      s"hits=${cache.hits} misses=${cache.misses}")
  }

  test("plan cache never settles a nondeterministic final stage, a plan " +
      "without an exchange, a final stage that scans, a result over the row cap, " +
      "or a settle that throws") {
    import org.apache.spark.sql.functions.{broadcast, col, rand, udf}
    def fixture(t: String) = spark.read.parquet(s"${registry.dir(None)}/$t.parquet")
    val cache = new graft.exec.PlanCache()
    val grouped = spark.range(100).groupBy((col("id") % 3).as("k")).count()
    val frames = Map(
      "rand" -> grouped.withColumn("r", rand()),
      "scan" -> fixture("region").limit(3),
      "join" -> fixture("nation").join(broadcast(fixture("region")),
        col("n_regionkey") === col("r_regionkey")),
      "cap" -> spark.range(0, 20000, 1, 2).repartition(3).select(
        udf((id: Long) => { ExecSpec.capRows.incrementAndGet(); id }).apply(col("id"))),
      "throws" -> grouped.withColumn("t",
        udf((k: Long) => { if (ExecSpec.failUdf) sys.error("boom"); k }).apply(col("k"))))
    frames.foreach { case (k, df) =>
      assert(cache.getOrCompile(k)(df) eq df)
      df.collect()
    }
    ExecSpec.capRows.set(0)
    ExecSpec.failUdf = true
    try frames.foreach { case (k, df) =>
      (1 to 3).foreach { _ =>
        assert(cache.getOrCompile(k)(sys.error("no rebuild")) eq df, k)
      }
    } finally ExecSpec.failUdf = false
    assert(ExecSpec.capRows.get == 20000,
      s"an over-cap entry is collected by one settle attempt, not per hit: ${ExecSpec.capRows.get}")
    // the positive control: the same aggregate without rand settles
    cache.getOrCompile("plain")(grouped).collect()
    val settled = cache.getOrCompile("plain")(sys.error("no rebuild"))
    assert(!(settled eq grouped))
    assert(settled.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.LocalTableScanExec])
    assert(settled.collect().toSeq == grouped.collect().toSeq)
    assert(cache.misses == 6 && cache.hits == 16)
  }

  /** SQL executions started while `body` runs, read after the listener
    * bus drains. */
  private def sqlExecutions[A](body: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            n.incrementAndGet()
          case _ =>
        }
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val flagCounts =
    """{"fields": [{"name": "returnFlag", "alias": "flag"},
                   {"name": "count", "alias": "cnt"}],
        "args": {"options": {"asc": "flag"}}}"""
  private def flagCountsVia(cache: graft.exec.PlanCache) =
    CubeRunner.execute(spark, registry, Cubes.lineitemCube, flagCounts, cache = Some(cache))

  test("a settled hit runs no Spark: five hits start 0 SQL executions and " +
      "return the first run's columns, rows and row schemas") {
    val cache = new graft.exec.PlanCache()
    def run() = flagCountsVia(cache)
    val first = run() // compiles
    run() // settles
    val (hits, n) = sqlExecutions((1 to 5).map(_ => run()))
    assert(n == 0, s"SQL executions over 5 settled hits: $n")
    assert(first.rows.nonEmpty)
    hits.foreach { r =>
      assert(r.columns == first.columns)
      assert(r.rows == first.rows)
      assert(r.rows.map(_.schema) == first.rows.map(_.schema))
      assert(r.stats.rowCount == first.rows.size)
      assert(r.stats.durationNs > 0)
      assert(r.stats.physicalPlan.contains("LocalTableScan"), r.stats.physicalPlan)
    }
    assert(cache.hits == 6 && cache.misses == 1)
  }

  test("the hit that settles collects once, and getOrCompile serves the " +
      "settled local frame") {
    val cache = new graft.exec.PlanCache()
    def run() = flagCountsVia(cache)
    val first = run()
    val (settling, n) = sqlExecutions(run())
    assert(n == 1, s"SQL executions on the settling hit: $n")
    assert(settling.rows == first.rows && settling.columns == first.columns)
    val cat = registry.catalog(None)
    val cube = Cubes.lineitemCube(spark, cat)
    val parsed = graft.parse.QueryParser.parse(cube, flagCounts)
    val frame = cache.getOrCompile(graft.exec.PlanCache.key(spark, cat.id, cube.name,
      nested = true, parsed.query, parsed.root))(sys.error("no rebuild"))
    assert(frame.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.LocalTableScanExec])
    assert(frame.collect().toSeq == first.rows)
    assert(cache.hits == 2 && cache.misses == 1)
  }

  test("O19: stats are filled without a listener: a miss and a hit on an " +
      "entry that never settles time their collect and name their own " +
      "source; a failing collect rethrows Spark's exception") {
    import graft.model.Metric
    import org.apache.spark.sql.functions.{count, lit, raise_error, rand}
    def withMetric(m: Metric) = (s: SparkSession, cat: graft.sources.Catalog) => {
      val c = Cubes.lineitemCube(s, cat)
      c.copy(metrics = c.metrics + (m.name -> m))
    }
    // rand() in the final stage: the entry never settles
    val noisy = withMetric(Metric("noisy", _ => count(lit(1)) + rand()))
    val ndoc = """{"fields": [{"name": "returnFlag", "alias": "flag"},
                              {"name": "noisy", "alias": "n"}]}"""
    val cache = new graft.exec.PlanCache()
    val runs = (1 to 3).map(_ => CubeRunner.execute(spark, registry, noisy, ndoc,
      cache = Some(cache)))
    assert(cache.misses == 1 && cache.hits == 2)
    runs.foreach { r =>
      assert(r.rows.nonEmpty && r.stats.rowCount == r.rows.size)
      assert(r.stats.durationNs > 0)
      assert(r.stats.physicalPlan.contains("lineitem") &&
        !r.stats.physicalPlan.contains("LocalTableScan"), r.stats.physicalPlan)
    }
    val failing = withMetric(Metric("boom", _ => count(raise_error(lit("boom")))))
    val e = intercept[Exception](CubeRunner.execute(spark, registry, failing,
      """{"fields": [{"name": "boom", "alias": "b"}]}"""))
    assert(e.isInstanceOf[org.apache.spark.SparkThrowable], e)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
  }

  test("O19: stats name the request's own plan while other queries run") {
    @volatile var stop = false
    val noise = new Thread(() => while (!stop) spark.range(1).collect())
    noise.start()
    try (1 to 3).foreach { _ =>
      val r = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc)
      assert(r.stats.physicalPlan.contains("lineitem") &&
        !r.stats.physicalPlan.contains("Range"), r.stats.physicalPlan)
    } finally { stop = true; noise.join() }
  }

  test("plan cache keys are typed: Int vs String args, list splits, separators never alias") {
    import graft.exec.PlanCache.canon
    // the toString trap: Op("flag","eq",Some(25)) and Op("flag","eq",Some("25"))
    // print identically but compile to different plans under coercion
    assert(canon(Pred.Op("flag", "eq", Some(25))) !=
      canon(Pred.Op("flag", "eq", Some("25"))))
    assert(canon(Pred.Op("flag", "eq", Some(25L))) !=
      canon(Pred.Op("flag", "eq", Some(25))))
    // list element boundaries are length-prefixed: ["a,b"] != ["a","b"]
    assert(canon(Seq("a,b")) != canon(Seq("a", "b")))
    // a value containing the old '§' separator cannot forge another key
    assert(canon(("a§b", "c")) != canon(("a", "b§c")))
    // stability: equal values, equal keys
    assert(canon(Pred.and(Pred.eq("f", "R"), Pred.gt("q", 3))) ==
      canon(Pred.and(Pred.eq("f", "R"), Pred.gt("q", 3))))
  }

  test("concurrent execution: parallel queries through one shared PlanCache stay correct") {
    val cache = new graft.exec.PlanCache()
    val flags = Seq("A", "N", "R")
    def docFor(flag: String) =
      s"""{"args": {"returnFlag": {"eq": "$flag"}},
           "fields": [{"name": "count", "alias": "cnt"}]}"""
    // sequential ground truth
    val expected = flags.map(f => f ->
      CubeRunner.execute(spark, registry, Cubes.lineitemCube, docFor(f))
        .rows.head.getLong(0)).toMap
    // 24 parallel executions over 3 query shapes hammer the same cache
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence(
      (1 to 24).map { i =>
        val f = flags(i % 3)
        Future(f -> CubeRunner.execute(spark, registry, Cubes.lineitemCube,
          docFor(f), cache = Some(cache)).rows.head.getLong(0))
      }), 120.seconds)
    results.foreach { case (f, n) => assert(n == expected(f), s"flag $f: $n") }
    // single-flight: each of the 3 shapes compiled exactly once
    assert(cache.misses == 3, s"cache over-compiled: misses=${cache.misses}")
    assert(cache.hits == 21)
  }

  test("ReadCache: one DataFrame per (session, path); distinct paths stay distinct") {
    val a = graft.sources.ReadCache.parquet(spark, "/root/testdata/sf0.001/region.parquet")
    val b = graft.sources.ReadCache.parquet(spark, "/root/testdata/sf0.001/region.parquet")
    assert(a eq b, "same session+path must share the memoized DataFrame")
    val c = graft.sources.ReadCache.parquet(spark, "/root/testdata/sf0.01/region.parquet")
    assert(!(a eq c) && a.count() == c.count()) // region is 5 rows at every SF
  }

  private val tiny = graft.sources.PathCatalog("/root/testdata/sf0.001")

  /** Runs `body` with the session time zone set to `zone`, restoring it. */
  private def withZone[A](zone: String)(body: => A): A = {
    val key = "spark.sql.session.timeZone"
    val old = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, old)
  }

  private val eventsHourly =
    """{"args": {"ts": {"between": ["2024-01-05 00:00:00", "2024-01-05 06:00:00"]}},
        "fields": [{"name": "ts", "fields": [{"name": "hour"}]},
                   {"name": "count", "alias": "cnt"}]}"""
  private def hourlyVia(cubeFor: (SparkSession, graft.sources.Catalog) => graft.model.Cube,
      cache: Option[graft.exec.PlanCache]): Seq[String] =
    CubeRunner.execute(spark, registry, cubeFor, eventsHourly,
      database = Some("small"), cache = cache).rows.map(_.toString).sorted

  test("plan cache keys carry the session time zone: after a zone switch a " +
      "cached request returns what an uncached one does") {
    val cache = new graft.exec.PlanCache()
    val utc = (1 to 3).map(_ => hourlyVia(Cubes.eventsCube, Some(cache))).last
    assert(utc.size == 6, utc)
    withZone("America/Los_Angeles") {
      val uncached = hourlyVia(Cubes.eventsCube, None)
      assert(uncached.size == 6 && uncached != utc,
        s"the zone should move the hours: $uncached")
      assert(hourlyVia(Cubes.eventsCube, Some(cache)) == uncached)
    }
    assert(cache.misses == 2 && cache.hits == 2,
      s"hits=${cache.hits} misses=${cache.misses}")
  }

  test("path-catalog cubes are memoized per (session, root, declaration, " +
      "time zone)") {
    val path: Seq[(SparkSession, graft.sources.Catalog) => graft.model.Cube] = Seq(
      Cubes.lineitemCube, Cubes.lineitemCubeWithRollup, Cubes.ordersCube,
      Cubes.salesCube, Cubes.documentsCube, Cubes.audioCube, Cubes.videoCube,
      Cubes.embeddingsCube, Cubes.eventsCube, Cubes.funnelCube,
      Cubes.eventsCubeWithSketchRollup)
    val built = path.map(_(spark, tiny))
    path.zip(built).foreach { case (f, c) => assert(f(spark, tiny) eq c, c.name) }
    assert(built.distinct.size == path.size, "each declaration is its own entry")
    assert(Cubes.lineitemCube(spark, tiny.root) eq Cubes.lineitemCube(spark, tiny))
    // another root, another session, another zone: another cube
    val li = Cubes.lineitemCube(spark, tiny)
    assert(!(Cubes.lineitemCube(spark, "/root/testdata/sf0.01") eq li))
    assert(!(Cubes.lineitemCube(spark.newSession(), tiny) eq li))
    val ev = Cubes.eventsCube(spark, tiny)
    withZone("America/Los_Angeles") {
      val la = Cubes.eventsCube(spark, tiny)
      assert(!(la eq ev) && (Cubes.eventsCube(spark, tiny) eq la))
    }
    assert(Cubes.eventsCube(spark, tiny) eq ev)
  }

  test("after a time-zone switch the memoized events cube answers like one " +
      "built without the memo") {
    val unmemoized = (s: SparkSession, cat: graft.sources.Catalog) =>
      Cubes.eventsCubeOver(graft.cubes.Tables.events(s, cat))
    val utc = hourlyVia(Cubes.eventsCube, None)
    assert(utc == hourlyVia(unmemoized, None))
    withZone("America/Los_Angeles") {
      val fresh = hourlyVia(unmemoized, None)
      assert(fresh != utc)
      assert(hourlyVia(Cubes.eventsCube, None) == fresh)
    }
  }

  test("a JDBC catalog's cube is built on every call") {
    import graft.sources.JdbcCatalog
    val url = "jdbc:derby:memory:graftmemo;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    graft.cubes.Tables.documents(spark, tiny.root)
      .write.mode("overwrite").format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", "documents").save()
    val jdbc = JdbcCatalog(url, Map("driver" -> driver))
    assert(!(Cubes.documentsCube(spark, jdbc) eq Cubes.documentsCube(spark, jdbc)))
  }

  test("a manifested fact copied onto the memoized base cube serves a " +
      "commit made between two requests") {
    import graft.sources.Manifest
    val dir = java.nio.file.Files.createTempDirectory("exec_memo_manifest").toString
    val tbl = s"$dir/lineitem"
    val li = graft.cubes.Tables.lineitem(spark, tiny.root)
    Manifest.create(spark, tbl, li.filter("l_returnflag = 'R'"))
    val cubeFor = (s: SparkSession, cat: graft.sources.Catalog) =>
      Cubes.lineitemCube(s, cat).copy(fact = Manifest.read(s, tbl), manifestTable = Some(tbl))
    val cache = new graft.exec.PlanCache()
    def count() = CubeRunner.execute(spark, registry, cubeFor, doc, cache = Some(cache))
      .rows.head.getLong(0)
    val before = count()
    Manifest.commitAppend(spark, tbl, li.filter("l_returnflag = 'A'"))
    val after = count()
    assert(before == li.filter("l_returnflag = 'R'").count())
    assert(after == li.filter("l_returnflag in ('R', 'A')").count() && after > before)
    assert(Cubes.lineitemCube(spark, tiny) eq Cubes.lineitemCube(spark, tiny))
  }

  test("O19/O20: execute returns columns+rows and captures stats") {
    val r = CubeRunner.execute(spark, registry, Cubes.lineitemCube, doc)
    assert(r.columns == Seq("cnt") && r.rows.size == 1)
    assert(r.stats.rowCount == 1)
    assert(r.stats.durationNs > 0, "the collect's wall time")
    assert(r.stats.physicalPlan.nonEmpty)
  }
}

object ExecSpec {
  /** Read inside a UDF's tasks: local-mode tasks share this JVM. */
  @volatile var failUdf = false
  val capRows = new java.util.concurrent.atomic.AtomicLong
}
