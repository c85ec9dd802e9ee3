package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB table-layout story, part two (part one is BucketingSpec's
  * shuffle-free co-located joins): date-partitioned directories make
  * time-range queries read only the matching partitions — at a thousand
  * days of history, a one-day query touches 0.1% of the files — and
  * dynamic partition overwrite makes backfills surgical (rewrite one
  * day, never truncate the table).
  */
class LakehouseSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  private lazy val eventsByDay = {
    val out = java.nio.file.Files.createTempDirectory("graft_lake").toString
    // Tables.events already normalizes the fixture's int64-nanos ts to
    // a proper TIMESTAMP column
    graft.cubes.Tables.events(spark, sf)
      .withColumn("event_date", F.to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(out)
    out
  }

  test("date-partitioned layout: a day filter prunes the scan to that partition's files") {
    val lake = spark.read.parquet(eventsByDay)
    val allDays = lake.select("event_date").distinct().count()
    assert(allDays > 5, s"fixture spans $allDays days")

    val day = lake.agg(F.min(col("event_date"))).collect()(0).getDate(0)
    val q = lake.filter(col("event_date") === F.lit(day))
      .groupBy(col("event_type")).count()

    // the predicate must land in PartitionFilters (directory pruning),
    // NOT PushedFilters (row-group skipping after listing every file)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_date"),
      s"day predicate did not become a partition filter:\n$scan")

    // and the scan reads only that day's files: numFiles == the part
    // files in event_date=<day>/, strictly fewer than the whole table
    val total = q.collect().map(_.getLong(1)).sum
    assert(total == spark.read.parquet(eventsByDay)
      .filter(col("event_date") === F.lit(day)).count())
    def partFiles(dir: java.io.File): Int =
      Option(dir.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
    val dayFiles = partFiles(new java.io.File(s"$eventsByDay/event_date=$day"))
    val allFiles = new java.io.File(eventsByDay).listFiles()
      .filter(_.getName.startsWith("event_date=")).map(partFiles).sum
    // AQE hides the scan behind AdaptiveSparkPlanExec/QueryStageExec
    // leaves — unwrap to the real FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case qs: QueryStageExec => scans(qs.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    val numFiles = scans(q.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    assert(dayFiles > 0 && numFiles == dayFiles && numFiles < allFiles,
      s"pruning read $numFiles files (day=$dayFiles, table=$allFiles)")
  }

  test("runtime bloom filter: a selective dim side prunes the fact scan at the row-group level") {
    // the third 100 TB join lever after broadcast and bucketing: when the
    // dim side is filtered hard, Spark builds a bloom filter of its keys
    // at runtime and semi-joins the fact scan against it — rows that
    // can't match never leave the scan. Thresholds are sized for real
    // clusters; lower them to demonstrate the mechanism at fixture scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") && plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
      // and it must not change the answer
      val expected = li.join(o.hint("broadcast"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count().collect().map(_.toString).sorted
      assert(j.collect().map(_.toString).sorted.sameElements(expected))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("manifest commits: pinned reader survives compaction, crash " +
      "leftovers reclaimed, stale commit refused, vacuum retains current") {
    import graft.sources.{Layout, Manifest}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 5000).map(i => (i.toLong, s"row $i")).toDF("id", "s").repartition(32))
    val rows = Manifest.read(spark, tbl).collect().map(_.toString).sorted
    // pin a reader, then compact underneath it: the pinned plan keeps
    // reading snapshot 1's files — same rows, no path-not-found window,
    // which is exactly what the rename swap could not promise
    val pinned = Manifest.read(spark, tbl)
    val snap2 = Manifest.compact(spark, tbl, targetBytes = 1L << 30,
      sortBy = Some(col("id")))
    assert(snap2.version == 2L)
    assert(pinned.collect().map(_.toString).sorted.sameElements(rows))
    // new readers see the compacted layout: identical content, fewer files
    val after = Manifest.read(spark, tbl)
    assert(after.collect().map(_.toString).sorted.sameElements(rows))
    assert(after.inputFiles.length < pinned.inputFiles.length &&
      after.inputFiles.length <= 2)
    // crash between steps: a half-written NEXT version with no manifest
    // is invisible to readers; vacuum reclaims it once the version
    // number passes (unique writer suffixes mean no writer ever
    // touches it)
    Seq((0L, "junk")).toDF("id", "s")
      .write.parquet(s"$tbl/${Manifest.dataDirName(3)}")
    assert(Manifest.read(spark, tbl)
      .collect().map(_.toString).sorted.sameElements(rows))
    val snap3 = Manifest.compact(spark, tbl, targetBytes = 1L << 30)
    assert(snap3.version == 3L)
    assert(Manifest.read(spark, tbl)
      .collect().map(_.toString).sorted.sameElements(rows))
    // optimistic concurrency: committing against a stale expected
    // version fails loudly instead of clobbering the winner
    val e = intercept[RuntimeException] {
      Manifest.commit(spark, tbl, expected = 2L, Seq(Manifest.dataDirName(3)))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // vacuum to the current snapshot only: old manifests and their data
    // directories go, the current one is untouched
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.versions(spark, tbl) == Seq(3L))
    assert(Manifest.read(spark, tbl)
      .collect().map(_.toString).sorted.sameElements(rows))
    // Layout.compact routes manifested tables through the protocol
    Layout.compact(spark, tbl, targetBytes = 1L << 30)
    assert(Manifest.versions(spark, tbl) == Seq(3L, 4L))
    // adoption: a plain directory joins the protocol with no data move
    val plain = s"$dir/plain"
    (1 to 100).map(i => (i.toLong, s"p $i")).toDF("id", "s")
      .repartition(8).write.parquet(plain)
    val plainRows = spark.read.parquet(plain).collect().map(_.toString).sorted
    Manifest.adopt(spark, plain)
    assert(Manifest.read(spark, plain)
      .collect().map(_.toString).sorted.sameElements(plainRows))
    Layout.compact(spark, plain, targetBytes = 1L << 30)
    Manifest.vacuum(spark, plain, keep = 1)
    assert(Manifest.read(spark, plain)
      .collect().map(_.toString).sorted.sameElements(plainRows))
  }

  test("manifest appends: incremental commits share history, time travel " +
      "reads any retained version, vacuum honors shared data dirs") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_append").toString
    val tbl = s"$dir/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted
    def mk(r: Range) = r.map(i => (i.toLong, s"r$i")).toDF("id", "s")
    Manifest.create(spark, tbl, mk(1 to 100).repartition(4))
    val v1Rows = rows(Manifest.read(spark, tbl))
    // a crashed appender's uncommitted _v2 leftover is invisible now
    // and reclaimed by the real append
    Seq((999L, "junk")).toDF("id", "s")
      .write.parquet(s"$tbl/${Manifest.dataDirName(2)}")
    // pin a reader BEFORE the append: it keeps v1's file list
    val pinned = Manifest.read(spark, tbl)
    val s2 = Manifest.commitAppend(spark, tbl, mk(101 to 150))
    assert(s2.version == 2L && s2.paths.size == 2)
    assert(rows(pinned).sameElements(v1Rows))
    val v2 = Manifest.read(spark, tbl)
    assert(v2.count() == 150 && v2.filter($"id" === 999L).count() == 0)
    Manifest.commitAppend(spark, tbl, mk(151 to 160))
    // time travel: every retained version reads exactly its snapshot
    assert(rows(Manifest.readVersion(spark, tbl, 1L)).sameElements(v1Rows))
    assert(Manifest.readVersion(spark, tbl, 2L).count() == 150)
    assert(Manifest.readVersion(spark, tbl, 3L).count() == 160)
    // file-level diff is append-only: one added dir, nothing removed
    val (added, removed) = Manifest.diffSnapshots(spark, tbl, 1L, 2L)
    assert(added.size == 1 && added.head.startsWith(Manifest.dataDirName(2))
      && removed.isEmpty)
    // AS OF wall clock: version 2's own stamp resolves to version 2,
    // not the newer version 3
    val t2 = Manifest.readSnapshot(spark, tbl, 2L).meta("committed_at").toLong
    assert(Manifest.readAsOf(spark, tbl, t2).count() == 150)
    // vacuum to the current version: v1/v2 manifests go, but every
    // data dir v3 still references survives (appends SHARE dirs)
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.versions(spark, tbl) == Seq(3L))
    assert(Manifest.read(spark, tbl).count() == 160)
    intercept[IllegalArgumentException] {
      Manifest.readVersion(spark, tbl, 1L)
    }
    // AS OF before every retained commit refuses loudly
    intercept[IllegalArgumentException] {
      Manifest.readAsOf(spark, tbl, 0L)
    }
    // schema drift fails LOUDLY at commit, not as a missing-column
    // read three snapshots later
    val e = intercept[IllegalArgumentException] {
      Manifest.commitAppend(spark, tbl,
        Seq((161L, "x", 1.0)).toDF("id", "s", "extra"))
    }
    assert(e.getMessage.contains("schema mismatch") &&
      e.getMessage.contains("extra"))
  }

  test("file skipping: sidecar envelopes prune files at the driver, " +
      "uncovered files stay in, fallback without a sidecar is the full read") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_skip").toString
    val tbl = s"$dir/t"
    def mk(r: Range) = r.map(i => (i.toLong, s"r$i")).toDF("id", "s")
    Manifest.create(spark, tbl,
      mk(1 to 800).repartitionByRange(8, col("id")).sortWithinPartitions(col("id")))
    val scanned0 = Manifest.analyzeFiles(spark, tbl, Seq("id"))
    assert(scanned0 == Manifest.read(spark, tbl).inputFiles.length)
    // idempotent re-run at the same version: fully covered, scans nothing
    assert(Manifest.analyzeFiles(spark, tbl, Seq("id")) == 0)
    val full = Manifest.read(spark, tbl)
    val pruned = Manifest.readPruned(spark, tbl, "id", 100.0, 150.0)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"${pruned.inputFiles.length} vs ${full.inputFiles.length}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.filter($"id".between(100, 150)).collect().map(_.toString).sorted
    assert(rows(pruned).sameElements(rows(full)) && rows(pruned).length == 51)
    // disjoint range: every file skipped, still a well-formed empty frame
    assert(Manifest.readPruned(spark, tbl, "id", 5000.0, 6000.0).count() == 0)
    // an append the sidecar has not seen yet: the newest RETAINED
    // sidecar keeps pruning the files it covers, the uncovered
    // appended files admit conservatively — never a lost row
    Manifest.commitAppend(spark, tbl, mk(801 to 820))
    val fallback = Manifest.readPruned(spark, tbl, "id", 100.0, 150.0)
    assert(fallback.inputFiles.length <
      Manifest.read(spark, tbl).inputFiles.length,
      "covered files must keep pruning past the un-analyzed append")
    assert(fallback.filter($"id".between(100, 150)).count() == 51)
    // re-analyze INCREMENTALLY: the eight covered files' rows carry
    // over from the v1 sidecar, only the appended files are scanned
    val appended = Manifest.read(spark, tbl).inputFiles.length - scanned0
    assert(appended >= 1 &&
      Manifest.analyzeFiles(spark, tbl, Seq("id")) == appended)
    val pr2 = Manifest.readPruned(spark, tbl, "id", 790.0, 820.0)
    assert(pr2.inputFiles.length < Manifest.read(spark, tbl).inputFiles.length)
    assert(pr2.filter($"id" >= 790).count() == 31)
    // vacuum drops dead sidecars with their versions; the current one
    // keeps serving
    Manifest.compact(spark, tbl, targetBytes = 1L << 30)
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.readPruned(spark, tbl, "id", 100.0, 150.0)
      .filter($"id".between(100, 150)).count() == 51)
  }

  test("a NaN row keeps its file admitted: NaN sorts above every number, " +
      "so a NaN envelope max must not prune a `>=` probe or takedown") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_nan").toString
    val tbl = s"$dir/t"
    // the NaN rides in the lowest-id file, whose v envelope is [1, NaN]
    Manifest.create(spark, tbl,
      ((0, Double.NaN) +: (1 to 400).map(i => (i, i.toDouble))).toDF("id", "v")
        .repartitionByRange(4, col("id")).sortWithinPartitions(col("id")))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val hit = $"v" >= 500.0
    assert(Manifest.read(spark, tbl).filter(hit).count() == 1)
    assert(Manifest.readPruned(spark, tbl, "v", 500.0, Double.PositiveInfinity)
      .filter(hit).count() == 1)
    assert(Manifest.readPrunedWhereOpt(spark, tbl, hit)
      .getOrElse(Manifest.read(spark, tbl)).filter(hit).count() == 1)
    Manifest.deleteWhere(spark, tbl, hit)
    assert(Manifest.read(spark, tbl).count() == 400)
  }

  test("sidecar column evolution is non-destructive: a narrower re-run " +
      "unions with the covered set; unknown columns fall back, never fail") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_evo").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 400).map(i => (i.toLong, i.toLong * 2, s"r$i")).toDF("x", "y", "s")
        .repartitionByRange(4, col("x")).sortWithinPartitions(col("x")))
    Manifest.analyzeFiles(spark, tbl, Seq("x"))
    val all = Manifest.read(spark, tbl).inputFiles.length
    assert(Manifest.readPruned(spark, tbl, "x", 0.0, 50.0)
      .inputFiles.length < all)
    // probing a never-analyzed column: conservative full read, not an
    // unresolved-column failure
    assert(Manifest.readPruned(spark, tbl, "y", 0.0, 50.0)
      .inputFiles.length == all)
    // in a conjunction the uncovered y only makes ITS range admit: x
    // still prunes, and the served rows are the unpruned filter's
    val xy = Manifest.readPrunedAll(spark, tbl,
      Seq(("x", 0.0, 50.0), ("y", 0.0, 50.0)))
    assert(xy.inputFiles.length < all)
    def box(df: org.apache.spark.sql.DataFrame) =
      df.filter($"x".between(0, 50) && $"y".between(0, 50))
        .collect().map(_.toString).sorted.toSeq
    assert(box(xy) == box(Manifest.read(spark, tbl)) && box(xy).size == 25)
    // analyzing y alone must NOT destroy x's envelopes — the effective
    // set is the union (every file rescans for it)
    assert(Manifest.analyzeFiles(spark, tbl, Seq("y")) == all)
    assert(Manifest.readPruned(spark, tbl, "x", 0.0, 50.0)
      .inputFiles.length < all, "x stats survived the y-only re-run")
    assert(Manifest.readPruned(spark, tbl, "y", 0.0, 100.0)
      .inputFiles.length < all)
    // and now both are covered: the no-op fast path
    assert(Manifest.analyzeFiles(spark, tbl, Seq("x")) == 0)
  }

  test("bloom point-lookup skipping: prunes where envelopes cannot, " +
      "sound on absent values, incremental like the envelope sidecar") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_bloom").toString
    val tbl = s"$dir/t"
    // ROUND-ROBIN layout: every file spans ~the whole id range, so
    // min/max envelopes prune nothing — the bloom's home turf
    Manifest.create(spark, tbl,
      (1 to 800).map(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(8))
    Manifest.analyzeFiles(spark, tbl, Seq("id"))
    val scanned = Manifest.analyzeFilesBloom(spark, tbl, Seq("id"),
      expectedItemsPerFile = 1000)
    val all = Manifest.read(spark, tbl).inputFiles.length
    assert(scanned == all && all == 8)
    assert(Manifest.readPruned(spark, tbl, "id", 42.0, 42.0)
      .inputFiles.length == all, "round-robin defeats envelopes")
    val pt = Manifest.readPoint(spark, tbl, "id", 42L)
    assert(pt.inputFiles.length <= 3,
      s"bloom should prune to ~1 file, got ${pt.inputFiles.length}")
    assert(pt.filter($"id" === 42L).count() == 1)
    // soundness on an absent value: no row survives whatever files the
    // fpp lets through
    assert(Manifest.readPoint(spark, tbl, "id", 99999L)
      .filter($"id" === 99999L).count() == 0)
    // incremental: fully covered snapshot is a no-op
    assert(Manifest.analyzeFilesBloom(spark, tbl, Seq("id"),
      expectedItemsPerFile = 1000) == 0)
  }

  test("bloom probes cast string values in the session time zone: a " +
      "timestamp point read and takedown find their row off UTC") {
    import graft.sources.Manifest
    val tzKey = "spark.sql.session.timeZone"
    val prevTz = spark.conf.get(tzKey)
    spark.conf.set(tzKey, "America/Los_Angeles")
    try {
      val dir = java.nio.file.Files.createTempDirectory("manifest_bloom_tz").toString
      val tbl = s"$dir/t"
      // one row a DAY: a probe hashed under UTC names an instant eight
      // hours off, which no row holds
      Manifest.create(spark, tbl, spark.range(0, 400).select(col("id"),
        F.timestamp_seconds(F.lit(1704067200L) + col("id") * 86400L).as("ts"))
        .repartition(4))
      Manifest.analyzeFilesBloom(spark, tbl, Seq("ts"),
        expectedItemsPerFile = 1000, fpp = 0.0001)
      // row 123's wall-clock time in the session zone, as a user types it
      val probe = Manifest.read(spark, tbl).filter(col("id") === 123L)
        .select(F.date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).head().getString(0)
      assert(Manifest.readPoint(spark, tbl, "ts", probe)
        .filter(col("id") === 123L).count() == 1)
      Manifest.deleteKeys(spark, tbl, "ts", Seq(probe))
      val left = Manifest.read(spark, tbl)
      assert(left.count() == 399 && left.filter(col("id") === 123L).count() == 0)
    } finally spark.conf.set(tzKey, prevTz)
  }

  test("deleteKeys: a point takedown on a round-robin layout scans only " +
      "the bloom candidates, deletes exactly the keys, carries the rest") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_delk").toString
    val tbl = s"$dir/t"
    // round-robin: envelopes can't restrict phase 1, the bloom can
    Manifest.create(spark, tbl,
      (1 to 800).map(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(8))
    Manifest.analyzeFilesBloom(spark, tbl, Seq("id"),
      expectedItemsPerFile = 1000)
    val beforeFiles = Manifest.read(spark, tbl).inputFiles.toSet
    val doomed = Seq(42L, 317L, 613L)
    // the phase-1 restriction is OBSERVABLE through readPointAny (the
    // same decision deleteKeys consumes): 3 probes over 8 round-robin
    // files open a strict subset, not the table
    val candidates = Manifest.readPointAny(spark, tbl, "id", doomed)
    assert(candidates.inputFiles.length <= 5 &&
      candidates.inputFiles.length < beforeFiles.size,
      s"bloom restriction opened ${candidates.inputFiles.length} of 8")
    assert(candidates.filter($"id".isin(doomed: _*)).count() == 3)
    Manifest.deleteKeys(spark, tbl, "id", doomed)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 797)
    assert(after.filter($"id".isin(doomed: _*)).count() == 0)
    // only the bloom-candidate files were rewritten: ≥ (8 − 3) of the
    // 8 round-robin files carried by path (each key lives in 1 file;
    // fpp may add a candidate or two, never all)
    val carried = after.inputFiles.toSet intersect beforeFiles
    assert(carried.size >= 4,
      s"expected most files carried via bloom pruning, got ${carried.size}")
    // absent keys: no-op, no new commit
    val v = Manifest.versions(spark, tbl)
    assert(Manifest.deleteKeys(spark, tbl, "id", Seq(99999L)).version ==
      v.last && Manifest.versions(spark, tbl) == v)
    // no bloom sidecar: still exact (full phase-1 fallback)
    val tbl2 = s"$dir/t2"
    Manifest.create(spark, tbl2,
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(4))
    Manifest.deleteKeys(spark, tbl2, "id", Seq(7L, 8L))
    assert(Manifest.read(spark, tbl2).count() == 98)
  }

  test("asOf through the front door refuses a non-manifested cube and " +
      "an unretained version, loudly") {
    import graft.query.CubeQuery
    val cube = graft.cubes.Cubes.documentsCube(spark, sf)
    val e = intercept[graft.model.CubeQueryException] {
      graft.compile.Compiler.compile(
        CubeQuery(cube).measure("n", "count").asOfVersion(1L))
    }
    assert(e.getMessage.contains("asOf") &&
      e.getMessage.contains("manifested"))
    // unknown option spelling still V4s
    val e2 = intercept[graft.model.CubeQueryException] {
      CubeQuery(cube).option("asof", 1)
    }
    assert(e2.getMessage.contains("unknown option"))
  }

  test("z-order + file skipping: after a z-clustered compaction EITHER " +
      "axis prunes files — the multi-dimensional payoff a single-column " +
      "sort cannot give") {
    import graft.sources.{Layout, Manifest}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_z").toString
    val tbl = s"$dir/t"
    // a 64×64 grid: x and y are independent axes over [0, 256)
    val df = (0 until 4096).map(i =>
      (i.toLong, (i % 64).toLong * 4, (i / 64).toLong * 4)).toDF("id", "x", "y")
    Manifest.create(spark, tbl, df.repartition(16))
    val z = Layout.zValue(
      Layout.axisBucket(col("x"), 0, 256, 5),
      Layout.axisBucket(col("y"), 0, 256, 5), 5)
    val bytes = Manifest.snapshotBytes(spark, tbl,
      Manifest.currentSnapshot(spark, tbl).get)
    Manifest.compact(spark, tbl, targetBytes = math.max(1L, bytes / 16),
      sortBy = Some(z))
    Manifest.analyzeFiles(spark, tbl, Seq("x", "y"))
    val all = Manifest.read(spark, tbl).inputFiles.length
    assert(all >= 8, s"want a multi-file layout, got $all")
    val px = Manifest.readPruned(spark, tbl, "x", 0.0, 31.0)
    val py = Manifest.readPruned(spark, tbl, "y", 0.0, 31.0)
    assert(px.inputFiles.length < all && py.inputFiles.length < all,
      s"x:${px.inputFiles.length} y:${py.inputFiles.length} of $all")
    // pruning never loses rows: the filtered pruned read equals the
    // filtered full read on both axes
    assert(px.filter($"x" <= 31).count() == 4096 / 8)
    assert(py.filter($"y" <= 31).count() == 4096 / 8)
    // the conjunction prunes hardest: an x AND y box keeps at most the
    // files either single axis kept, and the filtered count is exact
    val pxy = Manifest.readPrunedAll(spark, tbl,
      Seq(("x", 0.0, 31.0), ("y", 0.0, 31.0)))
    assert(pxy.inputFiles.length <=
      math.min(px.inputFiles.length, py.inputFiles.length))
    assert(pxy.filter($"x" <= 31 && $"y" <= 31).count() == 4096 / 64)
  }

  test("stats-driven bloom-join advice: measured selectivity fires the " +
      "injection, the wrong direction declines it") {
    import graft.sources.Stats
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
    val gate =
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val confs = Seq(gate, "spark.sql.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val oStats = Stats.analyze(o, Seq("o_orderkey"))
      val liStats = Stats.analyze(li, Seq("l_orderkey"))
      def planOf = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).count()
        .queryExecution.optimizedPlan.toString
      // selective direction: the filtered orders' distinct keys are far
      // fewer than the lineitem probe rows — advice opens the gate and
      // Catalyst injects the filter (no hand-tuned threshold anywhere)
      assert(Stats.applyBloomJoinAdvice(spark, oStats, "o_orderkey", liStats))
      val fired = planOf
      assert(fired.contains("bloom_filter_agg") && fired.contains("might_contain"),
        s"advice did not fire the injection:\n$fired")
      // wrong direction: lineitem keys vs the small filtered-orders probe
      // — declined, gate restored to default, same join plans bloom-free
      assert(!Stats.applyBloomJoinAdvice(spark, liStats, "l_orderkey", oStats))
      assert(!planOf.contains("bloom_filter_agg"))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dynamic partition overwrite: backfilling one day leaves every other day untouched") {
    val saved = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val lake = spark.read.parquet(eventsByDay)
      val day = lake.agg(F.max(col("event_date"))).collect()(0).getDate(0)
      val beforeOther = lake.filter(col("event_date") =!= F.lit(day)).count()
      val beforeDay = lake.filter(col("event_date") === F.lit(day)).count()
      assert(beforeDay > 0 && beforeOther > 0)

      // backfill: re-land that day with corrected values (half the rows).
      // Materialize BEFORE writing — the plan reads the very files the
      // overwrite replaces (localCheckpoint cuts the file lineage).
      val corrected = lake.filter(col("event_date") === F.lit(day))
        .filter(col("event_id") % 2 === 0)
        .localCheckpoint()
      val nCorrected = corrected.count()
      corrected.write.mode("overwrite").partitionBy("event_date").parquet(eventsByDay)

      val after = spark.read.parquet(eventsByDay)
      assert(after.filter(col("event_date") =!= F.lit(day)).count() == beforeOther,
        "dynamic overwrite touched unrelated partitions")
      assert(after.filter(col("event_date") === F.lit(day)).count() == nCorrected)
    } finally {
      saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("manifest metadata stays driver-feasible at 100k file entries: " +
      "commit, parse, diff, and the prefix-aware vacuum check are " +
      "correct and fast (metadata only, no data files)") {
    import graft.sources.Manifest
    val dir = java.nio.file.Files.createTempDirectory("manifest_100k").toString
    val tbl = s"$dir/t"
    val n = 100000
    val t0 = System.nanoTime()
    val v1 = (0 until n).map(i => f"_v00000001-aa000000/part-$i%07d.parquet")
    val v2 = v1.drop(n / 100) ++
      (0 until n / 100 + 1000).map(i => f"_v00000002-bb000000/part-$i%07d.parquet")
    Manifest.commit(spark, tbl, 0L, v1)
    Manifest.commit(spark, tbl, 1L, v2)
    assert(Manifest.currentSnapshot(spark, tbl).get.paths.size == v2.size)
    val (added, removed) = Manifest.diffSnapshots(spark, tbl, 1L, 2L)
    assert(added.size == n / 100 + 1000 && removed.size == n / 100)
    // vacuum's reference walk over 100k dead × 100k live entries must
    // be the sorted-range lookup, not a quadratic filter
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.versions(spark, tbl) == Seq(2L))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, f"100k-entry metadata ops took $secs%.1f s " +
      "(ManifestScale measures ~1 s total — a regression here means a " +
      "quadratic driver path crept back in)")
  }

  test("deleteWhere: copy-on-write rewrites ONLY touched files, pinned " +
      "readers and untouched bytes survive, sidecar upkeep stays " +
      "incremental, change feed shows exactly the deleted rows") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_del").toString
    val tbl = s"$dir/t"
    def mk(r: Range) = r.map(i => (i.toLong, s"r$i")).toDF("id", "s")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // 4 range-clustered files, so a narrow id delete touches exactly one
    Manifest.create(spark, tbl, mk(1 to 100)
      .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    assert(Manifest.analyzeFiles(spark, tbl, Seq("id")) == 4)
    val before = Manifest.read(spark, tbl)
    val beforeFiles = before.inputFiles.toSet
    assert(beforeFiles.size == 4)
    val pinned = Manifest.read(spark, tbl)
    val doomed = $"id" >= 10L && $"id" <= 15L
    val s2 = Manifest.deleteWhere(spark, tbl, doomed)
    assert(s2.version == 2L)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 94 && after.filter(doomed).count() == 0)
    assert(rows(after) == rows(before.filter(!doomed)))
    // untouched files are literally the SAME files (copy-on-write at
    // file grain: 3 of 4 carried by path, only the matching one rewritten)
    val afterFiles = after.inputFiles.toSet
    assert((afterFiles intersect beforeFiles).size == 3,
      s"expected 3 carried files, got ${(afterFiles intersect beforeFiles).size}")
    val rewritten = afterFiles -- beforeFiles
    assert(rewritten.nonEmpty)
    // a reader pinned before the delete still serves the old snapshot
    assert(pinned.count() == 100)
    // sidecar upkeep after the delete scans ONLY the rewritten files
    assert(Manifest.analyzeFiles(spark, tbl, Seq("id")) == rewritten.size)
    // ...and pruning over the new sidecar still answers correctly
    // (envelopes prune files, the caller filters rows)
    assert(Manifest.readPruned(spark, tbl, "id", 10.0, 15.0)
      .filter($"id" >= 10L && $"id" <= 15L).count() == 0)
    assert(Manifest.readPruned(spark, tbl, "id", 90.0, 95.0)
      .filter($"id" >= 90L && $"id" <= 95L).count() == 6)
    // a no-match delete commits NOTHING (no empty churn)
    val s3 = Manifest.deleteWhere(spark, tbl, $"id" === 99999L)
    assert(s3.version == 2L && Manifest.versions(spark, tbl) == Seq(1L, 2L))
    // row-level change feed of the delete: zero inserts, exactly 10..15
    val ch = Manifest.readChanges(spark, tbl, 1L, 2L)
    assert(ch.filter($"_change_type" === "insert").count() == 0)
    assert(ch.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (10L to 15L))
    // vacuum with carried per-file entries: v1's manifest dies, the
    // carried files SURVIVE (prefix-aware reference check), and only
    // the superseded file is reclaimed from the old dir. (The v1-pinned
    // frames' lease ends here — capture expectations first.)
    val expectedAfter = rows(after)
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.versions(spark, tbl) == Seq(2L))
    assert(Manifest.read(spark, tbl).count() == 94)
    assert(rows(Manifest.read(spark, tbl)) == expectedAfter)
    val survivingOld = Manifest.read(spark, tbl).inputFiles.toSet
      .intersect(beforeFiles)
    assert(survivingOld.size == 3, "carried files must survive vacuum")
  }

  test("additive schema evolution: a mergeSchema append widens the " +
      "table, pre-evolution files serve NULL new columns, history keeps " +
      "its own schema, the change feed crosses the evolution, guards " +
      "stay loud") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_evo").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    // widened batch refused WITHOUT the explicit opt-in
    intercept[IllegalArgumentException] {
      Manifest.commitAppend(spark, tbl,
        Seq((51L, "r51", 7L)).toDF("id", "s", "extra"))
    }
    Manifest.commitAppend(spark, tbl,
      (51 to 80).map(i => (i.toLong, s"r$i", i * 10L)).toDF("id", "s", "extra"),
      mergeSchema = true)
    val cur = Manifest.read(spark, tbl)
    assert(cur.columns.toSeq == Seq("id", "s", "extra"))
    assert(cur.count() == 80)
    assert(cur.filter(col("extra").isNull).count() == 50,
      "pre-evolution rows must serve NULL for the new column")
    assert(cur.filter(col("extra") === col("id") * 10L).count() == 30)
    // history keeps its OWN shape: v1 still reads two columns
    assert(Manifest.readVersion(spark, tbl, 1L).columns.toSeq == Seq("id", "s"))
    // dropping or retyping is never silent, even with mergeSchema
    intercept[IllegalArgumentException] {
      Manifest.commitAppend(spark, tbl,
        Seq((81L, "r81")).toDF("id", "s"), mergeSchema = true)
    }
    intercept[IllegalArgumentException] {
      Manifest.commitAppend(spark, tbl,
        Seq((81L, "r81", "not-a-long")).toDF("id", "s", "extra"),
        mergeSchema = true)
    }
    // the change feed crosses the evolution: a compaction (which
    // rewrites pre-evolution files into full-schema ones) still feeds
    // ZERO changes — the NULL fill on the removed side cancels
    Manifest.compact(spark, tbl, targetBytes = 1L << 30)
    assert(Manifest.readChanges(spark, tbl, 2L, 3L).count() == 0)
    assert(Manifest.read(spark, tbl).count() == 80)
    // CoW delete on the evolved table keeps the widened schema
    Manifest.deleteWhere(spark, tbl, col("id") <= 10L)
    val afterDel = Manifest.read(spark, tbl)
    assert(afterDel.columns.toSeq == Seq("id", "s", "extra") &&
      afterDel.count() == 70)
    // delete BEFORE any compaction, touching pre- AND post-evolution
    // files at once: the rewrite must read under the committed schema
    // or the single-footer inference could silently drop the evolved
    // values from rewritten survivors
    val tbl2 = s"$dir/t2"
    Manifest.create(spark, tbl2,
      (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(1))
    Manifest.commitAppend(spark, tbl2,
      (51 to 80).map(i => (i.toLong, s"r$i", i * 10L)).toDF("id", "s", "extra")
        .coalesce(1), mergeSchema = true)
    Manifest.deleteWhere(spark, tbl2, col("id") % 10L === 0L)
    val mixed = Manifest.read(spark, tbl2)
    assert(mixed.count() == 72)
    assert(mixed.filter(col("extra") === col("id") * 10L).count() == 27,
      "evolved values must survive a pre-compaction CoW rewrite")
    // ...and the envelope/bloom pruned reads serve the evolved column
    Manifest.analyzeFiles(spark, tbl2, Seq("id"))
    assert(Manifest.readPruned(spark, tbl2, "id", 60.0, 70.0)
      .columns.contains("extra"))
    // the CONVERSE guard: a partitioned append onto the (evolved) t2
    // is refused — it would land the partition key beside the schema
    // stamp and break every later read on the strict union
    val e3 = intercept[IllegalArgumentException] {
      Manifest.commitAppend(spark, tbl2,
        Seq((100L, "r100", 5L)).toDF("id", "s", "extra"),
        partitionBy = Seq("s"))
    }
    assert(e3.getMessage.contains("schema-evolved"))
    assert(Manifest.read(spark, tbl2).count() == 72, "t2 stays readable")
    // evolution on a hive-partitioned table is refused by the TABLE's
    // persisted layout even when the call omits partitionBy
    val tblP = s"$dir/tp"
    Manifest.create(spark, tblP,
      (1 to 40).map(i => (i.toLong, i % 4, s"r$i")).toDF("id", "cell", "s"),
      partitionBy = Seq("cell"))
    intercept[IllegalArgumentException] {
      Manifest.commitAppend(spark, tblP,
        (41 to 50).map(i => (i.toLong, i % 4, s"r$i", i * 2L))
          .toDF("id", "cell", "s", "extra"), mergeSchema = true)
    }
    assert(Manifest.read(spark, tblP).count() == 40, "table must stay readable")
  }

  test("incremental aggregate maintenance equals recompute across " +
      "append + delete; zero-count groups drop; null measures move " +
      "the count but not the sum") {
    import graft.sources.{Incremental, Manifest}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_mv").toString
    val tbl = s"$dir/t"
    val rows = Seq((1L, "a", Some(10L)), (2L, "a", None),
      (3L, "b", Some(5L)), (4L, "c", Some(7L)),
      (7L, "e", Some(10L)), (8L, "e", None)).toDF("id", "k", "v")
    Manifest.create(spark, tbl, rows.coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((5L, "b", Some(3L)), (6L, "d", None: Option[Long])).toDF("id", "k", "v"))
    Manifest.deleteWhere(spark, tbl,
      col("k") === "c" || col("id") === 2L || col("id") === 7L)
    val maintained = Incremental.refreshAggregate(
      spark, tbl, 1L, 3L, Seq("k"), Seq("v"))
    val recomputed = Incremental.aggregate(
      Manifest.read(spark, tbl), Seq("k"), Seq("v"))
    assert(maintained.collect().map(_.toString).sorted.toSeq ==
      recomputed.collect().map(_.toString).sorted.toSeq)
    // the fully-deleted group is GONE, not a zero row
    assert(maintained.filter(col("k") === "c").count() == 0)
    def row(k: String) = maintained.filter(col("k") === k).collect()(0)
    // a: null-v row deleted — count fell to 1, sum stayed 10
    assert(row("a").getAs[Long]("n_rows") == 1L &&
      row("a").getAs[Long]("sum_v") == 10L)
    // d: appended null-v group — count 1, non-null count 0, sum null
    assert(row("d").getAs[Long]("n_rows") == 1L &&
      row("d").getAs[Long]("cnt_v") == 0L &&
      row("d").isNullAt(row("d").fieldIndex("sum_v")))
    // e: the ONLY non-null measure row deleted — the maintained sum
    // must return to NULL (a bare sum would read 0; recompute reads
    // NULL over no non-null inputs)
    assert(row("e").getAs[Long]("n_rows") == 1L &&
      row("e").getAs[Long]("cnt_v") == 0L &&
      row("e").isNullAt(row("e").fieldIndex("sum_v")))
  }

  test("materialized-view refresh: idempotent watermark catch-up equals " +
      "recompute after every commit shape; vacuumed watermark fails " +
      "loudly and fullRefresh recovers") {
    import graft.sources.{Incremental, Manifest}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_mvr").toString
    val (src, agg) = (s"$dir/src", s"$dir/agg")
    def mk(r: Range) = r.map(i => (i.toLong, s"k${i % 3}", i * 2L))
      .toDF("id", "k", "v")
    def recompute() = Incremental.aggregate(
      Manifest.read(spark, src), Seq("k"), Seq("v"))
      .collect().map(_.toString).sorted.toSeq
    def materialized() =
      Manifest.read(spark, agg).collect().map(_.toString).sorted.toSeq
    Manifest.create(spark, src, mk(1 to 60))
    // first refresh materializes
    assert(Incremental.refreshMaterialized(spark, src, agg,
      Seq("k"), Seq("v")) == 1L)
    assert(materialized() == recompute())
    // no-op when current (no new version landed on the agg table)
    val aggV = Manifest.versions(spark, agg)
    assert(Incremental.refreshMaterialized(spark, src, agg,
      Seq("k"), Seq("v")) == 1L)
    assert(Manifest.versions(spark, agg) == aggV)
    // catch up across append + compact + CoW delete in ONE refresh
    Manifest.commitAppend(spark, src, mk(61 to 90))
    Manifest.compact(spark, src, targetBytes = 1L << 30)
    Manifest.deleteWhere(spark, src, col("id") % 4L === 0L)
    assert(Incremental.refreshMaterialized(spark, src, agg,
      Seq("k"), Seq("v")) == 4L)
    assert(materialized() == recompute())
    // vacuumed watermark: the incremental path refuses loudly...
    Manifest.commitAppend(spark, src, mk(91 to 95))
    Manifest.vacuum(spark, src, keep = 1)
    intercept[IllegalArgumentException] {
      Incremental.refreshMaterialized(spark, src, agg, Seq("k"), Seq("v"))
    }
    // ...and fullRefresh rematerializes from the current snapshot
    assert(Incremental.refreshMaterialized(spark, src, agg,
      Seq("k"), Seq("v"), fullRefresh = true) == 5L)
    assert(materialized() == recompute())
  }

  test("deleteWhere keeps rows where the predicate evaluates NULL " +
      "(three-valued logic must not silently widen the takedown)") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_del_n").toString
    val tbl = s"$dir/t"
    val docs = Seq((1L, Some("keep")), (2L, Some("drop")), (3L, None),
      (4L, Some("keep")), (5L, None))
      .toDF("id", "tag")
    Manifest.create(spark, tbl, docs.coalesce(1))
    Manifest.deleteWhere(spark, tbl, col("tag") === "drop")
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 4, "NULL-tag rows must survive the rewrite")
    assert(after.filter(col("tag").isNull).count() == 2)
    assert(after.filter(col("tag") === "drop").count() == 0)
  }

  test("deleteWhere on a hive-partitioned table preserves the layout; " +
      "readChanges cancels compaction churn and reports append inserts") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_del_p").toString
    val tbl = s"$dir/t"
    def mk(r: Range) = r.map(i => (i.toLong, i % 4, s"r$i")).toDF("id", "cell", "s")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    Manifest.create(spark, tbl, mk(1 to 80), partitionBy = Seq("cell"))
    // append commit: the change feed reports exactly the appended rows
    Manifest.commitAppend(spark, tbl, mk(81 to 100), partitionBy = Seq("cell"))
    val chApp = Manifest.readChanges(spark, tbl, 1L, 2L)
    assert(chApp.filter($"_change_type" === "delete").count() == 0)
    assert(chApp.filter($"_change_type" === "insert")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (81L to 100L))
    // compaction rewrites every file but no rows: the feed is EMPTY
    Manifest.compact(spark, tbl, targetBytes = Long.MaxValue)
    assert(Manifest.readChanges(spark, tbl, 2L, 3L).count() == 0)
    // partitioned delete: layout survives, partition columns intact
    val beforeDel = rows(Manifest.read(spark, tbl).filter($"cell" =!= 2))
    Manifest.deleteWhere(spark, tbl, $"cell" === 2)
    val after = Manifest.read(spark, tbl)
    assert(after.columns.contains("cell"), "partition column must survive")
    assert(after.filter($"cell" === 2).count() == 0)
    assert(rows(after) == beforeDel)
    assert(after.inputFiles.exists(_.contains("cell=")),
      "rewrite must keep the hive layout")
    // the delete's change feed: exactly the cell-2 rows, no inserts
    val chDel = Manifest.readChanges(spark, tbl, 3L, 4L)
    assert(chDel.filter($"_change_type" === "insert").count() == 0)
    assert(chDel.filter($"_change_type" === "delete").count() == 25)
  }

  test("merge: copy-on-write upsert rewrites ONLY touched files, " +
      "matched rows update, unmatched insert, pinned readers survive, " +
      "the change feed shows exactly the upsert") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_merge").toString
    val tbl = s"$dir/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // 4 range-clustered files over ids 1..100
    Manifest.create(spark, tbl,
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    val before = Manifest.read(spark, tbl)
    val beforeFiles = before.inputFiles.toSet
    assert(beforeFiles.size == 4)
    val pinned = Manifest.read(spark, tbl)
    // updates land in ONE file's range (10..15), inserts are new keys
    val source = ((10 to 15).map(i => (i.toLong, s"UPD$i")) ++
      Seq((201L, "NEW201"), (202L, "NEW202"))).toDF("id", "s")
    val s2 = Manifest.merge(spark, tbl, source, Seq("id"))
    assert(s2.version == 2L)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 102)
    assert(after.filter($"id".between(10, 15))
      .select("s").collect().map(_.getString(0)).sorted.toSeq ==
      (10 to 15).map(i => s"UPD$i"))
    assert(after.filter($"id" > 200).count() == 2)
    // expected state, computed independently
    val expected = before.filter(!$"id".between(10, 15))
      .unionByName(source)
    assert(rows(after) == rows(expected))
    // file-grain CoW: 3 of 4 original files carried by path
    val afterFiles = after.inputFiles.toSet
    assert((afterFiles intersect beforeFiles).size == 3,
      s"expected 3 carried files, got ${(afterFiles intersect beforeFiles).size}")
    // pinned pre-merge reader still serves the old snapshot
    assert(pinned.count() == 100 &&
      pinned.filter($"s".startsWith("UPD")).count() == 0)
    // the change feed of the merge: inserts = updated + new rows,
    // deletes = the six replaced originals
    val ch = Manifest.readChanges(spark, tbl, 1L, 2L)
    assert(ch.filter($"_change_type" === "insert").count() == 8)
    assert(ch.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (10L to 15L))
    // a merge matching NOTHING degrades to a pure append: every
    // current file carries, one new directory appears
    val filesBefore3 = Manifest.read(spark, tbl).inputFiles.toSet
    val s3 = Manifest.merge(spark, tbl,
      Seq((301L, "NEW301")).toDF("id", "s"), Seq("id"))
    assert(s3.version == 3L)
    val files3 = Manifest.read(spark, tbl).inputFiles.toSet
    assert(filesBefore3.subsetOf(files3) && Manifest.read(spark, tbl).count() == 103)
    // an EMPTY source is a no-op: nothing committed
    assert(Manifest.merge(spark, tbl,
      Seq.empty[(Long, String)].toDF("id", "s"), Seq("id")).version == 3L)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L, 3L))
  }

  test("merge-on-read delete vectors: a takedown masks rows without " +
      "rewriting any file, composes with point reads, CoW deletes and " +
      "merge, folds on demand, and the change feed sees every mask") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_dv").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
    assert(Manifest.analyzeFiles(spark, tbl, Seq("id")) == 4)
    assert(Manifest.analyzeFilesBloom(spark, tbl, Seq("id")) == 4)
    val v1Files = Manifest.read(spark, tbl).inputFiles.toSet
    val pinned = Manifest.read(spark, tbl)
    // MoR delete: the file list does NOT change
    val s2 = Manifest.deleteWhereMoR(spark, tbl,
      $"id" >= 10L && $"id" <= 15L)
    assert(s2.version == 2L && s2.paths.toSet ==
      Manifest.readSnapshot(spark, tbl, 1L).paths.toSet)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 94 && after.filter($"id".between(10, 15)).count() == 0)
    assert(pinned.count() == 100, "pinned pre-delete reader unaffected")
    // the change feed of a pure-mask commit: zero inserts, exactly the
    // masked rows (the entry diff is empty — the DV delta carries it)
    val ch12 = Manifest.readChanges(spark, tbl, 1L, 2L)
    assert(ch12.filter($"_change_type" === "insert").count() == 0)
    assert(ch12.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (10L to 15L))
    // point + pruned reads serve LIVE rows (the caller filters rows —
    // the candidate restriction is file-grain)
    assert(Manifest.readPoint(spark, tbl, "id", 12L)
      .filter($"id" === 12L).count() == 0)
    assert(Manifest.readPoint(spark, tbl, "id", 50L)
      .filter($"id" === 50L).count() == 1)
    assert(Manifest.readPruned(spark, tbl, "id", 10.0, 15.0)
      .filter($"id".between(10, 15)).count() == 0)
    // a second MoR delete masks incrementally (no duplicate positions)
    Manifest.deleteWhereMoR(spark, tbl, $"id" === 20L)
    assert(Manifest.read(spark, tbl).count() == 93)
    val ch23 = Manifest.readChanges(spark, tbl, 2L, 3L)
    assert(ch23.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(20L))
    assert(ch23.filter($"_change_type" === "insert").count() == 0)
    // no-match MoR delete commits nothing
    assert(Manifest.deleteWhereMoR(spark, tbl, $"id" === 99999L).version == 3L)
    // CoW delete ON TOP of live vectors: rewrite honors the mask
    Manifest.deleteWhere(spark, tbl, $"id" === 50L)
    val v4 = Manifest.read(spark, tbl)
    assert(v4.count() == 92 && v4.filter($"id" === 50L).count() == 0)
    assert(v4.filter($"id".between(10, 15) || $"id" === 20L).count() == 0,
      "CoW rewrite must not resurrect MoR-deleted rows")
    val ch34 = Manifest.readChanges(spark, tbl, 3L, 4L)
    assert(ch34.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(50L))
    // merge ON TOP of live vectors
    Manifest.merge(spark, tbl,
      Seq((60L, "UPD60"), (200L, "NEW200")).toDF("id", "s"), Seq("id"))
    val v5 = Manifest.read(spark, tbl)
    assert(v5.count() == 93)
    assert(v5.filter($"s" === "UPD60").count() == 1)
    assert(v5.filter($"id".between(10, 15) || $"id" === 20L).count() == 0)
    // fold: ONLY the masked file rewrites, the mask clears, rows hold
    val beforeFold = Manifest.read(spark, tbl).inputFiles
      .filterNot(_.contains("/_dv/")).toSet
    val expect = v5.collect().map(_.toString).sorted.toSeq
    val s6 = Manifest.foldDeletes(spark, tbl)
    assert(!s6.meta.contains("delete_vectors"))
    val v6 = Manifest.read(spark, tbl)
    assert(v6.count() == 93)
    assert(v6.collect().map(_.toString).sorted.toSeq == expect)
    val afterFold = v6.inputFiles.filterNot(_.contains("/_dv/")).toSet
    assert((beforeFold intersect afterFold).size == beforeFold.size - 1,
      s"fold must rewrite exactly the one masked file; carried " +
        s"${(beforeFold intersect afterFold).size} of ${beforeFold.size}")
    // fold feed is EMPTY (mask folded, no row changed)
    assert(Manifest.readChanges(spark, tbl, 5L, 6L).count() == 0)
    // idempotent fold: DV-less table is a no-op
    assert(Manifest.foldDeletes(spark, tbl).version == 6L)
    // vacuum reclaims every dead vector dir; the table still serves
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.read(spark, tbl).count() == 93)
    val dvDir = new java.io.File(s"$tbl/_dv")
    assert(!dvDir.exists() ||
      dvDir.listFiles().count(_.isDirectory) == 0,
      "no live snapshot references a vector — _dv must be empty")
    assert(v1Files.nonEmpty) // silence unused warnings
  }

  test("merge-on-read delete vectors on a hive-partitioned table: the " +
      "layout stands still, the mask serves, the fold keeps the layout") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_dv2").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 100).map(i => (i.toLong, (i % 4), s"r$i")).toDF("id", "cell", "s"),
      partitionBy = Seq("cell"))
    val v1Files = Manifest.read(spark, tbl).inputFiles.toSet
    val s2 = Manifest.deleteWhereMoR(spark, tbl, $"id" <= 10L)
    assert(s2.version == 2L)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 90 && after.filter($"id" <= 10L).count() == 0)
    assert(after.columns.contains("cell"), "partition column intact")
    // the DATA files stand still (the read's plan also lists the DV
    // parquet it anti-joins — filter it out)
    assert(Manifest.read(spark, tbl).inputFiles
      .filterNot(_.contains("/_dv/")).toSet == v1Files,
      "a MoR delete must not move a single file")
    val ch = Manifest.readChanges(spark, tbl, 1L, 2L)
    assert(ch.filter($"_change_type" === "insert").count() == 0)
    assert(ch.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    val s3 = Manifest.foldDeletes(spark, tbl)
    assert(!s3.meta.contains("delete_vectors"))
    val v3 = Manifest.read(spark, tbl)
    assert(v3.count() == 90 && v3.inputFiles.exists(_.contains("cell=")),
      "fold must keep the hive layout")
    assert(Manifest.readChanges(spark, tbl, 2L, 3L).count() == 0)
  }

  test("write-audit-publish: a staged batch is invisible until its " +
      "atomic publish, the audited bytes are the published bytes, " +
      "rejects leave no residue, publishes are exactly-once") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_wap").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    // stage two batches: one clean, one the audit will reject
    val good = Manifest.stageAppend(spark, tbl,
      (51 to 60).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val bad = Manifest.stageAppend(spark, tbl,
      Seq((999L, "JUNKJUNK")).toDF("id", "s"))
    assert(Manifest.listStages(spark, tbl).toSet == Set(good, bad))
    // nothing staged is visible to any reader
    assert(Manifest.read(spark, tbl).count() == 50)
    assert(Manifest.versions(spark, tbl) == Seq(1L))
    // audit reads the exact staged bytes
    assert(Manifest.readStage(spark, tbl, good).count() == 10)
    assert(Manifest.readStage(spark, tbl, bad)
      .filter($"s".contains("JUNK")).count() == 1)
    // reject the bad batch: no residue, no version
    Manifest.dropStage(spark, tbl, bad)
    assert(Manifest.listStages(spark, tbl) == Seq(good))
    assert(!new java.io.File(s"$tbl/_staged/$bad").exists())
    // an append landing BETWEEN stage and publish composes
    Manifest.commitAppend(spark, tbl,
      Seq((100L, "r100")).toDF("id", "s"))
    val s3 = Manifest.publishStage(spark, tbl, good)
    assert(s3.version == 3L)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 61)
    assert(after.filter($"id".between(51, 60)).count() == 10)
    // and the published files ARE the staged files (no second write)
    assert(after.inputFiles.exists(_.contains(s"/_staged/$good/")))
    // publish is exactly-once
    val e = intercept[IllegalArgumentException](
      Manifest.publishStage(spark, tbl, good))
    assert(e.getMessage.contains("already published or dropped"))
    // a schema-drifting batch refuses at STAGE time
    val e2 = intercept[IllegalArgumentException](
      Manifest.stageAppend(spark, tbl, Seq((1L, 2L)).toDF("id", "n")))
    assert(e2.getMessage.contains("schema mismatch"))
    // an empty batch refuses to stage
    val e3 = intercept[RuntimeException](Manifest.stageAppend(spark, tbl,
      Seq.empty[(Long, String)].toDF("id", "s")))
    assert(e3.getMessage.contains("empty batch"))
    // vacuum after later commits never touches the published entry
    Manifest.compact(spark, tbl, targetBytes = 1L << 30)
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.read(spark, tbl).count() == 61)
  }

  test("incremental join-view maintenance: the delta-join feed applied " +
      "to the old view equals the new view, for appends, deletes, " +
      "updates and MoR masks on either side") {
    import graft.sources.{Incremental, Manifest}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_jv").toString
    val (ta, tb) = (s"$dir/a", s"$dir/b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // A: facts keyed by k (multiset: k=3 appears twice); B: a dim
    Manifest.create(spark, ta,
      Seq((1L, "a1"), (2L, "a2"), (3L, "a3"), (3L, "a3bis"), (4L, "a4"))
        .toDF("k", "av"))
    Manifest.create(spark, tb,
      Seq((1L, "b1"), (2L, "b2"), (3L, "b3"), (5L, "b5")).toDF("k", "bv"))
    def view(va: Long, vb: Long) =
      Manifest.readVersion(spark, ta, va)
        .join(Manifest.readVersion(spark, tb, vb), Seq("k"))
    val v11 = view(1L, 1L)
    // churn both sides: append + CoW delete on A, merge + MoR on B
    Manifest.commitAppend(spark, ta, Seq((5L, "a5"), (6L, "a6")).toDF("k", "av"))
    Manifest.deleteWhere(spark, ta, $"k" === 2L)                    // A v3
    Manifest.merge(spark, tb,
      Seq((3L, "B3NEW"), (6L, "b6")).toDF("k", "bv"), Seq("k"))     // B v2
    Manifest.deleteWhereMoR(spark, tb, $"k" === 1L)                 // B v3
    val feed = Incremental.joinChanges(spark, ta, tb, 1L, 3L, 1L, 3L,
      Seq("k"))
    // applying the feed to the old view must equal the new view as
    // multisets: old ∪ inserts ∖ deletes (exceptAll = multiset minus)
    val applied = v11
      .unionByName(feed.filter($"_change_type" === "insert")
        .drop("_change_type"))
      .exceptAll(feed.filter($"_change_type" === "delete")
        .drop("_change_type"))
    assert(rows(applied) == rows(view(3L, 3L)))
    // the feed is netted: no row appears as both insert and delete
    val dup = feed.groupBy("k", "av", "bv")
      .agg(F.countDistinct($"_change_type").as("n"))
      .filter($"n" > 1).count()
    assert(dup == 0, "netting must cancel rewrite churn")
    // and it carries the expected signals: k=3 rewrites (2 facts × dim
    // update ⇒ 2 deletes + 2 inserts), k=1 dies (MoR), k=5/6 appear
    assert(feed.filter($"k" === 3L && $"_change_type" === "insert").count() == 2)
    assert(feed.filter($"k" === 1L && $"_change_type" === "delete").count() == 1)
    assert(feed.filter($"k" === 1L && $"_change_type" === "insert").count() == 0)
    assert(feed.filter($"k" === 5L && $"_change_type" === "insert").count() == 1)
    // no-change window ⇒ empty feed
    assert(Incremental.joinChanges(spark, ta, tb, 3L, 3L, 3L, 3L,
      Seq("k")).count() == 0)
  }

  test("delete vectors on a schema-evolved table: the mask crosses " +
      "pre- and post-evolution files, NULL serving holds, fold keeps " +
      "the committed schema") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_dvevo").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 40).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    Manifest.commitAppend(spark, tbl,
      (41 to 60).map(i => (i.toLong, s"r$i", i * 10L)).toDF("id", "s", "n"),
      mergeSchema = true)
    // mask rows on BOTH sides of the evolution in one MoR delete
    Manifest.deleteWhereMoR(spark, tbl, $"id" === 10L || $"id" === 50L)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 58)
    assert(after.filter($"id".isin(10L, 50L)).count() == 0)
    // pre-evolution rows still serve NULL for the evolved column
    assert(after.filter($"id" === 5L).select("n").head().isNullAt(0))
    assert(after.filter($"id" === 45L).select("n").head().getLong(0) == 450L)
    // the feed of the mask commit crosses the evolution cleanly
    val ch = Manifest.readChanges(spark, tbl, 2L, 3L)
    assert(ch.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 50L))
    // fold: mask clears, committed schema survives, rows hold
    val expect = after.collect().map(_.toString).sorted.toSeq
    val s4 = Manifest.foldDeletes(spark, tbl)
    assert(!s4.meta.contains("delete_vectors") &&
      s4.meta.contains("table_schema"))
    assert(Manifest.read(spark, tbl).collect().map(_.toString).sorted.toSeq
      == expect)
  }

  test("CHECK constraints: contracts validate existing data at add " +
      "time, gate every new-row write path, pass NULL (SQL " +
      "three-valued), inherit across commits, and drop loudly") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_check").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 30).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    // adding a contract existing data breaks refuses
    val e0 = intercept[RuntimeException](
      Manifest.addCheck(spark, tbl, "small", "id < 10"))
    assert(e0.getMessage.contains("existing rows") &&
      e0.getMessage.contains("21 row(s)"))
    val s2 = Manifest.addCheck(spark, tbl, "positive", "id > 0")
    assert(Manifest.checks(s2) == Map("positive" -> "id > 0"))
    // appends: violating batch refuses with nothing committed
    val e1 = intercept[RuntimeException](Manifest.commitAppend(spark, tbl,
      Seq((-1L, "bad")).toDF("id", "s")))
    assert(e1.getMessage.contains("CHECK positive"))
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L))
    Manifest.commitAppend(spark, tbl, Seq((31L, "ok")).toDF("id", "s"))
    // CoW merge and MoR merge both gate their frozen source
    val e2 = intercept[RuntimeException](Manifest.merge(spark, tbl,
      Seq((5L, "x"), (-2L, "y")).toDF("id", "s"), Seq("id")))
    assert(e2.getMessage.contains("CHECK positive"))
    val e3 = intercept[RuntimeException](Manifest.mergeMoR(spark, tbl,
      Seq((-3L, "z")).toDF("id", "s"), Seq("id")))
    assert(e3.getMessage.contains("CHECK positive"))
    Manifest.merge(spark, tbl, Seq((5L, "UPD5")).toDF("id", "s"), Seq("id"))
    // staged batches gate at stage time; a contract added AFTER
    // staging still gates the publish
    val e4 = intercept[RuntimeException](Manifest.stageAppend(spark, tbl,
      Seq((-4L, "w")).toDF("id", "s")))
    assert(e4.getMessage.contains("CHECK positive"))
    val staged = Manifest.stageAppend(spark, tbl,
      Seq((200L, "big")).toDF("id", "s"))
    Manifest.addCheck(spark, tbl, "under100", "id <= 100 or s = 'r31'")
    val e5 = intercept[RuntimeException](
      Manifest.publishStage(spark, tbl, staged))
    assert(e5.getMessage.contains("CHECK under100"))
    Manifest.dropStage(spark, tbl, staged)
    // NULL passes (SQL CHECK semantics): a null id violates 'positive'?
    // no — NULL > 0 is unknown, unknown passes
    Manifest.commitAppend(spark, tbl,
      Seq((Some(99L), "ok2"), (None, "nullrow")).toDF("id", "s")
        .select($"id".cast("long").as("id"), $"s"))
    assert(Manifest.read(spark, tbl).filter($"id".isNull).count() == 1)
    // contracts inherit across compaction and ride the change feed era
    Manifest.compact(spark, tbl, targetBytes = 1L << 30)
    assert(Manifest.checks(Manifest.currentSnapshot(spark, tbl).get)
      .keySet == Set("positive", "under100"))
    // drop: unknown names refuse, known ones go
    intercept[IllegalArgumentException](
      Manifest.dropCheck(spark, tbl, "nope"))
    val sD = Manifest.dropCheck(spark, tbl, "under100")
    assert(Manifest.checks(sD).keySet == Set("positive"))
    Manifest.commitAppend(spark, tbl, Seq((200L, "big")).toDF("id", "s"))
    assert(Manifest.read(spark, tbl).filter($"id" === 200L).count() == 1)
  }

  test("symlink-format manifest export: a consistent absolute file " +
      "list for external engines, refused while a mask is live") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_sym").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 40).map(i => (i.toLong, s"r$i")).toDF("id", "s").repartition(3))
    Manifest.commitAppend(spark, tbl,
      (41 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val files = Manifest.writeSymlinkManifest(spark, tbl)
    // the export IS the snapshot's file list, and reading exactly
    // those files reproduces the table
    assert(files.toSet ==
      Manifest.read(spark, tbl).inputFiles.toSet)
    val listed = scala.io.Source.fromFile(
      s"$tbl/_symlink_format_manifest/manifest.txt").getLines().toSeq
    assert(listed.filterNot(_.startsWith("#")) == files)
    assert(listed.last == "# snapshot_version=2")
    assert(spark.read.parquet(files: _*).count() == 50)
    // a live mask refuses (an external reader cannot apply it);
    // folding re-enables
    Manifest.deleteWhereMoR(spark, tbl, $"id" === 7L)
    val e = intercept[IllegalArgumentException](
      Manifest.writeSymlinkManifest(spark, tbl))
    assert(e.getMessage.contains("delete vectors"))
    Manifest.foldDeletes(spark, tbl)
    val files2 = Manifest.writeSymlinkManifest(spark, tbl)
    assert(spark.read.parquet(files2: _*).count() == 49)
  }

  test("restore: rollback is a forward commit — content returns " +
      "exactly, history and pinned readers stand, the change feed " +
      "shows the rows coming back, vacuumed targets refuse") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_restore").toString
    val tbl = s"$dir/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    Manifest.create(spark, tbl,
      (1 to 60).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val v1Rows = rows(Manifest.read(spark, tbl))
    Manifest.commitAppend(spark, tbl,
      (61 to 70).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    Manifest.deleteWhere(spark, tbl, $"id" % 3 === 0)        // v3
    val pinned = Manifest.read(spark, tbl)
    val pinnedRows = rows(pinned)
    val s4 = Manifest.restore(spark, tbl, 1L)
    assert(s4.version == 4L)
    assert(rows(Manifest.read(spark, tbl)) == v1Rows)
    // the bad versions stay inspectable; the pinned reader stands
    assert(rows(Manifest.readVersion(spark, tbl, 3L)) == pinnedRows)
    assert(rows(pinned) == pinnedRows)
    // the restore's feed: exactly the deleted rows return, the
    // appended rows leave
    val ch = Manifest.readChanges(spark, tbl, 3L, 4L)
    assert(ch.filter($"_change_type" === "insert")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 60L).filter(_ % 3 == 0))
    assert(ch.filter($"_change_type" === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (61L to 70L).filterNot(_ % 3 == 0))
    // restoring the current version commits nothing
    assert(Manifest.restore(spark, tbl, 4L).version == 4L)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L, 3L, 4L))
    // a restore composes with MoR state: mask, restore past it, the
    // mask belongs to the restored version's meta (none here)
    Manifest.deleteWhereMoR(spark, tbl, $"id" === 5L)         // v5
    assert(Manifest.read(spark, tbl).count() == 59)
    Manifest.restore(spark, tbl, 4L)                          // v6
    assert(Manifest.read(spark, tbl).count() == 60,
      "restoring to a pre-mask version must clear the mask")
    // vacuumed target refuses loudly
    Manifest.vacuum(spark, tbl, keep = 2)
    val e = intercept[IllegalArgumentException](
      Manifest.restore(spark, tbl, 1L))
    assert(e.getMessage.contains("no retained version"))
  }

  test("mergeMoR: the upsert masks matched rows and appends the source " +
      "in ONE commit — no data file rewritten; equals the CoW merge " +
      "row for row; fold repays the mask") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_mmor").toString
    def mk(t: String) = {
      val tbl = s"$dir/$t"
      Manifest.create(spark, tbl,
        (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
          .repartitionByRange(4, $"id").sortWithinPartitions($"id"))
      tbl
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val (mor, cow) = (mk("mor"), mk("cow"))
    val source = ((10 to 15).map(i => (i.toLong, s"UPD$i")) ++
      Seq((201L, "NEW201"))).toDF("id", "s")
    val v1Paths = Manifest.currentSnapshot(spark, mor).get.paths
    val s2 = Manifest.mergeMoR(spark, mor, source, Seq("id"))
    Manifest.merge(spark, cow, source, Seq("id"))
    // identical result through both write paths
    assert(rows(Manifest.read(spark, mor)) == rows(Manifest.read(spark, cow)))
    assert(Manifest.read(spark, mor).count() == 101)
    // MoR: every v1 data file carried, one append, one vector — and
    // it all landed in ONE commit
    assert(s2.version == 2L)
    assert(v1Paths.toSet.subsetOf(s2.paths.toSet))
    assert(s2.paths.size == v1Paths.size + 1)
    assert(s2.meta.contains("delete_vectors"))
    // ambiguous source refused
    val e = intercept[IllegalArgumentException](Manifest.mergeMoR(spark,
      mor, Seq((1L, "a"), (1L, "b")).toDF("id", "s"), Seq("id")))
    assert(e.getMessage.contains("ambiguous"))
    // fold repays the mask; rows unchanged
    val expect = rows(Manifest.read(spark, mor))
    val s3 = Manifest.foldDeletes(spark, mor)
    assert(!s3.meta.contains("delete_vectors"))
    assert(rows(Manifest.read(spark, mor)) == expect)
  }

  test("refreshMaterializedJoin: watermarked catch-up equals the " +
      "recomputed join, costs one vector + one append per refresh, " +
      "no-ops when current, refuses a vacuumed watermark") {
    import graft.sources.{Incremental, Manifest}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_rmj").toString
    val (ta, tb, tv) = (s"$dir/a", s"$dir/b", s"$dir/v")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    Manifest.create(spark, ta,
      (1 to 40).map(i => (i.toLong, i % 5, s"a$i")).toDF("fid", "k", "av"))
    Manifest.create(spark, tb,
      (0 until 5).map(k => (k, s"b$k")).toDF("k", "bv"))
    def recompute = Manifest.read(spark, ta).join(Manifest.read(spark, tb), Seq("k"))
    // first refresh materializes
    assert(Incremental.refreshMaterializedJoin(spark, ta, tb, tv,
      Seq("k"), Seq("fid")) == (1L, 1L))
    assert(rows(Manifest.read(spark, tv)) == rows(recompute))
    // churn both sides, catch up: the view equals the recompute and
    // the catch-up commit is ONE append + ONE vector on the view
    Manifest.commitAppend(spark, ta,
      Seq((41L, 0, "a41"), (42L, 1, "a42")).toDF("fid", "k", "av"))
    Manifest.deleteWhere(spark, ta, $"fid" <= 5L)
    Manifest.merge(spark, tb, Seq((2, "B2NEW")).toDF("k", "bv"), Seq("k"))
    val vBefore = Manifest.currentSnapshot(spark, tv).get
    assert(Incremental.refreshMaterializedJoin(spark, ta, tb, tv,
      Seq("k"), Seq("fid")) == (3L, 2L))
    val vAfter = Manifest.currentSnapshot(spark, tv).get
    assert(rows(Manifest.read(spark, tv)) == rows(recompute))
    assert(vBefore.paths.toSet.subsetOf(vAfter.paths.toSet) &&
      vAfter.paths.size == vBefore.paths.size + 1,
      "catch-up must append, not rewrite")
    assert(vAfter.meta.contains("delete_vectors"))
    // re-run when current: version does not move
    assert(Incremental.refreshMaterializedJoin(spark, ta, tb, tv,
      Seq("k"), Seq("fid")) == (3L, 2L))
    assert(Manifest.currentSnapshot(spark, tv).get.version == vAfter.version)
    // compaction-only churn: feed is empty, watermark still advances
    Manifest.compact(spark, ta, targetBytes = 1L << 30)
    assert(Incremental.refreshMaterializedJoin(spark, ta, tb, tv,
      Seq("k"), Seq("fid")) == (4L, 2L))
    assert(rows(Manifest.read(spark, tv)) == rows(recompute))
    // a vacuumed watermark refuses; fullRefresh recovers
    Manifest.commitAppend(spark, ta, Seq((50L, 3, "a50")).toDF("fid", "k", "av"))
    Manifest.vacuum(spark, ta, keep = 1)
    val e = intercept[IllegalArgumentException](
      Incremental.refreshMaterializedJoin(spark, ta, tb, tv,
        Seq("k"), Seq("fid")))
    assert(e.getMessage.contains("no longer retained"))
    assert(Incremental.refreshMaterializedJoin(spark, ta, tb, tv,
      Seq("k"), Seq("fid"), fullRefresh = true) == (5L, 2L))
    assert(rows(Manifest.read(spark, tv)) == rows(recompute))
  }

  test("merge refuses ambiguous sources (NULL or duplicate keys) and " +
      "schema drift; a refused merge leaves no committed residue") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_merge2").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "s")
    val e1 = intercept[RuntimeException](
      Manifest.merge(spark, tbl, dup, Seq("id")))
    assert(e1.getMessage.contains("ambiguous"))
    val withNull = Seq((Some(1L), "a"), (None, "b"))
      .toDF("id", "s").select($"id".cast("long").as("id"), $"s")
    val e2 = intercept[RuntimeException](
      Manifest.merge(spark, tbl, withNull, Seq("id")))
    assert(e2.getMessage.contains("ambiguous"))
    val drift = Seq((1L, 2L)).toDF("id", "n")
    val e3 = intercept[IllegalArgumentException](
      Manifest.merge(spark, tbl, drift, Seq("id")))
    assert(e3.getMessage.contains("schema mismatch"))
    // no version landed; vacuum reclaims the refused merges' orphans
    assert(Manifest.versions(spark, tbl) == Seq(1L))
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.read(spark, tbl).count() == 10)
  }

  test("merge on a hive-partitioned table preserves the layout and " +
      "rewrites at directory grain") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_merge3").toString
    val tbl = s"$dir/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val base = (1 to 100).map(i => (i.toLong, i % 4, s"r$i"))
      .toDF("id", "cell", "s")
    Manifest.create(spark, tbl, base, partitionBy = Seq("cell"))
    val before = Manifest.read(spark, tbl)
    val source = Seq((4L, 0, "UPD4"), (8L, 0, "UPD8"), (501L, 1, "NEW501"))
      .toDF("id", "cell", "s")
    Manifest.merge(spark, tbl, source, Seq("id"))
    val after = Manifest.read(spark, tbl)
    assert(after.columns.toSet == Set("id", "cell", "s"))
    assert(after.count() == 101)
    assert(after.inputFiles.exists(_.contains("cell=")),
      "merge must keep the hive layout")
    val expected = before.filter(!$"id".isin(4L, 8L)).unionByName(
      source.select(before.columns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*))
    assert(rows(after) == rows(expected))
    // partition pruning still works over the merged snapshot
    val q = after.filter($"cell" === 1)
    assert(q.count() == 26)
  }

  test("tags pin a release through vacuum; untag makes it reclaimable again") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_tags").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl, (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    Manifest.commitAppend(spark, tbl,
      (51 to 60).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    Manifest.commitAppend(spark, tbl,
      (61 to 70).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    assert(Manifest.tag(spark, tbl, "rel-1.0", version = 1L,
      note = Some("first release")) == 1L)

    // immutability + validation
    val dup = intercept[Exception] { Manifest.tag(spark, tbl, "rel-1.0") }
    assert(dup.getMessage.contains("immutable"))
    intercept[Exception] { Manifest.tag(spark, tbl, "bad/name") }
    intercept[Exception] { Manifest.tag(spark, tbl, "rel-2.0", version = 99L) }
    assert(Manifest.tags(spark, tbl) == Map("rel-1.0" -> 1L))

    // keep-1 vacuum: v2 dies, tagged v1 survives WITH its data
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 3L))
    assert(Manifest.readTag(spark, tbl, "rel-1.0").count() == 50)
    assert(Manifest.read(spark, tbl).count() == 70)

    // untag → next vacuum reclaims the release
    Manifest.deleteTag(spark, tbl, "rel-1.0")
    intercept[Exception] { Manifest.deleteTag(spark, tbl, "rel-1.0") }
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.versions(spark, tbl) == Seq(3L))
    intercept[Exception] { Manifest.readTag(spark, tbl, "rel-1.0") }
  }

  test("vacuum retainMs keeps every snapshot inside the reader-lease window") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_lease").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl, Seq((1L, "a")).toDF("id", "s"))
    Manifest.commitAppend(spark, tbl, Seq((2L, "b")).toDF("id", "s"))
    Manifest.commitAppend(spark, tbl, Seq((3L, "c")).toDF("id", "s"))
    // every snapshot was committed seconds ago — a one-hour lease
    // protects all of them from a keep-1 vacuum
    Manifest.vacuum(spark, tbl, keep = 1, retainMs = 3600L * 1000)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L, 3L))
    // without the lease, keep-1 prunes to the current snapshot
    Manifest.vacuum(spark, tbl, keep = 1)
    assert(Manifest.versions(spark, tbl) == Seq(3L))
    assert(Manifest.read(spark, tbl).count() == 3)
  }

  test("metadata-served aggregates: the stats / stats_delta / scan " +
      "ladder is sound — every serving mode's values equal the live scan") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_statsagg").toString
    val tbl = s"$dir/t"
    // two files: one NULL-bearing, one with the column ALL-NULL (its
    // sidecar min/max/sum rows are NULL and must not poison the fold)
    Manifest.create(spark, tbl,
      Seq((1L, Option(10L)), (2L, None), (3L, Option(30L)))
        .toDF("id", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((4L, Option.empty[Long]), (5L, None)).toDF("id", "v").coalesce(1))
    def probe(cols: String*) =
      Manifest.statsAggregate(spark, tbl, cols).head()
    // no sidecar yet: honest scan fallback, correct values
    val s0 = probe("v")
    assert(s0.getAs[String]("served_from") == "scan")
    assert(s0.getAs[Long]("cnt") == 5 && s0.getAs[Long]("v_nn") == 2)
    assert(s0.getAs[Double]("v_sum") == 40.0)
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    // fully covered: served from driver metadata, zero files opened
    val s1 = probe("v")
    assert(s1.getAs[String]("served_from") == "stats")
    assert(s1.getAs[Long]("files_scanned") == 0)
    assert(s1.getAs[Long]("cnt") == 5 && s1.getAs[Long]("v_nn") == 2)
    assert(s1.getAs[Double]("v_min") == 10.0 &&
      s1.getAs[Double]("v_max") == 30.0 && s1.getAs[Double]("v_sum") == 40.0)
    // a column the sidecar predates: conservative scan, never wrong
    val sc = probe("id")
    assert(sc.getAs[String]("served_from") == "scan")
    assert(sc.getAs[Long]("id_nn") == 5 && sc.getAs[Double]("id_sum") == 15.0)
    // un-analyzed append: EXACTLY the new file scans, merged with stats
    Manifest.commitAppend(spark, tbl,
      Seq((6L, Option(60L))).toDF("id", "v").coalesce(1))
    val s2 = probe("v")
    assert(s2.getAs[String]("served_from") == "stats_delta")
    assert(s2.getAs[Long]("files_scanned") == 1)
    assert(s2.getAs[Long]("cnt") == 6 && s2.getAs[Double]("v_sum") == 100.0 &&
      s2.getAs[Double]("v_max") == 60.0)
    // a MoR mask makes raw-file stats overcount: honest scan fallback
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    Manifest.deleteKeysMoR(spark, tbl, "id", Seq(3L))
    val s3 = probe("v")
    assert(s3.getAs[String]("served_from") == "scan")
    assert(s3.getAs[Long]("cnt") == 5 && s3.getAs[Double]("v_sum") == 70.0 &&
      s3.getAs[Double]("v_max") == 60.0)
    // fold + re-analyze restores metadata serving over the new truth
    Manifest.foldDeletes(spark, tbl)
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val s4 = probe("v")
    assert(s4.getAs[String]("served_from") == "stats")
    assert(s4.getAs[Long]("files_scanned") == 0)
    assert(s4.getAs[Long]("cnt") == 5 && s4.getAs[Double]("v_sum") == 70.0)
  }

  test("history: every verb stamps its own operation, so inherited " +
      "metadata can never mislabel a commit") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_history").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl, Seq((1L, 5L)).toDF("id", "v"))
    Manifest.addCheck(spark, tbl, "pos", "v >= 0")
    Manifest.commitAppend(spark, tbl, Seq((2L, 6L)).toDF("id", "v"))
    Manifest.dropCheck(spark, tbl, "pos")
    val h = Manifest.history(spark, tbl).orderBy(col("version")).collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ==
      Seq("create", "add_check", "append", "drop_check"))
    assert(h.map(_.getAs[Int]("n_entries")).toSeq == Seq(1, 1, 2, 2))
    // a restore is labeled restore, not the restored version's verb
    Manifest.restore(spark, tbl, 1L)
    assert(Manifest.history(spark, tbl).orderBy(col("version"))
      .collect().last.getAs[String]("operation") == "restore")
  }

  test("string-envelope skipping: prefix and range probes prune a " +
      "string-clustered layout to the matching files and never lose rows") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_strskip").toString
    val tbl = s"$dir/t"
    // three hand-clustered files; the c-file carries a NULL (a NULL
    // never matches a range, and must not poison the envelope)
    Manifest.create(spark, tbl,
      Seq(("apple", 1L), ("apricot", 2L)).toDF("w", "id").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq(("banana", 3L), ("blueberry", 4L)).toDF("w", "id").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq(("cherry", 5L), ("citrus", 6L), (null, 7L))
        .toDF("w", "id").coalesce(1))
    // no sidecar yet: conservative full read
    assert(Manifest.readPrefix(spark, tbl, "w", "a").count() == 7)
    Manifest.analyzeFilesString(spark, tbl, Seq("w"))
    val all = Manifest.read(spark, tbl).inputFiles.length
    assert(all == 3)
    val pa = Manifest.readPrefix(spark, tbl, "w", "a")
    assert(pa.inputFiles.length == 1 && pa.count() == 2)
    val pb = Manifest.readPrefix(spark, tbl, "w", "blue")
    assert(pb.inputFiles.length == 1 &&
      pb.filter(col("w").startsWith("blue")).count() == 1)
    val rg = Manifest.readPrunedString(spark, tbl, "w",
      Some("banana"), Some("blueberry"))
    assert(rg.inputFiles.length == 1 && rg.count() == 2)
    // a disjoint range admits nothing (the NULL row never matches)
    assert(Manifest.readPrunedString(spark, tbl, "w",
      Some("x"), Some("z")).count() == 0)
    // an un-analyzed append: covered files keep pruning through the
    // newest retained sidecar, the uncovered appended file admits —
    // never a lost row
    Manifest.commitAppend(spark, tbl,
      Seq(("dragonfruit", 8L)).toDF("w", "id").coalesce(1))
    val fb = Manifest.readPrefix(spark, tbl, "w", "a")
    assert(fb.inputFiles.length <
      Manifest.read(spark, tbl).inputFiles.length)
    assert(fb.filter(col("w").startsWith("a")).count() == 2)
    // incremental re-analyze scans ONLY the appended file; pruning resumes
    assert(Manifest.analyzeFilesString(spark, tbl, Seq("w")) == 1)
    val pd = Manifest.readPrefix(spark, tbl, "w", "dragon")
    assert(pd.inputFiles.length == 1 && pd.count() == 1)
    assert(Manifest.readPrefix(spark, tbl, "w", "a").count() == 2)
  }

  test("mixed-family pruning: numeric AND string envelopes intersect — " +
      "the conjunction is at least as tight as either family alone and " +
      "never loses rows") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_mixskip").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq(("a", 1L), ("a", 10L)).toDF("w", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq(("b", 11L), ("b", 20L)).toDF("w", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq(("c", 21L), ("c", 30L)).toDF("w", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    Manifest.analyzeFilesString(spark, tbl, Seq("w"))
    // both families admit exactly the middle file
    val conj = Manifest.readPrunedMixed(spark, tbl,
      Seq(("v", 12.0, 18.0)), Seq(("w", Some("b"), Some("b"))))
    assert(conj.inputFiles.length == 1 && conj.count() == 2)
    // families disagree: the numeric range admits file 1, the string
    // range file 2 — the conjunction is empty
    assert(Manifest.readPrunedMixed(spark, tbl,
      Seq(("v", 1.0, 10.0)), Seq(("w", Some("b"), Some("b")))).count() == 0)
    // a family that cannot decide (un-analyzed column) admits all:
    // the conjunction degrades to the other family alone
    val half = Manifest.readPrunedMixed(spark, tbl,
      Seq(("v", 12.0, 18.0)), Seq(("w2_missing", Some("b"), Some("b"))))
    assert(half.inputFiles.length == 1 && half.count() == 2)
  }

  test("front-door file skipping: a cube WHERE with recoverable bounds " +
      "prunes the manifested fact's files at the driver — same results, " +
      "fewer files, composing with asOf") {
    import graft.sources.Manifest
    import graft.model.{Cube, Dimension, Metric, Selector}
    import graft.query.{CubeQuery, Pred}
    import graft.compile.Compiler
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_fdskip").toString
    val tbl = s"$dir/t"
    // three hand-clustered files: (word, value) per file
    Manifest.create(spark, tbl,
      Seq(("a", 1L), ("a", 10L)).toDF("w", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq(("b", 11L), ("b", 20L)).toDF("w", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq(("c", 21L), ("c", 30L)).toDF("w", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    Manifest.analyzeFilesString(spark, tbl, Seq("w"))
    def cube = Cube("t", Manifest.read(spark, tbl),
      dimensions = Map("w" -> Dimension("w", col("w"))),
      metrics = Map("n" -> Metric.countAll("n"),
        "sv" -> Metric.sumOf("sv", col("v"))),
      selectors = Map("v" -> Selector("v", col("v")),
        "w" -> Selector("w", col("w"))),
      manifestTable = Some(tbl))
    val all = Manifest.read(spark, tbl).inputFiles.length
    assert(all == 3)
    // numeric range: only the middle file opens
    val q1 = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .measure("sv", "sv").when(Pred.Op("v", "between", Some(Seq(11, 20)))))
    assert(q1.inputFiles.length == 1, q1.inputFiles.mkString(","))
    assert(q1.head() == org.apache.spark.sql.Row(2L, 31L))
    // string equality point: only the matching file opens
    val q2 = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.Op("w", "eq", Some("c"))))
    assert(q2.inputFiles.length == 1 && q2.head().getLong(0) == 2)
    // both families conjoin; contradictory families open nothing
    val q3 = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.And(Seq(Pred.Op("w", "eq", Some("b")),
        Pred.Op("v", "gteq", Some(21))))))
    assert(q3.inputFiles.isEmpty && q3.head().getLong(0) == 0)
    // string RANGE (the day-BETWEEN time-series shape): two of three
    // files admit
    val qr = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.Op("w", "between", Some(Seq("a", "b")))))
    assert(qr.inputFiles.length == 2 && qr.head().getLong(0) == 4)
    // OR trees prune to the UNION of their disjuncts' file sets
    // (tree admission): w='a' OR w='c' admits exactly files 1 and 3
    val q4 = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.Or(Seq(Pred.Op("w", "eq", Some("a")),
        Pred.Op("w", "eq", Some("c"))))))
    assert(q4.inputFiles.length == 2 && q4.head().getLong(0) == 4)
    // IN-shaped numeric probe: two points in two different files
    val qin = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.Op("v", "in", Some(Seq(1, 30)))))
    assert(qin.inputFiles.length == 2 && qin.head().getLong(0) == 2)
    // an OR with one unboundable arm admits everything — and because
    // nothing prunes, the fact is left UNBOUND (no rebind)
    val qor = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.Or(Seq(Pred.Op("w", "eq", Some("a")),
        Pred.Op("w", "like", Some("%c%"))))))
    assert(qor.inputFiles.length == all && qor.head().getLong(0) == 4)
    // composes with asOf: pin v1+where — the exact-version sidecar
    // would be needed, so the pinned scan serves the FULL pinned
    // snapshot (conservative) and the values are the pinned epoch's
    Manifest.deleteWhere(spark, tbl, col("v") === 30L)
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val q5 = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.Op("v", "gteq", Some(21))).asOfVersion(3))
    assert(q5.head().getLong(0) == 2, "pinned epoch still has v=30")
    val q6 = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .when(Pred.Op("v", "gteq", Some(21))))
    assert(q6.head().getLong(0) == 1)
  }

  test("OR/IN file skipping: tree admission prunes to per-disjunct " +
      "unions — disjoint, overlapping, single-arm, and mixed-family " +
      "shapes — and admits conservatively on NOT / foreign columns") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_orin").toString
    val tbl = s"$dir/t"
    // 8 range-clustered files over id 1..800; sid zero-padded so
    // lexicographic order == numeric order
    Manifest.create(spark, tbl,
      (1 to 800).map(i => (i.toLong, "%04d".format(i))).toDF("id", "sid")
        .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")))
    Manifest.analyzeFiles(spark, tbl, Seq("id"))
    Manifest.analyzeFilesString(spark, tbl, Seq("sid"))
    val full = Manifest.read(spark, tbl)
    val nAll = full.inputFiles.length
    assert(nAll == 8)
    def pruned(pred: org.apache.spark.sql.Column) =
      Manifest.readPrunedWhereOpt(spark, tbl, pred)
    def check(pred: org.apache.spark.sql.Column, maxFiles: Int): Unit = {
      val df = pruned(pred).getOrElse(fail(s"nothing pruned for $pred"))
      assert(df.inputFiles.length <= maxFiles && df.inputFiles.length < nAll,
        s"$pred admitted ${df.inputFiles.length} files")
      val got = df.filter(pred).collect().map(_.toString).sorted
      val want = full.filter(pred).collect().map(_.toString).sorted
      assert(got.sameElements(want), s"$pred: pruned read lost rows")
    }
    // IN: two points in two far-apart files
    check(col("id").isin(5L, 790L), 3)
    // OR of DISJOINT ranges: union of the two file sets
    check(col("id").between(100, 120) || col("id").between(600, 620), 4)
    // OVERLAPPING ranges: union, no double-count, rows intact
    check(col("id").between(100, 300) || col("id").between(250, 420), 6)
    // SINGLE-ARM ranges OR'd: (id < 50) || (id > 760)
    check(col("id") < 50 || col("id") > 760, 3)
    // mixed families: a numeric arm OR a string arm
    check(col("id") < 50 || col("sid") >= "0790", 3)
    // string IN through the strstats envelopes
    check(col("sid").isin("0007", "0777"), 3)
    // conjunction AND disjunction nested
    check((col("id") > 700 && col("sid") <= "0710") || col("id") < 5, 4)
    // zero-admitting IN: every literal outside every envelope ⇒ a
    // well-formed empty frame, no file opened
    val empty = pruned(col("id").isin(5000L, 6000L))
    assert(empty.nonEmpty && empty.get.inputFiles.isEmpty &&
      empty.get.count() == 0)
    // NOT subtrees admit everything ⇒ None (caller keeps plain read)
    assert(pruned(!(col("id") < 700)).isEmpty)
    // a disjunct on a column no sidecar covers admits everything
    assert(pruned(col("id") < 50 || col("other") === 1).isEmpty)
    // provenance gate per LEAF: with id non-prunable, only the sid
    // arm may prune — an OR keeps both sides' admissions sound
    val gated = Manifest.readPrunedWhereOpt(spark, tbl,
      col("id").isin(5L, 790L), None, prunable = _ == "sid")
    assert(gated.isEmpty, "a non-prunable leaf must admit every file")
  }

  test("grouped metadata aggregates: file-constant keys serve GROUP BY " +
      "from the sidecar with zero data files opened; impure/unclustered/" +
      "NULL-bearing key files scan; DVs and missing sidecars fall back") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_grouped").toString

    // --- numeric key, one file per key (the clustered/partitioned
    // layout's file-constant shape) ---
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((1L, 10L), (1L, 20L)).toDF("k", "w").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((2L, 30L), (2L, 40L), (2L, 50L)).toDF("k", "w").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((3L, 60L)).toDF("k", "w").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("k", "w"))
    val g = Manifest.statsAggregateGrouped(spark, tbl, Seq("k"), Seq("w"))
      .collect()
    assert(g.length == 3)
    assert(g.forall(_.getAs[String]("served_from") == "stats") &&
      g.forall(_.getAs[Long]("files_scanned") == 0L),
      "fully-covered grouped serve must open ZERO data files")
    val byKey = g.map(r => r.getAs[Long]("k") ->
      (r.getAs[Long]("cnt"), r.getAs[Double]("w_sum"))).toMap
    assert(byKey == Map(1L -> (2L, 30.0), 2L -> (3L, 120.0),
      3L -> (1L, 60.0)))
    // with a WHERE range: boundary file scans, disjoint drops
    val gw = Manifest.statsAggregateGrouped(spark, tbl, Seq("k"),
      Seq("w"), where = Seq(("w", 10.0, 35.0))).collect()
    assert(gw.map(r => r.getAs[Long]("k") -> r.getAs[Long]("cnt")).toMap ==
      Map(1L -> 2L, 2L -> 1L))
    assert(gw.head.getAs[String]("served_from") == "stats_delta" &&
      gw.head.getAs[Long]("files_scanned") == 1L,
      "only the boundary file (k=2) may scan")
    // equals the direct computation, always
    val direct = Manifest.read(spark, tbl).groupBy("k")
      .agg(F.count(F.lit(1)).as("cnt"), F.sum("w").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        r.getLong(2).toDouble)).toMap
    assert(byKey == direct)

    // --- a file with MIXED keys (unclustered) and one with a NULL key
    // must scan; groups still exact, NULL key is its own group ---
    Manifest.commitAppend(spark, tbl,
      Seq((1L, 70L), (3L, 80L)).toDF("k", "w").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((Option.empty[Long], 90L), (Option(2L), 100L))
        .toDF("k", "w").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("k", "w"))
    val g2 = Manifest.statsAggregateGrouped(spark, tbl, Seq("k"), Seq("w"))
    val got2 = g2.collect()
    assert(got2.head.getAs[String]("served_from") == "stats_delta" &&
      got2.head.getAs[Long]("files_scanned") == 2L,
      "exactly the mixed-key and NULL-key files scan")
    val direct2 = Manifest.read(spark, tbl).groupBy("k")
      .agg(F.count(F.lit(1)).cast("long").as("cnt"),
        F.sum(F.col("w").cast("double")).as("s")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    val got2m = got2.map(r => (if (r.isNullAt(0)) -1L else
      r.getAs[Long]("k")) ->
      (r.getAs[Long]("cnt"), r.getAs[Double]("w_sum"))).toMap
    assert(got2m == direct2, "grouped serve must equal the direct scan")

    // --- DV on the snapshot: full grouped-scan fallback, still exact ---
    Manifest.deleteWhereMoR(spark, tbl, col("w") === 40L)
    val g3 = Manifest.statsAggregateGrouped(spark, tbl, Seq("k"), Seq("w"))
      .collect()
    assert(g3.head.getAs[String]("served_from") == "scan")
    assert(g3.map(r => (if (r.isNullAt(0)) -1L else r.getAs[Long]("k")) ->
      r.getAs[Long]("cnt")).toMap ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 2L, -1L -> 1L))

    // --- string key (the GROUP BY day shape), count-only ---
    val tbl2 = s"$dir/days"
    Manifest.create(spark, tbl2,
      Seq(("2024-01-01", 1L), ("2024-01-01", 2L))
        .toDF("day", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl2,
      Seq(("2024-01-02", 3L), ("2024-01-02", 4L), ("2024-01-02", 5L))
        .toDF("day", "v").coalesce(1))
    Manifest.analyzeFilesString(spark, tbl2, Seq("day"))
    val gd = Manifest.statsAggregateGrouped(spark, tbl2, Seq("day"), Nil)
      .collect()
    assert(gd.forall(_.getAs[String]("served_from") == "stats") &&
      gd.forall(_.getAs[Long]("files_scanned") == 0L))
    assert(gd.map(r => r.getAs[String]("day") -> r.getAs[Long]("cnt"))
      .toMap == Map("2024-01-01" -> 2L, "2024-01-02" -> 3L))
    // no sidecar for a requested measure: scan fallback, exact
    val gm = Manifest.statsAggregateGrouped(spark, tbl2, Seq("day"),
      Seq("v")).collect()
    assert(gm.head.getAs[String]("served_from") == "scan" &&
      gm.map(r => r.getAs[String]("day") -> r.getAs[Double]("v_sum"))
        .toMap == Map("2024-01-01" -> 3.0, "2024-01-02" -> 12.0))

    // --- hive partition column: the canonical file-constant key ---
    val tbl3 = s"$dir/hive"
    Manifest.create(spark, tbl3,
      Seq((1L, 100L), (1L, 200L), (2L, 300L)).toDF("day", "v"),
      partitionBy = Seq("day"))
    Manifest.analyzeFiles(spark, tbl3, Seq("day", "v"))
    val gh = Manifest.statsAggregateGrouped(spark, tbl3, Seq("day"),
      Seq("v")).collect()
    assert(gh.forall(_.getAs[String]("served_from") == "stats") &&
      gh.forall(_.getAs[Long]("files_scanned") == 0L),
      "an analyzed hive layout serves grouped from metadata")
    assert(gh.map(r => r.getAs[Long]("day") -> r.getAs[Double]("v_sum"))
      .toMap == Map(1L -> 300.0, 2L -> 300.0))
  }

  test("filtered metadata aggregates: a complete range WHERE serves " +
      "from fully-covered files' stats and scans only boundary / " +
      "NULL-bearing files") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_statswhere").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((1L, Option(100L)), (10L, Option(200L))).toDF("v", "w").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((11L, Option(300L)), (20L, Option.empty[Long]))
        .toDF("v", "w").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((21L, Option(500L)), (30L, Option(600L))).toDF("v", "w").coalesce(1))
    // the trap file: v envelope [15,15] sits inside ranges, but a NULL
    // v row means nn != cnt — the file must SCAN, or the NULL row
    // would be counted as matching
    Manifest.commitAppend(spark, tbl,
      Seq((Option(15L), 700L), (Option.empty[Long], 800L))
        .toDF("v", "w").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("v", "w"))
    def probe(lo: Double, hi: Double) = Manifest.statsAggregateWhere(
      spark, tbl, Seq("w"), Seq(("v", lo, hi))).head()
    val a = probe(1, 20) // f1+f2 full, f4 scans, f3 disjoint
    assert(a.getAs[String]("served_from") == "stats_delta" &&
      a.getAs[Long]("files_scanned") == 1)
    assert(a.getAs[Long]("cnt") == 5 && a.getAs[Long]("w_nn") == 4 &&
      a.getAs[Double]("w_sum") == 1300.0 &&
      a.getAs[Double]("w_max") == 700.0)
    val b = probe(21, 30) // f3 full, everything else disjoint: ZERO scans
    assert(b.getAs[String]("served_from") == "stats" &&
      b.getAs[Long]("files_scanned") == 0)
    assert(b.getAs[Long]("cnt") == 2 && b.getAs[Double]("w_sum") == 1100.0)
    val c = probe(5, 20) // f1 becomes boundary: scans with f4
    assert(c.getAs[Long]("files_scanned") == 2 &&
      c.getAs[Long]("cnt") == 4 && c.getAs[Double]("w_sum") == 1200.0)
    // disjoint everywhere: zero rows, zero scans
    val z = probe(1000, 2000)
    assert(z.getAs[Long]("cnt") == 0 && z.getAs[Long]("files_scanned") == 0 &&
      z.getAs[String]("served_from") == "stats")
    // always equals the live filtered scan
    val direct = Manifest.read(spark, tbl)
      .filter(col("v") >= 1 && col("v") <= 20)
      .agg(F.count(F.lit(1)), F.sum("w")).head()
    assert(direct.getLong(0) == a.getAs[Long]("cnt") &&
      direct.getLong(1) == a.getAs[Double]("w_sum").toLong)
    // the statsOnly front door serves the same filter (LocalRelation,
    // exact values); a STRICT comparison refuses — relaxing `>` to
    // `>=` is fine for pruning, never for an exact serve
    import graft.model.{Cube, Metric, Selector, CubeQueryException}
    import graft.query.{CubeQuery, Pred}
    import graft.compile.Compiler
    val cube = Cube("t", Manifest.read(spark, tbl),
      dimensions = Map.empty,
      metrics = Map("n" -> Metric.countAll("n"),
        "sw" -> Metric.sumOf("sw", col("w"))),
      selectors = Map("v" -> Selector("v", col("v"))),
      manifestTable = Some(tbl))
    val q = Compiler.compile(CubeQuery(cube).measure("n", "n")
      .measure("sw", "sw")
      .when(Pred.Op("v", "between", Some(Seq(1, 20)))).statsOnly)
    assert(q.inputFiles.isEmpty)
    assert(q.head() == org.apache.spark.sql.Row(5L, 1300L))
    val e = intercept[CubeQueryException](Compiler.compile(CubeQuery(cube)
      .measure("n", "n").when(Pred.Op("v", "gt", Some(5))).statsOnly))
    assert(e.getMessage.contains("conjunction"), e.getMessage)
    // full composition: filtered + statsOnly + asOf — the pinned
    // epoch's filtered serve survives a later takedown
    Manifest.deleteWhere(spark, tbl, col("v") === 11L)
    Manifest.analyzeFiles(spark, tbl, Seq("v", "w"))
    def filt(qq: CubeQuery) = Compiler.compile(qq.measure("n", "n")
      .measure("sw", "sw")
      .when(Pred.Op("v", "between", Some(Seq(1, 20)))).statsOnly)
    assert(filt(CubeQuery(cube).asOfVersion(4)).head() ==
      org.apache.spark.sql.Row(5L, 1300L))
    assert(filt(CubeQuery(cube)).head() ==
      org.apache.spark.sql.Row(4L, 1000L))
  }

  test("one metadata serve: the flat and filtered forms are the grouped " +
      "serve with no keys — count(*) serves from stats, an all-disjoint " +
      "range is one cnt-0 row, a hive layout's range serves from stats") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_onestats").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((1L, 10L), (2L, 20L)).toDF("id", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((3L, 30L)).toDF("id", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    // count(*) only: the per-file counts come from the sidecar
    val c = Manifest.statsAggregate(spark, tbl, Nil).collect()
    assert(c.length == 1)
    assert(c.head.schema.fieldNames.toSeq ==
      Seq("cnt", "served_from", "files_scanned"))
    assert(c.head.getAs[String]("served_from") == "stats" &&
      c.head.getAs[Long]("files_scanned") == 0L &&
      c.head.getAs[Long]("cnt") == 3L)
    // every file disjoint: still exactly one row, cnt 0, NULL scalars
    val z = Manifest.statsAggregateWhere(spark, tbl, Seq("v"),
      Seq(("v", 100.0, 200.0))).collect()
    assert(z.length == 1)
    val zr = z.head
    assert(zr.getAs[Long]("cnt") == 0L && zr.getAs[Long]("v_nn") == 0L)
    assert(Seq("v_min", "v_max", "v_sum").forall(n =>
      zr.isNullAt(zr.fieldIndex(n))))
    assert(zr.getAs[String]("served_from") == "stats" &&
      zr.getAs[Long]("files_scanned") == 0L)
    // a hive-partitioned snapshot: one file per day; a range that
    // leaves every file disjoint or fully inside serves from stats
    val hive = s"$dir/hive"
    Manifest.create(spark, hive,
      Seq((1L, 100L), (1L, 200L), (2L, 300L)).toDF("day", "v").coalesce(1),
      partitionBy = Seq("day"))
    Manifest.analyzeFiles(spark, hive, Seq("v"))
    val h = Manifest.statsAggregateWhere(spark, hive, Seq("v"),
      Seq(("v", 250.0, 400.0))).head()
    assert(h.getAs[String]("served_from") == "stats" &&
      h.getAs[Long]("files_scanned") == 0L)
    assert(h.getAs[Long]("cnt") == 1L && h.getAs[Double]("v_sum") == 300.0)
    // a boundary file on a hive layout: the full scan, still exact
    val hb = Manifest.statsAggregateWhere(spark, hive, Seq("v"),
      Seq(("v", 150.0, 400.0))).head()
    assert(hb.getAs[String]("served_from") == "scan")
    assert(hb.getAs[Long]("cnt") == 2L && hb.getAs[Double]("v_sum") == 500.0)
  }

  test("the 2^53 guard at both front doors: statsOnly refuses an " +
      "integral sum or max that could round, and the SQL pushdown " +
      "declines it so Spark's scan returns the exact value") {
    import graft.sources.Manifest
    import graft.sources.v2.GraftScanInfo
    import graft.model.{Cube, CubeQueryException, Metric}
    import graft.query.CubeQuery
    import graft.compile.Compiler
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("manifest_2p53")
      .toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.root", root)
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val tbl = s"$root/db/big"
    val half = 1L << 52
    // two files, each exact as a double; their sum crosses 2^53
    Manifest.create(spark, tbl,
      Seq((1L, half + 1)).toDF("id", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((2L, half + 3)).toDF("id", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val cube = Cube("big", Manifest.read(spark, tbl),
      dimensions = Map.empty,
      metrics = Map("sv" -> Metric.sumOf("sv", col("v")),
        "mx" -> Metric.maxOf("mx", col("v"))),
      selectors = Map.empty,
      manifestTable = Some(tbl))
    def statsOnly(m: String) =
      Compiler.compile(CubeQuery(cube).measure(m, m).statsOnly)
    val es = intercept[CubeQueryException](statsOnly("sv"))
    assert(es.getMessage.contains("exceeds 2^53"), es.getMessage)
    // the max is still exact: the guard refuses only what could round
    assert(statsOnly("mx").head().getLong(0) == half + 3)
    // SQL: a count(*) pushes down (zero files), the sum declines
    assert(spark.sql("SELECT count(*) FROM graft.db.big").head()
      .getLong(0) == 2L)
    assert(GraftScanInfo.lastFiles(tbl).exists(_.isEmpty))
    assert(spark.sql("SELECT sum(v) FROM graft.db.big").head()
      .getLong(0) == 2 * half + 4)
    assert(GraftScanInfo.lastFiles(tbl).exists(_.nonEmpty),
      "a sum past 2^53 must decline the pushdown and scan")
    // a row past 2^53: its max would round
    val past = (1L << 53) + 1
    Manifest.commitAppend(spark, tbl,
      Seq((3L, past)).toDF("id", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val em = intercept[CubeQueryException](statsOnly("mx"))
    assert(em.getMessage.contains("silently rounded"), em.getMessage)
    assert(spark.sql("SELECT count(*) FROM graft.db.big").head()
      .getLong(0) == 3L)
    assert(GraftScanInfo.lastFiles(tbl).exists(_.isEmpty))
    assert(spark.sql("SELECT max(v) FROM graft.db.big").head()
      .getLong(0) == past)
    assert(GraftScanInfo.lastFiles(tbl).exists(_.nonEmpty),
      "a max past 2^53 must decline the pushdown and scan")
  }

  test("statsOnly front door: the metadata-served result is " +
      "indistinguishable from the scan — same schema, same values — " +
      "and its plan reads zero data files") {
    import graft.sources.Manifest
    import graft.model.{Cube, Dimension, Metric}
    import graft.query.CubeQuery
    import graft.compile.Compiler
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_statsonly").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((1L, Option(10L)), (2L, None), (3L, Option(30L)))
        .toDF("id", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val cube = Cube("t", Manifest.read(spark, tbl),
      dimensions = Map("id" -> Dimension("id", col("id"))),
      metrics = Map(
        "n" -> Metric.countAll("n"),
        "nn" -> Metric("nn", p =>
          F.count(p.map(pr => F.when(pr, col("v"))).getOrElse(col("v")))),
        "sv" -> Metric.sumOf("sv", col("v")),
        "mn" -> Metric.minOf("mn", col("v")),
        "mx" -> Metric.maxOf("mx", col("v"))),
      selectors = Map.empty,
      manifestTable = Some(tbl))
    val base = CubeQuery(cube).measure("n", "n").measure("nn", "nn")
      .measure("sv", "sv").measure("mn", "mn").measure("mx", "mx")
    val scan = Compiler.compile(base)
    val meta = Compiler.compile(base.statsOnly)
    assert(meta.schema == scan.schema,
      s"statsOnly must be type-indistinguishable:\n${meta.schema}\nvs\n${scan.schema}")
    assert(meta.collect().toSeq == scan.collect().toSeq)
    assert(meta.inputFiles.isEmpty, "statsOnly plan must read no data files")
    assert(scan.inputFiles.nonEmpty)
    // options still fold on the served row (a 1-row sort is a no-op,
    // but the fold path must not break)
    assert(Compiler.compile(base.statsOnly.asc("n")).count() == 1)
    // asOf composes: after a CoW takedown + re-analyze, BOTH epochs
    // serve from metadata — the pinned snapshot from its retained
    // sidecar, the current one from the fresh analyze
    Manifest.deleteWhere(spark, tbl, col("id") === 3L)
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val oldQ = Compiler.compile(base.asOfVersion(1).statsOnly).head()
    val curQ = Compiler.compile(base.statsOnly).head()
    assert(Compiler.compile(base.asOfVersion(1).statsOnly).inputFiles.isEmpty)
    assert(Compiler.compile(base.statsOnly).inputFiles.isEmpty)
    assert(oldQ.getAs[Long]("n") == 3 && oldQ.getAs[Long]("nn") == 2 &&
      oldQ.getAs[Long]("sv") == 40L && oldQ.getAs[Long]("mx") == 30L)
    assert(curQ.getAs[Long]("n") == 2 && curQ.getAs[Long]("nn") == 1 &&
      curQ.getAs[Long]("sv") == 10L && curQ.getAs[Long]("mx") == 10L)
    // refusals: filter, non-flat grouping, measure filter, joined/
    // unknown column, non-manifested cube
    def refusal(q: CubeQuery, needle: String): Unit = {
      val e = intercept[graft.model.CubeQueryException](Compiler.compile(q))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    // a filter on a selector this cube never declared refuses at
    // resolution (the exactly-servable-filter path is covered by the
    // "filtered metadata aggregates" test)
    refusal(base.statsOnly.when(
      graft.query.Pred.Op("id", "gt", Some(1))), "unknown selector")
    refusal(CubeQuery(cube).measure("n", "n").withRollup.statsOnly,
      "flat grouping")
    refusal(CubeQuery(cube).measureWhen("n", "n",
      graft.query.Pred.Op("id", "gt", Some(1))).statsOnly, "has a filter")
    refusal(CubeQuery(cube.copy(manifestTable = None))
      .measure("n", "n").statsOnly, "manifested source")
  }

  test("maintenance advisor: each trigger fires in exactly its state " +
      "and falls silent once the verb runs") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_advise").toString
    def actions(tbl: String, keep: Int = 10) =
      Manifest.adviseMaintenance(spark, tbl, keepVersions = keep)
        .select("action").collect().map(_.getString(0)).toSet

    // healthy one-file table: silent (incl. no nag for sidecar
    // families the table never opted into)
    val t0 = s"$dir/healthy"
    Manifest.create(spark, t0, Seq((1L, 2L)).toDF("k", "v"))
    assert(actions(t0).isEmpty)

    // fragmentation: many tiny files ⇒ compact; compaction silences
    val t1 = s"$dir/frag"
    Manifest.create(spark, t1,
      (1 to 400).map(i => (i.toLong, i.toLong)).toDF("k", "v")
        .repartition(20))
    assert(actions(t1) == Set("compact"))
    Manifest.compact(spark, t1, targetBytes = 1L << 30)
    assert(actions(t1).isEmpty)

    // delete-vector pileup: two MoR takedowns ⇒ foldDeletes; the fold
    // silences
    val t2 = s"$dir/dv"
    Manifest.create(spark, t2,
      (1 to 100).map(i => (i.toLong, i.toLong)).toDF("k", "v").coalesce(1))
    Manifest.deleteWhereMoR(spark, t2, col("k") === 5L)
    assert(actions(t2).isEmpty, "one vector is not yet pileup")
    Manifest.deleteWhereMoR(spark, t2, col("k") === 7L)
    assert(actions(t2) == Set("foldDeletes"))
    Manifest.foldDeletes(spark, t2)
    assert(actions(t2).isEmpty)

    // sidecar staleness: analyzed, then appends leave >25% uncovered ⇒
    // analyze; the (incremental) re-run silences
    val t3 = s"$dir/stale"
    Manifest.create(spark, t3, Seq((1L, 2L)).toDF("k", "v").coalesce(1))
    Manifest.analyzeFiles(spark, t3, Seq("v"))
    assert(actions(t3).isEmpty)
    (1 to 3).foreach(i => Manifest.commitAppend(spark, t3,
      Seq((i + 1L, i + 2L)).toDF("k", "v").coalesce(1)))
    assert(actions(t3) == Set("analyze"))
    Manifest.analyzeFiles(spark, t3, Seq("v"))
    assert(actions(t3).isEmpty)

    // version pileup: more retained snapshots than the window ⇒
    // vacuum; vacuuming silences
    val t4 = s"$dir/vers"
    Manifest.create(spark, t4, Seq((1L, 2L)).toDF("k", "v"))
    (1 to 5).foreach(i => Manifest.commitAppend(spark, t4,
      Seq((i + 1L, 2L)).toDF("k", "v")))
    assert(actions(t4, keep = 4) == Set("vacuum"))
    Manifest.vacuum(spark, t4, keep = 2)
    assert(actions(t4, keep = 4).isEmpty)

    // MASK-HEAVY: a single vector below the dir-count threshold but
    // hiding a measured >5% of the sidecar-counted rows ⇒ foldDeletes
    // — DV-carrying files lose parquet footer pushdown on every read.
    // A small mask stays silent; a table with no stats sidecar is
    // never nagged (the fraction cannot be measured from metadata).
    val t5 = s"$dir/masklight"
    Manifest.create(spark, t5,
      (1 to 100).map(i => (i.toLong, i.toLong)).toDF("k", "v").coalesce(1))
    Manifest.analyzeFiles(spark, t5, Seq("v"))
    Manifest.deleteWhereMoR(spark, t5, col("k") === 5L) // 1% masked
    assert(actions(t5).isEmpty, "a 1% mask is not mask-heavy")
    val t6 = s"$dir/maskheavy"
    Manifest.create(spark, t6,
      (1 to 100).map(i => (i.toLong, i.toLong)).toDF("k", "v").coalesce(1))
    Manifest.analyzeFiles(spark, t6, Seq("v"))
    Manifest.deleteWhereMoR(spark, t6, col("k") <= 20L) // 20% masked
    val heavy = Manifest.adviseMaintenance(spark, t6).collect()
    assert(heavy.map(_.getString(0)).toSet == Set("foldDeletes"),
      s"got ${heavy.map(_.getString(0)).mkString(",")}")
    assert(heavy.head.getString(1).contains("footer pushdown"))
    assert(heavy.head.getDouble(2) > 0.15 && heavy.head.getDouble(2) < 0.25)
    // the fold silences the mask trigger (the rewrite leaves the
    // sidecar stale — the advisor hands off to analyze, which then
    // silences fully: the loop's own discipline)
    Manifest.foldDeletes(spark, t6)
    assert(actions(t6) == Set("analyze"))
    Manifest.analyzeFiles(spark, t6, Seq("v"))
    assert(actions(t6).isEmpty)
  }

  test("composite-key bloom: multi-column point reads, takedowns, and " +
      "merges prune files through the tuple-hash sidecar; no sidecar " +
      "degrades to the exact full scan") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_compbloom").toString
    val tbl = s"$dir/t"
    // round-robin 8 files: every file spans the whole key space, so
    // envelopes cannot prune — only the bloom can
    val data = (1 to 400).map(i => (i.toLong % 20, s"u${i % 50}", i.toLong))
    Manifest.create(spark, tbl,
      data.toDF("day", "user", "v").repartition(8))
    Manifest.analyzeFilesBloom(spark, tbl,
      Seq(Manifest.compositeName(Seq("day", "user"))),
      expectedItemsPerFile = 10000)
    val nAll = Manifest.read(spark, tbl).inputFiles.length
    assert(nAll == 8)
    // multi-column point read: the probed tuples' files only
    val probe = Seq(Seq(3L, "u23"), Seq(7L, "u27"))
    val pt = Manifest.readPointTuples(spark, tbl, Seq("day", "user"), probe)
    assert(pt.inputFiles.length < nAll,
      s"composite bloom admitted ${pt.inputFiles.length} of $nAll")
    val want = Manifest.read(spark, tbl)
      .filter(($"day" === 3L && $"user" === "u23") ||
        ($"day" === 7L && $"user" === "u27")).collect().map(_.toString).sorted
    assert(pt.filter(($"day" === 3L && $"user" === "u23") ||
        ($"day" === 7L && $"user" === "u27"))
      .collect().map(_.toString).sorted.sameElements(want))
    assert(want.nonEmpty, "probe tuples must exist in the fixture")
    // multi-column takedown: exact final state, tuple-restricted scan
    val before = Manifest.read(spark, tbl).count()
    Manifest.deleteKeysTuples(spark, tbl, Seq("day", "user"), probe)
    val after = Manifest.read(spark, tbl)
    assert(after.count() == before - want.length)
    assert(after.filter(($"day" === 3L && $"user" === "u23") ||
      ($"day" === 7L && $"user" === "u27")).count() == 0)
    // multi-key merge on the composite bloom: updates + inserts exact
    Manifest.analyzeFilesBloom(spark, tbl,
      Seq(Manifest.compositeName(Seq("day", "user"))),
      expectedItemsPerFile = 10000)
    val src = Seq((5L, "u25", 99999L), (777L, "unew", 1L))
      .toDF("day", "user", "v")
    Manifest.merge(spark, tbl, src, Seq("day", "user"))
    val merged = Manifest.read(spark, tbl)
    assert(merged.filter($"day" === 5L && $"user" === "u25" &&
      $"v" === 99999L).count() ==
      merged.filter($"day" === 5L && $"user" === "u25").count())
    assert(merged.filter($"day" === 777L).count() == 1)
    // soundness without a sidecar: same results, full scan
    val tbl2 = s"$dir/t2"
    Manifest.create(spark, tbl2,
      data.toDF("day", "user", "v").repartition(4))
    val pt2 = Manifest.readPointTuples(spark, tbl2, Seq("day", "user"), probe)
    assert(pt2.inputFiles.length == 4, "no sidecar: conservative full read")
    Manifest.deleteKeysTuples(spark, tbl2, Seq("day", "user"), probe)
    assert(Manifest.read(spark, tbl2).count() == before - want.length)
  }

  test("grouped statsOnly front door: a bare-column slice serves " +
      "GROUP BY from metadata with zero files opened; sub-field, " +
      "expression, and joined slices refuse loudly") {
    import graft.sources.Manifest
    import graft.model.{Cube, Dimension, JoinSpec, Metric}
    import graft.query.CubeQuery
    import graft.compile.Compiler
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_groupedfd").toString
    val tbl = s"$dir/t"
    // one file per key: the clustered layout grouped serving proves
    Manifest.create(spark, tbl,
      Seq((1L, 10L), (1L, 20L)).toDF("k", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((2L, 30L)).toDF("k", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("k", "v"))
    val dimTbl = Seq((1L, "one"), (2L, "two")).toDF("k2", "name")
    def cube = Cube("t", Manifest.read(spark, tbl),
      dimensions = Map(
        "k" -> Dimension("k", col("k"),
          fields = Map("x10" -> (c => c * 10))),
        "kx" -> Dimension("kx", col("k") + 1),
        "name" -> Dimension("name", col("name"), requires = Set("d"))),
      metrics = Map("n" -> Metric.countAll("n"),
        "sv" -> Metric.sumOf("sv", col("v"))),
      selectors = Map.empty,
      joins = Map("d" -> JoinSpec("d", dimTbl, col("k") === col("k2"))),
      manifestTable = Some(tbl))
    val base = CubeQuery(cube).slice("k", "k")
      .measure("n", "n").measure("sv", "sv").asc("k")
    val scan = Compiler.compile(base)
    val meta = Compiler.compile(base.statsOnly)
    assert(meta.schema == scan.schema,
      s"grouped statsOnly must be type-indistinguishable:\n" +
        s"${meta.schema}\nvs\n${scan.schema}")
    assert(meta.collect().toSeq == scan.collect().toSeq)
    assert(meta.inputFiles.isEmpty,
      "grouped statsOnly must open zero data files")
    def refusal(q: CubeQuery, needle: String): Unit = {
      val e = intercept[graft.model.CubeQueryException](Compiler.compile(q))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    refusal(CubeQuery(cube).slice("kk", "k", "x10")
      .measure("n", "n").statsOnly, "chains sub-fields")
    refusal(CubeQuery(cube).slice("kx", "kx")
      .measure("n", "n").statsOnly, "expression-valued")
    refusal(CubeQuery(cube).slice("name", "name")
      .measure("n", "n").statsOnly, "needs a join")
  }

  test("metadata-served aggregates on a hive layout: covered serves " +
      "from stats; an uncovered append falls back to the full scan " +
      "(leaf-file reads would drop partition columns)") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_statsagg_hive").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
        .toDF("id", "p", "v"), partitionBy = Seq("p"))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    val s1 = Manifest.statsAggregate(spark, tbl, Seq("v")).head()
    assert(s1.getAs[String]("served_from") == "stats")
    assert(s1.getAs[Long]("cnt") == 3 && s1.getAs[Double]("v_sum") == 60.0)
    Manifest.commitAppend(spark, tbl,
      Seq((4L, "c", 40L)).toDF("id", "p", "v"), partitionBy = Seq("p"))
    val s2 = Manifest.statsAggregate(spark, tbl, Seq("v")).head()
    assert(s2.getAs[String]("served_from") == "scan")
    assert(s2.getAs[Long]("cnt") == 4 && s2.getAs[Double]("v_sum") == 100.0)
  }

  test("GROUP BY a hive partition column serves from the PATHS: sidecar " +
      "measures per directory value, and a count(*)-only shape needs no " +
      "sidecar at all (parquet footers)") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_partagg").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 90).map(i => (i.toLong, s"p${i % 3}", i * 2L))
        .toDF("id", "p", "v").repartition(4), partitionBy = Seq("p"))
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    // GROUP BY the partition column with a sidecar measure: pure stats
    val g = Manifest.statsAggregateGrouped(spark, tbl, Seq("p"), Seq("v"))
      .orderBy("p").collect()
    assert(g.length == 3)
    assert(g.forall(_.getAs[String]("served_from") == "stats"),
      s"partition GROUP BY must serve from metadata: ${g.mkString(";")}")
    (0 to 2).foreach { k =>
      val want = (1 to 90).filter(_ % 3 == k)
      val row = g(k)
      assert(row.getAs[String]("p") == s"p$k")
      assert(row.getAs[Long]("cnt") == want.size.toLong)
      assert(row.getAs[Double]("v_sum") == want.map(_ * 2L).sum.toDouble)
    }
    // count(*)-only GROUP BY partition on a NEVER-analyzed table:
    // footer counts, still zero rows deserialized
    val tbl2 = s"$dir/t2"
    Manifest.create(spark, tbl2,
      (1 to 40).map(i => (i.toLong, s"d${i % 2}"))
        .toDF("id", "d").repartition(2), partitionBy = Seq("d"))
    val g2 = Manifest.statsAggregateGrouped(spark, tbl2, Seq("d"), Nil)
      .orderBy("d").collect()
    assert(g2.length == 2 &&
      g2.forall(_.getAs[String]("served_from") == "stats"))
    assert(g2.map(_.getAs[Long]("cnt")).toSeq == Seq(20L, 20L))

    // the SQL face: complete aggregate pushdown with ZERO data files
    spark.conf.set("spark.sql.catalog.graft_pa",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pa.root",
      new java.io.File(tbl).getParent)
    val sql = spark.sql(
      "SELECT p, count(*) AS n, sum(v) AS sv FROM graft_pa.t GROUP BY p " +
        "ORDER BY p")
    val plan = sql.queryExecution.optimizedPlan.toString
    val rows = sql.collect()
    assert(rows.length == 3 && rows.map(_.getLong(1)).sum == 90L)
    // the relation's output IS the served aggregate (agg_* columns) —
    // Spark planned no aggregate of its own over the scan
    assert(plan.contains("agg_0") && plan.contains("RelationV2"),
      s"expected a pushed metadata serve, got:\n$plan")
    assert(graft.sources.v2.GraftScanInfo.lastFiles(tbl)
      .exists(_.isEmpty), "the pushed serve must open zero data files")
  }

  test("admission near 2^53: a strict > whose literal and envelope both " +
      "double-round to the same value must still ADMIT the file — " +
      "rounding is only monotone, so strict tests run non-strictly") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_p53").toString
    val tbl = s"$dir/t"
    val big = 9007199254740993L // 2^53 + 1: rounds DOWN to 2^53
    // two files: a small-id decoy and the snowflake-id file whose
    // max (2^53+1) is indistinguishable from 2^53 after rounding
    val small = Seq(1L, 2L, 3L).toDF("v").coalesce(1)
    val snow = Seq(big).toDF("v").coalesce(1)
    Manifest.create(spark, tbl, small)
    Manifest.commitAppend(spark, tbl, snow)
    Manifest.analyzeFiles(spark, tbl, Seq("v"))
    // col > 2^53 matches exactly the snowflake row; the envelope test
    // compares round(2^53+1)=2^53 against round(2^53)=2^53 — a strict
    // `ma > x` pruned the file and a deleteWhere silently missed it
    val pred = F.col("v") > F.lit(9007199254740992L)
    val pruned = Manifest.readPrunedWhereOpt(spark, tbl, pred)
    pruned.foreach { df =>
      assert(df.filter(pred).count() == 1L,
        "the 2^53+1 row must survive envelope admission")
    }
    // the full read agrees regardless of the pruning decision
    assert(Manifest.read(spark, tbl).filter(pred).count() == 1L)
    // and the MoR takedown built on the same admission deletes it
    Manifest.deleteWhereMoR(spark, tbl, pred)
    assert(Manifest.read(spark, tbl).count() == 3L,
      "deleteWhereMoR must not be defeated by double-rounded envelopes")
  }

  test("file skipping survives commits past the last ANALYZE: the " +
      "newest retained sidecar decides, appended files admit " +
      "conservatively, and a post-delete UPDATE-shaped admission " +
      "stays surgical") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_stale").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 800).map(i => (i.toLong, i * 2L)).toDF("id", "v")
        .repartitionByRange(8, F.col("id")).sortWithinPartitions(F.col("id")))
    Manifest.analyzeFiles(spark, tbl, Seq("id"))
    val n1 = Manifest.read(spark, tbl).inputFiles.length

    // a MoR takedown bumps the version past the sidecar; the envelope
    // decision must keep pruning (this exact shape once collapsed to
    // "admit everything", turning a 1-file rewrite into a table scan)
    Manifest.deleteWhereMoR(spark, tbl, F.col("id") === 400L)
    val pruned = Manifest.readPrunedWhereOpt(spark, tbl,
      F.col("id").between(100, 110))
    assert(pruned.nonEmpty, "admission must survive the version bump")
    assert(pruned.get.inputFiles.length < n1)
    assert(pruned.get.filter(F.col("id").between(100, 110)).count() == 11)

    // an APPEND past the sidecar: old files keep pruning, the new
    // (uncovered) file always admits — rows never go missing
    Manifest.commitAppend(spark, tbl,
      Seq((105L, 9999L)).toDF("id", "v").coalesce(1))
    val pruned2 = Manifest.readPrunedWhereOpt(spark, tbl,
      F.col("id").between(100, 110))
    assert(pruned2.nonEmpty && pruned2.get.inputFiles.length < n1 + 1)
    assert(pruned2.get.filter(F.col("id").between(100, 110)).count() == 12,
      "the uncovered appended file must admit conservatively")
  }

  test("commitReplaceFiles refuses a snapshot that moved underneath — " +
      "the CoW rewrite's optimistic-concurrency bracket") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("manifest_stale_replace").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      (1 to 100).map(i => (i.toLong, i * 2L)).toDF("id", "v").coalesce(2))
    val pinned = Manifest.currentSnapshot(spark, tbl).get
    val victim = Manifest.read(spark, tbl).inputFiles.head
    // a commit lands between the rewrite's scan and its commit
    Manifest.commitAppend(spark, tbl,
      Seq((101L, 202L)).toDF("id", "v").coalesce(1))
    val e = intercept[RuntimeException](
      Manifest.commitReplaceFiles(spark, tbl, pinned,
        replaced = Seq(victim), newRels = Nil, op = "update"))
    assert(e.getMessage.contains("concurrent commit won"),
      s"stale replace must lose the rename race loudly, got: ${e.getMessage}")
    // nothing clobbered: the interleaved append and every original row
    // still serve
    assert(Manifest.read(spark, tbl).count() == 101L)
  }

  test("change feed multiset multiplicity: duplicate identical rows " +
      "each appear in the feed; identical-content rewrite still cancels") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_cdc_mult").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    // an appended batch carrying THREE copies of one identical row:
    // the signed-net diff must emit |net| = 3 insert rows, not 1
    Manifest.commitAppend(spark, tbl,
      Seq((7L, "dup"), (7L, "dup"), (7L, "dup"), (8L, "x"))
        .toDF("id", "s").coalesce(1))
    val feed = Manifest.readChanges(spark, tbl, 1L, 2L)
    assert(feed.filter($"_change_type" === "delete").count() == 0)
    assert(feed.filter($"id" === 7L && $"s" === "dup").count() == 3,
      "duplicate identical rows must keep their multiplicity in the feed")
    assert(feed.count() == 4)
    // a compaction rewrites every file with identical content — the
    // duplicates net to zero and the feed is empty
    Manifest.compact(spark, tbl, targetBytes = Long.MaxValue)
    assert(Manifest.readChanges(spark, tbl, 2L, 3L).count() == 0)
  }

  test("change feed replication at the chunk boundary: multiplicities " +
      "65535/65536/65537 come through exactly (nested-generator path)") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_cdc_chunk").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((0L, "seed")).toDF("id", "s").coalesce(1))
    // one identical row duplicated exactly chunk-1 / chunk / chunk+1
    // times: the two-level explode (chunks of 2^16 + remainder) must
    // emit |net| copies at each edge — the off-by-one territory of
    // the round-22 bounded-generator rewrite
    def dups(id: Long, n: Long) =
      spark.range(n).select(F.lit(id).as("id"), F.lit("d").as("s"))
    Manifest.commitAppend(spark, tbl,
      dups(1L, 65535L).unionAll(dups(2L, 65536L)).unionAll(dups(3L, 65537L)))
    val feed = Manifest.readChanges(spark, tbl, 1L, 2L)
      .groupBy("id").agg(F.count(F.lit(1)).as("n"),
        F.count_distinct(F.col("_change_type")).as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(feed(1L) == ((65535L, 1L)))
    assert(feed(2L) == ((65536L, 1L)))
    assert(feed(3L) == ((65537L, 1L)))
  }

  test("merge key hygiene stays exact past the bloom-probe cap: one " +
      "duplicate among 10001+ distinct keys still refuses; a clean " +
      "over-cap source still merges") {
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("manifest_merge_cap").toString
    val tbl = s"$dir/t"
    Manifest.create(spark, tbl,
      Seq((1L, 1L), (2L, 2L)).toDF("id", "v").coalesce(1))
    // 10002 distinct keys + ONE duplicate: over the cap the fused
    // bad-first TakeOrdered collects only cap+1 rows — the duplicate
    // must sort into that prefix and refuse (the hygiene contract is
    // exact at any key count, not sample-based)
    val dup = spark.range(10002L).select(F.col("id"), F.col("id").as("v"))
      .unionAll(Seq((5L, 99L)).toDF("id", "v"))
    val e = intercept[RuntimeException](
      Manifest.merge(spark, tbl, dup, Seq("id")))
    assert(e.getMessage.contains("duplicate key"),
      s"expected the hygiene refusal, got: ${e.getMessage}")
    assert(Manifest.currentSnapshot(spark, tbl).get.version == 1L,
      "a refused merge must commit nothing")
    // the same source WITHOUT the duplicate (> cap distinct keys, so
    // the bloom restriction falls back to the full scan) merges fine
    Manifest.merge(spark, tbl,
      spark.range(10002L).select(F.col("id"), (F.col("id") + 100L).as("v")),
      Seq("id"))
    val after = Manifest.read(spark, tbl)
    assert(after.count() == 10002L)
    assert(after.filter(F.col("id") === 1L).head().getLong(1) == 101L)
  }

  /** Stage names of every job `body` starts — the first names the
    * job's call site, e.g. `parquet at Manifest.scala:NN` for a
    * schema-inference or listing job launched inside a reader. */
  private def jobsOf(body: => Any): Seq[String] = {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names.synchronized { names += j.stageInfos.map(_.name).mkString("|") }
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.ListenerDrain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    names.synchronized(names.toList)
  }

  private def inferenceJobs(names: Seq[String]): Seq[String] =
    names.filter(_.contains("parquet at Manifest.scala"))

  test("manifest reads resolve their schema at the driver: a point read " +
      "runs one job (two over a delete vector), and no read verb runs a " +
      "schema-inference job") {
    import graft.sources.Manifest
    val dir = java.nio.file.Files.createTempDirectory("manifest_jobs").toString
    val tbl = s"$dir/t"
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(F.col("id"),
      (F.col("id") % 7).as("v"), F.concat(F.lit("s"), F.col("id")).as("s"))
    Manifest.create(spark, tbl, rows(0, 3000).repartitionByRange(3, F.col("id")))
    Manifest.commitAppend(spark, tbl, rows(3000, 4000).coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("id", "v"))
    Manifest.analyzeFilesBloom(spark, tbl, Seq("id"))
    // the point read serves the bloom's candidate files; the caller
    // applies its own row filter. The only job is the collect's own.
    def point1234() = Manifest.readPoint(spark, tbl, "id", 1234L)
      .filter(F.col("id") === 1234L).collect()
    point1234() // warm the session once (class loading, codegen caches)
    var got: Array[org.apache.spark.sql.Row] = null
    val point = jobsOf { got = point1234() }
    assert(got.map(_.getLong(0)).toSeq == Seq(1234L))
    assert(point.size == 1, s"point read jobs: $point")

    Manifest.deleteKeysMoR(spark, tbl, "id", Seq(5L, 3500L))
    val snap = Manifest.currentSnapshot(spark, tbl).get
    // unstamped and unpartitioned: the footer half of the rule serves it
    assert(!snap.meta.contains(Manifest.SchemaKey) &&
      !Manifest.hiveLayout(spark, tbl, snap))
    assert(snap.meta.contains("delete_vectors"))
    // over a delete vector the anti-join adds its own stage job, and
    // the vector's schema comes from its footer too
    point1234()
    val pointDv = jobsOf { got = point1234() }
    assert(got.map(_.getLong(0)).toSeq == Seq(1234L))
    assert(pointDv.size == 2 && inferenceJobs(pointDv).isEmpty,
      s"point read jobs over a delete vector: $pointDv")

    val pred = F.col("id").between(100L, 200L)
    val verbs: Seq[(String, () => Any)] = Seq(
      "readPrunedWhereOpt" -> (() => Manifest.readPrunedWhereOpt(spark, tbl,
        pred).map(_.filter(pred).count())),
      "statsAggregateWhere" -> (() => Manifest.statsAggregateWhere(spark, tbl,
        Seq("v"), Seq(("id", 100.0, 2500.0))).collect()),
      "read" -> (() => Manifest.read(spark, tbl).agg(F.sum("v")).collect()),
      "readVersion" -> (() => Manifest.readVersion(spark, tbl, snap.version - 1)
        .agg(F.sum("v")).collect()))
    verbs.foreach { case (name, run) =>
      val names = jobsOf(run())
      assert(inferenceJobs(names).isEmpty, s"$name ran inference jobs: $names")
    }
    assert(Manifest.readPrunedWhereOpt(spark, tbl, pred).get
      .filter(pred).count() == 101L)
  }

  test("a 40-entry snapshot of `_v` directories reads with no listing " +
      "or inference job, as the relation Spark would infer") {
    import graft.sources.Manifest
    val dir = java.nio.file.Files.createTempDirectory("manifest_40").toString
    val tbl = s"$dir/t"
    // 40 entry directories in ONE commit: more read roots than Spark's
    // parallel-listing threshold (32), every one an underscore name
    val entries = (0 until 40).map { i =>
      val rel = s"${Manifest.dataDirName(1L)}-${"%08x".format(i)}"
      spark.range(i * 10L, i * 10L + 10L).select(F.col("id"),
        (F.col("id") * 2).as("w")).coalesce(1).write.parquet(s"$tbl/$rel")
      rel
    }
    Manifest.commit(spark, tbl, 0L, entries)
    val files = Manifest.listSnapshotFiles(spark, tbl,
      Manifest.currentSnapshot(spark, tbl).get)
    assert(files.size == 40)
    Manifest.read(spark, tbl).count()
    var n = 0L
    val names = jobsOf { n = Manifest.read(spark, tbl).count() }
    assert(n == 400L)
    assert(inferenceJobs(names).isEmpty, s"read ran listing/inference jobs: $names")
    val inferred = spark.read.parquet(files: _*)
    assert(Manifest.read(spark, tbl).schema == inferred.schema)
    assert(Manifest.read(spark, tbl).inputFiles.toSet == inferred.inputFiles.toSet)
  }

  test("the driver-resolved schema equals Spark's inferred one: Spark-" +
      "written, foreign (both binaryAsString settings), evolved, mapped " +
      "and hive snapshots") {
    import graft.sources.Manifest
    import org.apache.spark.sql.DataFrame
    def sorted(df: DataFrame) = df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq
    def files(tbl: String) = Manifest.listSnapshotFiles(spark, tbl,
      Manifest.currentSnapshot(spark, tbl).get)
    def same(what: String, got: DataFrame, inferred: DataFrame): Unit = {
      assert(got.schema == inferred.schema, s"$what schema")
      assert(sorted(got) == sorted(inferred), s"$what rows")
    }
    val base = java.nio.file.Files.createTempDirectory("manifest_schema").toString

    // 1. Spark-written: non-nullable, nested, decimal, date/timestamp
    val spk = s"$base/spark"
    Manifest.create(spark, spk, spark.range(0, 50).select(F.col("id"),
      F.col("id").cast("int").as("i"), (F.col("id") / 3).as("d"),
      F.col("id").cast("decimal(12,2)").as("dec"),
      F.concat(F.lit("k"), F.col("id")).as("s"),
      F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).as("day"),
      F.timestamp_seconds(F.col("id")).as("ts"),
      F.array(F.col("id"), F.lit(null).cast("long")).as("arr"),
      F.struct(F.col("id").as("a"), F.lit("x").as("b")).as("st"),
      F.map(F.lit("m"), F.col("id")).as("mp")).repartition(2))
    same("spark", Manifest.read(spark, spk), spark.read.parquet(files(spk): _*))

    // 2. foreign: parquet-hadoop's example writer stores no Spark
    // row-metadata key; `raw` is an un-annotated BINARY column
    val fdir = s"$base/foreign"
    new java.io.File(fdir).mkdirs()
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary raw; " +
        "optional binary name (UTF8); optional double x; }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$fdir/part-0.parquet"))
      .withType(mt).build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
    try (0 until 20).foreach { i =>
      val g = gf.newGroup().append("id", i.toLong).append("x", i * 0.5)
      if (i % 3 != 0) g.append("raw", s"r$i").append("name", s"n$i")
      w.write(g)
    } finally w.close()
    Manifest.adopt(spark, fdir)
    Seq("false", "true").foreach { b =>
      spark.conf.set("spark.sql.parquet.binaryAsString", b)
      try same(s"foreign binaryAsString=$b", Manifest.read(spark, fdir),
        spark.read.parquet(files(fdir): _*))
      finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    }
    assert(Manifest.read(spark, fdir).schema("raw").dataType ==
      org.apache.spark.sql.types.BinaryType)

    // 3. evolved: the stamp wins over either footer
    val evo = s"$base/evolved"
    Manifest.create(spark, evo, spark.range(0, 10).select(F.col("id")).coalesce(1))
    Manifest.commitAppend(spark, evo, spark.range(10, 20).select(F.col("id"),
      (F.col("id") * 2).as("extra")).coalesce(1), mergeSchema = true)
    assert(Manifest.currentSnapshot(spark, evo).get.meta
      .contains(Manifest.SchemaKey))
    same("evolved", Manifest.read(spark, evo),
      spark.read.option("mergeSchema", "true").parquet(files(evo): _*))

    // 4. column-mapped: physical files, logical names on the frame
    val mapped = s"$base/mapped"
    Manifest.create(spark, mapped, spark.range(0, 10).select(F.col("id"),
      (F.col("id") + 1).as("v")).coalesce(1))
    Manifest.renameColumn(spark, mapped, "v", "value")
    same("mapped", Manifest.read(spark, mapped),
      spark.read.parquet(files(mapped): _*).withColumnRenamed("v", "value"))

    // 5. hive: the relation path keeps the partition columns
    val hive = s"$base/hive"
    Manifest.create(spark, hive, spark.range(0, 30).select(F.col("id"),
      (F.col("id") % 3).as("p")), partitionBy = Seq("p"))
    val snapH = Manifest.currentSnapshot(spark, hive).get
    val inferredH = spark.read.parquet(snapH.paths.map(p => s"$hive/$p"): _*)
    assert(inferredH.columns.contains("p"))
    same("hive", Manifest.read(spark, hive), inferredH)
    assert(Manifest.readSchema(spark, hive, snapH, files(hive)) ==
      inferredH.schema)
  }
}
