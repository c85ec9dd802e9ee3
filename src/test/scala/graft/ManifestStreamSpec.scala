package graft

import graft.cubes.Tables
import graft.sources.{Manifest, ManifestStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The versioned-stream contract: a manifested table tailed as a
  * Structured Streaming source serves exactly the table's committed
  * history — initial snapshot then per-commit increments, replayable
  * bit-identically from checkpointed version offsets (which is what
  * makes a restart exactly-once), refusing loudly anything an
  * append-only consumer cannot represent.
  */
class ManifestStreamSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  private def docs: DataFrame =
    Tables.documents(spark, sf).select("doc_id", "source", "n_chars")

  private def slice(k: Int): DataFrame = docs.filter(col("doc_id") % 5 === k)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_mstream_$name").toString

  private def rows(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  /** Every `span-*` dir under any `graft-staged` root below `ckpt` —
    * Spark puts the SOURCE's checkpoint dir at `<ckpt>/sources/0`, so
    * the staging root is discovered recursively, never assumed. */
  private def stagedSpans(ckpt: String): Seq[String] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString == "graft-staged").toList
        .flatMap(r => Option(r.toFile.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("span-")).map(_.toString))
    } finally s.close()
  }

  test("initial snapshot + appends land exactly-once in a file sink, across a restart") {
    val dir = tmp("restart")
    val table = s"$dir/t"
    val out = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    Manifest.create(spark, table, slice(0))

    def start() = ManifestStream.read(spark, table).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      Manifest.commitAppend(spark, table, slice(1))
      q1.processAllAvailable()
    } finally q1.stop()

    // a commit landing while the stream is DOWN must be picked up on
    // restart from the checkpointed version — no loss, no replay
    Manifest.commitAppend(spark, table, slice(2))
    val q2 = start()
    try {
      q2.processAllAvailable()
      Manifest.commitAppend(spark, table, slice(3))
      q2.processAllAvailable()
    } finally q2.stop()

    val got = rows(spark.read.parquet(out))
    val want = rows(docs.filter(col("doc_id") % 5 <= 3))
    assert(got.length == want.length && got.sameElements(want),
      s"sink has ${got.length} rows, expected ${want.length}")
  }

  test("staged micro-batch spans are reclaimed once their offset commits") {
    val dir = tmp("staging")
    val table = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    Manifest.create(spark, table, slice(0))
    val q = ManifestStream.read(spark, table).writeStream
      .format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      Manifest.commitAppend(spark, table, slice(1))
      q.processAllAvailable()
      Manifest.commitAppend(spark, table, slice(2))
      q.processAllAvailable()
    } finally q.stop()
    // a processed batch's staged span sits under the checkpoint until
    // its offset COMMITS — which Spark signals when the NEXT batch is
    // constructed, so after three batches everything up to the
    // second's end version must be reclaimed; only the FINAL span may
    // linger (no later batch ever committed it). The staging root is
    // wherever Spark put the SOURCE's checkpoint dir
    // (<ckpt>/sources/0/graft-staged) — discovered recursively so the
    // assertion pins the real dir, not a path that never existed.
    // Crucially the INITIAL, table-sized span (span--1-1, whose
    // negative start offset once defeated a split('-') parse and
    // leaked it forever) must be gone.
    val leftover = stagedSpans(ckpt).map(p => p.split('/').last)
    val stale = leftover.filterNot(_ == "span-2-3")
    assert(stale.isEmpty,
      s"spans below the last committed offset must be reclaimed, found $stale")
    // and the sink is exact despite the reclamation
    assert(rows(spark.read.parquet(s"$dir/out")).length ==
      docs.filter(col("doc_id") % 5 <= 2).count())
  }

  test("pure-append spans serve ZERO-COPY — no staged bytes under the " +
      "checkpoint — while a delete-carrying span still stages") {
    val dir = tmp("zerocopy")
    val table = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    Manifest.create(spark, table, slice(0))
    val q = ManifestStream.read(spark, table, ignoreDeletes = true)
      .writeStream.format("parquet").option("path", s"$dir/out")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      Manifest.commitAppend(spark, table, slice(1))
      q.processAllAvailable()
      // initial snapshot + pure append: the appended parquet files ARE
      // the input partitions; nothing may have been staged
      assert(stagedSpans(ckpt).isEmpty,
        s"zero-copy spans must not stage, found ${stagedSpans(ckpt)}")
      // a delete-carrying span needs the driver-planned net frame —
      // that one stages (and is the only one that pays the round trip)
      Manifest.deleteWhereMoR(spark, table, col("doc_id") % 10 === 0)
      q.processAllAvailable()
      assert(stagedSpans(ckpt).nonEmpty,
        "a delete-carrying span must stage its netted rows")
    } finally q.stop()
    // exactness across the mode switch: the sink holds exactly the
    // rows delivered before the delete (net inserts of the delete
    // span are empty)
    val got = rows(spark.read.parquet(s"$dir/out"))
    val want = rows(docs.filter(col("doc_id") % 5 <= 1))
    assert(got.length == want.length && got.sameElements(want))
  }

  test("a pure-append span reads only the appended entries — no multiset diff in the plan") {
    val table = tmp("fastpath") + "/t"
    Manifest.create(spark, table, slice(0))
    Manifest.commitAppend(spark, table, slice(1))
    val o = ManifestStream.Opts(table, changeFeed = false,
      ignoreDeletes = false, startLatest = false)
    val schema = ManifestStream.sourceSchema(spark, o)
    val batch = ManifestStream.batchFrame(spark, o, schema, None, Some(1L), 2L)
    // readChanges' one-pass diff is a signed-union Aggregate (the
    // __graft_cdc_net sum) — that marker's absence is the fast path's
    // signature
    val plan = batch.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__graft_cdc_net") && !plan.contains("Aggregate"),
      s"pure append paid a multiset diff:\n$plan")
    assert(rows(batch).sameElements(rows(slice(1))))

    // and a delete-carrying span DOES take the netted-diff path
    Manifest.deleteWhere(spark, table, col("doc_id") % 10 === 0)
    val o2 = o.copy(changeFeed = true)
    val feed = ManifestStream.batchFrame(spark, o2,
      ManifestStream.sourceSchema(spark, o2), None, Some(2L), 3L)
    assert(feed.queryExecution.optimizedPlan.toString
      .contains("__graft_cdc_net"))
  }

  test("append mode refuses a delete-carrying commit loudly") {
    val dir = tmp("refuse")
    val table = s"$dir/t"
    Manifest.create(spark, table, slice(0))
    val q = ManifestStream.read(spark, table).writeStream
      .format("memory").queryName("mstream_refuse")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      Manifest.deleteWhere(spark, table, col("doc_id") % 10 === 0)
      intercept[Exception] { q.processAllAvailable() }
      val msg = Option(q.exception.orNull).map(_.toString).getOrElse("")
      assert(msg.contains("cannot represent deletes"), s"wrong failure: $msg")
    } finally q.stop()
  }

  test("ignoreDeletes serves the net inserts and drops the deletes") {
    val dir = tmp("ignore")
    val table = s"$dir/t"
    Manifest.create(spark, table, slice(0))
    val q = ManifestStream.read(spark, table, ignoreDeletes = true).writeStream
      .format("memory").queryName("mstream_ignore")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      Manifest.deleteWhere(spark, table, col("doc_id") % 10 === 0)
      Manifest.commitAppend(spark, table, slice(1))
      q.processAllAvailable()
    } finally q.stop()
    val got = rows(spark.table("mstream_ignore"))
    val want = rows(slice(0).unionByName(slice(1)))
    assert(got.sameElements(want),
      s"got ${got.length} rows, want ${want.length} (snapshot + net inserts)")
  }

  test("changeFeed mode serves the full feed with per-commit attribution") {
    val dir = tmp("cdc")
    val table = s"$dir/t"
    Manifest.create(spark, table, slice(0))
    Manifest.commitAppend(spark, table, slice(1)) // v2, before stream start
    val q = ManifestStream.read(spark, table, changeFeed = true).writeStream
      .format("memory").queryName("mstream_cdc")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      Manifest.commitAppend(spark, table, slice(2))                 // v3
      Manifest.deleteKeysMoR(spark, table, "doc_id",
        slice(0).select("doc_id").limit(3)
          .collect().map(_.getLong(0)).toSeq)                       // v4
      q.processAllAvailable()
    } finally q.stop()

    val got = rows(spark.table("mstream_cdc"))
    // expectation: the v2 snapshot as inserts@2, then each commit's
    // netted feed attributed to its version
    val initial = Manifest.readVersion(spark, table, 2L)
      .withColumn("_change_type", F.lit("insert"))
      .withColumn("_commit_version", F.lit(2L))
    val feeds = Seq(3L, 4L).map(v =>
      Manifest.readChanges(spark, table, v - 1, v)
        .withColumn("_commit_version", F.lit(v)))
    val want = rows(feeds.foldLeft(initial)(_ unionByName _)
      .select(initial.columns.toSeq.map(F.col): _*))
    assert(got.nonEmpty && got.sameElements(want),
      s"feed mismatch: got ${got.length}, want ${want.length}")
  }

  test("startingVersion=latest skips history and tails new commits only") {
    val dir = tmp("latest")
    val table = s"$dir/t"
    Manifest.create(spark, table, slice(0))
    val q = ManifestStream.read(spark, table, startLatest = true).writeStream
      .format("memory").queryName("mstream_latest")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      assert(spark.table("mstream_latest").isEmpty,
        "latest mode must not serve the initial snapshot")
      Manifest.commitAppend(spark, table, slice(1))
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(spark.table("mstream_latest")).sameElements(rows(slice(1))))
  }

  test("startingVersion=N resumes from that commit: the first span is " +
      "the net effect of commits N..now; N=1 equals the default; a " +
      "vacuumed predecessor refuses") {
    val dir = tmp("startn")
    val table = s"$dir/t"
    Manifest.create(spark, table, slice(0))       // v1
    Manifest.commitAppend(spark, table, slice(1)) // v2
    Manifest.commitAppend(spark, table, slice(2)) // v3
    // resume from v3: the first span serves exactly commit 3's rows
    val q = ManifestStream.read(spark, table, startingVersion = Some(3L))
      .writeStream.format("memory").queryName("mstream_startn")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      assert(rows(spark.table("mstream_startn"))
        .sameElements(rows(slice(2))),
        "startingVersion=3 must serve exactly commit 3's effect")
      Manifest.commitAppend(spark, table, slice(3)) // v4 — the tail
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(spark.table("mstream_startn"))
      .sameElements(rows(slice(2).unionByName(slice(3)))))
    // N=1 ≡ the default full-snapshot start
    val q1 = ManifestStream.read(spark, table, startingVersion = Some(1L))
      .writeStream.format("memory").queryName("mstream_start1")
      .option("checkpointLocation", s"$dir/ckpt1").start()
    try q1.processAllAvailable() finally q1.stop()
    assert(rows(spark.table("mstream_start1")).sameElements(
      rows(slice(0).unionByName(slice(1)).unionByName(slice(2))
        .unionByName(slice(3)))))
    // a startingVersion whose PREDECESSOR was vacuumed refuses loudly
    Manifest.vacuum(spark, table, keep = 1, orphanGraceMs = 0L)
    val qv = ManifestStream.read(spark, table, startingVersion = Some(3L))
      .writeStream.format("memory").queryName("mstream_startv")
      .option("checkpointLocation", s"$dir/ckptv").start()
    try {
      intercept[Exception] { qv.processAllAvailable() }
      val msg = Option(qv.exception.orNull).map(_.toString).getOrElse("")
      assert(msg.contains("not") && msg.contains("retained"),
        s"wrong failure: $msg")
    } finally qv.stop()
  }

  test("schema evolution mid-stream fails loudly; a restarted source adopts the widened schema") {
    val dir = tmp("evolve")
    val table = s"$dir/t"
    Manifest.create(spark, table, slice(0))
    val q = ManifestStream.read(spark, table).writeStream
      .format("memory").queryName("mstream_evolve")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      Manifest.commitAppend(spark, table,
        slice(1).withColumn("lang", F.lit("en")), mergeSchema = true)
      intercept[Exception] { q.processAllAvailable() }
      val msg = Option(q.exception.orNull).map(_.toString).getOrElse("")
      assert(msg.contains("schema evolved"), s"wrong failure: $msg")
    } finally q.stop()

    // a fresh source freezes the WIDENED schema and serves the span
    val o = ManifestStream.Opts(table, changeFeed = false,
      ignoreDeletes = false, startLatest = false)
    val schema = ManifestStream.sourceSchema(spark, o)
    assert(schema.fieldNames.contains("lang"))
    val frozen = Manifest.currentSnapshot(spark, table).get
      .meta.get(graft.sources.Manifest.SchemaKey)
    val batch = ManifestStream.batchFrame(spark, o, schema, frozen, Some(1L), 2L)
    assert(rows(batch).sameElements(
      rows(slice(1).withColumn("lang", F.lit("en")))))
  }

  test("a vacuumed checkpoint version refuses loudly instead of serving a hole") {
    val table = tmp("vac") + "/t"
    Manifest.create(spark, table, slice(0))
    Manifest.commitAppend(spark, table, slice(1))
    Manifest.commitAppend(spark, table, slice(2))
    Manifest.vacuum(spark, table, keep = 1)
    val o = ManifestStream.Opts(table, changeFeed = false,
      ignoreDeletes = false, startLatest = false)
    val schema = ManifestStream.sourceSchema(spark, o)
    val e = intercept[Exception] {
      ManifestStream.batchFrame(spark, o, schema, None, Some(1L), 3L).collect()
    }
    assert(e.getMessage.contains("no longer retained"))
  }

  test("changeFeed refuses a span with vacuumed INTERMEDIATE versions — " +
      "a netted multi-commit pair is not what was first delivered") {
    val table = tmp("gap") + "/t"
    Manifest.create(spark, table, slice(0))                    // v1
    Manifest.commitAppend(spark, table, slice(1))              // v2
    Manifest.commitAppend(spark, table, slice(2))              // v3
    Manifest.commitAppend(spark, table, slice(3))              // v4
    // tag keeps v1 and v4 retained; v2/v3 inside the span vacuum away
    Manifest.tag(spark, table, "start", version = 1L)
    Manifest.vacuum(spark, table, keep = 1)
    assert(Manifest.versions(spark, table) == Seq(1L, 4L))
    val o = ManifestStream.Opts(table, changeFeed = true,
      ignoreDeletes = false, startLatest = false)
    val schema = ManifestStream.sourceSchema(spark, o)
    val e = intercept[Exception] {
      ManifestStream.batchFrame(spark, o, schema,
        Manifest.readSnapshot(spark, table, 4L)
          .meta.get(Manifest.SchemaKey), Some(1L), 4L).collect()
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // the append-shaped mode nets the whole span structurally and is
    // unaffected by the gap (pure-append span: diff v1 → v4 directly)
    val oNet = o.copy(changeFeed = false)
    val net = ManifestStream.batchFrame(spark, oNet,
      ManifestStream.sourceSchema(spark, oNet),
      Manifest.readSnapshot(spark, table, 4L)
        .meta.get(Manifest.SchemaKey), Some(1L), 4L)
    assert(rows(net).sameElements(
      rows(docs.filter(col("doc_id") % 5 >= 1 && col("doc_id") % 5 <= 3))))
  }

  test("startingTimestamp resumes at a wall-clock instant: the first " +
      "span is the net effect of commits at or after it; a vacuumed " +
      "window refuses; a future instant tails forward") {
    val dir = tmp("startts")
    val table = s"$dir/t"
    Manifest.create(spark, table, slice(0))       // v1
    Thread.sleep(15)
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(15)
    Manifest.commitAppend(spark, table, slice(1)) // v2
    Manifest.commitAppend(spark, table, slice(2)) // v3
    // an instant between v1 and v2 resolves to v2: first span = net
    // effect of commits 2..now
    val q = ManifestStream.read(spark, table,
        startingTimestamp = Some(betweenV1V2.toString))
      .writeStream.format("memory").queryName("mstream_ts")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      assert(rows(spark.table("mstream_ts"))
        .sameElements(rows(slice(1).unionByName(slice(2)))),
        "an instant between v1 and v2 must serve exactly commits 2..3")
      Manifest.commitAppend(spark, table, slice(3)) // v4 — the tail
      q.processAllAvailable()
    } finally q.stop()
    assert(rows(spark.table("mstream_ts")).sameElements(
      rows(slice(1).unionByName(slice(2)).unionByName(slice(3)))))
    // a FUTURE instant tails forward: nothing until a new commit lands
    val future = (System.currentTimeMillis() + 3600L * 1000).toString
    val qf = ManifestStream.read(spark, table,
        startingTimestamp = Some(future))
      .writeStream.format("memory").queryName("mstream_tsf")
      .option("checkpointLocation", s"$dir/ckptf").start()
    try {
      qf.processAllAvailable()
      assert(spark.table("mstream_tsf").count() == 0)
      Manifest.commitAppend(spark, table, slice(4)) // v5
      qf.processAllAvailable()
      assert(rows(spark.table("mstream_tsf")).sameElements(rows(slice(4))))
    } finally qf.stop()
    // an instant before the FIRST commit ≡ the full-snapshot start
    assert(ManifestStream.versionAtOrAfter(spark, table, 0L) == 1L)
    // vacuumed window: the instant's true first version cannot be
    // proven — refuse loudly at source creation
    Manifest.vacuum(spark, table, keep = 1, orphanGraceMs = 0L)
    val ev = intercept[Exception] {
      val qv = ManifestStream.read(spark, table,
          startingTimestamp = Some(betweenV1V2.toString))
        .writeStream.format("memory").queryName("mstream_tsv")
        .option("checkpointLocation", s"$dir/ckptv").start()
      try qv.processAllAvailable() finally qv.stop()
    }
    assert(ev.getMessage.contains("vacuumed") ||
      Option(ev.getCause).exists(_.getMessage.contains("vacuumed")),
      s"wrong failure: ${ev.getMessage}")
  }

  test("a directly-driven first changeFeed span anchors at or below v2 — " +
      "empty batch, not an UnsupportedOperationException") {
    val table = tmp("anchor") + "/t"
    Manifest.create(spark, table, slice(0))                    // v1
    val o = ManifestStream.Opts(table, changeFeed = true,
      ignoreDeletes = false, startLatest = true)
    val schema = ManifestStream.sourceSchema(spark, o)
    val frozen = Manifest.currentSnapshot(spark, table).get
      .meta.get(Manifest.SchemaKey)
    // commits land AFTER the probe picked v2=1: retained.last (3) > v2
    Manifest.commitAppend(spark, table, slice(1))              // v2
    Manifest.commitAppend(spark, table, slice(2))              // v3
    val batch = ManifestStream.batchFrame(spark, o, schema, frozen, None, 1L)
    assert(batch.collect().isEmpty,
      "a startLatest first span ending at its own anchor must be empty")
  }
}
