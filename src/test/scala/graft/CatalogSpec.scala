package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The DataSourceV2 SQL front door (graft.sources.v2.GraftCatalog):
  * `spark.sql("SELECT … FROM graft.db.t …")` must serve every manifest
  * capability — snapshot pinning, VERSION/TIMESTAMP AS OF (tags
  * included), driver file skipping with OR/IN tree admission, MoR
  * delete-vector masking, evolved-schema reads — without the CubeQuery
  * front door, because the standard catalog interface is what external
  * tools at 100 TB actually speak.
  */
class CatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkEntry.session(4)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.v2.GraftCatalog")
    SparkSession.setActiveSession(s)
    s
  }

  import graft.sources.Manifest
  import graft.sources.v2.GraftScanInfo

  /** Fresh warehouse root; re-points the cached catalog instance via
    * the dynamically-read conf. */
  private def freshRoot(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    spark.conf.set("spark.sql.catalog.graft.root", root)
    root
  }

  test("SELECT through the registered catalog matches the native read, " +
      "and a WHERE with IN/OR prunes files at the driver (strict subset)") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/docs"
    Manifest.create(spark, tbl,
      (1 to 800).map(i => (i.toLong, i * 3L)).toDF("id", "v")
        .repartitionByRange(8, F.col("id")).sortWithinPartitions(F.col("id")))
    Manifest.analyzeFiles(spark, tbl, Seq("id"))
    val nAll = Manifest.read(spark, tbl).inputFiles.length
    assert(nAll == 8)

    // full-table parity, hash-grade: same rows, same schema
    val sql = spark.sql("SELECT id, v FROM graft.db.docs ORDER BY id")
    val native = Manifest.read(spark, tbl).orderBy("id")
    assert(sql.schema == native.schema)
    assert(sql.collect().sameElements(native.collect()))

    // IN probe: two far-apart points — the driver decision admits a
    // strict subset of the snapshot's files
    val q = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM graft.db.docs " +
        "WHERE id IN (5, 790)")
    assert(q.head() == org.apache.spark.sql.Row(2L, (5L + 790L) * 3))
    val admitted = GraftScanInfo.lastFiles(tbl).get
    assert(admitted.nonEmpty && admitted.size < nAll,
      s"IN probe admitted ${admitted.size} of $nAll files")

    // OR of ranges: union of per-disjunct file sets, still a subset
    val q2 = spark.sql(
      "SELECT count(*) AS n FROM graft.db.docs " +
        "WHERE (id BETWEEN 100 AND 120) OR (id BETWEEN 600 AND 620)")
    assert(q2.head().getLong(0) == 42)
    val adm2 = GraftScanInfo.lastFiles(tbl).get
    assert(adm2.size < nAll, s"OR probe admitted ${adm2.size} files")

    // column pruning reaches the scan builder (pruneColumns → the
    // inner frame selects exactly the pruned schema)
    val proj = spark.sql("SELECT v FROM graft.db.docs WHERE id < 10")
    assert(proj.collect().length == 9)

    // the _graft_file metadata column: per-row provenance, one key per
    // data file, keyed exactly like the DV masks (version-dir anchored)
    val prov = spark.sql(
      "SELECT _graft_file, count(*) AS n FROM graft.db.docs GROUP BY 1")
      .collect()
    assert(prov.length == nAll, s"expected one key per file, got ${prov.length}")
    assert(prov.map(_.getLong(1)).sum == 800L)
    assert(prov.forall(_.getString(0).matches("_v\\d{8}-[0-9a-f]{8}/.+")),
      s"keys must be version-dir anchored, got ${prov.head.getString(0)}")
  }

  test("MoR delete vectors mask rows through the SQL front door") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/t"
    Manifest.create(spark, tbl,
      (1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "s").coalesce(2))
    Manifest.deleteWhereMoR(spark, tbl, F.col("id") % 10 === 0)
    val got = spark.sql("SELECT count(*) AS n FROM graft.db.t").head().getLong(0)
    assert(got == 90, s"DV mask must hide the 10 deleted rows, got $got")
    assert(spark.sql("SELECT * FROM graft.db.t WHERE id = 20").count() == 0)
    assert(spark.sql("SELECT * FROM graft.db.t WHERE id = 21").count() == 1)
  }

  test("VERSION AS OF pins versions and resolves tags; TIMESTAMP AS OF " +
      "resolves commit wall time; reads pin snapshots against commits") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/ev"
    Manifest.create(spark, tbl, Seq((1L, "a")).toDF("id", "s"))
    Manifest.commitAppend(spark, tbl, Seq((2L, "b")).toDF("id", "s"))
    Manifest.tag(spark, tbl, "release-v1", 1L)
    val t2 = Manifest.readSnapshot(spark, tbl, 2L)
      .meta("committed_at").toLong
    Manifest.commitAppend(spark, tbl, Seq((3L, "c")).toDF("id", "s"))

    assert(spark.sql("SELECT * FROM graft.db.ev").count() == 3)
    assert(spark.sql("SELECT * FROM graft.db.ev VERSION AS OF 1").count() == 1)
    assert(spark.sql("SELECT * FROM graft.db.ev VERSION AS OF 2").count() == 2)
    // a tag name is a release pin
    assert(spark.sql(
      "SELECT * FROM graft.db.ev VERSION AS OF 'release-v1'").count() == 1)
    // timestamp resolution: the instant of v2's commit serves v2
    val ts = new java.sql.Timestamp(t2)
    assert(spark.sql(
      s"SELECT * FROM graft.db.ev TIMESTAMP AS OF '$ts'").count() == 2)

    // snapshot pinning: the scan resolves its snapshot at build time,
    // so a plan EXECUTED before a commit served 3 rows, and a fresh
    // resolution after the commit serves 4 — never a torn read
    Manifest.commitAppend(spark, tbl, Seq((4L, "d")).toDF("id", "s"))
    assert(spark.sql("SELECT * FROM graft.db.ev").count() == 4)
  }

  test("aggregate pushdown: count/min/max/sum (flat, filtered, grouped) " +
      "serve from sidecar metadata with zero data files; DVs, 2^53 " +
      "risks, and unservable shapes fall back to the ordinary scan") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/m"
    Manifest.create(spark, tbl,
      Seq((1L, 10L), (1L, 20L)).toDF("k", "v").coalesce(1))
    Manifest.commitAppend(spark, tbl,
      Seq((2L, 30L), (2L, 40L)).toDF("k", "v").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("k", "v"))

    def zeroFiles(): Boolean =
      GraftScanInfo.lastFiles(tbl).exists(_.isEmpty)

    // flat: one LocalRelation-backed row, no data file opened
    val flat = spark.sql(
      "SELECT count(*), count(v), min(v), max(v), sum(v) FROM graft.db.m")
    assert(flat.head() == org.apache.spark.sql.Row(4L, 4L, 10L, 40L, 100L))
    assert(zeroFiles(), "flat aggregate must serve from metadata")
    val plan = flat.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT(*)") &&
      !plan.toLowerCase.contains("hashaggregate"),
      s"the plan must BE the pushed serve, no aggregate exec on top:\n$plan")

    // filtered (exact inclusive ranges): fully-covered serve
    val filt = spark.sql(
      "SELECT count(*), sum(v) FROM graft.db.m WHERE v BETWEEN 30 AND 40")
    assert(filt.head() == org.apache.spark.sql.Row(2L, 70L))
    assert(zeroFiles(), "range-filtered aggregate must serve from metadata")

    // grouped by the file-constant key
    val grp = spark.sql(
      "SELECT k, count(*), sum(v) FROM graft.db.m GROUP BY k ORDER BY k")
    assert(grp.collect().toSeq == Seq(
      org.apache.spark.sql.Row(1L, 2L, 30L),
      org.apache.spark.sql.Row(2L, 2L, 70L)))
    assert(zeroFiles(), "grouped aggregate must serve from metadata")

    // avg rides Spark's own rewrite into pushed sum+count — also a
    // metadata serve
    assert(spark.sql("SELECT avg(v) FROM graft.db.m").head().getDouble(0)
      == 25.0)
    assert(zeroFiles(), "avg rewrites to sum/count and serves")
    // a strict < bound is not a complete range: must NOT claim metadata
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.m WHERE v < 40").head().getLong(0) == 3)
    assert(!zeroFiles(), "a strict bound must scan")

    // grouped + WHERE composes: the range classifies per file, the
    // key partitions the survivors
    val gw = spark.sql(
      "SELECT k, count(*) FROM graft.db.m WHERE v BETWEEN 10 AND 20 " +
        "GROUP BY k ORDER BY k")
    assert(gw.collect().toSeq == Seq(org.apache.spark.sql.Row(1L, 2L)))
    assert(zeroFiles(), "grouped+filtered aggregate must serve")

    // VERSION AS OF + pushdown: the pinned snapshot serves from ITS
    // retained sidecar even after later commits — "how big was
    // release v1" stays a metadata read
    Manifest.tag(spark, tbl, "rel-v1", 1L)
    Manifest.commitAppend(spark, tbl,
      Seq((3L, 50L)).toDF("k", "v").coalesce(1))
    assert(spark.sql(
      "SELECT count(*), sum(v) FROM graft.db.m VERSION AS OF 'rel-v1'")
      .head() == org.apache.spark.sql.Row(2L, 30L))
    assert(zeroFiles(), "a pinned release must still serve from metadata")
    Manifest.analyzeFiles(spark, tbl, Seq("k", "v"))
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.db.m").head()
      == org.apache.spark.sql.Row(5L, 150L))

    // DVs on the snapshot: min/max/sum decline (a positional mask
    // cannot correct them), the scan stays exact…
    Manifest.deleteWhereMoR(spark, tbl, $"v" === 20L)
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.db.m").head()
      == org.apache.spark.sql.Row(4L, 130L))
    assert(!zeroFiles(), "a DV-carrying sum must scan")
    // …but a BARE count(*) is still exactly servable — raw sidecar
    // rows minus the masked positions, both driver metadata: the
    // takedown-heavy table keeps its zero-file dashboard count
    assert(spark.sql("SELECT count(*) FROM graft.db.m")
      .head().getLong(0) == 4L)
    assert(zeroFiles(), "count(*) under DVs = sidecar minus mask, zero files")
  }

  test("INSERT INTO through the catalog lands a commitAppend: new " +
      "version, history-stamped, schema-checked; OVERWRITE and pinned " +
      "writes refuse") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/w"
    Manifest.create(spark, tbl, Seq((1L, "a")).toDF("id", "s"))
    spark.sql("INSERT INTO graft.db.w VALUES (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT * FROM graft.db.w").count() == 3)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L),
      "the SQL insert must be one ordinary manifest commit")
    // writeTo.append is the same verb
    Seq((4L, "d")).toDF("id", "s").writeTo("graft.db.w").append()
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT * FROM graft.db.w").count() == 4)
    // schema drift fails loudly (commitAppend's contract / analysis)
    intercept[Exception] {
      spark.sql("INSERT INTO graft.db.w VALUES (5, 'e', 9)")
    }
    // INSERT OVERWRITE is not a capability: refused at analysis
    intercept[Exception] {
      spark.sql("INSERT OVERWRITE graft.db.w VALUES (9, 'z')")
    }
    // nothing landed from the refusals
    assert(spark.sql("SELECT * FROM graft.db.w").count() == 4 &&
      Manifest.versions(spark, tbl) == Seq(1L, 2L, 3L))
  }

  test("readStream.table over the catalog tails the live table " +
      "exactly-once; changeFeed and pinned tables refuse") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/s"
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"
    Manifest.create(spark, tbl, Seq((1L, "a")).toDF("id", "s"))
    val q = spark.readStream.table("graft.db.s").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      Manifest.commitAppend(spark, tbl, Seq((2L, "b")).toDF("id", "s"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(out).orderBy("id").collect().toSeq ==
      Seq(org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")))
    // filters and projections stay EXACT through the streaming path —
    // one untranslatable (Spark-residual) and one translatable filter
    // (the shape a batch scan claims handled): the stream must not
    // lose either
    val fq = spark.readStream.table("graft.db.s")
      .filter($"id" % 2 === 0).filter($"id" >= 2).select("id")
      .writeStream.format("parquet").option("path", s"$root/fout")
      .option("checkpointLocation", s"$root/fckpt").start()
    try fq.processAllAvailable() finally fq.stop()
    assert(spark.read.parquet(s"$root/fout").collect().map(_.getLong(0))
      .sorted.sameElements(Array(2L)))

    // changeFeed must route to the format face (fixed catalog schema)
    val cf = intercept[Exception] {
      spark.readStream.option("changeFeed", "true").table("graft.db.s")
        .writeStream.format("noop").start().processAllAvailable()
    }
    assert(cf.getMessage.contains("changeFeed") ||
      Option(cf.getCause).exists(_.getMessage.contains("changeFeed")))
  }

  test("evolved snapshots serve pre-evolution files with NULL new " +
      "columns through SQL; listTables lists manifested dirs; DDL and " +
      "missing tables refuse loudly") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/evo"
    Manifest.create(spark, tbl, Seq((1L, "a")).toDF("id", "s"))
    Manifest.commitAppend(spark, tbl,
      Seq((2L, "b", 9L)).toDF("id", "s", "extra"), mergeSchema = true)
    val rows = spark.sql(
      "SELECT id, extra FROM graft.db.evo ORDER BY id").collect()
    assert(rows(0).isNullAt(1) && rows(1).getLong(1) == 9L)

    // a second, non-manifested dir is invisible
    new java.io.File(s"$root/db/plaindir").mkdirs()
    val listed = spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("evo") && !listed.contains("plaindir"))

    val miss = intercept[Exception](spark.sql(
      "SELECT * FROM graft.db.nope").collect())
    assert(miss.getMessage.toLowerCase.contains("table"))
    // RENAME is one atomic directory move: the new identifier serves
    // the full history, the old one is gone
    spark.sql("ALTER TABLE graft.db.evo RENAME TO graft.db.evo2")
    assert(spark.sql("SELECT count(*) FROM graft.db.evo2")
      .head().getLong(0) == 2L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.evo2 VERSION AS OF 1")
      .head().getLong(0) == 1L, "time travel must survive the rename")
    intercept[Exception](
      spark.sql("SELECT * FROM graft.db.evo").collect())
    // renaming onto an existing table refuses
    Manifest.create(spark, s"$root/db/occupied",
      Seq((1L, "x")).toDF("id", "s").coalesce(1))
    intercept[Exception](spark.sql(
      "ALTER TABLE graft.db.evo2 RENAME TO graft.db.occupied"))
    spark.sql("DROP TABLE graft.db.evo2")
    assert(!spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("evo2"))

    // a NAMESPACE legitimately named like the catalog: the rename
    // target 'graft.graft.t' must land INSIDE warehouse dir 'graft/',
    // not have its leading element stripped as a catalog prefix
    Manifest.create(spark, s"$root/db/mover",
      Seq((7L, "z")).toDF("id", "s").coalesce(1))
    spark.sql("CREATE NAMESPACE graft.graft")
    spark.sql("ALTER TABLE graft.db.mover RENAME TO graft.graft.moved")
    assert(Manifest.isManifested(spark, s"$root/graft/moved"),
      "rename into a catalog-named namespace went to the wrong path")
    assert(spark.sql("SELECT count(*) FROM graft.graft.moved")
      .head().getLong(0) == 1L)
  }

  test("DELETE FROM through the catalog lands ONE MoR commit — no file " +
      "rewritten, time travel intact — and untranslatable predicates " +
      "refuse without committing") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/del"
    Manifest.create(spark, tbl,
      (1 to 400).map(i => (i.toLong, i * 2L)).toDF("id", "v")
        .repartitionByRange(4, F.col("id")).sortWithinPartitions(F.col("id")))
    Manifest.analyzeFiles(spark, tbl, Seq("id"))

    spark.sql("DELETE FROM graft.db.del " +
      "WHERE id BETWEEN 100 AND 150 OR id IN (7, 399)")
    // one optimistic-concurrency commit, verb-stamped, zero rewrites
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L))
    val snap = Manifest.currentSnapshot(spark, tbl).get
    assert(snap.meta.get("operation").contains("delete"))
    assert(snap.paths == Manifest.readSnapshot(spark, tbl, 1L).paths,
      "a MoR delete must not rewrite or drop data files")
    // both faces agree on the survivors
    val want = 400L - 51L - 2L
    assert(spark.sql("SELECT count(*) FROM graft.db.del")
      .head().getLong(0) == want)
    assert(Manifest.read(spark, tbl).count() == want)
    assert(Manifest.read(spark, tbl)
      .filter(F.col("id") === 7L || F.col("id").between(100, 150)).count() == 0)
    // the pre-delete snapshot stays readable (GDPR-grade audit trail
    // until vacuum)
    assert(spark.sql("SELECT count(*) FROM graft.db.del VERSION AS OF 1")
      .head().getLong(0) == 400L)

    // a condition outside the filter vocabulary (expression over a
    // column) cannot ride the metadata-only path — it falls through
    // to the COPY-ON-WRITE row-level rewrite: one more commit,
    // verb-stamped, exact rows
    spark.sql("DELETE FROM graft.db.del WHERE id % 7 = 0")
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L, 3L))
    assert(Manifest.currentSnapshot(spark, tbl).get
      .meta.get("operation").contains("delete"))
    val want2 = Manifest.readVersion(spark, tbl, 2L)
      .filter(F.col("id") % 7 =!= 0).count()
    assert(spark.sql("SELECT count(*) FROM graft.db.del")
      .head().getLong(0) == want2)
    assert(Manifest.read(spark, tbl).filter(F.col("id") % 7 === 0)
      .count() == 0)
  }

  test("UPDATE and MERGE INTO through the catalog: copy-on-write group " +
      "replacement — pruned to the predicate-admitted files, untouched " +
      "files carried verbatim, one optimistic commit each") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/up"
    Manifest.create(spark, tbl,
      (1 to 800).map(i => (i.toLong, i.toLong)).toDF("id", "v")
        .repartitionByRange(8, F.col("id")).sortWithinPartitions(F.col("id")))
    Manifest.analyzeFiles(spark, tbl, Seq("id"))
    val v1Files = Manifest.read(spark, tbl).inputFiles.toSet
    assert(v1Files.size == 8)

    // UPDATE with a pushable WHERE: only the admitted files rewrite
    spark.sql("UPDATE graft.db.up SET v = v + 1000 WHERE id BETWEEN 1 AND 50")
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L))
    assert(Manifest.currentSnapshot(spark, tbl).get
      .meta.get("operation").contains("update"))
    val v2Files = Manifest.read(spark, tbl).inputFiles.toSet
    assert((v1Files intersect v2Files).nonEmpty,
      "untouched files must be carried verbatim, not rewritten")
    assert((v1Files -- v2Files).size < v1Files.size,
      "the rewrite must be pruned to the admitted files")
    // values: rows 1..50 bumped, everything else untouched, count fixed
    assert(spark.sql("SELECT count(*) FROM graft.db.up")
      .head().getLong(0) == 800L)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.db.up").head().getLong(0) ==
      (1 to 800).map(_.toLong).sum + 50L * 1000L)
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.up WHERE v > 1000 AND id <= 50")
      .head().getLong(0) == 50L)

    // MERGE INTO: matched rows update, unmatched insert — one commit
    Seq((10L, 0L), (20L, 0L), (9001L, 77L), (9002L, 78L))
      .toDF("id", "v").write.parquet(s"$root/mergesrc")
    spark.read.parquet(s"$root/mergesrc").createOrReplaceTempView("m_src")
    spark.sql(
      """MERGE INTO graft.db.up t USING m_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
        .stripMargin)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L, 3L))
    assert(Manifest.currentSnapshot(spark, tbl).get
      .meta.get("operation").contains("merge"))
    assert(spark.sql("SELECT count(*) FROM graft.db.up")
      .head().getLong(0) == 802L)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.db.up WHERE id IN (10, 20, 9001, 9002)")
      .head().getLong(0) == 0L + 0L + 77L + 78L)
    // both faces agree after the whole SQL lifecycle
    assert(Manifest.read(spark, tbl).count() == 802L)
    // and time travel still serves every pre-mutation state
    assert(spark.sql("SELECT count(*) FROM graft.db.up VERSION AS OF 1")
      .head().getLong(0) == 800L)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.db.up VERSION AS OF 1")
      .head().getLong(0) == (1 to 800).map(_.toLong).sum)
  }

  test("MERGE runtime group filtering: a source whose keys hit two of " +
      "eight range-clustered files rewrites ONLY the files the dynamic " +
      "key filter admits — the rest carry verbatim") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/rgf"
    Manifest.create(spark, tbl,
      (1 to 800).map(i => (i.toLong, i.toLong)).toDF("id", "v")
        .repartitionByRange(8, F.col("id")).sortWithinPartitions(F.col("id")))
    Manifest.analyzeFiles(spark, tbl, Seq("id"))
    val v1Files = Manifest.read(spark, tbl).inputFiles.toSet
    assert(v1Files.size == 8)
    // source keys cluster in the low range — a MERGE has NO pushable
    // target predicate, so only the runtime key filter can prune
    Seq((5L, 500L), (17L, 1700L), (42L, 4200L))
      .toDF("id", "v").write.parquet(s"$root/rgfsrc")
    spark.read.parquet(s"$root/rgfsrc").createOrReplaceTempView("rgf_src")
    spark.sql(
      """MERGE INTO graft.db.rgf t USING rgf_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val v2Files = Manifest.read(spark, tbl).inputFiles.toSet
    val rewritten = (v1Files -- v2Files).size
    assert(rewritten >= 1 && rewritten <= 2,
      s"expected the runtime key filter to confine the rewrite to the " +
        s"1-2 files holding ids 5/17/42, rewrote $rewritten of 8")
    // values exact: three updates, everything else untouched
    assert(spark.sql("SELECT count(*) FROM graft.db.rgf")
      .head().getLong(0) == 800L)
    assert(spark.sql(
      "SELECT sum(v) FROM graft.db.rgf").head().getLong(0) ==
      (1 to 800).map(_.toLong).sum - (5 + 17 + 42) + (500 + 1700 + 4200))

    // MERGE with an EMPTY matching source: no group admits, nothing
    // rewrites, and no data is lost (the empty-query edge)
    Seq((100000L, 1L)).toDF("id", "v").filter($"id" < 0)
      .write.parquet(s"$root/rgfempty")
    spark.read.parquet(s"$root/rgfempty")
      .createOrReplaceTempView("rgf_empty")
    spark.sql(
      """MERGE INTO graft.db.rgf t USING rgf_empty s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.db.rgf").head()
      == org.apache.spark.sql.Row(800L,
        (1 to 800).map(_.toLong).sum - 64L + 6400L),
      "an empty-source MERGE must not drop or duplicate a single row")
  }

  test("runtime (DPP-style) filtering: a selective dim filter in a SQL " +
      "join narrows the fact scan's admitted files AFTER planning") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/fact"
    Manifest.create(spark, tbl,
      (1 to 4000).map(i => (i.toLong, (i % 97).toLong)).toDF("k", "m")
        .repartitionByRange(8, F.col("k")).sortWithinPartitions(F.col("k")))
    Manifest.analyzeFiles(spark, tbl, Seq("k"))
    val nAll = Manifest.read(spark, tbl).inputFiles.length
    assert(nAll == 8)
    // the dim must be FILE-backed: a LocalRelation constant-folds its
    // filter away and PartitionPruning then sees no selective
    // predicate to derive a runtime filter from
    Seq((100L, "hit"), (120L, "hit"), (140L, "hit"),
      (3000L, "miss"), (3500L, "miss"))
      .toDF("k", "g").write.parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("cat_dim")

    val q = spark.sql(
      "SELECT count(*) AS n, sum(f.m) AS sm FROM graft.db.fact f " +
        "JOIN cat_dim d ON f.k = d.k WHERE d.g = 'hit'")
    val row = q.head()
    assert(row.getLong(0) == 3L)
    assert(row.getLong(1) == (100 % 97) + (120 % 97) + (140 % 97))
    // the static plan admits every file (no fact-side predicate); the
    // runtime filter derived from the dim side must have narrowed the
    // file set through the envelope sidecar
    val admitted = GraftScanInfo.lastFiles(tbl).get
    assert(admitted.nonEmpty && admitted.size < nAll,
      s"runtime filter admitted ${admitted.size} of $nAll files — " +
        "expected a strict subset")
  }

  test("the scan reports manifest statistics — exact bytes from the " +
      "listing, exact rows from the sidecar net of DVs — so the CBO " +
      "broadcasts a small graft table without opening a footer") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/small"
    Manifest.create(spark, tbl,
      (1 to 50).map(i => (i.toLong, s"name_$i")).toDF("k", "nm").coalesce(1))
    Manifest.analyzeFiles(spark, tbl, Seq("k"))
    Manifest.deleteWhereMoR(spark, tbl, F.col("k") > 45L) // 5 rows masked

    val rel = spark.sql("SELECT k, nm FROM graft.db.small")
    val stats = rel.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < (1L << 20),
      s"expected exact small size, got ${stats.sizeInBytes}")
    assert(stats.rowCount.contains(BigInt(45)),
      s"expected sidecar row count net of the DV mask, got ${stats.rowCount}")

    // a fact side big enough to be un-broadcastable: the join planning
    // decision then PROVES the graft side's reported size was believed
    val big = spark.range(0, 3000000L)
      .select((F.col("id") % 50 + 1).as("k"), F.col("id").as("x"))
    val j = big.join(spark.table("graft.db.small"), "k")
    val plan = j.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the small graft table to broadcast, plan:\n$plan")
  }

  test("CREATE TABLE lands an empty schema-carrying v1 and CTAS lands " +
      "ONE atomic v1 commit — both readable through SQL and the API; " +
      "duplicate and empty-partitioned creates refuse") {
    import spark.implicits._
    val root = freshRoot()

    // plain CREATE TABLE: empty v1, immediately readable + appendable
    spark.sql("CREATE TABLE graft.db.fresh (id BIGINT, name STRING)")
    assert(Manifest.versions(spark, s"$root/db/fresh") == Seq(1L))
    assert(spark.sql("SELECT * FROM graft.db.fresh").collect().isEmpty)
    assert(spark.table("graft.db.fresh").schema.fieldNames
      .sameElements(Array("id", "name")))
    spark.sql("INSERT INTO graft.db.fresh VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql("SELECT count(*) FROM graft.db.fresh")
      .head().getLong(0) == 2L)
    assert(Manifest.read(spark, s"$root/db/fresh").count() == 2L)
    intercept[Exception](
      spark.sql("CREATE TABLE graft.db.fresh (x INT)"))

    // CTAS: exactly one v1 commit, verb-stamped, both faces agree
    (1 to 300).map(i => (i.toLong, i * 5L)).toDF("k", "v")
      .createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE graft.db.made AS " +
      "SELECT k, v FROM ctas_src WHERE k <= 200")
    val made = s"$root/db/made"
    assert(Manifest.versions(spark, made) == Seq(1L),
      "CTAS must land as ONE snapshot commit")
    assert(Manifest.currentSnapshot(spark, made).get
      .meta.get("operation").contains("create"))
    assert(spark.sql("SELECT sum(v) FROM graft.db.made")
      .head().getLong(0) == (1 to 200).map(_ * 5L).sum)
    assert(Manifest.read(spark, made).count() == 200L)

    // partitioned CTAS: identity transforms become the hive layout
    spark.sql("CREATE TABLE graft.db.parted PARTITIONED BY (p) AS " +
      "SELECT k, CAST(k % 3 AS STRING) AS p FROM ctas_src")
    val parted = s"$root/db/parted"
    assert(Manifest.versions(spark, parted) == Seq(1L))
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.parted WHERE p = '1'")
      .head().getLong(0) == 100L)
    assert(Manifest.read(spark, parted).columns.contains("p"))

    // an EMPTY partitioned CREATE has no directories to commit
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.db.ep (a INT, p STRING) PARTITIONED BY (p)"))
  }

  test("ALTER TABLE ADD COLUMN is a metadata-only additive evolution; " +
      "TRUNCATE masks every row behind one MoR commit; destructive " +
      "ALTERs refuse") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/ev"
    Manifest.create(spark, tbl,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))

    spark.sql("ALTER TABLE graft.db.ev ADD COLUMN score DOUBLE")
    // one commit, zero files touched, old rows serve NULL
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L))
    assert(Manifest.currentSnapshot(spark, tbl).get
      .meta.get("operation").contains("evolve"))
    assert(Manifest.currentSnapshot(spark, tbl).get.paths ==
      Manifest.readSnapshot(spark, tbl, 1L).paths)
    val rows = spark.sql(
      "SELECT id, score FROM graft.db.ev ORDER BY id").collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(1)))
    // the widened schema accepts inserts with the new column
    spark.sql("INSERT INTO graft.db.ev VALUES (3, 'c', 0.5)")
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.ev WHERE score IS NOT NULL")
      .head().getLong(0) == 1L)
    // both faces agree on the evolved shape
    assert(Manifest.read(spark, tbl).schema.fieldNames
      .sameElements(Array("id", "s", "score")))

    // RENAME/DROP COLUMN: metadata-only column-mapping commits — the
    // SQL face serves the new shape, zero data files move, and the
    // mapping folds on the next rewrite (MappingSpec pins the rest)
    spark.sql("ALTER TABLE graft.db.ev RENAME COLUMN s TO label")
    assert(spark.table("graft.db.ev").columns.toSeq ==
      Seq("id", "label", "score"))
    spark.sql("ALTER TABLE graft.db.ev DROP COLUMN label")
    assert(spark.table("graft.db.ev").columns.toSeq == Seq("id", "score"))
    assert(Manifest.versions(spark, tbl) == (1L to 5L),
      "each mapping ALTER is ONE metadata commit")
    assert(Manifest.currentSnapshot(spark, tbl).get.paths ==
      Manifest.readSnapshot(spark, tbl, 3L).paths,
      "mapping commits must move zero data files")
    // still-destructive ALTERs (type changes etc.) refuse loudly
    intercept[Exception](
      spark.sql("ALTER TABLE graft.db.ev ALTER COLUMN score TYPE STRING"))
    assert(Manifest.versions(spark, tbl) == (1L to 5L),
      "refused ALTERs must commit nothing")

    // nullability may only WIDEN: re-declaring an existing nullable
    // column NOT NULL would claim non-null over immutable files that
    // already hold nulls (score of the pre-evolution rows)
    val cur = Manifest.read(spark, tbl).schema
    val narrowed = org.apache.spark.sql.types.StructType(cur.map(f =>
      if (f.name == "score") f.copy(nullable = false) else f) :+
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType))
    val ne = intercept[Exception](
      Manifest.evolveSchema(spark, tbl, narrowed))
    assert(ne.getMessage.contains("narrow nullability"),
      s"narrowing must refuse, got: ${ne.getMessage}")

    // TRUNCATE: the table stays (and its history), emptied by one
    // MoR mask — the pre-truncate snapshot still time-travels
    spark.sql("TRUNCATE TABLE graft.db.ev")
    assert(spark.sql("SELECT count(*) FROM graft.db.ev")
      .head().getLong(0) == 0L)
    assert(Manifest.versions(spark, tbl) == (1L to 6L))
    assert(spark.sql("SELECT count(*) FROM graft.db.ev VERSION AS OF 3")
      .head().getLong(0) == 3L)
  }

  test("namespaces are warehouse directories: CREATE NAMESPACE, SHOW " +
      "NAMESPACES, CTAS into the new namespace; DROP refuses") {
    import spark.implicits._
    val root = freshRoot()
    // seed one table so db exists
    Manifest.create(spark, s"$root/db/seed",
      Seq((1L, 2L)).toDF("a", "b").coalesce(1))
    spark.sql("CREATE NAMESPACE graft.curated")
    val namespaces = spark.sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).toSet
    assert(namespaces == Set("db", "curated"), s"got $namespaces")
    // a table dir is NOT a namespace; a namespace is usable immediately
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("ns_src")
    spark.sql("CREATE TABLE graft.curated.t AS SELECT * FROM ns_src")
    assert(spark.sql("SELECT sum(v) FROM graft.curated.t")
      .head().getLong(0) == 30L)
    assert(spark.sql("SHOW TABLES IN graft.curated").collect()
      .map(_.getString(1)).toSet == Set("t"))
    intercept[Exception](spark.sql("DROP NAMESPACE graft.curated"))
    intercept[Exception](spark.sql(
      "SHOW NAMESPACES IN graft.nope"))
  }

  test("CALL graft.system.*: the whole maintenance loop from SQL — " +
      "advise names the verbs, compact/fold/analyze/vacuum run them, " +
      "advise falls silent") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/mx"
    // fragmented + DV-piled: the advisor must name compact + foldDeletes
    Manifest.create(spark, tbl,
      (1 to 400).map(i => (i.toLong, i * 3L)).toDF("id", "v")
        .repartition(20))
    Manifest.deleteWhereMoR(spark, tbl, F.col("id") % 97 === 0)
    Manifest.deleteWhereMoR(spark, tbl, F.col("id") % 89 === 0)

    def advised(): Set[String] = spark.sql(
      "CALL graft.system.advise(table => 'db/mx')")
      .select("action").collect().map(_.getString(0)).toSet
    val before = advised()
    assert(before.contains("compact") && before.contains("foldDeletes"),
      s"advisor must flag the unhealthy states, got $before")

    val folded = spark.sql(
      "CALL graft.system.fold_deletes(table => 'db/mx')").head()
    assert(folded.getLong(0) == 4L, "fold must land one new version")
    val compacted = spark.sql(
      "CALL graft.system.compact(table => 'db/mx', target_mb => 1024)")
      .head()
    assert(compacted.getLong(0) == 5L)
    assert(compacted.getInt(1) < 20, "compaction must collapse the files")

    val analyzed = spark.sql(
      "CALL graft.system.analyze(table => 'db/mx', columns => 'id,v')")
      .head()
    assert(analyzed.getInt(0) > 0, "analyze must scan the new files")
    val vacuumed = spark.sql(
      "CALL graft.system.vacuum(table => 'db/mx', keep => 1)").head()
    assert(vacuumed.getInt(0) == 5 && vacuumed.getInt(1) == 1)

    // the table is healthy and exactly right afterwards
    assert(advised().isEmpty, "a maintained table must advise nothing")
    val want = 400L -
      (1 to 400).count(i => i % 97 == 0 || i % 89 == 0)
    assert(spark.sql("SELECT count(*) FROM graft.db.mx")
      .head().getLong(0) == want)
    // unknown procedure refuses loudly (Spark wraps the catalog's
    // available-list message in FAILED_TO_LOAD_ROUTINE)
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.explode(table => 'db/mx')"))
    assert(e.getMessage.contains("Failed to load routine") ||
      e.getMessage.contains("available"))
  }

  test("an aborted CTAS reclaims only what it created — pre-existing " +
      "content at the identifier path survives the abort") {
    import spark.implicits._
    val root = freshRoot()
    // the identifier's directory legitimately pre-exists with
    // unrelated content: a plain parquet dir awaiting Manifest.adopt
    val pre = s"$root/db/docs"
    (1 to 10).map(i => (i.toLong, s"keep-$i")).toDF("id", "s")
      .coalesce(1).write.parquet(pre)
    val preFiles = new java.io.File(pre).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(preFiles.nonEmpty)

    // a CTAS that fails at EXECUTION time (after staging, mid-write)
    val err = intercept[Exception](spark.sql(
      "CREATE TABLE graft.db.docs AS " +
        "SELECT CAST(raise_error('boom') AS BIGINT) AS id FROM range(5)"))
    assert(err.getMessage != null)

    // the abort swept this write's artifacts but not a pre-existing byte
    val after = new java.io.File(pre).listFiles().map(_.getName).toSet
    assert(preFiles.subsetOf(after),
      s"abort destroyed pre-existing files: missing ${preFiles -- after}")
    assert(!Manifest.isManifested(spark, pre),
      "a failed CTAS must not leave a committed manifest")
    assert(!after.exists(_.startsWith("_v")),
      s"abort left this write's data dirs behind: $after")
    // the pre-existing parquet is intact and adoptable
    assert(spark.read.parquet(pre).count() == 10L)

    // and a CTAS onto a FRESH path that fails still removes the dir
    val err2 = intercept[Exception](spark.sql(
      "CREATE TABLE graft.db.fresh AS " +
        "SELECT CAST(raise_error('boom') AS BIGINT) AS id FROM range(5)"))
    assert(err2.getMessage != null)
    assert(!new java.io.File(s"$root/db/fresh").exists(),
      "abort must reclaim a directory the write itself created")
  }

  test("row-level rewrites commit PER-FILE entries: a zombie task file " +
      "flushed after commit is never served") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/rw"
    Manifest.create(spark, tbl,
      (1 to 400).map(i => (i.toLong, i * 2L)).toDF("id", "v")
        .repartitionByRange(4, F.col("id")).sortWithinPartitions(F.col("id")))
    spark.sql("UPDATE graft.db.rw SET v = v + 1 WHERE id <= 100")
    val snap = Manifest.currentSnapshot(spark, tbl).get
    // the rewrite's new entries are task-committed FILES, not the
    // version directory — visibility never depends on a listing
    val newEntries = snap.paths.filterNot(
      Manifest.readSnapshot(spark, tbl, 1L).paths.contains)
    assert(newEntries.nonEmpty &&
      newEntries.forall(e => e.contains("/") && e.endsWith(".parquet")),
      s"rewrite landed directory-grain entries: $newEntries")
    val before = spark.sql("SELECT count(*) AS n, sum(v) AS sv " +
      "FROM graft.db.rw").head()
    // the zombie: a stray part file lands in the committed rewrite
    // directory AFTER the manifest rename
    val rewriteDir = new java.io.File(
      s"$tbl/${newEntries.head.split('/').head}")
    val zombieSrc = new java.io.File(s"$tbl/${newEntries.head}")
    java.nio.file.Files.copy(zombieSrc.toPath,
      new java.io.File(rewriteDir, "part-zombie-attempt-7.parquet").toPath)
    val after = spark.sql("SELECT count(*) AS n, sum(v) AS sv " +
      "FROM graft.db.rw").head()
    assert(after == before,
      s"a post-commit zombie flush changed query results: $before -> $after")
    assert(before.getLong(0) == 400L &&
      before.getLong(1) == (1 to 400).map(i => i * 2L).sum + 100L)
  }

  test("table_changes / table_history negative shapes: non-literal " +
      "args, unknown tables, unretained versions, wrong arity — all " +
      "refuse loudly at analysis time") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val root = freshRoot()
    val tbl = s"$root/db/neg"
    Manifest.create(spark, tbl,
      (1 to 100).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
    Manifest.commitAppend(spark, tbl,
      Seq((101L, 202L)).toDF("id", "v"))

    // happy path through BOTH addressings: catalog ref and raw path
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('graft.db.neg', 1, 2)")
      .head().getLong(0) == 1L)
    assert(spark.sql(
      s"SELECT count(*) FROM table_changes('$tbl', 1, 2)")
      .head().getLong(0) == 1L)
    assert(spark.sql(
      "SELECT count(*) FROM table_history('graft.db.neg')")
      .head().getLong(0) == 2L)

    def refuses(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
    refuses("SELECT * FROM table_changes('graft.db.ghost', 1, 2)",
      "not a manifested table")
    refuses("SELECT * FROM table_changes('graft.db.neg', 1, 99)",
      "no retained version")
    refuses("SELECT * FROM table_changes('graft.db.neg', 1)",
      "table_changes takes")
    refuses("SELECT * FROM table_changes('graft.db.neg', 1, 2.5)",
      "integer literal")
    refuses("SELECT * FROM table_changes(rand()::string, 1, 2)",
      "string literal")
    refuses("SELECT * FROM table_history('graft.db.neg', 1)",
      "table_history takes")
    // tag names address versions like VERSION AS OF — the two faces
    // serve the identical feed; an unknown tag refuses
    Manifest.tag(spark, tbl, "base", version = 1L)
    Manifest.tag(spark, tbl, "head", version = 2L)
    assert(spark.sql(
      "SELECT * FROM table_changes('graft.db.neg', 'base', 'head')")
      .collect().map(_.toString).sorted.sameElements(
        spark.sql("SELECT * FROM table_changes('graft.db.neg', 1, 2)")
          .collect().map(_.toString).sorted))
    refuses("SELECT * FROM table_changes('graft.db.neg', 'ghost', 2)",
      "no tag")
    Manifest.deleteTag(spark, tbl, "base")
    Manifest.deleteTag(spark, tbl, "head")
    // a vacuumed version refuses rather than serving a wrong diff
    Manifest.vacuum(spark, tbl, keep = 1, orphanGraceMs = 0L)
    refuses("SELECT * FROM table_changes('graft.db.neg', 1, 2)",
      "no retained version")
  }

  test("DROP TABLE: tombstone commit hides every face, writes refuse, " +
      "restore undrops, vacuum reclaims once the lease closes") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/dr"
    Manifest.create(spark, tbl,
      (1 to 60).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
    Manifest.tag(spark, tbl, "rel-1")
    spark.sql("DROP TABLE graft.db.dr")
    // every load face refuses — bare, VERSION AS OF, TIMESTAMP AS OF
    intercept[Exception](spark.sql("SELECT * FROM graft.db.dr").collect())
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.db.dr VERSION AS OF 1").collect())
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.db.dr TIMESTAMP AS OF '2099-01-01'").collect())
    intercept[Exception](spark.sql(
      "INSERT INTO graft.db.dr VALUES (999, 999)"))
    // a retrying API writer cannot resurrect the table either
    val we = intercept[Exception](Manifest.commitAppend(spark, tbl,
      Seq((999L, 999L)).toDF("id", "v")))
    assert(we.getMessage.contains("DROPPED"), we.getMessage)
    // double drop is a clean no-op (IF EXISTS sees no table)
    spark.sql("DROP TABLE IF EXISTS graft.db.dr")
    // a tag refuses the reclaim (a release is pinned); the tombstone
    // and the data survive vacuum
    Manifest.vacuum(spark, tbl, keep = 1, retainMs = 0L, orphanGraceMs = 0L)
    assert(new java.io.File(tbl).exists(),
      "vacuum must not reclaim a dropped table a tag still pins")
    // restore = undrop: full content back, every face serves again
    Manifest.restore(spark, tbl, 1L)
    assert(spark.sql("SELECT count(*) FROM graft.db.dr")
      .head().getLong(0) == 60L)
    assert(spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("dr"))
    // drop again, release the tag, close the lease — reclaimed
    spark.sql("DROP TABLE graft.db.dr")
    Manifest.deleteTag(spark, tbl, "rel-1")
    Manifest.vacuum(spark, tbl, keep = 1, retainMs = 0L, orphanGraceMs = 0L)
    assert(!new java.io.File(tbl).exists(), "lease closed — reclaim")
  }

  test("CALL graft.system.history serves the ledger; z-order compact " +
      "via sort_columns refuses >2 columns and all-NULL axes") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/hz"
    Manifest.create(spark, tbl,
      (1 to 200).map(i => (i.toLong, i * 3L, null.asInstanceOf[java.lang.Long]))
        .toDF("id", "v", "dead").repartition(4))
    Manifest.deleteWhereMoR(spark, tbl, F.col("id") % 50 === 0)
    val hist = spark.sql("CALL graft.system.history(table => 'db/hz')")
      .orderBy("version").collect()
    assert(hist.map(_.getLong(0)).sameElements(Array(1L, 2L)))
    assert(hist.map(_.getString(2)).sameElements(Array("create", "delete")))
    val e3 = intercept[Exception](spark.sql(
      "CALL graft.system.compact(table => 'db/hz', " +
        "sort_columns => 'id,v,dead')"))
    assert(e3.getMessage.contains("at most TWO"), e3.getMessage)
    val eN = intercept[Exception](spark.sql(
      "CALL graft.system.compact(table => 'db/hz', " +
        "sort_columns => 'dead,v')"))
    assert(eN.getMessage.contains("all-NULL"), eN.getMessage)
    // the 2-axis happy path folds the DVs and lands one compact commit
    spark.sql("CALL graft.system.compact(table => 'db/hz', " +
      "sort_columns => 'id,v', zorder_bits => 4)")
    val snap = Manifest.currentSnapshot(spark, tbl).get
    assert(snap.meta.get("operation").contains("compact"))
    assert(spark.sql("SELECT count(*) FROM graft.db.hz")
      .head().getLong(0) == 196L)
  }

  test("hive-partitioned snapshots ride the NATIVE scan: partition " +
      "values typed from the path, driver partition pruning, mixed " +
      "part+data predicates, _graft_file, and DV masking") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/hv"
    Manifest.create(spark, tbl,
      (1 to 400).map(i => (i.toLong, i % 8, i * 2L)).toDF("id", "day", "v"),
      partitionBy = Seq("day"))
    val nAll = Manifest.read(spark, tbl).inputFiles.length
    assert(nAll >= 8, s"expected >=8 hive leaf files, got $nAll")

    // full parity with the native (inference-reading) face
    val sql = spark.sql("SELECT id, day, v FROM graft.db.hv ORDER BY id")
    val native = Manifest.read(spark, tbl)
      .select("id", "day", "v").orderBy("id")
    assert(sql.schema == native.schema)
    assert(sql.collect().sameElements(native.collect()))

    // the plan is the native DSv2 batch scan, not the V1 bridge
    assert(sql.queryExecution.executedPlan.toString
      .contains("BatchScan"), sql.queryExecution.executedPlan.toString)

    // partition-value pruning: a day predicate admits ~1/8 of files
    val one = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM graft.db.hv WHERE day = 3")
    val expect = (1 to 400).filter(_ % 8 == 3)
    assert(one.head() == org.apache.spark.sql.Row(
      expect.size.toLong, expect.map(_ * 2L).sum))
    val admitted1 = GraftScanInfo.lastFiles(tbl).get
    assert(admitted1.nonEmpty && admitted1.size < nAll,
      s"day=3 admitted ${admitted1.size} of $nAll")
    assert(admitted1.forall(_.contains("day=3")))

    // IN over partition values, mixed with a data predicate
    val mixed = spark.sql(
      "SELECT count(*) AS n FROM graft.db.hv " +
        "WHERE day IN (1, 5) AND v >= 100")
    assert(mixed.head().getLong(0) ==
      (1 to 400).count(i => (i % 8 == 1 || i % 8 == 5) && i * 2 >= 100))
    val admitted2 = GraftScanInfo.lastFiles(tbl).get
    assert(admitted2.forall(f => f.contains("day=1") || f.contains("day=5")))

    // _graft_file provenance now works on hive layouts
    val prov = spark.sql(
      "SELECT DISTINCT _graft_file FROM graft.db.hv WHERE day = 6")
      .collect().map(_.getString(0))
    assert(prov.nonEmpty && prov.forall(_.contains("day=6")))

    // a MoR takedown masks rows behind the native hive reader
    spark.sql("DELETE FROM graft.db.hv WHERE id <= 40")
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.db.hv").head() ==
      org.apache.spark.sql.Row(360L, (41 to 400).map(_ * 2L).sum))
    assert(Manifest.currentSnapshot(spark, tbl).get.paths ==
      Manifest.readSnapshot(spark, tbl, 1L).paths,
      "the delete must move no data file")

    // runtime (DPP-style) narrowing on the PARTITION column: a
    // selective dim filter arrives post-planning as an IN set. The
    // dim must be FILE-backed — a LocalRelation constant-folds and
    // leaves nothing to derive the runtime filter from (q239's rule).
    (0 to 7).map(d => (d, if (d == 3) "keep" else "drop"))
      .toDF("dday", "tag").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/hv_dim")
    spark.read.parquet(s"$root/hv_dim").createOrReplaceTempView("hv_dim")
    val joined = spark.sql(
      """SELECT count(*) AS n FROM graft.db.hv t
        |JOIN hv_dim d ON t.day = d.dday WHERE d.tag = 'keep'"""
        .stripMargin)
    assert(joined.head().getLong(0) ==
      (41 to 400).count(_ % 8 == 3))
    val admitted3 = GraftScanInfo.lastFiles(tbl).get
    assert(admitted3.size < nAll && admitted3.forall(_.contains("day=3")),
      s"runtime partition filter admitted ${admitted3.size}: $admitted3")
  }

  test("MERGE with WHEN NOT MATCHED BY SOURCE: every target row is " +
      "in play, so the rewrite must not be pruned to the matched " +
      "groups — all three action classes land exactly, one commit") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/mbs"
    Manifest.create(spark, tbl,
      (1 to 400).map(i => (i.toLong, i * 2L)).toDF("id", "v")
        .repartitionByRange(8, F.col("id")).sortWithinPartitions(F.col("id")))
    // source touches only the low range plus two fresh ids — every
    // other target row is NOT MATCHED BY SOURCE and must delete
    ((1L to 50L) ++ Seq(401L, 402L)).map(i => (i, 999L)).toDF("id", "nv")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/src")
    spark.read.parquet(s"$root/src").createOrReplaceTempView("mbs_src")
    spark.sql(
      """MERGE INTO graft.db.mbs t USING mbs_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val after = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM graft.db.mbs").head()
    assert(after.getLong(0) == 52L,
      s"50 updated + 2 inserted survive, got ${after.getLong(0)}")
    assert(after.getLong(1) == 52L * 999L)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L),
      "the whole merge is ONE commit")
    assert(Manifest.currentSnapshot(spark, tbl).get
      .meta.get("operation").contains("merge"))
  }

  test("DELETE with a subquery predicate routes through the CoW " +
      "rewrite (untranslatable for the MoR vector) and lands exactly, " +
      "one commit") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/ds"
    Manifest.create(spark, tbl,
      (1 to 100).map(i => (i.toLong, i * 2L)).toDF("id", "v")
        .repartitionByRange(4, F.col("id")))
    (1L to 10L).toDF("kid").coalesce(1).write.parquet(s"$root/kill")
    spark.read.parquet(s"$root/kill").createOrReplaceTempView("ds_kill")
    spark.sql(
      "DELETE FROM graft.db.ds WHERE id IN (SELECT kid FROM ds_kill)")
    val after = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM graft.db.ds").head()
    assert(after.getLong(0) == 90L &&
      after.getLong(1) == (11 to 100).map(_ * 2L).sum)
    assert(Manifest.versions(spark, tbl) == Seq(1L, 2L))
    assert(Manifest.currentSnapshot(spark, tbl).get
      .meta.get("operation").contains("delete"))
  }

  test("the release loop from SQL: adopt a plain parquet dir, tag a " +
      "version, restore (including the undrop), drop the tag") {
    import spark.implicits._
    val root = freshRoot()
    val tbl = s"$root/db/rel"
    // a plain parquet dir awaiting adoption — no manifest yet
    (1 to 50).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .coalesce(1).write.parquet(tbl)
    val adopted = spark.sql(
      "CALL graft.system.adopt(table => 'db/rel')").head()
    assert(adopted.getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM graft.db.rel")
      .head().getLong(0) == 50L)
    // double adopt refuses
    val ae = intercept[Exception](spark.sql(
      "CALL graft.system.adopt(table => 'db/rel')"))
    assert(ae.getMessage.contains("already manifested"))

    spark.sql("INSERT INTO graft.db.rel VALUES (51, 102)") // v2
    val tagged = spark.sql(
      "CALL graft.system.tag(table => 'db/rel', name => 'corpus-v1')")
      .head()
    assert(tagged.getString(0) == "corpus-v1" && tagged.getLong(1) == 2L)
    spark.sql("DELETE FROM graft.db.rel WHERE id > 10") // v3
    assert(spark.sql("SELECT count(*) FROM graft.db.rel")
      .head().getLong(0) == 10L)
    // the tag still serves the release through SQL time travel
    assert(spark.sql(
      "SELECT count(*) FROM graft.db.rel VERSION AS OF 'corpus-v1'")
      .head().getLong(0) == 51L)
    // restore rolls the current snapshot back to the release
    val restored = spark.sql(
      "CALL graft.system.restore(table => 'db/rel', version => 2)").head()
    assert(restored.getLong(0) == 4L && restored.getLong(1) == 2L)
    assert(spark.sql("SELECT count(*) FROM graft.db.rel")
      .head().getLong(0) == 51L)

    // restore is also the UNDROP — the one verb a tombstone admits
    spark.sql("DROP TABLE graft.db.rel") // v5
    intercept[Exception](
      spark.sql("SELECT count(*) FROM graft.db.rel").collect())
    spark.sql(
      "CALL graft.system.restore(table => 'db/rel', version => 4)") // v6
    assert(spark.sql("SELECT count(*) FROM graft.db.rel")
      .head().getLong(0) == 51L, "restore must undrop")

    // drop the tag; the pinned name stops resolving
    spark.sql(
      "CALL graft.system.drop_tag(table => 'db/rel', name => 'corpus-v1')")
    intercept[Exception](spark.sql(
      "SELECT count(*) FROM graft.db.rel VERSION AS OF 'corpus-v1'")
      .collect())
  }

  test("CALL procedures: NULL table refuses loudly; NULL optional args " +
      "fall back instead of NPEing") {
    import spark.implicits._
    val root = freshRoot()
    Manifest.create(spark, s"$root/db/pn",
      (1 to 50).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
    val e1 = intercept[Exception](spark.sql(
      "CALL graft.system.analyze(table => 'db/pn', columns => NULL, " +
        "string_columns => NULL)"))
    assert(e1.getMessage.contains("give columns"),
      s"NULL analyze args must hit the domain guard, got: ${e1.getMessage}")
    val e2 = intercept[Exception](spark.sql(
      "CALL graft.system.advise(table => NULL)"))
    assert(e2.getMessage.contains("table must not be NULL"),
      s"NULL table must refuse cleanly, got: ${e2.getMessage}")
    // NULL ints fall back to the declared defaults
    val c = spark.sql(
      "CALL graft.system.compact(table => 'db/pn', target_mb => NULL)")
      .head()
    assert(c.getLong(0) == 2L)
    val v = spark.sql(
      "CALL graft.system.vacuum(table => 'db/pn', keep => NULL, " +
        "retain_hours => NULL)").head()
    assert(v.getInt(1) <= 2)
  }
}
