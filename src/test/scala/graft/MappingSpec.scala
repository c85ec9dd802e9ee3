package graft

import graft.sources.Manifest
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Column mapping: RENAME/DROP COLUMN as metadata-only commits —
  * field-ID indirection reduced to a logical→physical name map riding
  * the snapshot ([[Manifest.ColumnMapKey]]). Files always keep
  * physical names; public reads project to logical; verbs translate
  * predicates at entry; a full rewrite folds the mapping. */
class MappingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.session(4)

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_map_$name").toString

  test("rename: metadata-only commit — zero data files move, reads " +
      "serve the new name, time travel serves each version's own") {
    import spark.implicits._
    val table = s"${fresh("ren")}/t"
    Manifest.create(spark, table,
      (1 to 20).map(i => (i.toLong, i * 10L)).toDF("id", "amount"))
    val before = Manifest.currentSnapshot(spark, table).get
    Manifest.renameColumn(spark, table, "amount", "revenue")
    val after = Manifest.currentSnapshot(spark, table).get
    // metadata-only: the file list is IDENTICAL
    assert(after.paths == before.paths)
    assert(after.version == before.version + 1)
    // reads serve the new name
    val df = Manifest.read(spark, table)
    assert(df.columns.toSeq == Seq("id", "revenue"))
    assert(df.agg(F.sum("revenue")).first().getLong(0) == (1 to 20).map(_ * 10L).sum)
    // time travel: v1 under the OLD name, v2 under the new
    assert(Manifest.readVersion(spark, table, 1L).columns.toSeq ==
      Seq("id", "amount"))
    assert(Manifest.readVersion(spark, table, 2L).columns.toSeq ==
      Seq("id", "revenue"))
    // history names the verb
    assert(Manifest.currentSnapshot(spark, table).get
      .meta.get("operation").contains("rename_column"))
  }

  test("append after rename: the batch speaks logical names, files " +
      "stay physically uniform, totals exact") {
    import spark.implicits._
    val table = s"${fresh("app")}/t"
    Manifest.create(spark, table,
      (1 to 10).map(i => (i.toLong, i * 10L)).toDF("id", "amount"))
    Manifest.renameColumn(spark, table, "amount", "revenue")
    Manifest.commitAppend(spark, table,
      (11 to 20).map(i => (i.toLong, i * 10L)).toDF("id", "revenue"))
    val df = Manifest.read(spark, table)
    assert(df.count() == 20)
    assert(df.agg(F.sum("revenue")).first().getLong(0) ==
      (1 to 20).map(_ * 10L).sum)
    // an append under the OLD name refuses loudly
    val e = intercept[Exception] {
      Manifest.commitAppend(spark, table,
        Seq((99L, 990L)).toDF("id", "amount"))
    }
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("CoW delete + MoR delete + CDC all run under logical names on " +
      "a renamed table") {
    import spark.implicits._
    val table = s"${fresh("verbs")}/t"
    Manifest.create(spark, table,
      (1 to 30).map(i => (i.toLong, i * 10L)).toDF("id", "amount"))
    Manifest.renameColumn(spark, table, "amount", "revenue") // v2
    // CDC across the rename alone: EMPTY feed (metadata-only commit)
    assert(Manifest.readChanges(spark, table, 1L, 2L).count() == 0)
    // MoR delete with a logical-name predicate
    Manifest.deleteWhereMoR(spark, table, F.col("revenue") > 250L) // v3
    val afterMoR = Manifest.read(spark, table)
    assert(afterMoR.count() == 25)
    assert(afterMoR.columns.toSeq == Seq("id", "revenue"))
    // the CDC feed of the delete speaks the NEW name
    val feed = Manifest.readChanges(spark, table, 2L, 3L)
    assert(feed.columns.contains("revenue"))
    assert(feed.filter(F.col("_change_type") === "delete").count() == 5)
    // CoW delete with a logical-name predicate
    Manifest.deleteWhere(spark, table, F.col("revenue") <= 50L) // v4
    val afterCoW = Manifest.read(spark, table)
    assert(afterCoW.count() == 20)
    assert(afterCoW.agg(F.min("revenue")).first().getLong(0) == 60L)
    // merge (CoW upsert) under logical names
    Manifest.merge(spark, table,
      Seq((6L, 999L), (100L, 1000L)).toDF("id", "revenue"), Seq("id")) // v5
    val afterMerge = Manifest.read(spark, table)
    assert(afterMerge.count() == 21)
    assert(afterMerge.filter(F.col("id") === 6L)
      .first().getLong(1) == 999L)
  }

  test("drop column: gone from reads; re-adding the SAME name serves " +
      "NULL, never the old bytes") {
    import spark.implicits._
    val table = s"${fresh("drop")}/t"
    Manifest.create(spark, table,
      (1 to 10).map(i => (i.toLong, s"secret-$i", i * 1.5)).toDF(
        "id", "token", "score"))
    Manifest.dropColumn(spark, table, "token") // v2
    val df = Manifest.read(spark, table)
    assert(df.columns.toSeq == Seq("id", "score"))
    // time travel still serves the dropped column at v1
    assert(Manifest.readVersion(spark, table, 1L).columns.contains("token"))
    // re-add the same logical name: must be NULL everywhere (fresh
    // physical column), not the retired bytes
    import org.apache.spark.sql.types._
    Manifest.evolveSchema(spark, table, StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("token", StringType, nullable = true)))) // v3
    val re = Manifest.read(spark, table)
    assert(re.columns.toSeq == Seq("id", "score", "token"))
    assert(re.filter(F.col("token").isNotNull).count() == 0,
      "re-added column served the retired physical bytes")
    // and an append can fill it
    Manifest.commitAppend(spark, table,
      Seq((11L, 9.9, "fresh")).toDF("id", "score", "token"))
    assert(Manifest.read(spark, table)
      .filter(F.col("token") === "fresh").count() == 1)
  }

  test("compact folds the mapping: logical file names, mapping meta " +
      "gone, pruned/stats serving resumes") {
    import spark.implicits._
    val table = s"${fresh("fold")}/t"
    Manifest.create(spark, table,
      (1 to 40).map(i => (i.toLong, i * 10L)).toDF("id", "amount"))
    Manifest.renameColumn(spark, table, "amount", "revenue")
    Manifest.deleteWhereMoR(spark, table, F.col("revenue") > 380L)
    Manifest.compact(spark, table, targetBytes = 1L << 30)
    val snap = Manifest.currentSnapshot(spark, table).get
    assert(!snap.meta.contains("column_mapping"))
    assert(!snap.meta.contains("delete_vectors"))
    val df = Manifest.read(spark, table)
    assert(df.columns.toSeq == Seq("id", "revenue"))
    assert(df.count() == 38)
    // the compacted files physically carry the logical name
    val footer = spark.read.parquet(df.inputFiles.head)
    assert(footer.columns.contains("revenue"))
    // sidecar analyze + pruned read now work on the folded table
    Manifest.analyzeFiles(spark, table, Seq("revenue"))
    val pruned = Manifest.readPruned(spark, table, "revenue", 0.0, 100.0)
    assert(pruned.filter(F.col("revenue") <= 100L).count() == 10)
    // the advisor loop: a mapped snapshot advises compact; the folded
    // table falls silent on that trigger
    val t2 = s"${fresh("adv")}/t"
    Manifest.create(spark, t2,
      (1 to 10).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
    Manifest.renameColumn(spark, t2, "v", "w")
    val advised = Manifest.adviseMaintenance(spark, t2).collect()
    assert(advised.exists(r => r.getString(0) == "compact" &&
      r.getString(1).contains("mapping")), "mapped table must advise compact")
    Manifest.compact(spark, t2, targetBytes = 1L << 30)
    assert(!Manifest.adviseMaintenance(spark, t2).collect()
      .exists(_.getString(1).contains("mapping")))
  }

  test("the mapping projection collapses into the scan: a pruned read " +
      "of one renamed column reads ONE physical column with the filter " +
      "pushed to the footers") {
    import spark.implicits._
    val table = s"${fresh("plan")}/t"
    Manifest.create(spark, table,
      (1 to 100).map(i => (i.toLong, i * 2L, s"pad-$i" * 20)).toDF(
        "id", "amount", "pad"))
    Manifest.renameColumn(spark, table, "amount", "revenue")
    val df = Manifest.read(spark, table)
      .filter(F.col("revenue") > 100L).select("revenue")
    val plan = df.queryExecution.executedPlan.toString
    // Catalyst folded `col(amount).as(revenue)` into the scan: the
    // parquet read schema is the ONE physical column, the other two
    // never leave the footers, and the range filter is pushed
    assert(plan.contains("ReadSchema") && plan.contains("amount"),
      s"physical column not in scan:\n$plan")
    assert(!plan.contains("pad"),
      s"unprojected column leaked into the scan:\n$plan")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(amount"),
      s"filter not pushed through the mapping projection:\n$plan")
    assert(df.count() == 50)
  }

  test("refusals and translations: hive refuses, CHECK-referenced " +
      "column refuses, MoR upsert and WAP staging translate, streams " +
      "refuse with the fold remedy") {
    import spark.implicits._
    val hive = s"${fresh("hive")}/t"
    Manifest.create(spark, hive,
      (1 to 10).map(i => (i.toLong, i % 3)).toDF("id", "bucket"),
      partitionBy = Seq("bucket"))
    val eh = intercept[Exception] {
      Manifest.renameColumn(spark, hive, "id", "doc") }
    assert(eh.getMessage.contains("hive"))

    val table = s"${fresh("chk")}/t"
    Manifest.create(spark, table,
      (1 to 10).map(i => (i.toLong, i * 10L)).toDF("id", "amount"))
    Manifest.addCheck(spark, table, "pos", "amount >= 0")
    val ec = intercept[Exception] {
      Manifest.renameColumn(spark, table, "amount", "revenue") }
    assert(ec.getMessage.contains("CHECK"))
    Manifest.dropCheck(spark, table, "pos")
    Manifest.renameColumn(spark, table, "amount", "revenue")
    // the MoR upsert TRANSLATES at entry: masked old row, appended new
    Manifest.mergeMoR(spark, table,
      Seq((1L, 5L), (999L, 7L)).toDF("id", "revenue"), Seq("id"))
    val up = Manifest.read(spark, table)
    assert(up.filter(F.col("id") === 1L).first().getLong(1) == 5L)
    assert(up.filter(F.col("id") === 999L).count() == 1)
    assert(up.count() == 11)
    // WAP staging translates too: stage under logical names, audit
    // under logical names, publish lands physical-named files
    val sid = Manifest.stageAppend(spark, table,
      Seq((50L, 500L)).toDF("id", "revenue"))
    assert(Manifest.readStage(spark, table, sid)
      .columns.toSeq == Seq("id", "revenue"))
    Manifest.publishStage(spark, table, sid)
    val afterWap = Manifest.read(spark, table)
    assert(afterWap.filter(F.col("id") === 50L)
      .first().getLong(1) == 500L)
    assert(afterWap.count() == 12)
    val et = intercept[Exception] {
      val q = graft.sources.ManifestStream.read(spark, table)
        .writeStream.format("noop").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(et.getMessage.contains("column mapping") ||
      Option(et.getCause).exists(_.getMessage.contains("column mapping")))
  }

  test("SQL face: ALTER TABLE RENAME/DROP COLUMN, reads + time travel " +
      "+ DELETE keep working through the catalog") {
    import spark.implicits._
    val root = fresh("sql")
    val table = s"$root/db/t"
    Manifest.create(spark, table,
      (1 to 20).map(i => (i.toLong, i * 10L, s"s$i")).toDF(
        "id", "amount", "tag"))
    spark.conf.set("spark.sql.catalog.graft_mapq",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mapq.root", root)
    spark.sql("ALTER TABLE graft_mapq.db.t RENAME COLUMN amount TO revenue")
    val out = spark.sql(
      "SELECT sum(revenue) AS s FROM graft_mapq.db.t").first()
    assert(out.getLong(0) == (1 to 20).map(_ * 10L).sum)
    // time travel through SQL serves v1's own names
    val v1cols = spark.sql(
      "SELECT * FROM graft_mapq.db.t VERSION AS OF 1").columns.toSeq
    assert(v1cols == Seq("id", "amount", "tag"))
    // SQL DELETE (MoR) under the new name
    spark.sql("DELETE FROM graft_mapq.db.t WHERE revenue > 150")
    assert(spark.sql("SELECT count(*) AS n FROM graft_mapq.db.t")
      .first().getLong(0) == 15)
    // DROP COLUMN through SQL
    spark.sql("ALTER TABLE graft_mapq.db.t DROP COLUMN tag")
    assert(!spark.table("graft_mapq.db.t").columns.contains("tag"))
    // fold and confirm the native path serves the same totals
    Manifest.compact(spark, table, targetBytes = 1L << 30)
    assert(spark.sql("SELECT sum(revenue) AS s FROM graft_mapq.db.t")
      .first().getLong(0) == (1 to 15).map(_ * 10L).sum)
  }

  test("zero-file stats serving survives a rename: a sidecar built " +
      "before it answers count/sum/min/max and GROUP BY under the new " +
      "name, from metadata") {
    import spark.implicits._
    import graft.sources.v2.GraftScanInfo
    val root = fresh("stats")
    // shard-clustered: one file per shard value (one append each)
    val perShard = (0 to 3).map(k =>
      (1 to 40).filter(_ % 4 == k).map(i => (i.toLong, i * 10L, k.toLong)))
    val t2 = s"$root/db/t2"
    Manifest.create(spark, t2, perShard.head.toDF("id", "amount", "shard")
      .coalesce(1))
    perShard.tail.foreach(rows => Manifest.commitAppend(spark, t2,
      rows.toDF("id", "amount", "shard").coalesce(1)))
    Manifest.analyzeFiles(spark, t2, Seq("amount", "shard"))
    Manifest.renameColumn(spark, t2, "amount", "revenue")
    // flat aggregate: served from the pre-rename sidecar
    val flat = Manifest.statsAggregate(spark, t2, Seq("revenue")).head()
    assert(flat.getAs[String]("served_from") == "stats",
      s"mapped flat stats fell back: $flat")
    assert(flat.getAs[Long]("cnt") == 40L)
    assert(flat.getAs[Double]("revenue_sum") == (1 to 40).map(_ * 10).sum)
    // ranged aggregate under the new name
    val ranged = Manifest.statsAggregateWhere(spark, t2,
      Seq("revenue"), Seq(("revenue", 0.0, 10000.0))).head()
    assert(ranged.getAs[String]("served_from") == "stats")
    // grouped by the file-constant shard, measuring the renamed column
    val g = Manifest.statsAggregateGrouped(spark, t2,
      Seq("shard"), Seq("revenue"))
    val grows = g.collect()
    assert(grows.forall(_.getAs[String]("served_from") == "stats"),
      s"mapped grouped stats fell back: ${grows.mkString(";")}")
    assert(grows.length == 4)
    // SQL aggregate pushdown: zero data files in the plan
    spark.conf.set("spark.sql.catalog.graft_maps",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_maps.root", root)
    val sql = spark.sql(
      "SELECT count(*) AS n, CAST(sum(revenue) AS BIGINT) AS s " +
        "FROM graft_maps.db.t2").head()
    assert(sql.getLong(0) == 40L && sql.getLong(1) == (1 to 40).map(_ * 10L).sum)
    assert(GraftScanInfo.lastFiles(t2).exists(_.isEmpty),
      "mapped SQL aggregate opened data files")
  }

  test("the SQL face keeps the NATIVE scan and its file skipping on a " +
      "mapped table: a sidecar built before the rename still prunes a " +
      "filter typed under the new name") {
    import spark.implicits._
    import graft.sources.v2.GraftScanInfo
    val root = fresh("native")
    val table = s"$root/db/t"
    // 4 range-clustered files over amount
    Manifest.create(spark, table,
      (1 to 100).map(i => (i.toLong, i * 10L)).toDF("id", "amount")
        .repartitionByRange(4, F.col("amount"))
        .sortWithinPartitions("amount"))
    Manifest.analyzeFiles(spark, table, Seq("amount"))
    Manifest.renameColumn(spark, table, "amount", "revenue")
    spark.conf.set("spark.sql.catalog.graft_mapn",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mapn.root", root)
    val q = spark.sql("SELECT id, revenue FROM graft_mapn.db.t " +
      "WHERE revenue BETWEEN 10 AND 200")
    val rows = q.collect()
    assert(rows.length == 20 && rows.forall(_.getLong(1) <= 200L))
    // native scan in the plan (not the V1 bridge), files pruned to a
    // strict subset by the PRE-rename sidecar through the translation
    assert(q.queryExecution.executedPlan.toString.contains("native"),
      s"mapped table fell off the native scan:\n${q.queryExecution}")
    val scanned = GraftScanInfo.lastFiles(table)
    assert(scanned.exists(fl => fl.nonEmpty && fl.size < 4),
      s"no file skipping through the mapping: $scanned")
  }

  test("CDC refuses loudly when a mapping change crosses the window " +
      "with non-empty sides; per-commit windows still serve") {
    import spark.implicits._
    val table = s"${fresh("cdcfold")}/t"
    Manifest.create(spark, table,
      (1 to 20).map(i => (i.toLong, i * 10L)).toDF("id", "n_chars"))   // v1
    Manifest.renameColumn(spark, table, "n_chars", "chars")           // v2
    Manifest.commitAppend(spark, table,
      (21 to 30).map(i => (i.toLong, i * 10L)).toDF("id", "chars"))   // v3
    Manifest.compact(spark, table, targetBytes = 1L << 30)            // v4
    // rename alone: metadata-only, empty sides — serves (empty feed)
    assert(Manifest.readChanges(spark, table, 1L, 2L).count() == 0)
    // the append window does not cross a mapping CHANGE boundary with
    // data on both sides under different namings — serves, under the
    // feed-end logical names
    val app = Manifest.readChanges(spark, table, 2L, 3L)
    assert(app.columns.contains("chars"))
    assert(app.count() == 10)
    // any window crossing the FOLD with rewritten entries would
    // NULL-fill the renamed column on the v-old side (the spurious
    // delete/insert pairs the old NULL-fill emitted) — must refuse
    val e = intercept[Exception] {
      Manifest.readChanges(spark, table, 1L, 4L).count() }
    assert(e.getMessage.contains("mapping changed"),
      s"expected the mapping-window refusal, got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      Manifest.readChanges(spark, table, 3L, 4L).count() }
    assert(e2.getMessage.contains("mapping changed"))
  }
}
