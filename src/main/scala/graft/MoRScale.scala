package graft

import org.apache.spark.sql.{functions => F}

/** Round-15 write-path operators at a MANY-FILES snapshot — the
  * companion measurement to [[ManifestScale]] (which isolates the
  * driver-side metadata costs on synthetic entries): here the table is
  * REAL, deliberately fragmented into `n` small files, and each op
  * runs end-to-end, so the numbers include the executor phases the
  * driver paths orchestrate. What must hold as `n` grows: merge's
  * file→entry resolution (prefixResolver hash lookups, not a linear
  * entry scan), the MoR positional scan, the change feed's DV-delta
  * entry resolution, fold's touched-file partition, and vacuum's
  * vector retention walk — all near-linear in `n`, none quadratic.
  * Usage: runMain graft.MoRScale [nFiles] (default 20000)
  */
object MoRScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(20000)
    val rowsPerFile = 50
    val spark = SparkEntry.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Manifest
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_morscale").toString
    val tbl = s"$dir/t"
    def time[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[morscale] $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    val total = n.toLong * rowsPerFile
    time(f"create ($n%,d files, $total%,d rows)") {
      Manifest.create(spark, tbl,
        spark.range(total).select(F.col("id"),
          (F.col("id") % 97).as("v"))
          .repartitionByRange(n, F.col("id")))
    }
    // CoW merge: 100 updates scattered across ~100 files + 10 inserts
    time("merge (100 updates + 10 inserts)") {
      val upd = (0 until 100).map(i =>
        (i.toLong * rowsPerFile, -1L)).toDF("id", "v")
      val ins = (0 until 10).map(i => (total + i, -2L)).toDF("id", "v")
      Manifest.merge(spark, tbl, upd.unionByName(ins), Seq("id"))
    }
    // MoR point takedown: 200 scattered ids, full positional scan
    // (no bloom sidecar — the conservative path)
    time("deleteKeysMoR (200 scattered ids)") {
      Manifest.deleteKeysMoR(spark, tbl, "id",
        (0 until 200).map(i => i.toLong * rowsPerFile + 7))
    }
    time("readChanges across the mask (DV-delta entry resolution)") {
      val c = Manifest.readChanges(spark, tbl, 2L, 3L)
        .groupBy("_change_type").count().collect()
      assert(c.map(_.getLong(1)).sum == 200, c.mkString(","))
    }
    time("foldDeletes (~200 touched of " + n + " files)") {
      Manifest.foldDeletes(spark, tbl)
    }
    time("vacuum (3 dead versions, vector retention walk)") {
      Manifest.vacuum(spark, tbl, keep = 1)
    }
    val got = Manifest.read(spark, tbl).count()
    assert(got == total + 10 - 200, s"expected ${total + 10 - 200}, got $got")
    println(s"[morscale] final rows ok: $got")
    // the round-15 metadata serves at the same fragmentation: ANALYZE
    // once (one grouped scan over n files), then the aggregate serve
    // and the history ledger must be driver-fold fast — ∝ n sidecar
    // rows, zero data-file opens
    time(s"analyzeFiles ($n files, one grouped scan)") {
      Manifest.analyzeFiles(spark, tbl, Seq("id", "v"))
    }
    val sa = time(s"statsAggregate (driver fold over $n sidecar rows)") {
      Manifest.statsAggregate(spark, tbl, Seq("v")).head()
    }
    assert(sa.getAs[String]("served_from") == "stats" &&
      sa.getAs[Long]("cnt") == got, sa.toString)
    println(s"[morscale] statsAggregate served_from=stats cnt=$got ok")
    time("history (driver metadata ledger)") {
      assert(Manifest.history(spark, tbl).count() >= 1)
    }
    // filtered serve on the id-clustered layout: a mid-table range
    // covers ~40% of files fully; only the two boundary files scan
    val sw = time("statsAggregateWhere (range over ~40% of files)") {
      Manifest.statsAggregateWhere(spark, tbl, Seq("v"),
        Seq(("id", total * 0.3, total * 0.7))).head()
    }
    println(s"[morscale] statsAggregateWhere served_from=" +
      s"${sw.getAs[String]("served_from")} " +
      s"files_scanned=${sw.getAs[Long]("files_scanned")} " +
      s"cnt=${sw.getAs[Long]("cnt")}")
    spark.stop()
  }
}
