package graft

import org.apache.spark.sql.{functions => F}

/** Driver-side cost of the round-17 skipping/serving decisions at a
  * REAL fragmented table — the scale question for the two new
  * metadata consumers: tree admission walks the predicate per file
  * (O(files × leaves) hash lookups), and the grouped serve folds
  * per-file scalars into per-group totals at the driver. Both must
  * stay sub-second at the file counts a 100 TB table's manifest
  * actually carries. Prints one line per op; numbers land in
  * BASELINE.md. Usage: runMain graft.SkipScale [nFiles] */
object SkipScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000)
    val spark = SparkEntry.session(8)
    import graft.sources.Manifest
    val dir = java.nio.file.Files.createTempDirectory("graft_skipscale").toString
    val tbl = s"$dir/t"
    def time[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[skipscale] $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    // one key per file: 50 rows each, range-clustered so the key is
    // file-constant (the grouped serve's precondition) and the id
    // envelopes are tight (the admission's precondition)
    val rows = n * 50
    time(f"create ($n%,d files, $rows%,d rows)") {
      Manifest.create(spark, tbl,
        spark.range(rows).select(
          F.col("id"),
          (F.col("id") / 50).cast("long").as("k"),
          (F.col("id") % 997).cast("long").as("v"))
          .repartitionByRange(n, F.col("id"))
          .sortWithinPartitions(F.col("id")))
    }
    time("analyzeFiles(id, k, v)") {
      Manifest.analyzeFiles(spark, tbl, Seq("id", "k", "v"))
    }
    // OR/IN tree admission: 8 point probes + 2 ranges, ~12 leaves
    val pred = F.col("id").isin(13L, rows / 7L, rows / 3L, rows / 2L,
        rows * 2L / 3, rows * 4L / 5, rows - 7L, rows + 999L) ||
      F.col("id").between(rows / 4, rows / 4 + 120) ||
      F.col("id").between(rows - 300, rows - 200)
    val admitted = time(f"tree admission ($n%,d files, ~12 leaves)") {
      Manifest.readPrunedWhereOpt(spark, tbl, pred)
    }
    println(s"[skipscale] admitted ${admitted.map(_.inputFiles.length)} of $n files")
    val g = time(f"statsAggregateGrouped ($n%,d files ⇒ $n%,d groups)") {
      Manifest.statsAggregateGrouped(spark, tbl, Seq("k"), Seq("v")).count()
    }
    println(s"[skipscale] grouped serve produced $g groups")
    val gw = time("statsAggregateGrouped + where (1% band)") {
      Manifest.statsAggregateGrouped(spark, tbl, Seq("k"), Seq("v"),
        where = Seq(("id", (rows / 2).toDouble,
          (rows / 2 + rows / 100).toDouble))).count()
    }
    println(s"[skipscale] filtered grouped serve produced $gw groups")
    time("adviseMaintenance") {
      Manifest.adviseMaintenance(spark, tbl).collect()
    }
    // round-18 catalog verbs at the same fragmentation: the native
    // scan's planning (admission + per-file partitions) and the SQL
    // mutations — the MoR DELETE is driver metadata + one vector
    // write; the CoW UPDATE's rewrite is ∝ admitted files but its
    // PLANNING (admission + per-file carry of the untouched ~n files
    // into the commit) is the part that must stay sub-linear-ish
    spark.conf.set("spark.sql.catalog.graft_scale",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_scale.root", dir)
    val lo = rows / 2
    time(f"catalog SQL pruned aggregate ($n%,d files)") {
      spark.sql(s"SELECT sum(v) FROM graft_scale.t " +
        s"WHERE id BETWEEN $lo AND ${lo + 120}").collect()
    }
    time(f"SQL DELETE FROM (MoR metadata path, $n%,d files)") {
      spark.sql(s"DELETE FROM graft_scale.t " +
        s"WHERE id BETWEEN ${rows / 4} AND ${rows / 4 + 49}")
    }
    time(f"SQL UPDATE (CoW, ~2 files rewritten, $n%,d files)") {
      spark.sql(s"UPDATE graft_scale.t SET v = v + 1 " +
        s"WHERE id BETWEEN ${rows / 8} AND ${rows / 8 + 49}")
    }
    spark.stop()
  }
}
