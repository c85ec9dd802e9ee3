package graft

import org.apache.spark.sql.{functions => F}

/** Driver-side manifest-metadata cost at large file counts — the
  * Delta/Iceberg checkpoint question asked of this repo's single-list
  * manifests: a snapshot lists EVERY file in one newline list and the
  * skipping sidecars are per-file rows, so at 10⁵–10⁷ files the
  * list/parse/prune/vacuum costs must stay driver-feasible. This main
  * measures them at a synthetic N-file manifest (entries are metadata
  * only — commit/parse/diff/vacuum never open data files) and prints
  * one line per operation; numbers land in BASELINE.md.
  * Usage: runMain graft.ManifestScale [nFiles]
  */
object ManifestScale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = SparkEntry.session(8)
    import graft.sources.Manifest
    val dir = java.nio.file.Files.createTempDirectory("graft_mscale").toString
    val tbl = s"$dir/t"
    def time[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[mscale] $what: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    val v1Paths = (0 until n).map(i => f"_v00000001-aa000000/part-$i%07d.parquet")
    // v2 rewrites 1% of v1's files and appends 1000 (the CoW-delete +
    // append shape at this scale)
    val v2Paths = v1Paths.drop(n / 100) ++
      (0 until n / 100 + 1000).map(i => f"_v00000002-bb000000/part-$i%07d.parquet")
    time(f"commit v1 ($n%,d entries)") {
      Manifest.commit(spark, tbl, 0L, v1Paths)
    }
    time(f"commit v2 (${v2Paths.size}%,d entries)") {
      Manifest.commit(spark, tbl, 1L, v2Paths)
    }
    val snap = time("currentSnapshot parse") {
      Manifest.currentSnapshot(spark, tbl).get
    }
    assert(snap.paths.size == v2Paths.size)
    val (added, removed) = time("diffSnapshots v1→v2") {
      Manifest.diffSnapshots(spark, tbl, 1L, 2L)
    }
    assert(added.size == n / 100 + 1000 && removed.size == n / 100)
    // per-file skipping sidecar at this file count: the write, the
    // read-back, and an envelope filter + file-list collect over it
    // (the per-file range test Manifest.admittedFilesFor makes at the
    // driver, run here as a Spark filter)
    val stats = spark.range(n).select(
      F.concat(F.lit(s"$tbl/_v00000001-aa000000/part-"),
        F.lpad(F.col("id").cast("string"), 7, "0"),
        F.lit(".parquet")).as("file"),
      (F.col("id") * 100).cast("double").as("doc_id__min"),
      (F.col("id") * 100 + 99).cast("double").as("doc_id__max"))
    val sidecar = s"$tbl/_manifest/stats_v00000002"
    time(f"sidecar write ($n%,d rows)") {
      stats.coalesce(1).write.mode("overwrite").parquet(sidecar)
    }
    val keep = time("sidecar prune decision (0.1% selectivity)") {
      val s = spark.read.parquet(sidecar)
      s.filter(!(F.col("doc_id__max") < 1000000.0 ||
          F.col("doc_id__min") > 1100000.0))
        .select("file").collect()
    }
    println(s"[mscale] pruned to ${keep.length} of $n files")
    // vacuum's reference check: v1 dead (n entries), v2 live sharing
    // 99% — the prefix-aware liveUnder walk over both lists
    time("vacuum reference check (v1 dead, v2 live)") {
      Manifest.vacuum(spark, tbl, keep = 1)
    }
    assert(Manifest.versions(spark, tbl) == Seq(2L))
    spark.stop()
  }
}
