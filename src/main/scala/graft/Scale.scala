package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scaling-curve gate: measure every registry query at THREE data
  * scales with a warm-repeat protocol and print machine-readable lines
  * for `tools/scaling.py` to fit per-query growth exponents — the
  * standing 100×-regression check (a super-linear operator that "works
  * on 60k rows" is exactly what dies at 100 TB).
  *
  * Protocol (BASELINE.md round-3 variance + round-5 sweep lessons):
  *  - Each query's three scale points run CONSECUTIVELY smallest-first,
  *    `repeats`× each; the first small run absorbs the per-query
  *    Catalyst + janino warmup and each point reports the MIN of its
  *    repeats (the warm number). Ratios are taken within one query's
  *    short window, so cross-query GC drift (the q82 in-sweep lesson)
  *    cancels.
  *  - The smallest point doubles as the fixed-overhead floor estimate;
  *    the fitter subtracts it before fitting t ~ rows^e.
  *  - The fixtures scale per TABLE, not per sf dir (documents and
  *    embeddings are constant between sf0.001 and sf0.01), so each
  *    query is classified by the tables its ANALYZED PLAN actually
  *    scans (LogicalRelation root paths — mechanical, no hand-kept
  *    list), and documents-/embeddings-driven queries run against
  *    derived fixture dirs whose driver table is subsampled to three
  *    genuinely distinct sizes (other tables copied from sf0.01).
  *
  * Output lines:
  *   SCALEMETA <query> <driver> <label>=<rows> <label>=<rows> <label>=<rows>
  *   SCALE <query> <label> <t_1>s <t_2>s ...
  *
  * Usage: `sbt "runMain graft.Scale [nameFilter[,nameFilter...]] [repeats]"`
  */
object Scale {

  private val testRoot = "/root/testdata"
  private val synthRoot = "/root/repo/tmp/scale_fixtures"
  private val nativeSfs = Seq("sf0.001", "sf0.01", "sf0.1")

  /** Tables whose rows grow ~10× per native sf step; the rest (region,
    * nation) are constant-ish and never the scale driver. */
  private val growing = Seq("lineitem", "orders", "events", "customer",
    "supplier", "part", "documents", "embeddings")

  /** Queries whose analyzed plan hides the scan from [[scannedTables]]
    * (localCheckpoint truncation, driver-held GD loops that collect
    * between lineage segments — the q150/q168 pattern): their driver
    * table declared by hand so the fitter gets a real ladder instead
    * of the unfittable driver=none row. */
  private val driverHints = Map(
    "q150_neardup_clusters" -> "documents",
    "q168_bpe_merges" -> "documents",
    "q174_quality_classifier" -> "documents")

  // subsample sizes for the constant-at-small-sf tables; smallest ≈ the
  // overhead floor, mid/full a √10 ratio for the exponent fit
  private val docSizes = Seq(50L, 1581L, 5000L)
  private val embSizes = Seq(50L, 632L, 2000L)

  /** Big-ladder mode (3rd arg = "big"): shift every point one scale up —
    * (sf0.01, sf0.1, sfbig) for native drivers, (632, 2000, 16000) for
    * embeddings — so review-class queries whose mid-point delta sat
    * under the timer noise floor at the native ladder get an
    * identifiable exponent. `sfbig` replicates lineitem/orders/events
    * 8× from sf0.1 with shifted keys: join chains stay consistent and
    * order/user cardinality scales with the rows (a pure perf fixture —
    * never used for correctness). `emb_16000` adds 7 noise-perturbed
    * replicas per sf0.1 vector, noise sized so a replica is NOT a
    * near-dup of its original (cos ≈ 0.34) nor of its siblings (≈ 0.1):
    * the corpus grows without manufacturing near-dup structure the
    * operator would rightly pay output-linear work for. `docs_40000`
    * is the same idea for the text family: 8× sf0.1 documents, copies
    * 1–7 token-salted (`word` → `word_c<copy>`) so no shingle ever
    * matches across copies — per-copy dup structure mirrors the
    * original corpus, cross-copy Jaccard is 0, and banded-join
    * candidate counts grow linearly with the corpus. */
  def main(args: Array[String]): Unit = {
    val filters = args.headOption.filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    val repeats = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val big = args.drop(2).headOption.contains("big")
    val spark = SparkEntry.session(32)
    spark.sparkContext.setLogLevel("ERROR")

    prepareSynthDirs(spark)
    if (big) prepareBigDirs(spark)
    val rowCount = countsCache(spark)

    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => filters.isEmpty || filters.exists(name.contains) }
      .foreach { case (name, fn) =>
        try {
          // the hint short-circuits BEFORE the plan probe: the hinted
          // queries are exactly the ones whose frame CONSTRUCTION runs
          // driver-side jobs, so probing them would pay a full sf0.01
          // execution just to discard the answer
          val driver = driverHints.getOrElse(name, {
            val scanned = scannedTables(fn(spark, s"$testRoot/sf0.01"))
            growing.reverse.foldLeft(Option.empty[String]) { (acc, t) =>
              if (scanned.contains(t)) Some(t) else acc
            }.getOrElse("none") // `growing` is ordered smallest-last driver priority
          })
          val points: Seq[(String, String)] = driver match {
            case "documents" =>
              val sizes = if (big) Seq(1581L, 5000L, 40000L) else docSizes
              sizes.map(n => s"docs_$n" -> s"$synthRoot/docs_$n")
            case "embeddings" =>
              val sizes = if (big) Seq(632L, 2000L, 16000L) else embSizes
              sizes.map(n => s"emb_$n" -> s"$synthRoot/emb_$n")
            case _ =>
              val sfs = if (big) Seq("sf0.01", "sf0.1") else nativeSfs
              val dirs = sfs.map(sf => sf -> s"$testRoot/$sf")
              if (big) dirs :+ ("sfbig" -> s"$synthRoot/sfbig") else dirs
          }
          val meta = points.map { case (label, dir) =>
            val n = if (driver == "none") 0L else rowCount(driver, dir)
            s"$label=$n"
          }.mkString(" ")
          println(s"SCALEMETA $name $driver $meta")
          points.foreach { case (label, dir) =>
            val times = (1 to repeats).map { _ =>
              val t0 = System.nanoTime()
              fn(spark, dir).write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }
            println(s"SCALE $name $label " + times.map(t => f"$t%.3f").mkString(" "))
          }
        } catch {
          case e: Throwable =>
            println(s"SCALEERR $name ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").replace('\n', ' ').take(160))
        }
        System.gc()
      }
    spark.stop()
  }

  /** Parquet table names the query's analyzed plan actually scans. */
  private def scannedTables(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSeq
        case _ => Nil
      }
    }.flatten.toSet

  private def countsCache(spark: SparkSession): (String, String) => Long = {
    val memo = scala.collection.mutable.Map.empty[(String, String), Long]
    (table, dir) => memo.getOrElseUpdate((table, dir),
      spark.read.parquet(s"$dir/$table.parquet").count())
  }

  /** Build the derived fixture dirs once: every sf0.01 table copied,
    * then the driver table overwritten with a deterministic id-ordered
    * subsample of the LARGEST fixture (so mid/full slices nest). */
  private def prepareSynthDirs(spark: SparkSession): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(s"$testRoot/sf0.01")
    def build(kind: String, sizes: Seq[Long], table: String, idCol: String): Unit =
      sizes.foreach { n =>
        val dir = Paths.get(s"$synthRoot/${kind}_$n")
        if (!Files.exists(dir.resolve("_READY"))) {
          Files.createDirectories(dir)
          Files.list(src).forEach { p =>
            if (p.getFileName.toString.endsWith(".parquet"))
              Files.copy(p, dir.resolve(p.getFileName.toString),
                StandardCopyOption.REPLACE_EXISTING)
          }
          // overwrite the driver table with the subsample (directory
          // form — Spark reads either); drop the copied single file
          Files.deleteIfExists(dir.resolve(s"$table.parquet"))
          spark.read.parquet(s"$testRoot/sf0.1/$table.parquet")
            .orderBy(idCol).limit(n.toInt).coalesce(1)
            .write.mode("overwrite").parquet(dir.resolve(s"$table.parquet").toString)
          Files.createFile(dir.resolve("_READY"))
        }
      }
    build("docs", docSizes, "documents", "doc_id")
    build("emb", embSizes, "embeddings", "vec_id")
  }

  /** Build the big-ladder fixture dirs (see `main` scaladoc): `sfbig`
    * (8× lineitem/orders/events, key-shifted) and `emb_16000` (8×
    * embeddings, replicas noise-perturbed out of near-dup range). */
  private def prepareBigDirs(spark: SparkSession): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.Column

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(8).toDF("__copy"))
    def shifted(c: String, by: Long): Column =
      F.col(c) + F.col("__copy") * F.lit(by)
    // a crashed earlier build leaves table files/dirs without _READY;
    // wipe so the copy phase never lands a file on top of a directory
    def reset(dir: java.nio.file.Path): Unit = {
      if (Files.exists(dir)) {
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      Files.createDirectories(dir)
    }
    // events.ts is parquet TIMESTAMP(NANOS); read it as raw long (same
    // legacy conf Tables.events uses) and WRITE it as plain INT64 nanos
    // so Tables.events' long→timestamp conversion applies unchanged
    graft.cubes.Tables.readNanosAsLong(spark)

    val bigDir = Paths.get(s"$synthRoot/sfbig")
    if (!Files.exists(bigDir.resolve("_READY"))) {
      reset(bigDir)
      val src = Paths.get(s"$testRoot/sf0.1")
      Files.list(src).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.copy(p, bigDir.resolve(p.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
      }
      def read(t: String) = spark.read.parquet(s"$testRoot/sf0.1/$t.parquet")
      // one shift constant per key domain so lineitem→orders joins stay
      // consistent across copies
      val keyShift = read("orders").agg(F.max("o_orderkey")).head.getLong(0) + 1
      val userShift = read("events").agg(F.max("user_id")).head.getLong(0) + 1
      val eventShift = read("events").agg(F.max("event_id")).head.getLong(0) + 1
      def overwrite(t: String, df: DataFrame): Unit = {
        Files.deleteIfExists(bigDir.resolve(s"$t.parquet"))
        df.drop("__copy").write.mode("overwrite")
          .parquet(bigDir.resolve(s"$t.parquet").toString)
      }
      overwrite("lineitem", copies(read("lineitem"))
        .withColumn("l_orderkey", shifted("l_orderkey", keyShift)))
      overwrite("orders", copies(read("orders"))
        .withColumn("o_orderkey", shifted("o_orderkey", keyShift)))
      overwrite("events", copies(read("events"))
        .withColumn("event_id", shifted("event_id", eventShift))
        .withColumn("user_id", shifted("user_id", userShift)))
      Files.createFile(bigDir.resolve("_READY"))
    }

    val embDir = Paths.get(s"$synthRoot/emb_16000")
    if (!Files.exists(embDir.resolve("_READY"))) {
      reset(embDir)
      val src = Paths.get(s"$testRoot/sf0.01")
      Files.list(src).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.copy(p, embDir.resolve(p.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
      }
      Files.deleteIfExists(embDir.resolve("embeddings.parquet"))
      val emb = spark.read.parquet(s"$testRoot/sf0.1/embeddings.parquet")
      val vecShift = emb.agg(F.max("vec_id")).head.getLong(0) + 1
      // copy 0 stays byte-identical (ladders nest); copies 1-7 get
      // per-component uniform noise ±0.6·|v|: E|noise|² ≈ 7.7|v|², so
      // cos(original, replica) ≈ 1/√8.7 ≈ 0.34 < the 0.4-0.45 near-dup
      // thresholds, and independent noises make sibling replicas ~0.1.
      // hash(vec_id, copy, i) keeps it deterministic.
      val noisy = F.transform(F.col("embedding"), (x, i) => {
        val u = (F.pmod(F.hash(F.col("vec_id"), F.col("__copy"), i),
          F.lit(100000)).cast("double") / 100000.0 - 0.5) * 1.2
        F.when(F.col("__copy") === 0, x)
          .otherwise((x + F.col("__norm") * u).cast("float"))
      })
      val out = copies(emb)
        .withColumn("__norm", F.sqrt(F.aggregate(F.col("embedding"),
          F.lit(0.0d), (acc, v) => acc + v * v)))
        .withColumn("vec_id", shifted("vec_id", vecShift))
        .withColumn("embedding", noisy)
        .drop("__copy", "__norm")
      out.write.mode("overwrite").parquet(embDir.resolve("embeddings.parquet").toString)
      Files.createFile(embDir.resolve("_READY"))
    }

    val docDir = Paths.get(s"$synthRoot/docs_40000")
    if (!Files.exists(docDir.resolve("_READY"))) {
      reset(docDir)
      val src = Paths.get(s"$testRoot/sf0.01")
      Files.list(src).forEach { p =>
        if (p.getFileName.toString.endsWith(".parquet"))
          Files.copy(p, docDir.resolve(p.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
      }
      Files.deleteIfExists(docDir.resolve("documents.parquet"))
      val docs = spark.read.parquet(s"$testRoot/sf0.1/documents.parquet")
      val docShift = docs.agg(F.max("doc_id")).head.getLong(0) + 1
      // copy 0 stays byte-identical (ladders nest); copies 1-7 salt
      // EVERY whitespace token with the copy number, so shingles never
      // match across copies: per-copy near-dup structure mirrors the
      // original corpus and cross-copy Jaccard is exactly 0 — the
      // corpus grows 8× without manufacturing pair output
      val salted = F.when(F.col("__copy") === 0, F.col("text"))
        .otherwise(F.concat_ws(" ", F.transform(
          F.split(F.col("text"), "\\s+"),
          w => F.concat(w, F.lit("_c"), F.col("__copy")))))
      val outDocs = copies(docs)
        .withColumn("text", salted)
        .withColumn("n_chars", F.when(F.col("__copy") === 0,
          F.col("n_chars")).otherwise(F.length(F.col("text"))))
        .withColumn("doc_id", shifted("doc_id", docShift))
        .drop("__copy")
      outDocs.write.mode("overwrite")
        .parquet(docDir.resolve("documents.parquet").toString)
      Files.createFile(docDir.resolve("_READY"))
    }
  }
}
