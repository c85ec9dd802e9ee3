package graft

import graft.cubes.Tables
import graft.llm.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

class LlmSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  test("weightedSample: partitioning-invariant, per-stratum cap, distributed global top-k") {
    import graft.llm.Splits
    val docs = Tables.documents(spark, sf)
    def sample(df: org.apache.spark.sql.DataFrame) =
      Splits.weightedSample(df, col("doc_id"), col("n_chars"), 10,
          strata = Seq(col("source")))
        .select("source", "doc_id").collect().map(_.toString).sorted
    // the sample is a pure function of row identity — repartitioning
    // (the thing that silently changes rand()-based samples) is a no-op
    val a = sample(docs.repartition(1))
    val b = sample(docs.repartition(7))
    assert(a.nonEmpty && a.sameElements(b))
    assert(a.length == docs.select("source").distinct().count() * 10)
    // global (unstratified) mode: exactly k rows via distributed
    // TakeOrdered, never a single-partition window
    val g = Splits.weightedSample(docs, col("doc_id"), col("n_chars"), 10)
    assert(g.count() == 10)
    assert(g.queryExecution.executedPlan.toString.contains("TakeOrdered"))
  }

  test("crossDocSpanStats: hashed fast path == string-keyed exact; planted spans detected") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.crossDocSpanStats(docs, col("doc_id"), col("text"),
      k = 8, hashed = false).collect().map(_.toString).sorted
    val hashed = Dedup.crossDocSpanStats(docs, col("doc_id"), col("text"),
      k = 8, hashed = true).collect().map(_.toString).sorted
    assert(exact.nonEmpty && exact.sameElements(hashed))
    // planted: two docs sharing one 8-token span, a third unrelated
    val planted = Seq(
      (1L, "a b c d e f g h unique tail one"),
      (2L, "prefix two a b c d e f g h"),
      (3L, "totally different words with no shared span at all here")
    ).toDF("doc_id", "text")
    val got = Dedup.crossDocSpanStats(planted, col("doc_id"), col("text"), k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L)._1 == 4 && got(1L)._2 == 1) // 11 tokens -> 4 spans, 1 shared
    assert(got(2L)._1 == 3 && got(2L)._2 == 1) // 10 tokens -> 3 spans, 1 shared
    assert(got(3L)._2 == 0)
  }

  test("removeDuplicatedSpans: MinHash-missed license block excised everywhere " +
      "but the canonical doc; hashed == exact; short docs untouched") {
    import spark.implicits._
    // four otherwise-distinct docs all embedding the same 12-token
    // license block — whole-doc jaccard ~0.26, far below the 0.8 bar, so
    // whole-doc MinHash dedup does NOT flag them...
    val license = "this code is released under the apache license version two point zero"
    def doc(i: Int) =
      (0 until 10).map(t => s"u${i}w$t").mkString(" ") +
        s" $license " + (0 until 4).map(t => s"u${i}t$t").mkString(" ")
    val planted = (1 to 4).map(i => (i.toLong, doc(i)))
      .toDF("doc_id", "text")
    assert(Dedup.minHashPairs(planted, col("doc_id"), col("text"),
      shingleK = 3, numHashes = 32, bands = 16, threshold = 0.8).isEmpty)
    // ...but span removal excises it from docs 2-4 and keeps doc 1's copy
    val out = Dedup.removeDuplicatedSpans(planted, col("doc_id"), col("text"),
        k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L) == (doc(1), 26L, 0L, 0L)) // canonical copy intact
    (2 to 4).foreach { i =>
      val (clean, nTok, nRem, nIv) = out(i.toLong)
      // the 5 overlapping shared spans merged into ONE interval covering
      // exactly the 12 license tokens; doc-unique text fully preserved
      assert(nTok == 26L && nRem == 12L && nIv == 1L, s"doc $i: $nRem/$nIv")
      assert(clean == doc(i).replace(s" $license ", " "), s"doc $i text")
    }
    // hashed default == string-keyed exact, on fixtures and planted
    val docs = Tables.documents(spark, sf)
    def run(df: org.apache.spark.sql.DataFrame, h: Boolean) =
      Dedup.removeDuplicatedSpans(df, col("doc_id"), col("text"), 8, h)
        .collect().map(_.toString).sorted
    val ex = run(docs, false)
    assert(ex.nonEmpty && ex.sameElements(run(docs, true)))
    // a doc shorter than k tokens passes through token-normalized
    val short = Seq((9L, "  just three tokens ")).toDF("doc_id", "text")
    val s = Dedup.removeDuplicatedSpans(short, col("doc_id"), col("text"), 8)
      .collect().head
    assert(s.getString(1) == "just three tokens" && s.getLong(3) == 0L)
  }

  test("nearDupClusters: chains merge transitively, long chains converge via pointer jumping") {
    import spark.implicits._
    // a∼b, b∼c merge even though a≁c directly; disjoint pair untouched;
    // a 21-vertex path (diameter 20) forces the pointer-jump rounds
    val chain = (100L until 120L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ chain)
      .toDF("a_id", "b_id")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 3L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert((100L to 120L).forall(got(_) == 100L))
    assert(got.size == 3 + 2 + 21)
  }

  test("nearDupClusters hardening: star hub collapses, salted jump == default, " +
      "reliable checkpoint works, two jobs per round") {
    import spark.implicits._
    // star: hub 0 with 200 leaves, plus a chain — exercises both the
    // hot-label fan-in shape and multi-round convergence
    val star = (1L to 200L).map(i => (0L, i))
    val chain = (300L until 316L).map(i => (i, i + 1))
    val pairs = (star ++ chain).toDF("a_id", "b_id")
    def runIt(salt: Int, reliable: Boolean = false) =
      Dedup.nearDupClusters(pairs, hubSalt = salt,
          reliableCheckpoint = reliable)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sorted
    val base = runIt(1)
    assert(base.filter(_._1 <= 200L).forall(_._2 == 0L))
    assert(base.filter(_._1 >= 300L).forall(_._2 == 300L))
    // deterministic salting must not change a single label
    assert(runIt(4).sameElements(base))
    // reliable checkpoint mode (the executor-loss-safe 100 TB form)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    assert(runIt(1, reliable = true).sameElements(base))
    // convergence folded into the round: the per-round change check must
    // be a plain scalar SCAN of the just-checkpointed frame (<=2 stages,
    // one per round) — the old implementation ran a JOIN against the
    // previous labels, whose exchange stages would show up here. (Total
    // job count is not asserted: broadcast builds legitimately run as
    // their own jobs and the number is environment-dependent.)
    val convJobs = scala.collection.mutable.ArrayBuffer[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.name.contains("first at Dedup")))
          convJobs.synchronized { convJobs += j.stageInfos.length }
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE off for the observation only: it rewrites stage names and runs
    // stages as anonymous jobs, hiding the call-site signal
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Dedup.nearDupClusters(Seq((1L, 2L)).toDF("a_id", "b_id")).collect()
      Thread.sleep(1000) // listener bus is async
      assert(convJobs.length == 2,
        s"expected 1 convergence-scan job per round (2 rounds), got $convJobs")
      assert(convJobs.forall(_ <= 2),
        s"convergence scan grew join stages: $convJobs")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("minhash LSH finds every exact-jaccard pair at threshold 0.8 (recall=1 here)") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashPairs(docs, col("doc_id"), col("text"), 3, 32, 8, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact, s"missed=${exact -- lsh} spurious=${lsh -- exact}")
  }

  test("banded jaccard == all-pairs jaccard at 0.8, and the plan has no BNLJ") {
    val docs = Tables.documents(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
        .toSet
    val allPairs = pairs(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8))
    val bandedDf = Dedup.ngramJaccardPairsBanded(docs, col("doc_id"), col("text"), 3, 0.8)
    val banded = pairs(bandedDf)
    assert(allPairs.nonEmpty, "fixture should contain planted near-dups")
    assert(banded == allPairs,
      s"missed=${allPairs -- banded} spurious=${banded -- allPairs}")
    // the registered form must be the scale plan: candidate generation by
    // band join, never a nested-loop over all pairs
    val plan = bandedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"all-pairs plan leaked:\n$plan")
  }

  test("minhash signature approximates jaccard") {
    val docSh = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
    val docs = docSh.join(Dedup.minHashSignatures(docSh, 64), "id")
    val a = docs.select(col("id").as("a_id"), col("sh").as("a_sh"), col("mh").as("a_mh"))
    val b = docs.select(col("id").as("b_id"), col("sh").as("b_sh"), col("mh").as("b_mh"))
    val pairs = a.crossJoin(b).filter(col("a_id") < col("b_id")).limit(2000)
      .withColumn("jac", F.size(F.array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        F.size(F.array_union(col("a_sh"), col("b_sh"))))
      .withColumn("est", F.size(F.filter(F.zip_with(col("a_mh"), col("b_mh"),
        (x, y) => F.when(x === y, 1).otherwise(0)), v => v === 1)).cast("double") / 64)
      .select("jac", "est").collect()
    val mae = pairs.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).sum / pairs.length
    assert(mae < 0.15, s"minhash estimate MAE too high: $mae")
  }

  test("simhash pairs are precise: every hamming<=3 pair is a real near-dup") {
    val docs = Tables.documents(spark, sf)
    val nearDups = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"), 3, 0.8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simHashPairs(docs, col("doc_id"), col("text"), 3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.nonEmpty, "simhash should find the planted near-dups")
    // hamming<=3 on 64-bit shingle simhash is a STRICTER bar than
    // jaccard 0.8 — precision must be 1; recall is partial by design
    assert(sim.subsetOf(nearDups), s"spurious simhash pairs: ${sim -- nearDups}")
  }

  test("ANN LSH recall vs brute force >= 0.6 at k=5 on 500 vectors") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    val queries = emb.filter(col("id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, emb, 5, 64, nBits = 6, tables = 8, probeBits = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall too low")
    info(s"ANN recall@5 = $recall")
  }

  test("IVF ANN recall vs brute force >= 0.6 at k=5") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    val queries = emb.filter(col("id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(spark, queries, emb, 5, nLists = 16, nProbe = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall too low")
    info(s"IVF recall@5 = $recall")
  }

  test("IVF at nLists=64 stays whole-stage-codegen'd (fused argmax, no when-chain)") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    val queries = emb.filter(col("id") < 10)
    val df = Similarity.ivfTopK(spark, queries, emb, 5, nLists = 64, nProbe = 16)
    assert(df.collect().length == 50) // 10 queries × k=5, argmax well-defined everywhere
    // the cell-assignment Project must sit INSIDE a WholeStageCodegen
    // span ("*(n) Project ...") — AQE finalizes stages only after the
    // collect above. The old nLists-deep when-chain broke codegen at
    // this centroid count; assignment is now the fused nearest_cell.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), "expected a finalized AQE plan")
    val cellLine = plan.linesIterator
      .takeWhile(!_.contains("== Initial Plan ==")) // final plan section only
      .find(_.contains("nearest_cell"))
    assert(cellLine.exists(l => l.substring(l.indexWhere(c => c != ' ' && c != ':' &&
        c != '+' && c != '-' && c != '|')).startsWith("*(")),
      s"cell assignment not codegen'd:\n${cellLine.getOrElse(plan)}")
  }

  test("indexed IVF: partition-pruned probe matches the inline plan row for row") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    val queries = emb.filter(col("id") < 10)
    val path = java.nio.file.Files.createTempDirectory("ivf_index").toString
    try {
      Similarity.ivfBuildIndex(spark, emb, path, nLists = 16, seed = 7L)
      val indexed = Similarity.ivfTopKIndexed(spark, queries, path, 5, nProbe = 6)
      val got = indexed.collect().map(_.toString).sorted
      val inline = Similarity.ivfTopK(spark, queries, emb, 5, nLists = 16, nProbe = 6)
        .collect().map(_.toString).sorted
      assert(got.nonEmpty && got.sameElements(inline))
      // the scan must be pruned by the probe side: the partition column
      // appears as a PartitionFilter (dynamic pruning from the broadcast)
      val plan = indexed.queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator
        .takeWhile(!_.contains("== Initial Plan =="))
        .find(l => l.contains("FileScan") && l.contains("corpus"))
      assert(scanLine.exists(l => l.contains("dynamicpruning")),
        s"corpus scan not partition-pruned:\n${scanLine.getOrElse(plan)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("IVFADC: cell-pruned compressed probe + exact rerank; exhaustive " +
      "probe == pqTopK; recall clears the IVF bar") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    val queries = emb.filter(col("id") < 10)
    val path = java.nio.file.Files.createTempDirectory("ivfadc_index").toString
    try {
      Similarity.ivfadcBuildIndex(spark, emb, path, nLists = 16, m = 8,
        ksub = 16, seed = 7L)
      val adc = Similarity.ivfadcTopK(spark, queries, path, k = 5,
        nProbe = 6, rerank = 64)
      val got = adc.collect()
      assert(got.length == 50)
      // recall vs brute force at the q76 bar
      val keys = Seq("query_id", "neighbor_id")
      val brute = Similarity.bruteForceTopK(queries, emb, 5)
        .select(keys.head, keys.tail: _*)
      val hits = brute.join(adc.select(keys.head, keys.tail: _*), keys, "left_semi").count()
      assert(hits >= 30, s"IVFADC recall ${hits / 50.0} below 0.6")
      // exhaustive probe under the STORED codebooks is row-identical to
      // the flat pqTopK — the composition changes the scan, not the math
      val cbs = Similarity.readCodebooks(spark, path)
      val exhaustive = Similarity.ivfadcTopK(spark, queries, path, k = 5,
        nProbe = 16, rerank = 64).collect().map(_.toString).sorted
      val flat = Similarity.pqTopK(queries, emb, k = 5, m = 8, ksub = 16,
        rerank = 64, codebooks = cbs).collect().map(_.toString).sorted
      assert(exhaustive.nonEmpty && exhaustive.sameElements(flat))
      // plan shape: BOTH index scans are dynamically cell-pruned, and the
      // ADC scan reads codes WITHOUT the embedding column (the compressed
      // scan — raw vector bytes stay on disk until the rerank)
      val plan = adc.queryExecution.executedPlan.toString
      val scans = plan.linesIterator
        .takeWhile(!_.contains("== Initial Plan =="))
        .filter(l => l.contains("FileScan") && l.contains("corpus")).toSeq
      assert(scans.size == 2, s"expected ADC + rerank scans, got:\n$plan")
      assert(scans.forall(_.contains("dynamicpruning")),
        s"index scan not cell-pruned:\n${scans.mkString("\n")}")
      val adcScan = scans.find(_.contains("codes"))
      assert(adcScan.exists(!_.contains("embedding")),
        s"ADC scan reads raw embeddings:\n${adcScan.getOrElse(plan)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("brute-force topK is exact, k rows per query, self excluded") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    val res = Similarity.bruteForceTopK(emb.filter(col("id") < 5), emb, 5).collect()
    assert(res.length == 25)
    assert(res.forall(r => r.getLong(0) != r.getLong(1)))
    assert(res.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("media features agree with columnar stats (sha256, byte_len)") {
    val media = Multimodal.pngMediaFromDocuments(spark, Tables.documents(spark, sf))
    val stats = Multimodal.mediaStats(media.toDF())
      .select(col("media_id"), col("byte_len"), col("sha_hex"))
    val feats = Multimodal.extractFeatures(spark, media).toDF()
      .select(col("media_id"), col("byte_len").as("bl2"), col("sha256").as("sha2"))
    val joined = stats.join(feats, "media_id")
    assert(joined.filter(col("byte_len") =!= col("bl2") ||
      col("sha_hex") =!= col("sha2")).count() == 0)
    assert(joined.count() == 500)
  }

  test("real PNG codec round-trip: decoded dims and luminance match the render spec") {
    // the payloads are genuine PNGs (magic bytes), and ImageIO decode
    // recovers exactly what the deterministic renderer drew
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    val media = Multimodal.pngMediaFromDocuments(spark, docs)
    val recs = media.collect()
    assert(recs.length == 20)
    val pngMagic = Array(0x89, 'P', 'N', 'G').map(_.toByte)
    assert(recs.forall(_.payload.take(4).sameElements(pngMagic)))
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val f = feats(id)
      assert(f.width == 1 + (id % 8).toInt, s"doc $id width")
      assert(f.height == 1 + bytes.length % 8, s"doc $id height")
      val expect = (0 until f.width * f.height)
        .map(i => (bytes(i % bytes.length) & 0xFF).toDouble)
      val mean = math.rint(expect.sum / expect.length * 1e6) / 1e6
      assert(f.brightness == mean, s"doc $id brightness ${f.brightness} != $mean")
    }
  }

  test("LSH band join under a hot band bucket: salted band key splits it, no pairs lost") {
    // the 100-TB risk in the dedup path: near-identical boilerplate docs
    // agree on every band, concentrating one bucket's |B|^2 candidate
    // pairs on a single reducer. AQE's skew-join does NOT catch this
    // (identical-key rows compress ~50x in shuffle, so the hot
    // partition's bytes — the only thing AQE measures — stay ordinary;
    // see BASELINE.md). Mitigation = the deterministic band-key salting
    // in bandCandidates: the probe flags the hot buckets, A-side rows
    // scatter over `salts` sub-keys, and the join key becomes
    // (bk, __salt) — observable in the plan — without losing or
    // duplicating a single candidate pair.
    import org.apache.spark.sql.functions.col
    val tuned = Seq(
      // force shuffle joins so the salted key is exercised as the
      // shuffle partition key, as it would be at corpus scale
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      val boilerN = 600
      val boiler = spark.range(boilerN).select(
        (col("id") + 100000L).as("doc_id"),
        F.lit("zz0 zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 " +
          "zza zzb zzc zzd zze zzf zzg zzh zzi zzj").as("text"))
      val basePairs = Dedup.minHashPairs(
        base, col("doc_id"), col("text"), 3, 32, 8, 0.8).count()
      // salt aggressively at fixture scale: buckets >= 64 rows, 8 salts,
      // exact probe (sampleMod = 1)
      val pairsDf = Dedup.minHashPairs(
        base.unionByName(boiler), col("doc_id"), col("text"), 3, 32, 8, 0.8,
        seed = 1234L, saltThreshold = 64, salts = 8, sampleMod = 1)
      val rows = pairsDf.collect()
      // exactness under the split: every boilerplate pair exactly once,
      // base pairs untouched, no cross pairs (disjoint vocab)
      assert(rows.length == basePairs + boilerN.toLong * (boilerN - 1) / 2,
        s"pair count changed under salting: ${rows.length}")
      // the band join really is keyed by (bk, salt): the hot bucket's
      // rows now spread over 8 reducer keys instead of one
      val plan = pairsDf.queryExecution.executedPlan.toString
      assert(plan.contains("bk") && plan.contains("__salt"),
        s"band join not salted:\n${plan.take(4000)}")
      // and salting is OFF for cold corpora: same query, default
      // threshold — single zero salt, identical pairs
      val cold = Dedup.minHashPairs(
        base, col("doc_id"), col("text"), 3, 32, 8, 0.8).count()
      assert(cold == basePairs)
    } finally saved.foreach { case (k, vo) =>
      vo.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
  }

  test("WAV codec round-trips: decoded rate/frames/RMS match the synth formula") {
    import graft.llm.Multimodal
    val texts = Seq("hello world", "a", "Zz9 ~!", "x" * 300)
    texts.foreach { t =>
      val wav = Multimodal.encodeWav(t)
      // genuine RIFF/WAVE container, canonical 44-byte PCM header
      assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
        new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
      val samples = Multimodal.sampleValues(t)
      assert(wav.length == 44 + 2 * samples.length)
      val f = Multimodal.decodeAudio(Iterator(
        Multimodal.MediaRecord(1L, "audio/wav", wav))).next()
      assert(f.sample_rate == 8000 && f.n_samples == samples.length)
      val rms = math.sqrt(samples.map(s => s.toDouble * s).sum / samples.length)
      assert(math.abs(f.rms - rms) < 1e-5, s"rms ${f.rms} vs $rms for '$t'")
      assert(f.duration_ms == math.rint(samples.length * 1000.0 / 8000 * 1e6) / 1e6)
    }
    // distributed shape: the dataset path decodes what it encoded
    val docs = Tables.documents(spark, sf)
    val feats = Multimodal.extractAudioFeatures(spark,
      Multimodal.wavMediaFromDocuments(spark, docs)).toDF()
    assert(feats.count() == docs.count())
    assert(feats.filter(col("sample_rate") =!= 8000).count() == 0)
  }

  test("bigram LM: hand-computed smoothing, short docs omitted, templated scores higher") {
    import graft.llm.LangModel
    import spark.implicits._
    // corpus: "a b" x2, "a c", "z" (too short to score, still in vocab)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z"))
      .toDF("doc_id", "text")
    val out = LangModel.bigramScore(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    // bigrams: (a,b) x2, (a,c) x1; C1(a)=3; V={a,b,c,z} -> 4
    // P(b|a) = (2+1)/(3+4) = 3/7 ; P(c|a) = (1+1)/7 = 2/7
    val lpAB = math.rint(math.log(3.0 / 7) * 1e6) / 1e6
    val lpAC = math.rint(math.log(2.0 / 7) * 1e6) / 1e6
    assert(out.keySet == Set(1L, 2L, 3L), "doc 4 has no bigram to score")
    assert(out(1L) == ((1, lpAB)) && out(2L) == ((1, lpAB)) && out(3L) == ((1, lpAC)))
    // the repeated template outscores the one-off continuation
    assert(out(1L)._2 > out(3L)._2)
    // fixture sanity: deterministic across runs, all log-probs negative
    val fixture = graft.llm.LangModel.bigramScore(
      Tables.documents(spark, sf), col("doc_id"), col("text"))
    val a = fixture.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = fixture.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b && a.values.forall(_ < 0))
  }

  test("Kneser-Ney: hand-computed interpolation, unseen-context fallthrough, OOV floor") {
    import graft.llm.LangModel
    import spark.implicits._
    // corpus: "a b c" x2, "a b d", "x y" (vocab only — no trigram)
    val corpus = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b d"), (4L, "x y"))
      .toDF("doc_id", "text")
    // trigram types: (a,b,c) cnt3=2, (a,b,d) cnt3=1
    //   ctx(a,b) = 3, N1+(a,b,·) = 2
    //   cont(b,c) = cont(b,d) = 1;  cont(b) = 2, N1+(b,·) = 2
    //   cont(c) = cont(d) = 1;  cont_tot = 2;  |V| = 6
    val p1 = (1.0 + 1.0) / (2.0 + 6.0)                  // seen continuation
    val p2 = math.max(1.0 - 0.75, 0.0) / 2.0 + 0.75 * 2.0 / 2.0 * p1
    val p3c = math.max(2.0 - 0.75, 0.0) / 3.0 + 0.75 * 2.0 / 3.0 * p2
    val p3d = math.max(1.0 - 0.75, 0.0) / 3.0 + 0.75 * 2.0 / 3.0 * p2
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val self = LangModel.kneserNeyScore(corpus, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(self.keySet == Set(1L, 2L, 3L), "doc 4 has no trigram to score")
    assert(self(1L) == ((1, r6(math.log(p3c)))) && self(2L) == self(1L))
    assert(self(3L) == ((1, r6(math.log(p3d)))))
    assert(self(1L)._2 > self(3L)._2, "the repeated trigram outscores the one-off")
    // held-out: unseen (q,b) context falls through to P2 entirely;
    // an all-unseen trigram bottoms out at the OOV continuation floor
    val model = LangModel.trainTrigramModel(corpus, $"doc_id", $"text")
    val held = Seq((5L, "q b c"), (6L, "q r s")).toDF("doc_id", "text")
    val out = LangModel.kneserNeyScoreAgainst(model, held, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(5L) == r6(math.log(p2)), "unseen context = pure backoff to P2")
    val oovFloor = (0.0 + 1.0) / (2.0 + 6.0)
    assert(out(6L) == r6(math.log(oovFloor)), "all-unseen bottoms at the P1 floor")
    assert(out.values.forall(v => v < 0 && !v.isNaN && !v.isInfinite))
  }

  test("Kneser-Ney self-score: the final plan tokenizes the corpus at most 3 times") {
    import graft.llm.LangModel
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val df = LangModel.kneserNeyScore(Tables.documents(spark, sf), col("doc_id"), col("text"))
    assert(df.collect().nonEmpty)
    // walk the final adaptive plan through its query stages; a reused
    // exchange runs nothing of its own, so it is not walked again
    def generates(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => generates(a.finalPhysicalPlan)
      case qs: QueryStageExec => generates(qs.plan)
      case _: ReusedExchangeExec => 0
      case g: GenerateExec => 1 + g.children.map(generates).sum
      case o => o.children.map(generates).sum
    }
    val n = generates(df.queryExecution.executedPlan)
    assert(n <= 3, s"$n GenerateExec nodes: the count tables re-tokenize the corpus")
  }

  test("Kneser-Ney self-score == the held-out face trained on the same corpus") {
    import graft.llm.LangModel
    val docs = Tables.documents(spark, sf)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val self = scores(LangModel.kneserNeyScore(docs, col("doc_id"), col("text")))
    val held = scores(LangModel.kneserNeyScoreAgainst(
      LangModel.trainTrigramModel(docs, col("doc_id"), col("text")),
      docs, col("doc_id"), col("text")))
    assert(self.nonEmpty && self.keySet == held.keySet)
    for ((id, (n, lp)) <- self) {
      assert(held(id)._1 == n, s"doc $id trigram count")
      assert(math.abs(held(id)._2 - lp) <= 1e-6 + 1e-12,
        s"doc $id: self $lp vs held-out ${held(id)._2}")
    }
  }

  test("C4 clean: every line and page rule on a hand-built fixture") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      // 3 good lines + 2 bad (short; no punct) → kept page
      (1L, "a proper sentence with enough words.\nshort one.\n" +
        "another qualifying sentence sits right here!\nno punct on this longer line here\n" +
        "a third and final proper sentence?"),
      // javascript line dies → only 2 kept → page dropped
      (2L, "a proper sentence with enough words.\n" +
        "this one mentions JavaScript and still ends fine.\n" +
        "a second proper sentence is not enough."),
      // 3 kept lines but lorem ipsum → page dropped
      (3L, "a proper sentence with enough words.\nlorem ipsum dolor sit amet here.\n" +
        "a third and final proper sentence?"),
      // 3 kept lines but a brace → page dropped
      (4L, "a proper sentence with enough words.\nbraces like { are code markers okay.\n" +
        "a third and final proper sentence?")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.c4Clean(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3), r.getString(4)))).toMap
    assert(out(1L)._1 == 5 && out(1L)._2 == 3 && out(1L)._3)
    assert(out(1L)._4 == "a proper sentence with enough words.\n" +
      "another qualifying sentence sits right here!\na third and final proper sentence?")
    assert(out(2L) == ((3, 2, false, "a proper sentence with enough words.\n" +
      "a second proper sentence is not enough.")))
    assert(out(3L)._2 == 3 && !out(3L)._3, "lorem ipsum drops the page, not the line")
    assert(out(4L)._2 == 3 && !out(4L)._3, "a brace anywhere drops the page")
  }

  test("Gopher rules: each rule flips the gate at the published thresholds") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    val good = ((1 to 58).map(i => f"word$i%02d") ++ Seq("the", "of")).mkString(" ")
    val bullets = (1 to 3).map(k =>
      s"- bullet line number $k " +
        (1 to 10).map(i => s"item$k$i").mkString(" ") + ".").mkString("\n") +
      "\nthe closing line of this doc has plain words here."
    val docs = Seq(
      (1L, good),                                       // passes everything
      (2L, "the of short doc here."),                   // G1: too few words
      (3L, good + (" #" * 10)),                         // G3: symbol ratio
      (4L, bullets),                                    // G4: bullet lines
      (5L, Seq.fill(30)("spark data").mkString(" ")),   // G8/G9: repetition
      (6L, (1 to 60).map(i => s"$i$i").mkString(" "))   // G6: no letters
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, $"doc_id", $"text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("kept"))
    assert(out(1L).getAs[Int]("stop_hits") == 2)
    assert(!out(2L).getAs[Boolean]("kept") && out(2L).getAs[Int]("n_words") == 5)
    assert(!out(3L).getAs[Boolean]("kept") &&
      out(3L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!out(4L).getAs[Boolean]("kept") &&
      out(4L).getAs[Double]("bullet_frac") == 0.75)
    assert(!out(5L).getAs[Boolean]("kept") &&
      out(5L).getAs[Double]("top2_cov") > 0.2)
    assert(!out(6L).getAs[Boolean]("kept") &&
      out(6L).getAs[Double]("alpha_frac") == 0.0)
  }

  test("C4 and Gopher gates are plan-certified map-only: no exchange anywhere") {
    import graft.llm.TextAnalysis
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    for (gate <- Seq(
        TextAnalysis.c4Clean(docs, col("doc_id"), col("text")),
        TextAnalysis.gopherRules(docs, col("doc_id"), col("text")))) {
      val plan = gate.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"row-local gate must not shuffle:\n${plan.take(800)}")
      assert(plan.contains("Scan parquet"), "reads straight off the scan")
    }
  }

  test("tf-idf: hand-computed smooth-idf scores and deterministic top-k") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    // "x" only in doc 1 (tf 2); "a" in all 3 docs; "b" in docs 1+2
    val docs = Seq((1L, "a x b x"), (2L, "a b b"), (3L, "a a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, $"doc_id", $"text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(5)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    def score(tf: Long, df: Long) =
      math.rint(tf * (math.log((1.0 + 3.0) / (1.0 + df)) + 1.0) * 1e6) / 1e6
    // doc 1: x scores 2·(ln(4/2)+1), the rare term wins over a/b
    assert(out((1L, 1)) == (("x", 2L, 1L, score(2, 1))))
    // doc 2: b (tf 2, df 2) beats a (tf 1, df 3)
    assert(out((2L, 1)) == (("b", 2L, 2L, score(2, 2))))
    assert(out((2L, 2)) == (("a", 1L, 3L, score(1, 3))))
    // doc 3 has only one distinct term: no phantom rank-2 row
    assert(out.contains((3L, 1)) && !out.contains((3L, 2)))
    // corpus-universal "a" still gets weight tf·1 (smooth idf floor)
    assert(out((3L, 1)) == (("a", 2L, 3L, score(2, 3))))
  }

  test("chunking: coverage, overlap continuity, short docs, arg validation") {
    import graft.llm.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 95).map(i => s"w$i").mkString(" ")), // 95 tokens → starts 0,30,60
      (2L, "a b c"),                                   // under one window → 1 chunk
      (3L, (1 to 40).map(i => s"x$i").mkString(" ")),  // exactly one window → 1 chunk
      (4L, (1 to 41).map(i => s"y$i").mkString(" "))   // one token over → 2 chunks
    ).toDF("doc_id", "text")
    val out = docs.select($"doc_id",
        F.explode(TextAnalysis.chunks($"text", 40, 30)).as("c"))
      .select($"doc_id", $"c.idx", $"c.chunk", $"c.n_tokens")
      .collect().groupBy(_.getLong(0))
    assert(out(1L).length == 3 && out(2L).length == 1 &&
      out(3L).length == 1 && out(4L).length == 2)
    // every token covered, in order: stitching chunks at stride offsets
    // reproduces the doc
    val d1 = out(1L).sortBy(_.getInt(1))
    val stitched = d1.init.flatMap(_.getString(2).split(" ").take(30)) ++
      d1.last.getString(2).split(" ")
    assert(stitched.toSeq == (1 to 95).map(i => s"w$i"))
    // overlap: chunk k's last 10 tokens == chunk k+1's first 10
    d1.sliding(2).foreach { case Array(a, b) =>
      val at = a.getString(2).split(" ")
      val bt = b.getString(2).split(" ")
      if (at.length == 40) assert(at.drop(30).toSeq == bt.take(10).toSeq)
    }
    // the short tail chunk reports its true token count
    assert(out(1L).map(_.getInt(3)).sorted.toSeq == Seq(35, 40, 40))
    intercept[IllegalArgumentException](TextAnalysis.chunks(F.lit("x"), 40, 0))
    intercept[IllegalArgumentException](TextAnalysis.chunks(F.lit("x"), 40, 41))
  }

  test("image resize: within-bounds pass through byte-identical, larger downscale exactly") {
    import graft.llm.Multimodal
    val docs = Tables.documents(spark, sf).limit(60)
    val media = Multimodal.pngMediaFromDocuments(spark, docs)
    val resized = Multimodal.resizeImages(spark, media, 4).collect()
      .map(r => r.media_id -> r).toMap
    val orig = media.collect()
    orig.foreach { rec =>
      val w = 1 + math.floorMod(rec.media_id, 8L).toInt
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rec.payload))
      val (ow, oh) = (img.getWidth, img.getHeight)
      val out = resized(rec.media_id)
      if (math.max(ow, oh) <= 4)
        assert(java.util.Arrays.equals(out.payload, rec.payload),
          s"${rec.media_id}: within-bounds image must pass through unchanged")
      else {
        val rimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out.payload))
        val m = math.max(ow, oh)
        assert(rimg.getWidth == math.max(1, ow * 4 / m) &&
          rimg.getHeight == math.max(1, oh * 4 / m))
        // spot-check the floor mapping on pixel (0,0): reads src (0,0)
        assert(rimg.getRaster.getSample(0, 0, 0) == img.getRaster.getSample(0, 0, 0))
      }
      assert(w == ow)
    }
  }

  test("MPNG container round-trips: frame table seek, stride sampling, codec decode") {
    import graft.llm.Multimodal
    val docs = Tables.documents(spark, sf).limit(40)
    val media = Multimodal.videoMediaFromDocuments(spark, docs)
    // stride 1: every frame present, count = 2 + (id mod 3)
    val all = Multimodal.sampleFrames(spark, media, 1).collect()
    val byId = all.groupBy(_.media_id)
    byId.foreach { case (id, frames) =>
      assert(frames.length == 2 + math.floorMod(id, 3L).toInt)
      assert(frames.map(_.frame_idx).sorted.toSeq == (0 until frames.length))
    }
    // stride 2 keeps exactly the even indices
    val sampled = Multimodal.sampleFrames(spark, media, 2).collect()
    sampled.foreach(f => assert(f.frame_idx % 2 == 0))
    assert(sampled.length == all.count(_.frame_idx % 2 == 0))
    // frame 0 decodes to the SAME image the single-image path produces
    val f0 = Multimodal.frameFeatures(spark,
        Multimodal.sampleFrames(spark, media, 1000)).toDF() // only frame 0
      .select(col("media_id"), col("width"), col("height"), col("brightness"))
    val png = Multimodal.extractFeatures(spark,
        Multimodal.pngMediaFromDocuments(spark, docs)).toDF()
      .select(col("media_id"), col("width"), col("height"), col("brightness"))
    assert(f0.except(png).isEmpty && png.except(f0).isEmpty,
      "frame 0 must equal the still image")
    // a corrupted container fails loudly, not silently
    val bad = media.limit(1).collect()(0).copy(payload = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    import spark.implicits._
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.sampleFrames(spark, spark.createDataset(Seq(bad)), 1).collect()
    }
    assert(ex.getMessage.contains("MPNG") || ex.getCause != null)
  }

  test("NextFitBins matches a reference fold: random sizes, oversize, negatives, empty") {
    val cap = 100
    def reference(ns: Seq[Int]): Int = {
      var bins = 0; var rem = 0
      ns.foreach { raw =>
        val t = math.max(raw, 0)
        if (t >= cap) { bins += 1; rem = 0 }
        else if (bins > 0 && rem >= t) rem -= t
        else { bins += 1; rem = cap - t }
      }
      bins
    }
    val rnd = new scala.util.Random(42)
    // groups of mixed shapes: typical, all-oversize, zeros, one-element,
    // adversarial exact-fits; group 9 is empty (no rows)
    val rows = (0 until 9).flatMap { g =>
      val n = g match { case 0 => 1; case 1 => 200; case _ => 30 + rnd.nextInt(40) }
      (0 until n).map { i =>
        val tok = g match {
          case 1 => 100 + rnd.nextInt(50)          // every doc >= cap
          case 2 => 0                               // degenerate zero-token docs
          case 3 => if (i % 2 == 0) -5 else 60      // negatives clamp to 0
          case 4 => 50                              // exact halves: 2 per bin
          case _ => 1 + rnd.nextInt(120)
        }
        (g, i.toLong, tok)
      }
    }
    import spark.implicits._
    val df = rows.toDF("g", "id", "n").repartition(4)
    val got = df.groupBy(col("g"))
      .agg(graft.functions.NextFitBins(
        F.sort_array(F.collect_list(F.struct(col("id"), col("n")))), cap).as("bins"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> reference(rs.sortBy(_._2).map(_._3))
    }
    assert(got == want, s"got=$got want=$want")
  }

  test("semanticSurvivors sliced by label sums to the flat count; zero-groups kept") {
    val emb = Tables.embeddings(spark, sf)
    val flat = Similarity.semanticSurvivorsPlan(
      emb, Nil, col("vec_id"), col("embedding"),
      threshold = 0.45, nLists = 1, seed = 7L, pred = None)
      .collect()(0).getLong(0)
    val byLabel = Similarity.semanticSurvivorsPlan(
      emb, Seq("label" -> col("label")), col("vec_id"), col("embedding"),
      threshold = 0.45, nLists = 1, seed = 7L, pred = None).collect()
    assert(byLabel.map(_.getLong(1)).sum == flat,
      "sliced survivor counts must sum to the flat count (global dedup, " +
        "group attribution only)")
    val nLabels = emb.select("label").distinct().count()
    assert(byLabel.length == nLabels, "one row per group present in the fact")
    // pred gates the corpus: an impossible predicate still yields rows
    // (the group contract), each with 0 survivors
    val none = Similarity.semanticSurvivorsPlan(
      emb, Seq("label" -> col("label")), col("vec_id"), col("embedding"),
      threshold = 0.45, nLists = 1, seed = 7L, pred = Some(F.lit(false)))
      .collect()
    assert(none.length == nLabels && none.forall(_.getLong(1) == 0L))
  }

  test("custom expressions are deterministic across plans") {
    val d1 = Tables.documents(spark, sf)
      .select(graft.llm.TextAnalysis.rollingFingerprint(col("text")).as("fp")).collect()
    val d2 = Tables.documents(spark, sf).repartition(7)
      .select(graft.llm.TextAnalysis.rollingFingerprint(col("text")).as("fp")).collect()
    assert(d1.map(_.getLong(0)).sorted.sameElements(d2.map(_.getLong(0)).sorted))
  }

  test("subwordTokens: greedy longest-match equals a reference fold on real " +
      "docs; stays codegen'd; budgets parameterize packing and mixture") {
    import graft.llm.TextAnalysis
    val vocab = TextAnalysis.DemoVocab
    // reference: straight-line greedy over a Scala set
    val vset = vocab.toSet
    val maxLen = vocab.map(_.length).max
    def ref(text: String): Seq[String] =
      text.trim.split("\\s+").toSeq.flatMap { w =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var pos = 0
        while (pos < w.length) {
          val l = (math.min(maxLen, w.length - pos) to 1 by -1)
            .find(n => vset(w.substring(pos, pos + n))).getOrElse(1)
          out += w.substring(pos, pos + l); pos += l
        }
        out.toSeq
      }
    val docs = Tables.documents(spark, sf).limit(50)
    val got = docs.select(col("text"),
        TextAnalysis.subwordTokens(col("text"), vocab).as("st"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getSeq[String](1) == ref(r.getString(0)), r.getString(0).take(60))
    }
    // codegen: the expression rides a whole-stage-codegen'd Project
    val plan = docs.select(
        TextAnalysis.subwordTokens(col("text"), vocab).as("st"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [subword_encode"), s"no codegen span:\n$plan")
    // vocabulary-true budgets drive packing and mixture unchanged: both
    // take the count as a Column, and every constraint must hold under
    // SUBWORD counts (which exceed whitespace counts ~3x here)
    val counted = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        TextAnalysis.subwordCount(col("text"), vocab).cast("long").as("n_sub"))
    val cap = 600
    val packed = graft.llm.Packing.packSequences(
      counted, col("doc_id"), col("n_sub"), cap, partitions = 2)
    val binSums = packed
      .groupBy("bin_id").agg(F.sum("n_tokens").as("s"), F.count(F.lit(1)).as("n"))
      .collect()
    assert(binSums.nonEmpty && packed.count() == counted.count())
    binSums.foreach { r =>
      assert(r.getLong(1) <= cap || r.getLong(2) == 1,
        s"bin ${r.get(0)} overflows: ${r.getLong(1)} tokens in ${r.getLong(2)} docs")
    }
    val budget = 2000L
    val perSource = graft.llm.Mixture.tokenBudgetSample(
        counted, col("source"), col("doc_id"), col("n_sub"),
        priority = col("doc_id"), budget = F.lit(budget))
      .filter(col("kept"))
      .groupBy("stratum").agg(F.sum("n_tokens").as("s")).collect()
    assert(perSource.nonEmpty)
    perSource.foreach(r => assert(r.getLong(1) <= budget,
      s"source ${r.get(0)} exceeds subword budget: ${r.getLong(1)}"))
  }

  test("fuzzy decontamination: paraphrase invisible to exact n-grams is " +
      "caught by the band pass and dropped; clean docs survive") {
    import spark.implicits._
    import graft.llm.Decontaminate
    // benchmark doc of 50 distinct tokens; the training "paraphrase"
    // substitutes every 10th word — longest verbatim run is 9 words, so
    // a 13-gram exact check (the GPT-3-style gate) sees NOTHING, while
    // 3-shingle jaccard stays at 35/61 ≈ 0.574
    val base = (0 until 50).map(i => s"b$i")
    val para = base.zipWithIndex.map { case (w, i) =>
      if (i % 10 == 9) s"x$i" else w }
    val clean = (0 until 30).map(i => s"c$i")
    val train = Seq((1L, para.mkString(" ")), (2L, clean.mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((100L, base.mkString(" "))).toDF("doc_id", "text")
    assert(Decontaminate.contaminationPairs(train, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text"), n = 13, minHits = 1).isEmpty)
    val fuzzy = Decontaminate.fuzzyContaminationPairs(
      train, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text")).collect()
    assert(fuzzy.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
    assert(math.abs(fuzzy.head.getDouble(2) - 35.0 / 61.0) < 1e-4)
    val kept = Decontaminate.fuzzyDecontaminated(
      train, col("doc_id"), col("text"),
      bench, col("doc_id"), col("text"), n = 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("embedding decontamination: planted translation (same embedding, no " +
      "shared shingles) caught by the cosine gate; unrelated docs survive") {
    import spark.implicits._
    import graft.llm.Decontaminate
    // a TRANSLATED benchmark doc shares no token shingles with its
    // training copy, but its embedding is the benchmark's plus small
    // noise (cosine ≈ 0.99); 19 unrelated gaussian vectors sit near
    // orthogonal (|cos| ~ 1/√64)
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Float] = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val benchV = vec()
    val translated = benchV.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val train = ((1L, translated) +: (2L to 20L).map(_ -> vec()))
      .toDF("id", "embedding")
    val bench = Seq((100L, benchV)).toDF("id", "embedding")
    val pairs = Decontaminate.embeddingContaminationPairs(
      train, col("id"), col("embedding"),
      bench, col("id"), col("embedding"), threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
    assert(pairs.head.getDouble(2) > 0.95)
    val kept = Decontaminate.embeddingDecontaminated(
      train, col("id"), col("embedding"),
      bench, col("id"), col("embedding"), threshold = 0.8)
    assert(kept.count() == 19)
    assert(kept.filter(col("id") === 1L).isEmpty)
  }

  test("simhash64 whole-stage codegen does not fall back") {
    val df = Tables.documents(spark, sf)
      .select(graft.functions.SimHash64(Dedup.tokens(col("text"))).as("sig"))
    // codegen'd operators carry the `*(stageId)` prefix in the plan string
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [simhash64"), s"no codegen span:\n$plan")
    assert(df.agg(F.count_distinct(col("sig"))).collect()(0).getLong(0) > 100)
  }

  test("hash split: assignment survives repartitioning; fractions track weights") {
    import graft.llm.Splits
    val docs = Tables.documents(spark, sf)
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def assign(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), Splits.assignSplit(col("doc_id"), w).as("split"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val base = assign(docs)
    // THE property rand()/sample() lack: physical layout cannot move a
    // document between splits
    val reshuffled = assign(docs.repartition(17, col("source")))
    assert(base == reshuffled)
    // every doc labeled, labels only from the weight list
    assert(base.values.toSet.subsetOf(w.map(_._1).toSet))
    val n = base.size.toDouble
    val trainFrac = base.values.count(_ == "train") / n
    assert(math.abs(trainFrac - 0.8) < 0.1, s"train fraction $trainFrac")
    // bad weights rejected
    intercept[IllegalArgumentException](
      Splits.assignSplit(col("doc_id"), Seq("a" -> 0.5, "b" -> 0.4)))
    intercept[IllegalArgumentException](
      Splits.assignSplit(col("doc_id"), Seq("a" -> 0.999, "b" -> 0.001)))
  }

  test("cms_estimate: string keys estimate over UTF-8 bytes; never underestimates") {
    import graft.functions.CmsEstimate
    val docs = Tables.documents(spark, sf)
    val sk = docs.agg(F.count_min_sketch(col("source"),
      F.lit(0.01), F.lit(0.99), F.lit(7)).as("cms"))
    val exact = docs.groupBy(col("source")).agg(F.count(F.lit(1)).as("n"))
    val rows = exact.crossJoin(F.broadcast(sk))
      .select(col("source"), col("n"), CmsEstimate(col("cms"), col("source")).as("est"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS underestimated ${r.getString(0)}: est=${r.getLong(2)} exact=${r.getLong(1)}")
    }
  }

  test("repetition metrics: stamped text scores high, varied text low, short text zero") {
    import spark.implicits._
    import graft.llm.TextAnalysis.{dupNgramFraction, topNgramCoverage, wordNgrams}
    val df = Seq(
      (1L, ("buy now " * 10).trim),          // one 2-gram stamped 10×
      (2L, "a b c d e f g h i j"),           // all n-grams distinct
      (3L, "x y"),                           // shorter than n=3: no grams
      (4L, "")                               // empty text
    ).toDF("id", "text")
    val out = df.select(col("id"),
        dupNgramFraction(col("text"), 3).as("dup3"),
        topNgramCoverage(col("text"), 3).as("cov3"),
        F.size(wordNgrams(col("text"), 3)).as("n3"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getInt(3)))).toMap
    assert(out(2L) == ((0.0, 0.125, 8)))         // 8 distinct grams, modal 1/8
    assert(out(3L) == ((0.0, 0.0, 0)))
    assert(out(4L) == ((0.0, 0.0, 0)))
    val (dup1, cov1, n1) = out(1L)
    // "buy now buy now ..." → 18 3-grams alternating two shapes
    assert(n1 == 18 && dup1 > 0.8 && cov1 > 0.4, out(1L).toString)
  }

  test("semanticDedup: planted clones drop, one survivor per group, deterministic") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
      .filter(col("id") < 100)
    // plant exact clones of three vectors under fresh ids — cosine 1.0
    // beats any threshold and clones always share their source's cell
    val clones = base.filter(col("id").isin(1L, 2L, 3L))
      .select((col("id") + 1000L).as("id"), col("embedding"))
    val corpus = base.union(clones)
    val out = graft.llm.Similarity.semanticDedup(corpus, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.size == 103)
    // exactly one of each (orig, clone) pair survives; the clone ranks
    // after its source only via (centroid_sim, id) — equal sims, so the
    // lower id (the original) is kept
    Seq(1L, 2L, 3L).foreach { i =>
      assert(!out(i), s"original $i should survive")
      assert(out(i + 1000L), s"clone of $i should drop")
    }
    assert(out.count(_._2) == 3, "only the three clones drop at cos>=0.999")
    val rerun = graft.llm.Similarity.semanticDedup(corpus, threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(rerun == out, "fixed-seed k-means + rank rule is deterministic")
  }

  test("packSequences: first-fit exact assignment, oversize isolation, pack-once") {
    import spark.implicits._
    import graft.llm.Packing
    // single partition -> assignment is fully predictable: docs in id
    // order, cap 10: [4,4] -> bin0; 7 -> bin1; 2 -> bin0 (first fit);
    // 12 oversize -> own bin; 3 -> bin1
    val docs = Seq((1L, 4), (2L, 4), (3L, 7), (4L, 2), (5L, 12), (6L, 3))
      .toDF("doc_id", "n")
    val out = Packing.packSequences(docs, col("doc_id"), col("n"),
        maxTokens = 10, partitions = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == out(2L) && out(1L) == out(4L), "4+4+2 fills bin 0")
    assert(out(3L) == out(6L), "7+3 fills bin 1")
    assert(out(1L) != out(3L))
    assert(Set(out(1L), out(3L)).intersect(Set(out(5L))).isEmpty,
      "oversize doc gets an isolated bin")
    // fixture-scale contract: every doc exactly once, caps respected
    val big = Packing.packSequences(Tables.documents(spark, sf),
      col("doc_id"), graft.llm.TextAnalysis.tokenCount(col("text")),
      maxTokens = 128, partitions = 4)
    val n = Tables.documents(spark, sf).count()
    assert(big.count() == n)
    assert(big.select("doc_id").distinct().count() == n)
    val overfull = big.groupBy("bin_id")
      .agg(F.sum("n_tokens").as("fill"), F.count(F.lit(1)).as("k"))
      .filter(col("fill") > 128 && col("k") > 1).count()
    assert(overfull == 0)
  }

  test("NgramStats equals the declarative array formula on real docs (and stays codegen'd)") {
    import graft.llm.TextAnalysis.{dupNgramFraction, topNgramCoverage, wordNgrams}
    // the formula NgramStats replaced, rebuilt declaratively
    def slowDup(n: Int) = {
      val grams = wordNgrams(col("text"), n)
      F.when(F.size(grams) > 0,
          F.round(F.lit(1.0) -
            F.size(F.array_distinct(grams)).cast("double") / F.size(grams), 6))
        .otherwise(F.lit(0.0))
    }
    def slowCov(n: Int) = {
      val grams = wordNgrams(col("text"), n)
      val top = F.aggregate(F.array_distinct(grams), F.lit(0),
        (acc, g) => F.greatest(acc, F.size(F.filter(grams, x => x === g))))
      F.when(F.size(grams) > 0, F.round(top.cast("double") / F.size(grams), 6))
        .otherwise(F.lit(0.0))
    }
    import spark.implicits._
    // fixture docs PLUS whitespace adversaries: tab/newline padding must
    // tokenize identically to split(trim(text)) — Spark trim strips
    // spaces only, so "\tx y x y" keeps a leading empty token
    val adversarial = Seq("\ta b a b", "a  b\n\na b", "  a b a b  ", "", " ", "\t")
      .toDF("text")
    val diff = Tables.documents(spark, sf).limit(100).select(col("text"))
      .union(adversarial)
      .select(
        dupNgramFraction(col("text"), 2).as("f2"), slowDup(2).as("s2"),
        dupNgramFraction(col("text"), 3).as("f3"), slowDup(3).as("s3"),
        topNgramCoverage(col("text"), 3).as("c3"), slowCov(3).as("sc3"))
      .filter(col("f2") =!= col("s2") || col("f3") =!= col("s3") ||
        col("c3") =!= col("sc3"))
    assert(diff.count() == 0)
    val plan = Tables.documents(spark, sf)
      .select(dupNgramFraction(col("text"), 3))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan)
  }

  test("tokenBudgetSample: greedy prefix per stratum, crossing doc dropped, deterministic ties") {
    import spark.implicits._
    import graft.llm.Mixture
    val docs = Seq(
      // stratum A, budget 10: prio order c(9.0,4) a(5.0,4) b(5.0,5)
      //   cum: 4, 8, 13 -> c,a kept; b crosses and drops
      ("A", 1L, 4, 5.0), ("A", 2L, 5, 5.0), ("A", 3L, 4, 9.0),
      // stratum B independent: one doc exactly at budget
      ("B", 4L, 10, 1.0),
      // stratum C: first doc alone over budget -> nothing kept
      ("C", 5L, 11, 9.9))
      .toDF("src", "id", "n", "prio")
    val out = Mixture.tokenBudgetSample(docs, col("src"), col("id"),
        col("n"), col("prio"), F.lit(10L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(out == Map(
      1L -> ((8L, true)), 2L -> ((13L, false)), 3L -> ((4L, true)),
      4L -> ((10L, true)), 5L -> ((11L, false))))
    // tie on priority breaks by id: ids 1 (n=4) then 2 (n=5)
  }

  test("decontamination: planted overlap flagged, clean corpus survives, train side never shuffles") {
    import spark.implicits._
    import graft.llm.Decontaminate
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val train = Seq(
      (1L, "intro text then the quick brown fox jumps somewhere else"), // shares 4-grams
      (2L, "completely unrelated words with zero overlap whatsoever"),
      (3L, "quick brown fox tail")                                      // only 3 shared tokens, no shared 4-gram
    ).toDF("id", "text")
    val pairs = Decontaminate.contaminationPairs(train, col("id"), col("text"),
      bench, col("id"), col("text"), n = 4, minHits = 1)
    val flagged = pairs.select("doc_id").as[Long].collect().toSet
    assert(flagged == Set(1L), pairs.collect().mkString(";"))
    val clean = Decontaminate.decontaminated(train, col("id"), col("text"),
      bench, col("id"), col("text"), n = 4, minHits = 1)
    assert(clean.select("id").as[Long].collect().toSet == Set(2L, 3L))
    // scale assertion: the only exchanges are the broadcast of the bench
    // side and the pair-count aggregation — the train relation reaches
    // its join without a shuffle
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("HyperplaneSig equals the declarative zip_with+aggregate formula bit-for-bit") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    for (bits <- Seq(4, 9, 16); seed <- Seq(7L, 7919L)) {
      // the pre-codegen formulation, kept here as the semantic oracle:
      // per plane, FLOAT products accumulated into a double, bit set on
      // dot >= 0 — Similarity.signature must reproduce it exactly
      val rnd = new scala.util.Random(seed)
      val planes = Seq.fill(bits)(Array.fill(64)(rnd.nextGaussian().toFloat))
      val hof = planes.zipWithIndex.map { case (p, i) =>
        val dot = F.aggregate(
          F.zip_with(col("embedding"), F.typedlit(p.toSeq), (x, y) => x * y),
          F.lit(0.0d), (acc, v) => acc + v)
        F.when(dot >= 0, F.lit(1L << i)).otherwise(F.lit(0L))
      }.reduce(_ + _)
      val diff = emb.select(
          graft.llm.Similarity.signature(col("embedding"), 64, bits, seed).as("fast"),
          hof.as("slow"))
        .filter(col("fast") =!= col("slow")).count()
      assert(diff == 0, s"signature mismatch at bits=$bits seed=$seed")
    }
  }

  test("NearestCell equals the flat array-of-CosineSim argmax bit-for-bit") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    for (nCells <- Seq(3, 16, 64)) {
      // deterministic fake centroids — equivalence is arithmetic, not
      // about k-means; include a zero vector to pin the denom==0 branch
      val rnd = new scala.util.Random(nCells)
      val cents = Array.tabulate(nCells)(i =>
        if (i == 1) Array.fill(64)(0.0f)
        else Array.fill(64)(rnd.nextGaussian().toFloat))
      // the pre-fusion formulation, kept as the semantic oracle: one
      // CosineSim column per centroid, argmax = first position of max
      val scores = F.array(cents.toSeq.map(c =>
        graft.functions.CosineSim(col("embedding"), F.typedlit(c.toSeq))): _*)
      val diff = emb.select(
          graft.functions.NearestCell(col("embedding"), cents).as("fast"),
          (F.array_position(scores, F.array_max(scores)) - 1).cast("int").as("slow_cell"),
          F.array_max(scores).as("slow_sim"))
        .filter(col("fast.cell") =!= col("slow_cell") ||
          col("fast.sim") =!= col("slow_sim")).count()
      assert(diff == 0, s"nearest_cell mismatch at nCells=$nCells")
    }
  }

  test("RoutedNearestCell: exhaustive probe equals NearestCell bit-for-bit; narrow probe bounded by it") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    val rnd = new scala.util.Random(64)
    val cents = Array.tabulate(64)(i =>
      if (i == 1) Array.fill(64)(0.0f)
      else Array.fill(64)(rnd.nextGaussian().toFloat))
    val (supers, members) = Similarity.clusterCentroids(cents, 8, seed = 7L)
    assert(members.map(_.length).sum == 64, "every cell in exactly one super-cell")
    // probe >= super-cell count degenerates to the exhaustive scan —
    // must reproduce the flat argmax exactly, including the lowest-id
    // tie-break and the zero-norm cell
    val diff = emb.select(
        graft.functions.RoutedNearestCell(col("embedding"), cents, supers, members, 8).as("routed"),
        graft.functions.NearestCell(col("embedding"), cents).as("flat"))
      .filter(col("routed.cell") =!= col("flat.cell") ||
        col("routed.sim") =!= col("flat.sim")).count()
    assert(diff == 0, "exhaustive routed scan must be bit-equal to NearestCell")
    // a narrow probe may miss the global argmax, but must always return
    // a real cell id and never claim a similarity above the true maximum
    val narrowBad = emb.select(
        graft.functions.RoutedNearestCell(col("embedding"), cents, supers, members, 2).as("routed"),
        graft.functions.NearestCell(col("embedding"), cents).as("flat"))
      .filter(col("routed.sim") > col("flat.sim") ||
        col("routed.cell") < 0 || col("routed.cell") >= cents.length).count()
    assert(narrowBad == 0, "routed sim is a lower bound on the exhaustive sim")
  }

  test("semanticDedup routed mode: exhaustive probe matches default bit-for-bit; narrow probe still drops clones") {
    import spark.implicits._
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding"))
      .filter(col("id") < 100)
    val clones = base.filter(col("id").isin(1L, 2L, 3L))
      .select((col("id") + 1000L).as("id"), col("embedding"))
    val corpus = base.union(clones)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3))).toSet
    val exact = snap(Similarity.semanticDedup(corpus, threshold = 0.999, nLists = 16))
    // 16 cells -> sqrt = 4 super-cells; probing all 4 is the degenerate
    // exhaustive scan, so the whole output must be identical
    val exhaustive = snap(
      Similarity.semanticDedup(corpus, threshold = 0.999, nLists = 16, superProbe = 4))
    assert(exhaustive == exact, "superProbe >= superCells must not change any row")
    // narrow probe: a clone's embedding is bit-identical to its source,
    // so routing sends both to the same cell whatever the probe set —
    // the clone must still drop, and nothing else reaches cos >= 0.999
    val routed = Similarity.semanticDedup(corpus, threshold = 0.999, nLists = 16, superProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(routed.size == 103)
    Seq(1L, 2L, 3L).foreach { i =>
      assert(!routed(i), s"original $i survives under routing")
      assert(routed(i + 1000L), s"clone of $i drops under routing")
    }
    assert(routed.count(_._2) == 3, "exactly the three clones drop")
  }

  test("near-dup LSH width is occupancy-adaptive; auto mode reproduces the historical width at fixture scale") {
    // the formula: bucket occupancy pinned near targetBucket, clamped to
    // [4, 40] (floor keeps small corpora on the historical 16-bucket
    // tables; ceiling fits the packed long)
    assert(Similarity.adaptiveBits(50, 32) == 4)
    assert(Similarity.adaptiveBits(500, 32) == 4)
    assert(Similarity.adaptiveBits(2000, 32) == 6)
    assert(Similarity.adaptiveBits(1L << 30, 32) == 25)
    assert(Similarity.adaptiveBits(Long.MaxValue / 4, 32) == 40)
    // auto == explicit-4-bits on the 500-vector fixture, pair for pair —
    // the registry/native-sf outputs are unchanged by the adaptive default
    val emb = Tables.embeddings(spark, sf).select(col("vec_id").as("id"), col("embedding"))
    def pairSet(nBits: Int) =
      Similarity.cosineNearDupPairs(emb, 0.45, dim = 64, nBits = nBits)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = pairSet(0)
    assert(auto.nonEmpty, "fixture should contain planted near-dup pairs")
    assert(auto == pairSet(4))
  }

  test("DSIR importance resampling: target-leaning, deterministic, partitioning-invariant") {
    import spark.implicits._
    import graft.llm.Importance
    // target distribution: one fixed sentence; raw corpus = 20 docs of
    // that sentence + 20 docs of disjoint vocabulary. The model gap makes
    // every target-like log_w exceed every noise log_w by ~30 nats —
    // beyond the hash-Gumbel key's worst-case spread (±~26), so the
    // selected set is target-like half EXACTLY, not just in expectation.
    val sentence = "spark query plan shuffle join group"
    val target = (0 until 20).map(i => (1000L + i, sentence)).toDF("doc_id", "text")
    val raw = ((0 until 20).map(i => (i.toLong, sentence)) ++
      (20 until 40).map(i => (i.toLong, "zebra quartz violet mango umbrella kiwi")))
      .toDF("doc_id", "text")
    val byId = Importance.importanceWeights(raw, col("doc_id"), col("text"),
        target, col("text"))
      .select("doc_id", "log_w").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byId.size == 40)
    val likeMin = (0 until 20).map(i => byId(i.toLong)).min
    val noiseMax = (20 until 40).map(i => byId(i.toLong)).max
    assert(likeMin > noiseMax + 20,
      s"target-like docs must dominate: $likeMin vs $noiseMax")
    def pick(df: org.apache.spark.sql.DataFrame) =
      Importance.dsirSample(df, col("doc_id"), col("text"),
          target, col("text"), k = 20)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val picked = pick(raw)
    assert(picked == (0 until 20).map(_.toLong).toSet)
    // pure function of row identity: repartitioning is a no-op
    assert(pick(raw.repartition(7)) == picked)
  }

  test("shard writer: deterministic membership and intra-shard order, round-trips through parquet") {
    import graft.llm.{Sharding, Splits}
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Sharding.writeShards(docs, col("doc_id"), dir, shards = 4)
    val back = spark.read.parquet(dir)
    // membership: every doc exactly once, shard == the recomputed hash
    assert(back.count() == docs.count())
    assert(back.filter(
      F.col("shard") =!= Splits.hashBucket(col("doc_id"), 4)).count() == 0)
    // order: per shard, the CONCATENATED files in part-number order form
    // the (shuffle_key, id)-ordered stream (range boundaries may split a
    // shard across adjacent parts; each file alone is a single split, so
    // reading one file preserves its row order)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.length == 4)
    shardDirs.foreach { sd =>
      val keys = sd.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName)
        .flatMap(f => spark.read.parquet(f.toString)
          .select("shuffle_key", "doc_id").collect()
          .map(r => (r.getDouble(0), r.getLong(1))))
      assert(keys.nonEmpty && keys.sameElements(keys.sorted),
        s"${sd.getName}: concatenated stream must be in shuffle_key order")
    }
    // the audit stats are partitioning-invariant
    def stats(df: org.apache.spark.sql.DataFrame) =
      Sharding.shardStats(df, col("doc_id"),
          graft.llm.TextAnalysis.tokenCount(col("text")), 4)
        .collect().map(_.toString).sorted
    assert(stats(docs.repartition(1)).sameElements(stats(docs.repartition(7))))
  }

  test("PQ ANN: lossless codebook reproduces the exact ranking; ADC cosine == exact cosine") {
    import spark.implicits._
    // every sub-vector is drawn from a 4-entry vocabulary per subspace;
    // with the codebook = that vocabulary, encoding is LOSSLESS, so the
    // compressed-domain score must equal the exact cosine and the
    // ranking must match brute force row for row
    val vocab = Array(
      Array(1.0f, 0.3f), Array(-0.7f, 1.1f), Array(0.2f, -1.3f), Array(1.9f, 0.8f))
    val cbs: Array[Array[Array[Float]]] = Array.fill(4)(vocab.map(_.clone()))
    val vecs = (0 until 40).map { i =>
      val emb = (0 until 4).flatMap { s => vocab(((i >> s) + i) % 4).toSeq }
      (i.toLong, emb.toArray)
    }
    val corpus = vecs.toDF("id", "embedding")
      .select(col("id"), col("embedding").cast("array<float>").as("embedding"))
    val queries = corpus.filter(col("id") < 5)
    val brute = Similarity.bruteForceTopK(queries, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)) -> r.getDouble(2)).toMap
    val pq = Similarity.pqTopK(queries, corpus, 5, m = 4, ksub = 4,
        codebooks = cbs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)) -> r.getDouble(2)).toMap
    assert(pq.keySet == brute.keySet,
      "lossless PQ must reproduce the exact top-k, rank for rank")
    pq.foreach { case (key, s) =>
      assert(math.abs(s - brute(key)) < 1e-9, s"$key: ADC $s vs exact ${brute(key)}")
    }
    // rerank path returns exact cosines by construction
    val rr = Similarity.pqTopK(queries, corpus, 5, m = 4, ksub = 4,
        rerank = 10, codebooks = cbs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)) -> r.getDouble(2)).toMap
    assert(rr.keySet == brute.keySet)
    rr.foreach { case (key, s) => assert(s == brute(key)) }
  }
}
