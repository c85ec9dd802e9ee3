package graft

import graft.functions.KmvSketch
import graft.llm.{Bpe, Pii}
import graft.operators.Joins
import graft.sources.Layout
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 curation/layout operators: PII scrub, KMV/theta sketch,
  * banded range join, Z-order layout. */
class CurateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.session(4)

  import org.apache.spark.sql.functions.col

  test("collectAtMost: returns up to the cap, throws past it") {
    import graft.queries.Round13Queries.collectAtMost
    assert(collectAtMost(spark.range(5).toDF(), 5, "five").length == 5)
    val e = intercept[IllegalStateException](collectAtMost(spark.range(5).toDF(), 4, "five"))
    assert(e.getMessage.contains("five: more than 4 rows"))
  }

  // ---- PII ---------------------------------------------------------

  test("pii: planted email/phone/ip are counted and redacted; clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail alice.smith+x@corp.example.com and bob@ex.org today"),
      (2L, "call +1 555-123-4567 or 555 987 6543 from 192.168.0.17"),
      (3L, "nothing sensitive here at all"),
      (4L, "edge: not-an-ip 1.2.3.4000 but 8.8.8.8 is one")
    ).toDF("doc_id", "text")
    val out = Pii.scrub(docs, col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_email"),
        r.getAs[Int]("n_phone"), r.getAs[Int]("n_ip"),
        r.getAs[Boolean]("has_pii"), r.getAs[String]("text_redacted")))

    assert(out(0) == ((1L, 2, 0, 0, true,
      "mail <EMAIL> and <EMAIL> today")))
    assert(out(1) == ((2L, 0, 2, 1, true,
      "call +1 <PHONE> or <PHONE> from <IP>")))
    assert(out(2) == ((3L, 0, 0, 0, false,
      "nothing sensitive here at all")))
    // 1.2.3.4000: the 4-digit tail breaks \b — not an IP; 8.8.8.8 is
    assert(out(3) == ((4L, 0, 0, 1, true,
      "edge: not-an-ip 1.2.3.4000 but <IP> is one")))
  }

  test("pii: scrubAll counts are chain-staged — one number, one count, " +
      "one placeholder") {
    import spark.implicits._
    // a US number WITH country code: the intl pattern takes it whole;
    // the NANP pattern must not also claim its 3-3-4 tail
    val docs = Seq(
      (1L, "call +1 555-123-4567 today"),
      (2L, "or plain 555-123-4567 works"),
      (3L, "iban GB29NWBK60161331926819 and ssn 078-05-1120")
    ).toDF("doc_id", "text")
    val out = Pii.scrubAll(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Int]("n_phone_intl"), r.getAs[Int]("n_phone"),
        r.getAs[Int]("n_ssn"), r.getAs[Int]("n_iban"),
        r.getAs[String]("text_redacted")))
    assert(out(0) == ((1, 0, 0, 0, "call <PHONE> today")))
    assert(out(1) == ((0, 1, 0, 0, "or plain <PHONE> works")))
    assert(out(2) == ((0, 0, 1, 1, "iban <IBAN> and ssn <SSN>")))
    // Σcounts == #placeholders for every doc, the staged-count contract
    out.foreach { case (a, b, c, d, red) =>
      assert(a + b + c + d == "<PHONE>|<SSN>|<IBAN>".r
        .findAllIn(red).length)
    }
  }

  test("pii: scrub-before-dedup collapses docs that differ only in PII (the v3 ordering)") {
    import graft.llm.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "the same base text mail alice@a.org"),
      (2L, "the same base text mail bob@b.net"),
      (3L, "a different text entirely")
    ).toDF("doc_id", "text")
    // raw texts are pairwise distinct -> dedup keeps all 3
    val rawKeep = Dedup.exactDuplicateGroups(docs, col("doc_id"), col("text"))
      .select("keep_id").collect().map(_.getLong(0)).toSet
    assert(rawKeep == Set(1L, 2L, 3L))
    // redacted texts collapse 1 and 2 -> canonical min-id survives
    val red = docs.select(col("doc_id"), Pii.redact(col("text")).as("text"))
    val scrubKeep = Dedup.exactDuplicateGroups(red, col("doc_id"), col("text"))
      .select("keep_id").collect().map(_.getLong(0)).toSet
    assert(scrubKeep == Set(1L, 3L))
  }

  test("pii: redaction is idempotent (placeholders never re-match)") {
    import spark.implicits._
    val docs = Seq("mail a@b.co or 1.2.3.4 and +1 555-111-2222 now")
      .toDF("text")
    val once = docs.select(Pii.redact(col("text")).as("r"))
    val twice = once.select(Pii.redact(col("r")).as("r"))
    assert(once.collect().map(_.getString(0)).toSeq ==
      twice.collect().map(_.getString(0)).toSeq)
  }

  // ---- banding auto-tuner ------------------------------------------

  test("banding tuner: S-curve math picks sane splits and respects recall") {
    import graft.llm.Dedup
    // at a plain 0.9 recall floor the best threshold fit is 8x4...
    assert(Dedup.pickBanding(32, 0.8) == ((8, 4)))
    // ...and the repo's shipped 16x2 default is exactly what falls out
    // of demanding near-total recall at the threshold (its documented
    // rationale: ~2e-10 structural miss, verify absorbs the extra
    // candidates)
    assert(Dedup.pickBanding(32, 0.8, minRecallAtTarget = 0.9999) == ((16, 2)))
    // high threshold wants more rows per band (sharper curve)
    val (bHi, rHi) = Dedup.pickBanding(128, 0.9)
    val (bLo, rLo) = Dedup.pickBanding(128, 0.4)
    assert(rHi >= rLo, s"sharper threshold should not lower rows: $rHi vs $rLo")
    assert(bHi * rHi == 128 && bLo * rLo == 128)
    // every returned split honors the recall floor at the target
    assert(Dedup.candidateProbability(0.9, bHi, rHi) >= 0.9)
    assert(Dedup.candidateProbability(0.4, bLo, rLo) >= 0.9)
    // no split can reach recall 0.999999 at tiny s with 4 hashes
    intercept[IllegalArgumentException] {
      Dedup.pickBanding(4, 0.05, minRecallAtTarget = 0.999999)
    }
  }

  // ---- KMV / theta sketch ------------------------------------------

  test("kmv: sketch is a pure function of the value set (partitioning/dup invariant)") {
    import spark.implicits._
    val k = 64
    val kmv = KmvSketch(k)
    def sketchOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(kmv(F.xxhash64(col("v"))).as("sk"))
        .collect()(0).getSeq[Long](0)

    val base = (1 to 5000).toDF("v")
    val a = sketchOf(base.repartition(13))
    val b = sketchOf(base.repartition(2))
    val c = sketchOf(base.union(base).repartition(7)) // duplicates
    assert(a == b, "sketch must not depend on partitioning")
    assert(a == c, "sketch must not depend on duplication")
    assert(a.length == k)
  }

  test("kmv: distinct estimate within ~4 sigma on 20k values; exact below k") {
    import spark.implicits._
    val k = 256
    val kmv = KmvSketch(k)
    val est = (1 to 20000).toDF("v")
      .agg(KmvSketch.estimateDistinct(
        kmv(F.xxhash64(col("v"))), k).as("e"))
      .collect()(0).getDouble(0)
    // sigma ~ n/sqrt(k-2) ~ 1255
    assert(math.abs(est - 20000) < 5000, s"est $est too far from 20000")

    val small = (1 to 100).toDF("v")
      .agg(KmvSketch.estimateDistinct(
        kmv(F.xxhash64(col("v"))), k).as("e"))
      .collect()(0).getDouble(0)
    assert(small == 100.0, "unsaturated sketch must be exact")
  }

  test("kmv: unioned cells are BIT-IDENTICAL to the single-shot sketch") {
    import spark.implicits._
    val k = 128
    val kmv = KmvSketch(k)
    val kun = KmvSketch.unionAgg(k)
    val df = (1 to 3000).map(v => (v % 13, v)).toDF("cell", "v")
    val cells = df.groupBy("cell").agg(kmv(F.xxhash64(col("v"))).as("sk"))
    val rolled = cells.agg(kun(col("sk"))).collect()(0).getSeq[Long](0)
    val direct = df.agg(kmv(F.xxhash64(col("v")))).collect()(0).getSeq[Long](0)
    assert(rolled == direct, "cell union must have zero drift vs the fact scan")
  }

  test("kmv: theta-combine intersection/union estimates track exact overlap") {
    import spark.implicits._
    val k = 1024
    val kmv = KmvSketch(k)
    // A = 1..6000, B = 4001..10000: |A∩B| = 2000, |A∪B| = 10000
    val df = (1 to 10000).toDF("v")
    val sk = df.agg(
      kmv(F.when(col("v") <= 6000, F.xxhash64(col("v")))).as("a"),
      kmv(F.when(col("v") > 4000, F.xxhash64(col("v")))).as("b"))
    val row = sk.select(
      KmvSketch.estimateIntersection(col("a"), col("b"), k).as("i"),
      KmvSketch.estimateUnion(col("a"), col("b"), k).as("u"))
      .collect()(0)
    val (i, u) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(i - 2000) < 500, s"intersection est $i vs 2000")
    assert(math.abs(u - 10000) < 1500, s"union est $u vs 10000")
  }

  // ---- time-decayed aggregates -------------------------------------

  test("decay: weights and aggregates match the closed form") {
    import graft.llm
    import spark.implicits._
    val ref = "2024-01-02 00:00:00"
    val day = 86400.0
    val ev = Seq(
      ("a", "2024-01-01 00:00:00", 10.0), // 1 day old -> e^-1
      ("a", "2024-01-02 00:00:00", 4.0),  // now       -> 1
      ("b", "2023-12-31 00:00:00", 6.0)   // 2 days    -> e^-2
    ).toDF("k", "ts", "value").withColumn("ts", col("ts").cast("timestamp"))
    val got = graft.operators.Decay.decayedAggs(ev, col("k"), col("ts"),
        col("value"), ref, day)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val e1 = math.exp(-1); val e2 = math.exp(-2)
    def r4(v: Double) = math.rint(v * 1e4) / 1e4
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    assert(got(0)._1 == "a" && got(0)._2 == r4(10 * e1 + 4) &&
      got(0)._3 == r6(e1 + 1) && got(0)._4 == r6((10 * e1 + 4) / (e1 + 1)))
    assert(got(1)._1 == "b" && got(1)._2 == r4(6 * e2))
  }

  // ---- session sequences -------------------------------------------

  test("sessions: gap splits and within-session order are deterministic") {
    import graft.llm.Sessions
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, "2024-01-01 10:00:00", "view"),
      (1L, 11L, "2024-01-01 10:10:00", "click"),
      (1L, 12L, "2024-01-01 11:30:00", "purchase"), // > 30 min gap -> new session
      (2L, 20L, "2024-01-01 09:00:00", "view")
    ).toDF("user_id", "event_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = Sessions.sessionSequences(ev)
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getString(3)))
    assert(got.toSeq == Seq((1L, 2, "view>click"), (1L, 1, "purchase"),
      (2L, 1, "view")))
  }

  // ---- ANALYZE stats -----------------------------------------------

  test("stats: one-pass analyze reports exact counts, nulls, ndv, envelopes") {
    import graft.sources.Stats
    import spark.implicits._
    val df = Seq((1L, Some("x")), (2L, None), (3L, Some("y")), (3L, Some("x")))
      .toDF("id", "s")
    val rows = Stats.analyze(df, Seq("id", "s"))
      .orderBy("column").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(5), r.getString(6)))
    assert(rows(0) == (("id", 4L, 0L, 3L, "1", "3")))
    assert(rows(1) == (("s", 4L, 1L, 2L, "x", "y")))
  }

  test("sketch stats: per-batch merge is bit-identical to the full scan, " +
      "nulls never phantom the sketch, planning adapters read it") {
    import graft.sources.Stats
    import spark.implicits._
    val docs = graft.cubes.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"),
        // a null-bearing column: every 7th doc loses its lang
        F.when(col("doc_id") % 7 =!= 0, col("lang")).as("lang"))
    val cols = Seq("doc_id", "source", "lang")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("column", "n_rows", "n_nulls", "kmv", "min_d", "max_d",
        "min_s", "max_s")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getSeq[Long](3).toList,
          Option(r.get(4)), Option(r.get(5)), Option(r.get(6)),
          Option(r.get(7)))))
      .sortBy(_._1)
    // THE contract: three per-batch stats merge to EXACTLY the full
    // scan's — counts, envelopes, and the sketch bit for bit
    val batches = (0 to 2).map(i =>
      Stats.analyzeSketch(docs.filter(col("doc_id") % 3 === i), cols))
    val merged = canon(Stats.mergeSketchStats(batches))
    val full = canon(Stats.analyzeSketch(docs, cols))
    assert(merged.sameElements(full))
    // nulls counted, never sketched: lang's NDV estimate is exact at
    // this cardinality and excludes the null
    val langRow = full.find(_._1 == "lang").get._2
    assert(langRow._2 > 0, "null lang rows counted")
    val stats = Stats.mergeSketchStats(batches)
    val exactLang = docs.agg(F.count_distinct(col("lang"))).first().getLong(0)
    assert(Stats.ndvEstimate(stats, "lang") == exactLang.toDouble)
    // numeric envelope is native-ordered (a string merge would say
    // min "10" > "9"); string envelope lexicographic
    val idRow = full.find(_._1 == "doc_id").get._2
    assert(idRow._4.contains(docs.agg(F.min("doc_id")).first().getLong(0).toDouble))
    // the analyze-contract adapter feeds the existing planning
    // consumers: measured row count flows into source costing
    val view = Stats.sketchStatsAsAnalyze(stats)
    assert(Stats.rowCount(view) == docs.count())
  }

  test("stratum binning keeps NULL and degenerate strata: no silent row drops") {
    import graft.operators.Binning
    import spark.implicits._
    val df = Seq(
      (Some("a"), 1.0), (Some("a"), 2.0), (Some("a"), 3.0), (Some("a"), 4.0),
      (None, 10.0), (None, 20.0),          // NULL stratum: its own bins
      (Some("b"), 7.0), (Some("b"), 7.0)   // degenerate: all-equal values
    ).toDF("source", "v")
    val out = Binning.withStratumQuantileBin(df, "source", "v", n = 2)
    // EVERY input row survives — a plain equi-join would silently drop
    // the null-stratum rows
    assert(out.count() == df.count())
    val byStratum = out.collect()
      .groupBy(r => Option(r.getString(0)))
      .view.mapValues(_.map(r => (r.getDouble(1), r.getInt(2))).sorted.toList)
      .toMap
    // exact median of {1,2,3,4} is 2.5: values below it take bin 1
    assert(byStratum(Some("a")) == List((1.0, 1), (2.0, 1), (3.0, 2), (4.0, 2)))
    // null stratum bins against its OWN boundaries
    assert(byStratum(None) == List((10.0, 1), (20.0, 2)))
    // degenerate stratum: ties go to the HIGH bin by convention
    assert(byStratum(Some("b")) == List((7.0, 2), (7.0, 2)))
  }

  // ---- domain governance -------------------------------------------

  test("domains: host/registered/tld/depth parse, including degenerate urls") {
    import graft.llm.Domains
    import spark.implicits._
    val rows = Seq(
      "https://a.b.site.com/x/y/z?q=1",
      "http://site.com/",
      "https://localhost/p",
      "not a url at all").toDF("url")
      .select(
        Domains.host(col("url")).as("h"),
        Domains.registeredDomain(col("url")).as("d"),
        Domains.tld(col("url")).as("t"),
        Domains.pathDepth(col("url")).as("p"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(rows(0) == (("a.b.site.com", "site.com", "com", 3)))
    assert(rows(1) == (("site.com", "site.com", "com", 0)))
    assert(rows(2) == (("localhost", "localhost", "localhost", 1)))
    assert(rows(3)._1 == "" && rows(3)._4 == 0)
  }

  test("domains: per-domain cap keeps the n best by (order desc, id asc)") {
    import graft.llm.Domains
    import spark.implicits._
    val docs = Seq(
      (1L, "https://x.aa.com/1", 0.9), (2L, "https://y.aa.com/2", 0.7),
      (3L, "https://z.aa.com/3", 0.8), (4L, "https://w.aa.com/4", 0.7),
      (5L, "https://q.bb.com/5", 0.1)).toDF("id", "url", "score")
    val kept = Domains.capPerDomain(docs, col("id"), col("url"),
        col("score"), n = 2)
      .filter(col("kept")).select("id").collect().map(_.getLong(0)).toSet
    // aa.com keeps 0.9(id1) and 0.8(id3); ties broken by id; bb.com keeps its only doc
    assert(kept == Set(1L, 3L, 5L))
  }

  // ---- trained quality classifier ----------------------------------

  test("logreg: trained discriminator separates the planted positive dialect") {
    import graft.llm.Classifier
    import spark.implicits._
    val docs = ((1 to 40).map(i =>
        (i.toLong, s"curated shiny reference prose piece $i gold standard", 1)) ++
      (41 to 80).map(i =>
        (i.toLong, s"random web junk noise blob $i clutter spam", 0)))
      .toDF("doc_id", "text", "y")
    val m = Classifier.trainLogReg(docs, col("doc_id"), col("text"),
      col("y"), buckets = 64, iters = 20, lr = 2.0)
    val scored = docs.select(col("y"),
        Classifier.scoreText(col("text"), m).as("p"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val posMin = scored.filter(_._1 == 1).map(_._2).min
    val negMax = scored.filter(_._1 == 0).map(_._2).max
    assert(posMin > negMax,
      s"classifier failed to separate: posMin=$posMin negMax=$negMax")
  }

  test("logreg: weights are partitioning-independent (grid-snapped batch GD)") {
    import graft.llm.Classifier
    import spark.implicits._
    val docs = (1 to 200).map(i =>
        (i.toLong, s"doc number $i with shared words plus token${i % 7}", i % 3 == 0))
      .toDF("doc_id", "text", "y")
    def weights(parts: Int) = {
      val m = Classifier.trainLogReg(docs.repartition(parts), col("doc_id"),
        col("text"), col("y").cast("int"), buckets = 32, iters = 5, lr = 0.5)
      m.bias +: m.w.toSeq
    }
    assert(weights(2) == weights(13),
      "1e-9 grid snap must make the model a pure function of the corpus")
  }

  // ---- trained language ID -----------------------------------------

  test("lang-id: one-vs-rest trained model recovers planted language " +
      "signal; integer argmax is partitioning-independent; agrees with " +
      "the heuristic on its confident cases") {
    import graft.llm.LangId
    import spark.implicits._
    val langs = Seq("de", "en", "es", "fr", "zh")
    val markers = Map(
      "en" -> "the a and", "es" -> "el la que", "de" -> "der die das",
      "fr" -> "le les et", "zh" -> "shi zai bu")
    val docs = (1 to 150).map { i =>
      val l = langs(i % 5)
      (i.toLong, s"shared filler words item $i plus ${markers(l)} ${markers(l)}", l)
    }.toDF("doc_id", "text", "lang")
    val models = LangId.train(docs, col("doc_id"), col("text"), col("lang"),
      langs, buckets = 64, iters = 8, lr = 1.0)
    val pred = LangId.predict(docs, col("doc_id"), col("text"), models)
    val joined = pred.join(docs, pred("id") === docs("doc_id"))
    val acc = joined.filter(col("lang_pred") === col("lang")).count().toDouble /
      joined.count()
    assert(acc >= 0.95, s"trained lang-id accuracy $acc")
    // the integer-micro-unit argmax cannot flake across partitionings
    val pred2 = LangId.predict(
      docs.repartition(13), col("doc_id"), col("text"), models)
    assert(pred.collect().map(_.toString).sorted
      .sameElements(pred2.collect().map(_.toString).sorted))
    // the fused multi-model GD loop must produce EXACTLY the weights
    // the one-at-a-time trainer does (same arithmetic + 1e-9 grid
    // snap per step absorbs float-sum order)
    val oneAtATime = langs.sorted.map { l =>
      l -> graft.llm.Classifier.trainLogReg(docs, col("doc_id"),
        col("text"), (col("lang") === l).cast("int"),
        buckets = 64, iters = 8, lr = 1.0)
    }
    models.zip(oneAtATime).foreach { case ((lf, mf), (ls, msep)) =>
      assert(lf == ls && mf.bias == msep.bias && mf.w.sameElements(msep.w),
        s"fused trainer diverged from trainLogReg for $lf")
    }
    // agreement with the stopword heuristic where IT is confident (the
    // planted markers are the heuristic's own stopwords for the four
    // languages it knows; zh is heuristic-blind and tests coverage)
    val heur = docs.select(col("doc_id").as("id"),
      graft.llm.TextAnalysis.langId(col("text")).as("h"))
    val conf = heur.filter(col("h") =!= "und")
    assert(conf.count() >= 100, "markers must make the heuristic confident")
    val agree = conf.join(pred, "id")
      .filter(col("h") === col("lang_pred")).count()
    assert(agree >= conf.count() * 0.9,
      s"trained/heuristic agreement $agree of ${conf.count()}")
  }

  // ---- bloom incremental exact-dup screen --------------------------

  test("bloom screen: exact dups flagged, uniques pass, no false negatives") {
    import graft.llm.Dedup
    import spark.implicits._
    val hist = Seq((10L, "alpha beta gamma"), (11L, "delta epsilon"))
      .toDF("doc_id", "text")
    val arr = Seq(
      (1L, "alpha beta gamma"), // exact dup of 10
      (2L, "delta epsilon"),    // exact dup of 11
      (3L, "zeta eta theta"),   // novel
      (4L, "alpha beta")        // prefix, NOT a dup
    ).toDF("doc_id", "text")
    val out = Dedup.bloomExactScreen(arr, col("doc_id"), col("text"),
        Dedup.historyBloom(hist, col("text"), expectedItems = 100L),
        hist.select(F.md5(col("text"))).distinct())
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(out.map(t => (t._1, t._3)).toSeq ==
      Seq((1L, true), (2L, true), (3L, false), (4L, false)))
    // Bloom guarantee: every true dup was a bloom hit
    assert(out.forall { case (_, hit, dup) => !dup || hit })
  }

  test("bloom screen: a saturated (tiny) bloom still never misses a dup") {
    import graft.llm.Dedup
    import spark.implicits._
    val hist = (1 to 500).map(i => (i.toLong, s"history document number $i"))
      .toDF("doc_id", "text")
    val arr = (450 to 550).map(i => (i.toLong + 1000, s"history document number $i"))
      .toDF("doc_id", "text") // 450..500 are dups, 501..550 novel
    // expectedItems=8 -> heavy false-positive rate, zero false negatives
    val out = Dedup.bloomExactScreen(arr, col("doc_id"), col("text"),
        Dedup.historyBloom(hist, col("text"), expectedItems = 8L),
        hist.select(F.md5(col("text"))).distinct())
      .collect().map(r => (r.getLong(0) - 1000, r.getBoolean(1), r.getBoolean(2)))
    assert(out.forall { case (i, _, dup) => dup == (i <= 500) },
      "exact verdicts must be exact even under bloom saturation")
    assert(out.forall { case (_, hit, dup) => !dup || hit })
  }

  // ---- BPE training ------------------------------------------------

  test("bpe: learns the hand-computed merge sequence and stops when dry") {
    import spark.implicits._
    // 'abab'×3: round 1 pairs (a,b)=6 > (b,a)=3 → merge (a,b);
    // round 2 the only pair is (ab,ab)=3 → merge; round 3 no pairs.
    val docs = Seq("abab abab", "abab").toDF("text")
    val merges = Bpe.trainMerges(docs, col("text"), nMerges = 8)
    assert(merges == Seq(("a", "b"), ("ab", "ab")), s"got $merges")
  }

  test("bpe: minCount gate yields no merges on a one-off corpus") {
    import spark.implicits._
    val docs = Seq("xy").toDF("text")
    assert(Bpe.trainMerges(docs, col("text"), nMerges = 4).isEmpty)
  }

  test("bpe: encode applies merges greedily left-to-right, in rank order") {
    import spark.implicits._
    val merges = Seq(("a", "b"), ("ab", "ab"))
    val out = Seq("abab ab ba aab").toDF("text")
      .select(Bpe.encode(col("text"), merges).as("enc"))
      .collect()(0).getSeq[Seq[String]](0)
    // 'aab': greedy pass for (a,b) scans a,a → no; a,b → merge ⇒ [a, ab]
    assert(out == Seq(Seq("abab"), Seq("ab"), Seq("b", "a"), Seq("a", "ab")),
      s"got $out")
  }

  test("bpe: batched trainer ≡ sequential when merges don't interact, " +
      "and on the interacting fixture; rounds shrink ~k×") {
    import spark.implicits._
    // property over generated NON-INTERACTING corpora: two-letter
    // words over disjoint alphabet chunks with strictly decreasing
    // frequencies — no pair shares a symbol with another, and a merge
    // collapses its whole word, so no new pair ever appears. The
    // sequential schedule is then provably the ranked pair list, and
    // batched must reproduce it exactly — in ONE round.
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val letters = rnd.shuffle(('a' to 'z').toList).take(12)
      val words = letters.grouped(2).map(p => s"${p(0)}${p(1)}").toSeq
      val text = words.zipWithIndex
        .flatMap { case (w, i) => Seq.fill(20 - 2 * i)(w) }
        .mkString(" ")
      val docs = Seq(text).toDF("text")
      val seqM = Bpe.trainMerges(docs, col("text"), nMerges = 6)
      val (batM, rounds) = Bpe.trainMergesBatched(
        docs, col("text"), nMerges = 6, batchK = 8)
      assert(batM == seqM, s"trial $trial: $batM != $seqM")
      assert(rounds == 1, s"trial $trial: expected 1 round, got $rounds")
    }
    // interacting fixture: (a,b) and (b,a) share symbols, so the
    // greedy prefix takes only (a,b) in round 1 and the created
    // (ab,ab) in round 2 — identical to the sequential table
    val abab = Seq("abab abab", "abab").toDF("text")
    val (batAb, r2) = Bpe.trainMergesBatched(
      abab, col("text"), nMerges = 8, batchK = 8)
    assert(batAb == Seq(("a", "b"), ("ab", "ab")) && r2 == 2)
    // nMerges truncation inside a batch is honored
    val (cut, _) = Bpe.trainMergesBatched(
      Seq("ab ab cd cd cd ef ef ef ef").toDF("text"),
      col("text"), nMerges = 2, batchK = 8)
    assert(cut.size == 2)
  }

  test("bpe: encoding the training corpus reproduces the trained symbols") {
    import spark.implicits._
    val docs = Seq("abab abab", "abab").toDF("text")
    val merges = Bpe.trainMerges(docs, col("text"), nMerges = 8)
    val enc = docs.select(F.explode(Bpe.encode(col("text"), merges)).as("sym"))
      .collect().map(_.getSeq[String](0)).toSet
    assert(enc == Set(Seq("abab")))
  }

  // ---- banded range join -------------------------------------------

  test("range join: matches naive interval join, and plans as a hash join (no BNLJ)") {
    import spark.implicits._
    val fact = (0 until 1000).map(i => (i.toLong, (i % 97) * 1.37)).toDF("id", "v")
    val ranges = (0 until 30)
      .map(i => (i.toLong, i * 4.0, i * 4.0 + 3.0 + (i % 3) * 10.0))
      .toDF("band_id", "lo", "hi")

    val banded = Joins.rangeJoinBanded(fact, col("v"), ranges, "lo", "hi",
        bucketWidth = 8.0)
      .select("id", "band_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = fact.join(ranges, col("v") >= col("lo") && col("v") < col("hi"))
      .select("id", "band_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == naive,
      s"banded != naive; missing=${naive diff banded} extra=${banded diff naive}")

    val plan = Joins.rangeJoinBanded(fact, col("v"), ranges, "lo", "hi", 8.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must not fall back to a nested loop:\n$plan")
  }

  // ---- z-order layout ----------------------------------------------

  test("zorder: interleave bit pattern is the Morton code") {
    import spark.implicits._
    val cases = Seq(
      (0L, 0L, 0L), (1L, 0L, 1L), (0L, 1L, 2L), (1L, 1L, 3L),
      (2L, 0L, 4L), (0L, 2L, 8L), (3L, 3L, 15L), (255L, 0L, 0x5555L),
      (0L, 255L, 0xAAAAL), (255L, 255L, 0xFFFFL))
    val got = cases.map(_._1).zip(cases.map(_._2)).toDF("b1", "b2")
      .select(Layout.zValue(col("b1"), col("b2"), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._3), s"morton mismatch: $got")
  }

  test("zorder: axis bucket clamps the fixed domain") {
    import spark.implicits._
    val got = Seq(-5.0, 0.0, 255.9, 256.0, 511.9, 512.0, 9999.0)
      .toDF("v")
      .select(Layout.axisBucket(col("v"), 0.0, 512.0, 8).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 0L, 127L, 128L, 255L, 255L, 255L), s"buckets: $got")
  }

  test("compact: many small files fold into few, content identical, crash-leftovers refused") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val tbl = s"$dir/t"
    (1 to 5000).map(i => (i.toLong, s"row $i")).toDF("id", "s")
      .repartition(64).write.parquet(tbl)
    def files = new java.io.File(tbl).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    val before = files
    val rows = spark.read.parquet(tbl).collect().map(_.toString).sorted
    Layout.compact(spark, tbl, targetBytes = 1L << 30,
      sortBy = Some(col("id")))
    assert(files < before && files <= 2, s"still $files files after compact")
    val after = spark.read.parquet(tbl).collect().map(_.toString).sorted
    assert(after.sameElements(rows), "compaction must not change content")
    // a leftover __old directory from a crashed run must refuse the swap
    new java.io.File(s"$dir/t__old").mkdirs()
    val e = intercept[RuntimeException] {
      Layout.compact(spark, tbl, targetBytes = 1L << 30)
    }
    assert(e.getMessage.contains("previous compaction"))
  }

  test("zorder layout prunes BOTH axes; linear sort only its prefix") {
    import spark.implicits._
    val n = 1 << 14
    // deterministic pseudo-random 2-d points on [0,1024)^2
    val pts = (0 until n).map { i =>
      val h = scala.util.hashing.MurmurHash3.stringHash(i.toString)
      ((h & 0x3FF).toDouble, ((h >>> 10) & 0x3FF).toDouble)
    }.toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString

    val zLayout = Layout.zorderWrite(pts, s"$dir/z",
      col("x"), 0.0, 1024.0, col("y"), 0.0, 1024.0, bits = 8, files = 16)
    val xLayout = {
      pts.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
        .write.mode("overwrite").parquet(s"$dir/x")
      spark.read.parquet(s"$dir/x")
    }
    val zEnv = Layout.fileEnvelopes(zLayout, col("x"), col("y")).cache()
    val xEnv = Layout.fileEnvelopes(xLayout, col("x"), col("y")).cache()

    // a 1/16-wide slab on each axis
    val zFilesY = Layout.filesTouched(zEnv, 2, 256.0, 319.9)
    val xFilesY = Layout.filesTouched(xEnv, 2, 256.0, 319.9)
    val zFilesX = Layout.filesTouched(zEnv, 1, 256.0, 319.9)
    assert(xFilesY == 16L, "linear-by-x layout cannot prune a y predicate")
    assert(zFilesY < 16L, s"z layout should prune y ($zFilesY files)")
    assert(zFilesX < 16L, s"z layout should prune x ($zFilesX files)")
  }
}
