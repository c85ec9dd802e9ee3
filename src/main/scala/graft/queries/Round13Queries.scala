package graft.queries

import graft.cubes.Tables
import graft.llm.Pii
import org.apache.spark.sql.{functions => F}

/** Round-13 additions: the widened PII pattern set, per-stratum
  * quantile binning, the trigram backoff language model, and
  * embedding-space decontamination. Exact DuckDB replays throughout —
  * every regex constant is interpolated from the Scala definition so
  * engine and oracle cannot drift, and the LM oracle re-trains the
  * identical model in SQL (the q137/q174 discipline).
  */
object Round13Queries {
  import org.apache.spark.sql.functions.col

  /** Row cap of q195's eager collect. The 300-token budget keeps its
    * sample to a few rows per source (55–62 on the fixture corpora), so
    * a result past the cap means the budget no longer bounds it. */
  private val Q195MaxRows = 10000

  /** The rows of `df`, fetched with `take(cap + 1)`; throws when there
    * are more than `cap`, instead of pulling them all to the driver. */
  private[graft] def collectAtMost(df: org.apache.spark.sql.DataFrame,
      cap: Int, what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.take(cap + 1)
    if (rows.length > cap) throw new IllegalStateException(
      s"$what: more than $cap rows, too many to collect at the driver")
    rows
  }

  /** Deterministic plant for the widened scrub: email, IBAN, SSN, IP,
    * and an international (+code) phone, all derived from doc_id —
    * identical on the oracle side ([[augmentV2Sql]]). The NANP 3-3-4
    * shape is deliberately ABSENT so q183 also pins n_phone = 0 (the
    * new patterns must not claim NANP hits and vice versa). */
  private def plantedPiiV2(text: org.apache.spark.sql.Column) = F.concat(
    text,
    F.lit(" contact user"), col("doc_id").cast("string"),
    F.lit("@ex-mail.org iban GB29NWBK6016"),
    F.lpad((col("doc_id") % 100000000).cast("string"), 8, "0"),
    F.lit(" ssn "), F.lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
    F.lit("-"), F.lpad((col("doc_id") % 100).cast("string"), 2, "0"),
    F.lit("-"), F.lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
    F.lit(" via 10."), (col("doc_id") % 256).cast("string"), F.lit(".0."),
    ((col("doc_id") * 7) % 256).cast("string"),
    F.lit(" tel +44 20 "), F.lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
    F.lit(" "), F.lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0"),
    F.lit(" now"))

  private val augmentV2Sql =
    """SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |  '@ex-mail.org iban GB29NWBK6016' ||
      |  lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') ||
      |  ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |  lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
      |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |  ' via 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
      |  CAST((doc_id * 7) % 256 AS VARCHAR) ||
      |  ' tel +44 20 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |  ' ' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0') ||
      |  ' now' AS t
      |FROM documents""".stripMargin

  /** A scratch dir for queries that materialize an index or a
    * manifested table (q188/q196/q198/q200): unique per invocation (a
    * FIXED path would let two concurrent runs — verify beside bench —
    * wipe each other's live tables mid-query), with stale siblings
    * from PRIOR runs reaped by age so repeated local loops stay at a
    * bounded footprint instead of leaking a tree per invocation. */
  private def freshQueryDir(name: String): String = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 2L * 3600 * 1000
    val siblings = java.nio.file.Files.list(tmp)
    try siblings.forEach { p =>
      if (p.getFileName.toString.startsWith(s"graft_q_${name}_") &&
          java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff) {
        val w = java.nio.file.Files.walk(p)
        try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
        finally w.close()
      }
    } finally siblings.close()
    java.nio.file.Files.createTempDirectory(s"graft_q_${name}_").toString
  }

  /** The g2/g3 word-gram lists over a relation exposing `doc_id` and
    * `w` — shared by the q194 and q195 oracles. */
  private def gopherGramsSql(rel: String): String =
    s"""SELECT doc_id,
       |  CASE WHEN len(w) >= 2
       |    THEN [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]
       |    ELSE [] END AS g2,
       |  CASE WHEN len(w) >= 3
       |    THEN [array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]
       |    ELSE [] END AS g3
       |  FROM $rel""".stripMargin

  /** The nine Gopher signal expressions over pre-split columns (`w`,
    * `lw`, `lines`, the raw text `txt`) joined with the gram lists —
    * SELECT items shared VERBATIM by the q194 and q195 oracles so a
    * threshold or signal fix can never make the two gates drift. */
  private def gopherSignalsSql(txt: String): String =
    s"""  CAST(len(w) AS INT) AS n_words,
       |  round(list_sum(list_transform(w, x -> len(x)))::DOUBLE /
       |    greatest(len(w), 1), 6) AS mean_word_len,
       |  round(((len($txt) - len(replace($txt, '#', ''))) +
       |    (len($txt) - len(replace($txt, '...', ''))) / 3)::DOUBLE /
       |    greatest(len(w), 1), 6) AS symbol_ratio,
       |  round(len(list_filter(lines, x ->
       |      regexp_matches(trim(x), '^[-*•]')))::DOUBLE /
       |    greatest(len(lines), 1), 6) AS bullet_frac,
       |  round(len(list_filter(lines, x ->
       |      regexp_matches(trim(x), '\\.\\.\\.$$')))::DOUBLE /
       |    greatest(len(lines), 1), 6) AS ellipsis_frac,
       |  round(len(list_filter(w, x ->
       |      regexp_matches(x, '[A-Za-z]')))::DOUBLE /
       |    greatest(len(w), 1), 6) AS alpha_frac,
       |  CAST(len(list_filter(list_distinct(lw), x -> list_contains(
       |    ['the','be','to','of','and','that','have','with'], x)))
       |    AS INT) AS stop_hits,
       |  CASE WHEN len(g2) > 0
       |    THEN round(list_max([len(list_filter(g2, x -> x = y))
       |                         for y in list_distinct(g2)])::DOUBLE
       |               / len(g2), 6)
       |    ELSE 0.0 END AS top2_cov,
       |  CASE WHEN len(g3) > 0
       |    THEN round(1 - len(list_distinct(g3))::DOUBLE / len(g3), 6)
       |    ELSE 0.0 END AS dup3_frac""".stripMargin

  /** The fixture-scaled Gopher gate conjunction over the signal
    * aliases (minWords 20, minStopHits 1 — see q194's registration
    * comment). */
  private val gopherKeptSql: String =
    """n_words >= 20 AND n_words <= 100000 AND
      |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
      |   symbol_ratio <= 0.1 AND bullet_frac <= 0.1 AND
      |   ellipsis_frac <= 0.3 AND alpha_frac >= 0.8 AND
      |   stop_hits >= 1 AND top2_cov <= 0.2 AND dup3_frac <= 0.3""".stripMargin

  /** The [[Pii.redactAll]] chain rendered over a DuckDB column. */
  private def redactAllSql(c: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    regexp_replace(regexp_replace($c,
       |    '${Pii.EmailRe}', '<EMAIL>', 'g'),
       |    '${Pii.IntlPhoneRe}', '<PHONE>', 'g'),
       |    '${Pii.PhoneRe}', '<PHONE>', 'g'),
       |    '${Pii.SsnRe}', '<SSN>', 'g'),
       |    '${Pii.IbanRe}', '<IBAN>', 'g'),
       |    '${Pii.Ipv4Re}', '<IP>', 'g')""".stripMargin

  val qs: Seq[NamedQuery] = Seq(

    // Widened PII scrub: per-type hit counts over the full pattern set
    // (email, international + NANP phone, SSN, IBAN, IPv4), the gate
    // flag, the md5 of the fully-redacted text (pinning every
    // replacement site and the chain order), and the idempotency bit
    // re-scrubbing must be the identity. Still one map-only codegen'd
    // projection.
    NamedQuery("q183_pii_scrub_v2",
      (s, d) => {
        val aug = Tables.documents(s, d).select(col("doc_id"),
          plantedPiiV2(col("text")).as("text"))
        Pii.scrubAll(aug, col("doc_id"), col("text"))
          .select(col("doc_id"), col("n_email"), col("n_phone_intl"),
            col("n_phone"), col("n_ssn"), col("n_iban"), col("n_ip"),
            col("has_pii"),
            (Pii.redactAll(col("text_redacted")) === col("text_redacted"))
              .as("idempotent"),
            F.md5(col("text_redacted")).as("redacted_md5"))
          .orderBy(col("doc_id").asc)
      },
      Some(s"""WITH a AS ($augmentV2Sql),
             |st AS (SELECT doc_id, t,
             |  regexp_replace(t, '${Pii.EmailRe}', '<EMAIL>', 'g') AS t1
             |  FROM a),
             |st2 AS (SELECT *,
             |  regexp_replace(t1, '${Pii.IntlPhoneRe}', '<PHONE>', 'g') AS t2
             |  FROM st),
             |st3 AS (SELECT *,
             |  regexp_replace(t2, '${Pii.PhoneRe}', '<PHONE>', 'g') AS t3
             |  FROM st2),
             |st4 AS (SELECT *,
             |  regexp_replace(t3, '${Pii.SsnRe}', '<SSN>', 'g') AS t4
             |  FROM st3),
             |st5 AS (SELECT *,
             |  regexp_replace(t4, '${Pii.IbanRe}', '<IBAN>', 'g') AS t5
             |  FROM st4),
             |-- counts are STAGED like the engine's: each pattern counts
             |-- on the text as its chain stage sees it, so overlapping
             |-- shapes never double-count
             |c AS (SELECT doc_id, t,
             |  len(regexp_extract_all(t, '${Pii.EmailRe}')) AS n_email,
             |  len(regexp_extract_all(t1, '${Pii.IntlPhoneRe}')) AS n_phone_intl,
             |  len(regexp_extract_all(t2, '${Pii.PhoneRe}')) AS n_phone,
             |  len(regexp_extract_all(t3, '${Pii.SsnRe}')) AS n_ssn,
             |  len(regexp_extract_all(t4, '${Pii.IbanRe}')) AS n_iban,
             |  len(regexp_extract_all(t5, '${Pii.Ipv4Re}')) AS n_ip
             |  FROM st5)
             |SELECT doc_id, n_email, n_phone_intl, n_phone, n_ssn, n_iban,
             |  n_ip,
             |  (n_email + n_phone_intl + n_phone + n_ssn + n_iban + n_ip > 0)
             |    AS has_pii,
             |  true AS idempotent,
             |  md5(${redactAllSql("t")}) AS redacted_md5
             |FROM c ORDER BY doc_id ASC""".stripMargin)),

    // Per-stratum quantile binning: n_chars quartiles computed WITHIN
    // each source (grouped exact-percentile boundaries, broadcast back)
    // — curriculum phases that respect each stratum's own length
    // distribution. Same interpolated-percentile + ties-go-high
    // convention as the global q181, so every grouped cut point and
    // assignment replays bit-for-bit.
    NamedQuery("q184_stratified_bins",
      (s, d) => graft.operators.Binning.withStratumQuantileBin(
          Tables.documents(s, d), "source", "n_chars", n = 4)
        .groupBy(col("source"), col("bin"))
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.min(col("n_chars")).as("min_chars"),
          F.max(col("n_chars")).as("max_chars"))
        .orderBy(col("source").asc, col("bin").asc),
      Some("""WITH b AS (SELECT source,
             |    quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS bnd
             |  FROM documents GROUP BY source),
             |a AS (SELECT d.source, d.n_chars,
             |    1 + len(list_filter(b.bnd, x -> d.n_chars >= x)) AS bin
             |  FROM documents d JOIN b
             |    ON d.source IS NOT DISTINCT FROM b.source)
             |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM a GROUP BY 1, 2 ORDER BY source ASC, bin ASC""".stripMargin)),

    // corpus-trained trigram LM with stupid backoff, self-scored: per
    // doc, avg ln S over its trigram positions. On the training corpus
    // every trigram is in the model, so S = C(a,b,c)/C(a,b) throughout
    // — the oracle retrains the identical counts in SQL and replays
    // each logarithm; q186 is the held-out face that exercises the
    // backoff chain.
    NamedQuery("q185_trigram_lm",
      (s, d) => graft.llm.LangModel.trigramScore(
          Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy(col("doc_id").asc),
      Some("""WITH t AS MATERIALIZED (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
             |  FROM documents),
             |tri AS MATERIALIZED (
             |  SELECT doc_id, w[i] AS a, w[i+1] AS b, w[i+2] AS c
             |  FROM t, UNNEST(range(1, len(w) - 1)) AS r(i)
             |  WHERE len(w) >= 3),
             |c3 AS MATERIALIZED (
             |  SELECT a, b, c, count(*) AS cnt3 FROM tri GROUP BY 1, 2, 3),
             |big AS MATERIALIZED (
             |  SELECT w[i] AS a, w[i+1] AS b, count(*) AS cnt2
             |  FROM t, UNNEST(range(1, len(w))) AS r(i)
             |  WHERE len(w) >= 2 GROUP BY 1, 2)
             |SELECT tri.doc_id, CAST(count(*) AS INT) AS n_trigrams,
             |  round(avg(ln(CAST(c3.cnt3 AS DOUBLE) / ab.cnt2)), 6) AS logprob
             |FROM tri
             |JOIN c3 ON c3.a = tri.a AND c3.b = tri.b AND c3.c = tri.c
             |JOIN big ab ON ab.a = tri.a AND ab.b = tri.b
             |GROUP BY tri.doc_id ORDER BY doc_id ASC""".stripMargin)),

    // HELD-OUT trigram scoring — the backoff chain under fire: train on
    // every source except src0, score src0. Unseen trigrams fall to
    // 0.4·C(b,c)/C(b); unseen bigrams to the add-one unigram floor
    // 0.16·(C(c)+1)/(N+|V|). The oracle retrains the identical model on
    // the same split and replays the three-branch CASE logarithm for
    // logarithm (0.16 is a shared literal on both sides — 0.4² in
    // binary floating point is NOT 0.16).
    NamedQuery("q186_trigram_heldout",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = graft.llm.LangModel.trainTrigramModel(
          docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
        graft.llm.LangModel.trigramScoreAgainst(
            model, docs.filter(col("source") === "src0"),
            col("doc_id"), col("text"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH t AS MATERIALIZED (
             |  SELECT doc_id, source,
             |    string_split_regex(trim(lower(text)), '\s+') AS w
             |  FROM documents),
             |tr AS MATERIALIZED (SELECT * FROM t WHERE source <> 'src0'),
             |te AS MATERIALIZED (SELECT * FROM t WHERE source = 'src0'),
             |c3 AS MATERIALIZED (
             |  SELECT w[i] AS a, w[i+1] AS b, w[i+2] AS c, count(*) AS cnt3
             |  FROM tr, UNNEST(range(1, len(w) - 1)) AS r(i)
             |  WHERE len(w) >= 3 GROUP BY 1, 2, 3),
             |big AS MATERIALIZED (
             |  SELECT w[i] AS a, w[i+1] AS b, count(*) AS cnt2
             |  FROM tr, UNNEST(range(1, len(w))) AS r(i)
             |  WHERE len(w) >= 2 GROUP BY 1, 2),
             |uni AS MATERIALIZED (
             |  SELECT wd, count(*) AS cnt1
             |  FROM (SELECT unnest(w) AS wd FROM tr) GROUP BY 1),
             |tot AS MATERIALIZED (
             |  SELECT CAST(sum(cnt1) AS DOUBLE) AS n_tokens,
             |    CAST(count(*) AS DOUBLE) AS n_vocab FROM uni),
             |tri AS MATERIALIZED (
             |  SELECT doc_id, w[i] AS a, w[i+1] AS b, w[i+2] AS c
             |  FROM te, UNNEST(range(1, len(w) - 1)) AS r(i)
             |  WHERE len(w) >= 3)
             |SELECT tri.doc_id, CAST(count(*) AS INT) AS n_trigrams,
             |  round(avg(ln(CASE
             |    WHEN c3.cnt3 IS NOT NULL THEN CAST(c3.cnt3 AS DOUBLE) / ab.cnt2
             |    WHEN bc.cnt2 IS NOT NULL THEN 0.4::DOUBLE * bc.cnt2 / ub.cnt1
             |    ELSE 0.16::DOUBLE * (coalesce(uc.cnt1, 0) + 1.0) /
             |      (tot.n_tokens + tot.n_vocab)
             |  END)), 6) AS logprob
             |FROM tri
             |LEFT JOIN c3 ON c3.a = tri.a AND c3.b = tri.b AND c3.c = tri.c
             |LEFT JOIN big ab ON ab.a = tri.a AND ab.b = tri.b
             |LEFT JOIN big bc ON bc.a = tri.b AND bc.b = tri.c
             |LEFT JOIN uni ub ON ub.wd = tri.b
             |LEFT JOIN uni uc ON uc.wd = tri.c
             |CROSS JOIN tot
             |GROUP BY tri.doc_id ORDER BY doc_id ASC""".stripMargin)),

    // Embedding-space decontamination: benchmark = every 50th vector,
    // train = the rest; flag train rows with cosine >= 0.35 to any
    // benchmark vector — the semantic gate that catches translated /
    // paraphrased leakage MinHash banding (q156) cannot. Bench side
    // broadcast, train side map-only; the oracle recomputes every
    // cross-pair cosine in double (the q65 discipline).
    NamedQuery("q187_embed_decontam",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        graft.llm.Decontaminate.embeddingContaminationPairs(
            emb.filter(col("vec_id") % 50 =!= 0), col("vec_id"), col("embedding"),
            emb.filter(col("vec_id") % 50 === 0), col("vec_id"), col("embedding"),
            threshold = 0.35)
          .orderBy(col("doc_id").asc, col("bench_id").asc)
      },
      Some("""WITH b AS (SELECT vec_id AS bench_id, embedding AS be
             |  FROM embeddings WHERE vec_id % 50 = 0),
             |t AS (SELECT vec_id AS doc_id, embedding AS te
             |  FROM embeddings WHERE vec_id % 50 <> 0),
             |s AS (SELECT t.doc_id, b.bench_id,
             |  list_sum([ (te[i]::DOUBLE) * (be[i]::DOUBLE) for i in range(1, 65)]) /
             |  (sqrt(list_sum([ (te[i]::DOUBLE) * (te[i]::DOUBLE) for i in range(1, 65)])) *
             |   sqrt(list_sum([ (be[i]::DOUBLE) * (be[i]::DOUBLE) for i in range(1, 65)]))) AS cosine
             |  FROM t CROSS JOIN b)
             |SELECT doc_id, bench_id, round(cosine, 6) AS cosine
             |FROM s WHERE cosine >= 0.35
             |ORDER BY doc_id ASC, bench_id ASC""".stripMargin)),

    // IVFADC (Jégou et al. 2011): the materialized index stores PQ
    // codes PER IVF CELL; a probe is cell-pruned partitions × a
    // compressed (codes-only) ADC scan × exact rerank — the
    // configuration that serves 1e9+ vectors. Invariants (the q79/q160
    // pattern): recall@5 vs brute force clears the nProbe=6 IVF bar,
    // and the EXHAUSTIVE probe is row-identical to flat pqTopK under
    // the stored codebooks — the composition changes the scan, never
    // the math. Shortlist ∝ corpus (10%, floored at 50), the
    // scale-invariant contract q160 established.
    NamedQuery("q188_ivfadc",
      (s, d) => {
        import graft.llm.Similarity
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id").as("id"), col("embedding"))
        val queries = emb.filter(col("id") < 10)
        val rerank = math.max(50, (emb.count() / 10).toInt)
        val path = freshQueryDir("ivfadc")
        Similarity.ivfadcBuildIndex(s, emb, path, nLists = 16, m = 16,
          ksub = 16, seed = 7L)
        val keys = Seq("query_id", "neighbor_id")
        val adc = Similarity.ivfadcTopK(s, queries, path, k = 5,
          nProbe = 6, rerank = rerank).select(keys.head, keys.tail: _*)
        val exhaustive = Similarity.ivfadcTopK(s, queries, path, k = 5,
          nProbe = 16, rerank = rerank).select(keys.head, keys.tail: _*)
        val flat = Similarity.pqTopK(queries, emb, 5, m = 16, ksub = 16,
            rerank = rerank, codebooks = Similarity.readCodebooks(s, path))
          .select(keys.head, keys.tail: _*)
        val brute = Similarity.bruteForceTopK(queries, emb, 5)
          .select(keys.head, keys.tail: _*)
        val nExact = brute.agg(F.count(F.lit(1)).as("n_exact"))
        val hits = brute.join(adc, keys, "left_semi")
          .agg(F.count(F.lit(1)).as("__h"))
        val diff = exhaustive.join(flat, keys, "left_anti")
          .unionByName(flat.join(exhaustive, keys, "left_anti"))
          .agg(F.count(F.lit(1)).as("__d"))
        nExact.crossJoin(hits).crossJoin(diff).select(
          col("n_exact"),
          (col("__h") >= col("n_exact") * 0.6).as("recall_ok"),
          (col("__d") === 0).as("matches_pq"))
      },
      Some("""SELECT CAST(50 AS BIGINT) AS n_exact,
             |true AS recall_ok, true AS matches_pq""".stripMargin)),

    // CCNet-style perplexity bucketing (Wenzek et al. 2019): the
    // corpus-trained LM score cut into head/middle/tail TERCILES
    // WITHIN each source — the round-13 trigram LM (q185) composed
    // with per-stratum quantile binning (q184) as one plan. Low
    // logprob = high perplexity = tail, exactly CCNet's split. The
    // oracle chains both proven mirrors: re-train the LM, re-cut the
    // terciles, re-assign every doc.
    NamedQuery("q189_ccnet_buckets",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val scored = graft.llm.LangModel.trigramScore(
            docs, col("doc_id"), col("text"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        graft.operators.Binning.withStratumQuantileBin(
            scored, "source", "logprob", n = 3)
          .withColumn("bucket", F.element_at(
            F.array(F.lit("tail"), F.lit("middle"), F.lit("head")),
            col("bin")))
          .groupBy(col("source"), col("bucket"))
          .agg(F.count(F.lit(1)).as("n_docs"),
            // per-doc logprob is 6dp-rounded, so its micro-units are
            // exact longs: summing THOSE makes the bucket mean
            // independent of partitioning/join order — a plain
            // avg(double) straddles the 6th decimal when an engine
            // reorders the sum (the round-13 q189 1-ulp flake)
            F.round(F.sum(F.round(col("logprob") * 1e6).cast("long"))
              .cast("double") / F.count(F.lit(1)) / 1e6, 6).as("avg_logprob"))
          .orderBy(col("source").asc, col("bucket").asc)
      },
      Some("""WITH t AS MATERIALIZED (
             |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
             |  FROM documents),
             |tri AS MATERIALIZED (
             |  SELECT doc_id, w[i] AS a, w[i+1] AS b, w[i+2] AS c
             |  FROM t, UNNEST(range(1, len(w) - 1)) AS r(i)
             |  WHERE len(w) >= 3),
             |c3 AS MATERIALIZED (
             |  SELECT a, b, c, count(*) AS cnt3 FROM tri GROUP BY 1, 2, 3),
             |big AS MATERIALIZED (
             |  SELECT w[i] AS a, w[i+1] AS b, count(*) AS cnt2
             |  FROM t, UNNEST(range(1, len(w))) AS r(i)
             |  WHERE len(w) >= 2 GROUP BY 1, 2),
             |sc AS MATERIALIZED (
             |  SELECT tri.doc_id,
             |    round(avg(ln(CAST(c3.cnt3 AS DOUBLE) / ab.cnt2)), 6) AS logprob
             |  FROM tri
             |  JOIN c3 ON c3.a = tri.a AND c3.b = tri.b AND c3.c = tri.c
             |  JOIN big ab ON ab.a = tri.a AND ab.b = tri.b
             |  GROUP BY tri.doc_id),
             |ds AS MATERIALIZED (
             |  SELECT sc.doc_id, sc.logprob, d.source
             |  FROM sc JOIN documents d USING (doc_id)),
             |bnd AS (SELECT source,
             |    quantile_cont(logprob, [0.3333333333333333, 0.6666666666666666]) AS b
             |  FROM ds GROUP BY source),
             |a AS (SELECT ds.source, ds.logprob,
             |    1 + len(list_filter(bnd.b, x -> ds.logprob >= x)) AS bin
             |  FROM ds JOIN bnd
             |    ON ds.source IS NOT DISTINCT FROM bnd.source),
             |lab AS (SELECT source, logprob,
             |    CASE bin WHEN 1 THEN 'tail' WHEN 2 THEN 'middle'
             |      ELSE 'head' END AS bucket
             |  FROM a)
             |SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
             |  round(sum(CAST(round(logprob * 1e6) AS BIGINT))::DOUBLE /
             |    count(*) / 1e6, 6) AS avg_logprob
             |FROM lab GROUP BY 1, 2
             |ORDER BY source ASC, bucket ASC""".stripMargin)),

    // Interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1998
    // fixed-discount) — the continuation-count upgrade of the q185
    // trigram gate. Unlike stupid backoff, interpolation mixes all
    // three orders into EVERY position, so even this self-score face
    // exercises the full formula (discount, λ weights, continuation
    // unigram). The oracle re-derives every continuation table from
    // the re-trained trigram type table and replays the three-level
    // interpolation expression for expression.
    NamedQuery("q190_kneser_ney",
      (s, d) => graft.llm.LangModel.kneserNeyScore(
          Tables.documents(s, d), col("doc_id"), col("text"))
        .orderBy(col("doc_id").asc),
      Some(knOracleSql(split = false))),

    // Held-out Kneser-Ney: train on every source except src0, score
    // src0 — the unseen-trigram discount floor, unseen-context λ = 1
    // fallthroughs, and the OOV continuation-unigram floor all under
    // fire. Same re-train oracle over the split corpus.
    NamedQuery("q191_kn_heldout",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val model = graft.llm.LangModel.trainTrigramModel(
          docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
        graft.llm.LangModel.kneserNeyScoreAgainst(
            model, docs.filter(col("source") === "src0"),
            col("doc_id"), col("text"))
          .orderBy(col("doc_id").asc)
      },
      Some(knOracleSql(split = true))),

    // tf-idf (smooth-idf: ln((1+N)/(1+df))+1): per doc the top-3 terms.
    // DF is derived from the distinct (doc, term) rows — never a second
    // corpus scan — and the ranking ties break on (rounded score, term)
    // so both engines produce the identical top-k.
    NamedQuery("q192_tfidf_terms",
      (s, d) => graft.llm.TextAnalysis.tfIdfTopTerms(
          Tables.documents(s, d), col("doc_id"), col("text"), k = 3)
        .orderBy(col("doc_id").asc, col("rnk").asc),
      Some("""WITH t AS MATERIALIZED (
             |  SELECT doc_id,
             |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
             |  FROM documents),
             |tf AS MATERIALIZED (
             |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
             |dfreq AS MATERIALIZED (
             |  SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
             |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             |    round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dfreq.df)) + 1.0),
             |      6) AS score
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
             |  FROM s)
             |SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk
             |FROM r WHERE rnk <= 3 ORDER BY doc_id ASC, rnk ASC""".stripMargin)),

    // C4 cleanup (Raffel et al. 2020 §2.2): line rules (terminal
    // punctuation, ≥5 words, no javascript) + page rules (≥3 kept
    // lines, no lorem ipsum, no curly brace). The fixture text is
    // single-line word soup, so the query PLANTS a deterministic
    // 5-line page per doc (the q183 discipline) that exercises every
    // rule: docs ≡0 mod 3 lose their middle line to the javascript
    // rule (→ 2 kept → page dropped), ≡0 mod 7 carry lorem ipsum,
    // ≡0 mod 11 a brace line. The md5 of the cleaned text pins every
    // kept line and the join order.
    NamedQuery("q193_c4_clean",
      (s, d) => {
        val planted = F.concat(
          F.lit("This document number "), col("doc_id").cast("string"),
          F.lit(" begins with a proper sentence.\n"),
          F.lit("too short.\n"),
          F.when(col("doc_id") % 3 === 0,
              F.lit("this line mentions javascript and still ends properly.\n"))
            .otherwise(F.lit("a perfectly ordinary middle sentence appears here.\n")),
          F.lit("no terminal punctuation on this line\n"),
          F.lit("the closing sentence of document "), col("doc_id").cast("string"),
          F.when(col("doc_id") % 7 === 0,
              F.lit(" wraps things up with lorem ipsum."))
            .otherwise(F.lit(" wraps things up.")),
          F.when(col("doc_id") % 11 === 0,
            F.lit("\nbrace { inside.")).otherwise(F.lit("")))
        graft.llm.TextAnalysis.c4Clean(
            Tables.documents(s, d).withColumn("text", planted),
            col("doc_id"), col("text"))
          .select(col("doc_id"), col("n_lines"), col("n_kept"),
            col("kept_doc"), F.md5(col("text_clean")).as("clean_md5"))
          .orderBy(col("doc_id").asc)
      },
      Some("""WITH aug AS MATERIALIZED (SELECT doc_id,
             |  'This document number ' || CAST(doc_id AS VARCHAR) ||
             |  ' begins with a proper sentence.' || chr(10) ||
             |  'too short.' || chr(10) ||
             |  CASE WHEN doc_id % 3 = 0
             |    THEN 'this line mentions javascript and still ends properly.'
             |    ELSE 'a perfectly ordinary middle sentence appears here.'
             |  END || chr(10) ||
             |  'no terminal punctuation on this line' || chr(10) ||
             |  'the closing sentence of document ' || CAST(doc_id AS VARCHAR) ||
             |  CASE WHEN doc_id % 7 = 0 THEN ' wraps things up with lorem ipsum.'
             |    ELSE ' wraps things up.' END ||
             |  CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'brace { inside.'
             |    ELSE '' END AS t
             |  FROM documents),
             |k AS (SELECT doc_id, t, string_split(t, chr(10)) AS lines,
             |    list_filter(string_split(t, chr(10)), x ->
             |      regexp_matches(trim(x), '[.!?]$')
             |      AND len(string_split_regex(trim(x), '\s+')) >= 5
             |      AND NOT contains(lower(x), 'javascript')) AS kept
             |  FROM aug)
             |SELECT doc_id, CAST(len(lines) AS INT) AS n_lines,
             |  CAST(len(kept) AS INT) AS n_kept,
             |  (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
             |    AND NOT contains(t, '{')) AS kept_doc,
             |  md5(array_to_string(kept, chr(10))) AS clean_md5
             |FROM k ORDER BY doc_id ASC""".stripMargin)),

    // The Gopher quality rule set (Rae et al. 2021 §A1.1) — all nine
    // signals and the conjunctive gate in one map-only projection.
    // minWords (20) and minStopHits (1) are scaled to the fixture (the
    // library defaults stay the published 50 / 2 — the soup docs run
    // 10–99 words and their vocabulary contains exactly one Gopher
    // stop word); every other threshold is the published value. With
    // that scaling the gate splits the corpus ~367/133, so every rule
    // is live. Rules compare on the ROUNDED signals, so the oracle
    // replays the gate bit for bit.
    NamedQuery("q194_gopher_rules",
      (s, d) => graft.llm.TextAnalysis.gopherRules(
          Tables.documents(s, d), col("doc_id"), col("text"),
          minWords = 20, minStopHits = 1)
        .orderBy(col("doc_id").asc),
      Some(s"""WITH t AS MATERIALIZED (SELECT doc_id, text,
              |    string_split_regex(trim(text), '\\s+') AS w,
              |    string_split_regex(trim(lower(text)), '\\s+') AS lw,
              |    string_split(text, chr(10)) AS lines
              |  FROM documents),
              |g AS (${gopherGramsSql("t")}),
              |m AS (SELECT t.doc_id,
              |${gopherSignalsSql("text")}
              |  FROM t JOIN g USING (doc_id))
              |SELECT *, ($gopherKeptSql) AS kept
              |FROM m ORDER BY doc_id ASC""".stripMargin)),

    // CAPSTONE v4 — the round-13 operators composed into one curation
    // pass as ONE declarative plan: Gopher quality gate (q194) →
    // widened PII scrub (q183, scrub-not-drop) → interpolated-KN
    // perplexity terciles per source, tail dropped (q190 × q184, the
    // CCNet split of q189 with the better LM) → token-budget mixture
    // (q122) over the redacted text. PII is planted deterministically
    // (the q183 discipline) so the scrub stage does real work and the
    // LM trains on genuinely redacted text. The oracle chains each
    // stage's already-proven mirror over the same intermediate corpora
    // — Gopher conjunction, redactAll chain, KN continuation-table
    // replay, per-source tercile cut, budget window — end to end.
    // The builder is EAGER: it runs the pipeline and returns its rows
    // as a local relation (see the capped collect below).
    NamedQuery("q195_curation_v4",
      (s, d) => {
        import graft.llm.{LangModel, Pii, TextAnalysis}
        val docs = Tables.documents(s, d)
        val planted = docs.withColumn("text", plantedPiiV2(col("text")))
        val gate = TextAnalysis.gopherRules(planted, col("doc_id"),
            col("text"), minWords = 20, minStopHits = 1)
          .filter(col("kept")).select("doc_id")
        val survivors = planted.join(gate, Seq("doc_id"), "left_semi")
        // the planted→Gopher→scrub regex lineage feeds the KN trigram
        // pass, the KN unigram pass, and the score join — materialize
        // it once (it is survivor-sized; the regex chains are the
        // expensive part)
        val scrubbed = Pii.scrubAll(survivors, col("doc_id"), col("text"))
          .select(col("doc_id"), col("text_redacted"))
          .join(survivors.select(col("doc_id"), col("source")), "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the KN-scored frame feeds BOTH the per-source quantile
        // boundaries and the bin join — materialize it once
        // (memory-with-disk-spill, the bigramScore discipline) so the
        // whole train+score subplan executes ONCE instead of twice.
        // Results unchanged: persist only collapses recomputation.
        val scored = LangModel.kneserNeyScore(
            scrubbed, col("doc_id"), col("text_redacted"))
          .join(scrubbed, "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val surv = graft.operators.Binning.withStratumQuantileBin(
            scored, "source", "logprob", n = 3)
          .filter(col("bin") >= 2)
        val result = graft.llm.Mixture.tokenBudgetSample(surv, col("source"),
            col("doc_id"), TextAnalysis.tokenCount(col("text_redacted")),
            TextAnalysis.qualityScore(col("text_redacted")), F.lit(300L))
          .filter(col("kept"))
          .select(col("doc_id"), col("stratum").as("source"),
            col("n_tokens"), col("cum_tokens"))
          .orderBy(col("source").asc, col("cum_tokens").asc)
        // EAGER: building this frame runs the whole pipeline, and the
        // frame returned is a local relation of its rows — an action on
        // it, or its plan, no longer reaches the documents table. The
        // builder forces the one-shot pipeline NOW so it can UNPERSIST
        // the two intermediates before returning: releasing the blocks
        // here keeps a long-lived session from accumulating
        // survivor-sized cache entries — and from CacheManager silently
        // serving canonically-equal subplans to LATER queries (the
        // round-21 repeat-invocation artifact). The final sample is
        // budget-bounded (the 300-token budget caps rows per source at
        // ANY corpus scale), so the collect is driver-safe, and it is
        // capped at Q195MaxRows in case that ever stops holding. Rows
        // and schema are exactly the lazy plan's; nothing is memoized
        // across invocations.
        val rows = try collectAtMost(result, Q195MaxRows, "q195_curation_v4")
          finally {
            scored.unpersist(false)
            scrubbed.unpersist(false)
          }
        s.createDataFrame(new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
          result.schema)
      },
      Some(s"""WITH aug AS MATERIALIZED ($augmentV2Sql),
              |gw AS MATERIALIZED (SELECT aug.doc_id, d.source, aug.t,
              |    string_split_regex(trim(aug.t), '\\s+') AS w,
              |    string_split_regex(trim(lower(aug.t)), '\\s+') AS lw,
              |    string_split(aug.t, chr(10)) AS lines
              |  FROM aug JOIN documents d USING (doc_id)),
              |gg AS (${gopherGramsSql("gw")}),
              |gm AS (SELECT gw.doc_id,
              |${gopherSignalsSql("t")}
              |  FROM gw JOIN gg USING (doc_id)),
              |red AS MATERIALIZED (SELECT gw.doc_id, gw.source,
              |    ${redactAllSql("gw.t")} AS rt
              |  FROM gw JOIN gm USING (doc_id)
              |  WHERE $gopherKeptSql),
              |tw AS MATERIALIZED (SELECT doc_id, source,
              |    string_split_regex(trim(lower(rt)), '\\s+') AS w
              |  FROM red),
              |c3 AS MATERIALIZED (
              |  SELECT w[i] AS a, w[i+1] AS b, w[i+2] AS c, count(*) AS cnt3
              |  FROM tw, UNNEST(range(1, len(w) - 1)) AS r(i)
              |  WHERE len(w) >= 3 GROUP BY 1, 2, 3),
              |ctx AS MATERIALIZED (
              |  SELECT a, b, CAST(sum(cnt3) AS DOUBLE) AS ctx2,
              |    CAST(count(*) AS DOUBLE) AS n1p_ab
              |  FROM c3 GROUP BY 1, 2),
              |cbc AS MATERIALIZED (
              |  SELECT b, c, CAST(count(*) AS DOUBLE) AS cont_bc
              |  FROM c3 GROUP BY 1, 2),
              |cb AS MATERIALIZED (
              |  SELECT b, sum(cont_bc) AS cont_b,
              |    CAST(count(*) AS DOUBLE) AS n1p_b
              |  FROM cbc GROUP BY 1),
              |cc AS MATERIALIZED (
              |  SELECT c, CAST(count(*) AS DOUBLE) AS cont_c FROM cbc GROUP BY 1),
              |ctot AS MATERIALIZED (
              |  SELECT CAST(count(*) AS DOUBLE) AS cont_tot FROM cbc),
              |voc AS MATERIALIZED (
              |  SELECT CAST(count(DISTINCT wd) AS DOUBLE) AS n_vocab
              |  FROM (SELECT unnest(w) AS wd FROM tw)),
              |tri AS MATERIALIZED (
              |  SELECT doc_id, w[i] AS a, w[i+1] AS b, w[i+2] AS c
              |  FROM tw, UNNEST(range(1, len(w) - 1)) AS r(i)
              |  WHERE len(w) >= 3),
              |j AS (
              |  SELECT tri.doc_id, c3.cnt3, ctx.ctx2, ctx.n1p_ab, cbc.cont_bc,
              |    cb.cont_b, cb.n1p_b, cc.cont_c, ctot.cont_tot, voc.n_vocab
              |  FROM tri
              |  LEFT JOIN c3 ON c3.a = tri.a AND c3.b = tri.b AND c3.c = tri.c
              |  LEFT JOIN ctx ON ctx.a = tri.a AND ctx.b = tri.b
              |  LEFT JOIN cbc ON cbc.b = tri.b AND cbc.c = tri.c
              |  LEFT JOIN cb ON cb.b = tri.b
              |  LEFT JOIN cc ON cc.c = tri.c
              |  CROSS JOIN ctot CROSS JOIN voc),
              |s1 AS (SELECT *,
              |  (coalesce(cont_c, 0.0) + 1.0) / (cont_tot + n_vocab) AS p1 FROM j),
              |s2 AS (SELECT *, CASE WHEN cont_b IS NOT NULL THEN
              |    greatest(coalesce(cont_bc, 0.0) - 0.75, 0.0) / cont_b +
              |    0.75 * n1p_b / cont_b * p1
              |  ELSE p1 END AS p2 FROM s1),
              |s3 AS (SELECT *, CASE WHEN ctx2 IS NOT NULL THEN
              |    greatest(CAST(coalesce(cnt3, 0) AS DOUBLE) - 0.75, 0.0) / ctx2 +
              |    0.75 * n1p_ab / ctx2 * p2
              |  ELSE p2 END AS p3 FROM s2),
              |kn AS (SELECT doc_id, round(avg(ln(p3)), 6) AS logprob
              |  FROM s3 GROUP BY doc_id),
              |ds AS MATERIALIZED (SELECT kn.doc_id, kn.logprob, red.source, red.rt
              |  FROM kn JOIN red USING (doc_id)),
              |bnd AS (SELECT source,
              |    quantile_cont(logprob,
              |      [0.3333333333333333, 0.6666666666666666]) AS b
              |  FROM ds GROUP BY source),
              |surv AS (SELECT ds.doc_id, ds.source, ds.rt
              |  FROM ds JOIN bnd
              |    ON ds.source IS NOT DISTINCT FROM bnd.source
              |  WHERE 1 + len(list_filter(bnd.b, x -> ds.logprob >= x)) >= 2),
              |mt AS (SELECT doc_id, source, rt AS text,
              |    string_split_regex(trim(rt), '\\s+') AS toks
              |  FROM surv),
              |msc AS (
              |  SELECT doc_id, source, len(toks) AS n_tokens,
              |    round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))::DOUBLE /
              |          greatest(length(text), 1), 6) AS punct_ratio,
              |    round(len(list_filter(toks, x -> list_contains(
              |      ['the','a','an','and','of','to','is','in','it','that'], x)))::DOUBLE /
              |          greatest(len(toks), 1), 6) AS stopword_ratio
              |  FROM mt),
              |mq AS (
              |  SELECT doc_id, source, n_tokens,
              |    round(least(n_tokens / 100.0, 1.0) * 0.5 +
              |          (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3 +
              |          least(stopword_ratio * 5.0, 1.0) * 0.2, 6) AS quality
              |  FROM msc),
              |sel AS (
              |  SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
              |    CAST(sum(n_tokens) OVER (PARTITION BY source
              |      ORDER BY quality DESC, doc_id ASC
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              |      AS cum_tokens
              |  FROM mq)
              |SELECT doc_id, source, n_tokens, cum_tokens FROM sel
              |WHERE cum_tokens <= 300
              |ORDER BY source ASC, cum_tokens ASC""".stripMargin)),

    // Lakehouse time travel: build a manifested table from the docs
    // (v1 = 80%), APPEND the rest (v2 — incremental commit, no history
    // rewrite), compact (v3), then read every version AS OF. The
    // oracle recomputes each snapshot's count/sum from the documents
    // table alone; the protocol invariants (append-only file diff,
    // compaction content-identity, version chain) ride as pinned
    // booleans.
    NamedQuery("q196_lakehouse_timetravel",
      (s, d) => {
        import graft.sources.Manifest
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val table = freshQueryDir("timetravel") + "/docs"
        Manifest.create(s, table, docs.filter(col("doc_id") % 5 =!= 0))
        Manifest.commitAppend(s, table, docs.filter(col("doc_id") % 5 === 0))
        Manifest.compact(s, table, targetBytes = 1L << 30)
        val (added, removed) = Manifest.diffSnapshots(s, table, 1L, 2L)
        val v1 = Manifest.readVersion(s, table, 1L).agg(
          F.count(F.lit(1)).as("n_v1"),
          F.sum("doc_id").cast("long").as("sum_v1"))
        val v2 = Manifest.readVersion(s, table, 2L).agg(
          F.count(F.lit(1)).as("n_v2"),
          F.sum("doc_id").cast("long").as("sum_v2"))
        val cur = Manifest.read(s, table).agg(
          F.count(F.lit(1)).as("__nc"), F.sum("doc_id").cast("long").as("__sc"))
        v1.crossJoin(v2).crossJoin(cur).select(
          col("n_v1"), col("sum_v1"), col("n_v2"), col("sum_v2"),
          (col("__nc") === col("n_v2") && col("__sc") === col("sum_v2"))
            .as("compact_identical"),
          F.lit(added.size == 1 &&
            added.head.startsWith(Manifest.dataDirName(2L)) && removed.isEmpty)
            .as("append_only_diff"),
          F.lit(Manifest.versions(s, table) == Seq(1L, 2L, 3L))
            .as("three_versions"))
      },
      Some("""SELECT
             |  CAST(count(*) FILTER (WHERE doc_id % 5 <> 0) AS BIGINT) AS n_v1,
             |  CAST(sum(doc_id) FILTER (WHERE doc_id % 5 <> 0) AS BIGINT) AS sum_v1,
             |  CAST(count(*) AS BIGINT) AS n_v2,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_v2,
             |  true AS compact_identical,
             |  true AS append_only_diff,
             |  true AS three_versions
             |FROM documents""".stripMargin)),

    // Incremental ANALYZE: four per-batch sketch-stat frames merged
    // WITHOUT rescanning data, hash-checked against SQL ground truth
    // (counts, typed envelopes) with the KMV bound riding as the q164
    // pattern — and `merge_identical` pinning the core contract: the
    // merged frame equals the full-scan frame bit for bit, sketch
    // included (null-safe field compare after a join on column).
    NamedQuery("q197_incremental_stats",
      (s, d) => {
        import graft.sources.Stats
        val k = 512
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val cols = Seq("doc_id", "source", "n_chars")
        val batches = (0 to 3).map(i =>
          Stats.analyzeSketch(docs.filter(col("doc_id") % 4 === i), cols, k))
        val merged = Stats.mergeSketchStats(batches, k)
        val full = Stats.analyzeSketch(docs, cols, k)
          .select(col("column"), col("n_rows").as("__fn"),
            col("n_nulls").as("__fz"), col("kmv").as("__fk"),
            col("min_d").as("__fmind"), col("max_d").as("__fmaxd"),
            col("min_s").as("__fmins"), col("max_s").as("__fmaxs"))
        val exact = docs.agg(
          F.count_distinct(col("doc_id")).as("__x_doc_id"),
          F.count_distinct(col("source")).as("__x_source"),
          F.count_distinct(col("n_chars")).as("__x_n_chars"))
        val est = graft.functions.KmvSketch.estimateDistinct(col("kmv"), k)
        val ex = F.when(col("column") === "doc_id", col("__x_doc_id"))
          .when(col("column") === "source", col("__x_source"))
          .otherwise(col("__x_n_chars")).cast("double")
        merged.join(full, "column").crossJoin(exact)
          .select(col("column"), col("n_rows"), col("n_nulls"),
            col("min_d"), col("max_d"), col("min_s"), col("max_s"),
            (F.abs(est - ex) <= ex * 0.15 + 1).as("ndv_ok"),
            (col("n_rows") === col("__fn") && col("n_nulls") === col("__fz") &&
              col("kmv") === col("__fk") && col("min_d") <=> col("__fmind") &&
              col("max_d") <=> col("__fmaxd") && col("min_s") <=> col("__fmins") &&
              col("max_s") <=> col("__fmaxs")).as("merge_identical"))
          .orderBy(col("column").asc)
      },
      Some("""SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(0 AS BIGINT) AS n_nulls,
             |  CAST(min(doc_id) AS DOUBLE) AS min_d,
             |  CAST(max(doc_id) AS DOUBLE) AS max_d,
             |  CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s,
             |  true AS ndv_ok, true AS merge_identical
             |FROM documents
             |UNION ALL
             |SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
             |  CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
             |  NULL, NULL, true, true
             |FROM documents
             |UNION ALL
             |SELECT 'source', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
             |  NULL, NULL, min(source), max(source), true, true
             |FROM documents
             |ORDER BY "column" ASC""".stripMargin)),

    // Manifest-backed file skipping: a range-clustered snapshot (8
    // range-partitioned files by doc_id) + the per-file envelope
    // sidecar; a narrow doc_id range then reads a strict subset of the
    // files — decided at the DRIVER from the sidecar alone, before any
    // footer opens. The oracle recomputes the pruned read's aggregate
    // from the documents table; the files-actually-pruned verdict rides
    // as a pinned boolean.
    NamedQuery("q198_file_skipping",
      (s, d) => {
        import graft.sources.Manifest
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val table = freshQueryDir("skip") + "/docs"
        Manifest.create(s, table, docs
          .repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions(col("doc_id")))
        Manifest.analyzeFiles(s, table, Seq("doc_id"))
        val nAll = Manifest.read(s, table).inputFiles.length
        val pruned = Manifest.readPruned(s, table, "doc_id", 0.0, 100.0)
        val nPruned = pruned.inputFiles.length
        pruned.filter(col("doc_id") <= 100)
          .agg(F.count(F.lit(1)).as("n_rows"),
            F.sum("n_chars").cast("long").as("sum_chars"))
          .select(col("n_rows"), col("sum_chars"),
            F.lit(nPruned < nAll).as("pruned_files"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  true AS pruned_files
             |FROM documents WHERE doc_id <= 100""".stripMargin)),

    // Multi-touch attribution: linear / first-touch / last-touch credit
    // per channel for every purchase, over a 24-hour lookback. One
    // user-keyed equi-join (the window predicate is a residual filter,
    // not a second exchange), two conversion-keyed window passes, one
    // channel aggregation; ties on touch time break by event id so the
    // report is engine-identical.
    NamedQuery("q199_attribution",
      (s, d) => graft.operators.Attribution.report(
        Tables.events(s, d), col("event_id"), col("user_id"),
        col("ts"), col("event_type"), "purchase", lookbackHours = 24),
      Some("""WITH conv AS (
             |  SELECT event_id AS conv_id, user_id AS u, ts AS conv_ts
             |  FROM events WHERE event_type = 'purchase'),
             |tch AS (
             |  SELECT event_id AS touch_id, user_id AS u, ts AS touch_ts,
             |    event_type AS touch_type
             |  FROM events WHERE event_type <> 'purchase'),
             |j AS (
             |  SELECT * FROM conv JOIN tch USING (u)
             |  WHERE touch_ts <= conv_ts
             |    AND touch_ts >= conv_ts - INTERVAL 24 HOURS),
             |c AS (SELECT *,
             |    count(*) OVER (PARTITION BY conv_id) AS n,
             |    row_number() OVER (PARTITION BY conv_id
             |      ORDER BY touch_ts ASC, touch_id ASC) AS rf,
             |    row_number() OVER (PARTITION BY conv_id
             |      ORDER BY touch_ts DESC, touch_id DESC) AS rl
             |  FROM j)
             |SELECT touch_type AS event_type,
             |  round(sum(CAST(round(1e6 / n) AS BIGINT))::DOUBLE / 1e6, 6)
             |    AS credit_linear,
             |  CAST(sum(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS credit_first,
             |  CAST(sum(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS credit_last,
             |  CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions
             |FROM c GROUP BY 1 ORDER BY 1 ASC""".stripMargin)),

    // Bloom point-lookup skipping on a layout range envelopes cannot
    // prune: a round-robin 8-file snapshot (every file spans the whole
    // id range) + the per-file Bloom sidecar; the equality probe reads
    // a strict subset of files and exactly the right row. Envelope
    // impotence on this layout rides as a pinned boolean beside the
    // bloom's strict subset.
    NamedQuery("q200_bloom_skipping",
      (s, d) => {
        import graft.sources.Manifest
        val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val table = freshQueryDir("bloom") + "/docs"
        Manifest.create(s, table, docs.repartition(8))
        Manifest.analyzeFiles(s, table, Seq("doc_id"))
        Manifest.analyzeFilesBloom(s, table, Seq("doc_id"),
          expectedItemsPerFile = 100000)
        val nAll = Manifest.read(s, table).inputFiles.length
        val nRange = Manifest.readPruned(s, table, "doc_id", 42.0, 42.0)
          .inputFiles.length
        val pt = Manifest.readPoint(s, table, "doc_id", 42L)
        pt.filter(col("doc_id") === 42L)
          .agg(F.count(F.lit(1)).as("n_rows"),
            F.sum("n_chars").cast("long").as("sum_chars"))
          .select(col("n_rows"), col("sum_chars"),
            F.lit(pt.inputFiles.length < nAll).as("bloom_pruned"),
            F.lit(nRange == nAll).as("envelopes_impotent"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  true AS bloom_pruned, true AS envelopes_impotent
             |FROM documents WHERE doc_id = 42""".stripMargin))
  )

  /** The interpolated-KN oracle, shared between the self-score and
    * held-out faces: re-tokenize, re-train the trigram type table,
    * re-derive all four continuation tables, replay
    *   P3 = max(cnt3−D,0)/ctx2 + D·n1p_ab/ctx2 · P2
    *   P2 = max(cont_bc−D,0)/cont_b + D·n1p_b/cont_b · P1
    *   P1 = (cont_c+1)/(cont_tot+|V|)
    * with D = 0.75 and unseen contexts falling through (λ = 1) —
    * the exact expression shapes of LangModel.kneserNeyScoreAgainst,
    * stepwise so each level is written once. */
  private def knOracleSql(split: Boolean): String = {
    val (trainWhere, scoreWhere) =
      if (split) (" WHERE source <> 'src0'", " WHERE source = 'src0'")
      else ("", "")
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM documents),
       |tr AS MATERIALIZED (SELECT * FROM t$trainWhere),
       |te AS MATERIALIZED (SELECT * FROM t$scoreWhere),
       |c3 AS MATERIALIZED (
       |  SELECT w[i] AS a, w[i+1] AS b, w[i+2] AS c, count(*) AS cnt3
       |  FROM tr, UNNEST(range(1, len(w) - 1)) AS r(i)
       |  WHERE len(w) >= 3 GROUP BY 1, 2, 3),
       |ctx AS MATERIALIZED (
       |  SELECT a, b, CAST(sum(cnt3) AS DOUBLE) AS ctx2,
       |    CAST(count(*) AS DOUBLE) AS n1p_ab
       |  FROM c3 GROUP BY 1, 2),
       |cbc AS MATERIALIZED (
       |  SELECT b, c, CAST(count(*) AS DOUBLE) AS cont_bc
       |  FROM c3 GROUP BY 1, 2),
       |cb AS MATERIALIZED (
       |  SELECT b, sum(cont_bc) AS cont_b,
       |    CAST(count(*) AS DOUBLE) AS n1p_b
       |  FROM cbc GROUP BY 1),
       |cc AS MATERIALIZED (
       |  SELECT c, CAST(count(*) AS DOUBLE) AS cont_c FROM cbc GROUP BY 1),
       |ctot AS MATERIALIZED (
       |  SELECT CAST(count(*) AS DOUBLE) AS cont_tot FROM cbc),
       |voc AS MATERIALIZED (
       |  SELECT CAST(count(DISTINCT wd) AS DOUBLE) AS n_vocab
       |  FROM (SELECT unnest(w) AS wd FROM tr)),
       |tri AS MATERIALIZED (
       |  SELECT doc_id, w[i] AS a, w[i+1] AS b, w[i+2] AS c
       |  FROM te, UNNEST(range(1, len(w) - 1)) AS r(i)
       |  WHERE len(w) >= 3),
       |j AS (
       |  SELECT tri.doc_id, c3.cnt3, ctx.ctx2, ctx.n1p_ab, cbc.cont_bc,
       |    cb.cont_b, cb.n1p_b, cc.cont_c, ctot.cont_tot, voc.n_vocab
       |  FROM tri
       |  LEFT JOIN c3 ON c3.a = tri.a AND c3.b = tri.b AND c3.c = tri.c
       |  LEFT JOIN ctx ON ctx.a = tri.a AND ctx.b = tri.b
       |  LEFT JOIN cbc ON cbc.b = tri.b AND cbc.c = tri.c
       |  LEFT JOIN cb ON cb.b = tri.b
       |  LEFT JOIN cc ON cc.c = tri.c
       |  CROSS JOIN ctot CROSS JOIN voc),
       |s1 AS (SELECT *,
       |  (coalesce(cont_c, 0.0) + 1.0) / (cont_tot + n_vocab) AS p1 FROM j),
       |s2 AS (SELECT *, CASE WHEN cont_b IS NOT NULL THEN
       |    greatest(coalesce(cont_bc, 0.0) - 0.75, 0.0) / cont_b +
       |    0.75 * n1p_b / cont_b * p1
       |  ELSE p1 END AS p2 FROM s1),
       |s3 AS (SELECT *, CASE WHEN ctx2 IS NOT NULL THEN
       |    greatest(CAST(coalesce(cnt3, 0) AS DOUBLE) - 0.75, 0.0) / ctx2 +
       |    0.75 * n1p_ab / ctx2 * p2
       |  ELSE p2 END AS p3 FROM s2)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_trigrams,
       |  round(avg(ln(p3)), 6) AS logprob
       |FROM s3 GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
  }
}
