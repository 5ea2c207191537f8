package graft.queries

import graft.{Artifacts, Tables}
import graft.operators.{TextAnalysis => TA}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus retrieval and hygiene queries: conjunctive keyword search over
  * an inverted-postings relation, and benchmark decontamination — the
  * 13-gram-overlap test-set leak scan every serious training corpus runs
  * before release (the n-gram collision method used for GPT-3/Gopher-
  * style decontamination). Both oracled.
  */
object Retrieval {

  /** Documents containing ALL `terms`, scored by summed term frequency.
    * The shape is an inverted-index lookup: tokens are filtered to the
    * query vocabulary BEFORE the explode (array `filter` inside the row),
    * so the shuffle carries only (doc, query-term, tf) postings — corpus
    * text never moves. Conjunction = HAVING count(distinct term) = |terms|
    * above the per-(doc, term) aggregate; at warehouse scale the same
    * plan runs against a materialized postings table bucketed by term.
    */
  def conjunctiveSearch(docs: DataFrame, idCol: String, textCol: Column,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val postings = docs
      .select(col(idCol), explode(filter(TA.tokens(textCol),
        t => t.isInCollection(terms))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    postings.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("score"))
      .where(col("n_terms") === terms.size)
      .select(col(idCol), col("score"))
  }

  /** Train-split documents sharing at least one n-token shingle with any
    * test-split document, with the count of distinct colliding shingles.
    * Shingles are 60-bit md5 hashes, so the contamination join moves
    * 8-byte keys, not text; the test side is DISTINCT-reduced before the
    * join (a benchmark suite is tiny next to a 100 TB corpus — at scale
    * that side broadcasts or becomes a bloom filter pushed into the scan).
    * Both relations derive from one `grams` pass over the corpus.
    */
  def contaminated(grams: DataFrame, trainPred: Column, testPred: Column,
      idCol: String, gramCol: String): DataFrame = {
    // r20: "this gram occurs in the test slice" is a gram-local predicate,
    // so one window over the gram partition replaces the DISTINCT + self
    // equi-join (guide §2.4 — the flag and the join-back shared a key
    // anyway), and the grams relation is consumed exactly once (its
    // checkpoint is gone). Rows in neither split are dropped before the
    // exchange (§2.3). At 100 TB the window's gram partitioning is the
    // same hash distribution the join used; nothing new to skew.
    import org.apache.spark.sql.expressions.Window
    grams.where(trainPred || testPred)
      .withColumn("hit",
        max(when(testPred, 1).otherwise(0)).over(Window.partitionBy(col(gramCol))))
      .where(trainPred && col("hit") === 1)
      .groupBy(col(idCol))
      .agg(countDistinct(col(gramCol)).as("n_hits"))
  }

  /** (doc_id, split bucket, hashed n-gram) relation over `documents` —
    * the decontamination scan's single corpus pass.
    */
  private def splitGrams(s: SparkSession, d: String, n: Int): DataFrame = {
    val bucket = pmod(TA.md5Hash60(
      concat(col("doc_id").cast("string"), lit(":split"))), lit(100L))
    Tables.documents(s, d)
      .select(col("doc_id"), bucket.as("b"),
        explode(TA.shingles(col("text"), n)).as("g"))
      .select(col("doc_id"), col("b"), TA.md5Hash60(col("g")).as("gh"))
      // single consumer since the r20 window rewrite of [[contaminated]]
      // (the train/test branches collapsed into one gram-partition
      // window), so no materialization — the shingle+md5 pass runs once
      // inside the one plan that scans it
  }

  /** Maximal cross-document repeated token spans — the exact-substring
    * dedup shape of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL'22), re-expressed as dataflow instead
    * of a suffix array: position-indexed k-gram hashes, an equi-join on
    * the hash, and islands-and-gaps run detection above the join.
    *
    *  - one pass builds `(id, p, h)` positioned k-gram hashes (8-byte
    *    keys move through every shuffle, never text);
    *  - k-grams appearing in more than `maxDocFreq` docs are dropped
    *    before the join (the stop-gram cap: boilerplate grams are what
    *    make the self-join quadratic at corpus scale; spans are then
    *    maximal runs of RARE matching grams — mirrored in the oracle);
    *  - matches on the same diagonal (pa − pb constant) with consecutive
    *    positions are one span: grp = pa − row_number() is constant
    *    exactly on a consecutive run, so a groupBy(diag, grp) emits
    *    maximal spans with no iterative merging;
    *  - span_len = run + k − 1 tokens; spans shorter than `minSpan` drop.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: Column,
      k: Int, minSpan: Int, maxDocFreq: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("id"), TA.tokens(textCol).as("tk"))
    val pg = base.where(size(col("tk")) >= k)
      .select(col("id"),
        explode(sequence(lit(1), size(col("tk")) - (k - 1))).as("p"), col("tk"))
      .select(col("id"), col("p").cast("long").as("p"),
        TA.md5Hash60(concat_ws(" ", slice(col("tk"), col("p"), lit(k)))).as("h"))
      // two consumers below (both self-join sides) — one materialization
      .localCheckpoint()
    // r21: the df cap is gram-local, so two stacked windows over the ONE
    // h exchange the self-join needs anyway replace the countDistinct
    // aggregate + join-back (guide §2.4 — shared exchange): dense_rank
    // over (h, id) peaks at countDistinct(id), and the filtered relation
    // leaves the window already hash-partitioned AND sorted on h, exactly
    // the distribution/order the equi-join consumes — no aggregate
    // subtree, no broadcast of the rare-gram set, pg scanned twice not
    // three times. Skew-safe per the r21 gram-skew adjudication (BASELINE.md):
    // the hottest gram hash owns 4 occurrences at sf0.1 AND at 10× rows
    // (share 2e-6, max-task/mean-task 1.005), so the window's h partition
    // has no straggler key for AQE to miss.
    val wOrd = Window.partitionBy(col("h")).orderBy(col("id"))
    val wAll = Window.partitionBy(col("h"))
    val keep = pg
      .withColumn("dr", dense_rank().over(wOrd))
      .withColumn("df", max(col("dr")).over(wAll))
      .where(col("df") <= maxDocFreq)
      .select(col("h"), col("id"), col("p"))
    val m = keep.select(col("h"), col("id").as("id_a"), col("p").as("pa"))
      .join(keep.select(col("h"), col("id").as("id_b"), col("p").as("pb")), Seq("h"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pa"), col("pb"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag")).orderBy(col("pa"))
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
        (count(lit(1)) + (k - 1)).as("span_len"))
      .where(col("span_len") >= minSpan)
      .select(col("id_a"), col("id_b"), col("start_a"), col("start_b"), col("span_len"))
  }

  /** Top-20 bigram collocations by integer-scaled lift — PMI ranking
    * without a single float log: PMI = log(N·c_xy/(c_x·c_y)) is monotone
    * in its argument, so ranking by `(c_xy·N·10^6) div (c_x·c_y)` (pure
    * BIGINT) orders identically to ranking by PMI and is bit-exact
    * cross-engine. Occurrence counts (not per-doc distinct): three
    * map-side-combined aggregates over the exploded token/pair streams.
    * Overflow headroom: c_xy·N·10^6 needs N·c_xy < 9.2e12 — at corpus
    * scale drop the 10^6 factor (ranking is unaffected, it's a constant).
    */
  def collocations(s: SparkSession, d: String): DataFrame = {
    val toks = TA.tokens(col("text"))
    val docs = Tables.documents(s, d)
    // Corpus bigram counts are a rollup of the round-shared per-(doc,
    // w1, w2) multiplicity relation ([[bigramDocMult]] — same tokenizer,
    // same documents snapshot), so consume that instead of re-running the
    // tokenize-explode pass: the aggregate's input drops from every
    // bigram OCCURRENCE to the distinct-per-doc relation (guide §2.3
    // "aggregate before you shuffle"; the build is stamped by Bench as
    // the `bigram_mult` derivation like every shared fact table).
    val pairs = bigramDocMult(s, d)
      .groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c_xy"))
    val uni = docs.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val n = uni.agg(sum(col("c")).as("n_tokens"))
    pairs.where(col("c_xy") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(n))
      .selectExpr("w1", "w2", "c_xy",
        "(c_xy * n_tokens * 1000000L) div (c_x * c_y) AS lift_scaled")
      .orderBy(col("lift_scaled").desc, col("w1").asc, col("w2").asc)
      .limit(20)
  }

  /** Per-document bigram language-model score — perplexity-style quality
    * filtering (the KenLM-gate shape of CCNet/Gopher pipelines) with the
    * corpus itself as the model, in pure BIGINT so both engines agree
    * bit-for-bit: P(w2|w1) = c(w1,w2)/c(w1·) over bigram-context counts
    * (sum over w2 of c(w1,w2) = c(w1·), a proper conditional), scaled to
    * ppm with integer division; the doc score is the integer mean of its
    * bigrams' ppm probabilities. Low score = improbable token sequence =
    * gibberish/boilerplate candidate.
    *
    * Scale: the exploded bigram stream feeds three consumers (two
    * map-side-combined count aggregates and the per-doc probe side) —
    * materialized once. The probe joins on (w1,w2) then (w1): both
    * equi-joins on aggregate outputs. Skew story, pinned in PlanSpec:
    * the Zipf head key rides ONLY the w1-grain join (cxy ⋈ cx — "the"
    * concentrates every distinct second word in one partition). At small
    * SF Catalyst broadcasts the tiny cx aggregate (the right plan); at
    * corpus scale, where the vocabulary exceeds any broadcast threshold,
    * the same declarative join degrades to a shuffle equi-join
    * hash-partitioned on w1 under an AdaptiveSparkPlan with AQE
    * skew-join handling on (both regimes asserted in PlanSpec, the
    * at-scale one by disabling auto-broadcast) — at 100× the hot
    * partition splits at runtime instead of stalling a task. The probe
    * join keys on (w1,w2), where Zipf mass is already spread across the
    * w2 axis.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: Column): DataFrame = {
    // Everything derives from the per-(doc, bigram) multiplicity relation:
    // the raw occurrence stream collapses by Zipf long before any join
    // (one map-side-combined shuffle), corpus counts are rollups of it,
    // the score table (cxy ⋈ cx) is distinct-bigram-sized, and the probe
    // join + weighted mean run on the compressed relation — the exploded
    // stream itself is never shuffled twice or joined at occurrence grain.
    // The checkpoint pins the relation because BOTH the model derivation
    // and the probe consume it here; the declared query instead consumes
    // a session-cached score table ([[bigramScore]]), whose single-use
    // multiplicity pass needs no checkpoint.
    val bgDoc = bigramMult(docs, idCol, textCol).localCheckpoint()
    bigramProbe(bgDoc, bigramScoreOf(bgDoc), idCol)
  }

  /** The per-(doc, w1, w2) multiplicity relation — the compressed form
    * of the exploded bigram stream (one map-side-combined aggregate).
    */
  private def bigramMult(docs: DataFrame, idCol: String,
      textCol: Column): DataFrame = {
    val toks = TA.tokens(textCol)
    docs.select(col(idCol), explode(
        when(size(toks) >= 2,
          transform(sequence(lit(1), size(toks) - 1), i =>
            struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("p"))
      .select(col(idCol), col("p.w1"), col("p.w2"))
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
  }

  /** The (w1, w2) → p_ppm conditional-probability table from a
    * multiplicity relation: corpus bigram counts, their w1-grain rollup,
    * and the ppm division — distinct-bigram-sized. The w1 join here is
    * the Zipf-head skew site PlanSpec pins (broadcast at small SF,
    * AQE-skew-eligible shuffle equi-join at vocab scale).
    */
  private def bigramScoreOf(bgDoc: DataFrame): DataFrame = {
    val cxy = bgDoc.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("c_xy"))
    val cx = cxy.groupBy(col("w1")).agg(sum(col("c_xy")).as("c_x"))
    cxy.join(cx, Seq("w1"))
      .select(col("w1"), col("w2"),
        expr("(c_xy * 1000000L) div c_x").as("p_ppm"))
  }

  /** The probe side: join the per-doc multiplicities to the score table
    * on (w1, w2) — where Zipf mass is already spread across the w2 axis
    * — and take the weighted integer mean per document.
    */
  private def bigramProbe(bgDoc: DataFrame, score: DataFrame,
      idCol: String): DataFrame =
    bgDoc.join(score, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_bigrams"),
        expr("sum(m * p_ppm) div sum(m)").as("lm_score_ppm"))

  /** The corpus bigram LANGUAGE MODEL as a round-shared persisted
    * derivation (the canon_ids discipline, r17 ADVICE #7): the
    * (w1, w2) → p_ppm table is a pure function of the documents
    * snapshot — exactly what a production pipeline trains ONCE and
    * serves to every scoring job — so it lives in the
    * content-fingerprint-keyed session catalog ([[CachedViews]]) and
    * each q_bigram_lm invocation pays only the probe side: one
    * multiplicity pass over the documents plus the (w1, w2) join.
    * Bench stamps the build into `derivations_sec` like every shared
    * fact table.
    */
  private[graft] def bigramScore(s: SparkSession, d: String): DataFrame =
    CachedViews.cached(s, "graft_bigram_score", d,
        Artifacts.snapshotKey(s, d, "documents")) {
      bigramScoreOf(bigramDocMult(s, d))
    }

  /** The per-(doc, w1, w2) multiplicity relation as a round-shared
    * persisted derivation (r18 verdict #5 — the second bigram shave):
    * like [[bigramScore]] it is a pure function of the documents
    * snapshot, and it is the COMMON input of both the model derivation
    * (its (w1,w2)/(w1) rollups) and every scoring job's probe side —
    * exactly the shape of the session-cached token/shingle signature
    * tables (`tokenSets`/`shingleSets`), which a production pipeline
    * materializes once per corpus snapshot. With it cached, a
    * q_bigram_lm invocation pays only the (w1, w2) probe join + the
    * per-doc weighted mean; the tokenize-explode-aggregate pass over
    * the corpus text happens once per snapshot, stamped into
    * `derivations_sec` by Bench like every shared fact table.
    */
  private[graft] def bigramDocMult(s: SparkSession, d: String): DataFrame =
    CachedViews.cached(s, "graft_bigram_mult", d,
        Artifacts.snapshotKey(s, d, "documents")) {
      bigramMult(Tables.documents(s, d), "doc_id", col("text"))
    }

  def bigramLm(s: SparkSession, d: String): DataFrame =
    bigramProbe(bigramDocMult(s, d), bigramScore(s, d), "doc_id")
      .orderBy(col("doc_id").asc)

  /** Per-document corpus-duplication fraction — the doc-level signal
    * RefinedWeb/FineWeb-style pipelines gate on: of a doc's distinct
    * 8-gram shingles, how many (in ppm, integer-exact) also appear in at
    * least one OTHER document. High ppm = mostly-boilerplate doc even when
    * no single pair crosses a near-dup threshold. One distinct doc-gram
    * pass, one map-side-combined doc-frequency aggregate on the 60-bit
    * gram hash, one equi-join back, one per-doc aggregate — 8-byte keys
    * in every shuffle, text never moves.
    */
  def dupGramPpmScore(docs: DataFrame, idCol: String, textCol: Column,
      n: Int): DataFrame = {
    // r20: the corpus frequency of a gram is a gram-local count, so one
    // window over the gram partition replaces the checkpoint + frequency
    // aggregate + join-back (guide §2.4) — the gram relation is computed
    // and shuffled exactly once, still as 8-byte hashed keys (§2.3).
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col(idCol), explode(TA.shingles(textCol, n)).as("g"))
      .select(col(idCol), TA.md5Hash60(col("g")).as("gh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col(idCol), col("n_grams"),
        expr("(n_dup * 1000000L) div n_grams").as("dup_gram_ppm"))
  }

  def dupGramPpm(s: SparkSession, d: String): DataFrame =
    dupGramPpmScore(Tables.documents(s, d), "doc_id", col("text"), n = 8)
      .orderBy(col("doc_id").asc)

  /** Per-source distribution drift — the data-mixture monitor a corpus
    * pipeline runs when a new crawl/source lands: L1 distance (= 2·total
    * variation) between each source's unigram distribution and the whole
    * corpus's, in integer ppm so both engines agree bit-for-bit (the
    * same no-float-log trick as `collocations`: ppm buckets instead of
    * KL's logarithms). Words the source never emits still contribute
    * their corpus mass: Σ_{w∉s} ppm_c(w) = T − Σ_{w∈s} ppm_c(w), with T
    * the corpus ppm total — so the absent-word tail costs one scalar,
    * not an outer join against the vocabulary.
    *
    * Scale: the occurrence stream collapses map-side to (source, word)
    * grain before any join; source totals and corpus counts are rollups
    * of that relation (materialized once); the single probe join runs at
    * vocab grain on `w`. Text never moves, every shuffled key is a word
    * or a source, and the scalars (totals) broadcast.
    */
  def sourceDrift(s: SparkSession, d: String): DataFrame =
    sourceDriftOf(Tables.documents(s, d))

  def sourceDriftOf(docs: DataFrame): DataFrame = {
    val sw = sourceWordCounts(docs)
      .localCheckpoint() // feeds ns, the reference rollup, and the probe side
    l1DriftPpm(sw, sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w")))
      .orderBy(col("source").asc)
  }

  /** (source, w, c_sw) token-occurrence counts of a documents frame —
    * the map-side-combined collapse both the batch query and the
    * streaming drift monitor start from.
    */
  def sourceWordCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(TA.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))

  /** Per-source L1 ppm distance of `sw` = (source, w, c_sw) against the
    * reference distribution `ref` = (w, c_w). LEFT join: a word the
    * reference has never seen contributes its full ppm_s (the "all of
    * this is new" signal), and an EMPTY reference scores each source by
    * its own total mass (~1M ppm) instead of dividing by zero — the
    * first-batch case of the streaming monitor.
    */
  def l1DriftPpm(sw: DataFrame, ref: DataFrame): DataFrame = {
    val ns = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val nTotal = ref.agg(coalesce(sum(col("c_w")), lit(0L)).as("n_total"))
    val refPpm = ref.crossJoin(broadcast(nTotal))
      .where(col("n_total") > 0)
      .select(col("w"), expr("(c_w * 1000000L) div n_total").as("ppm_c"))
    val tPpm = refPpm.agg(coalesce(sum(col("ppm_c")), lit(0L)).as("t_ppm"))
    sw.join(broadcast(ns), Seq("source"))
      .withColumn("ppm_s", expr("(c_sw * 1000000L) div n_s"))
      .join(refPpm, Seq("w"), "left")
      .withColumn("ppm_c0", coalesce(col("ppm_c"), lit(0L)))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        sum(abs(col("ppm_s") - col("ppm_c0"))).as("l1_present"),
        sum(col("ppm_c0")).as("ppm_c_present"))
      .crossJoin(broadcast(tPpm))
      .select(col("source"), col("n_tokens"),
        (col("l1_present") + col("t_ppm") - col("ppm_c_present")).as("l1_ppm"))
  }

  /** Vocabulary-growth (Heaps-law) curve: cumulative distinct n-gram
    * TYPES as the corpus is consumed in doc_id order, per `bucketDocs`
    * bucket (n = 1 is the classic word-vocabulary curve; higher n keeps
    * measuring growth when the unigram vocabulary is closed, as it is in
    * the synthetic corpus — the standard Heaps probe either way).
    * Cumulative-distinct is intractable as a per-row running set at
    * scale; the min-first-occurrence INVERSION makes it dataflow: each
    * type contributes exactly once at min(doc_id), so the curve is one
    * type aggregate + one bucket aggregate + a running total over the
    * BUCKET axis (bounded: corpus_size/bucketDocs rows, single tiny
    * window — never a per-row global window).
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: Column,
      n: Int, bucketDocs: Int): DataFrame =
    vocabCurve(docs
        .select(col(idCol).as("id"), explode(TA.shingles(textCol, n)).as("w"))
        .select(col("id"), TA.md5Hash60(col("w")).as("wh")),
      bucketDocs)

  /** The Heaps curve over a (id, hashed-distinct-gram) occurrence
    * relation: min-first-occurrence per type, bucket counts, one tiny
    * running-total window over the bucket axis. Type identity rides the
    * 60-bit md5 gram hash, not the gram string — the min-first-occurrence
    * exchange carries 8-byte keys (guide §2.3 "narrower types"; the
    * q_dup_gram_ppm idiom, mirrored in the oracle so both engines fold
    * the same ~1e-6-probability collisions identically).
    */
  private def vocabCurve(typed: DataFrame, bucketDocs: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = typed
      .groupBy(col("wh")).agg(min(col("id")).as("first_doc"))
    val perBucket = firstSeen
      .groupBy(expr(s"first_doc div $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("new_tokens"))
    perBucket
      .withColumn("cum_vocab", sum(col("new_tokens")).over(
        Window.orderBy(col("bucket").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("bucket"), col("new_tokens"), col("cum_vocab"))
  }

  /** 3-gram types per 20-doc bucket: the synthetic corpus draws from a
    * closed word vocabulary (saturates inside the first bucket at every
    * SF, collapsing the curve to one row), so the fixture measures
    * 3-gram type growth — ≥ 5 curve points at the verify scale.
    */
  def vocabGrowthQ(s: SparkSession, d: String): DataFrame =
    // r20: the per-doc DISTINCT hashed 3-gram shingles are exactly the
    // round-shared LSH signature relation (Analysis.shingleSets — same
    // tokenizer, same array_distinct, same md5Hash60), so the curve
    // consumes that instead of re-running the tokenize + shingle + md5
    // pass over the corpus text (guide §2.3; the build is stamped by
    // Bench as the `shingle_sets` derivation like every shared fact
    // table, and the oracle mirrors the hashed type identity).
    vocabCurve(Analysis.shingleSets(s, d)
        .select(col("id"), explode(col("hsorted")).as("wh")),
      bucketDocs = 20)
      .orderBy(col("bucket").asc)

  /** BM25-ranked disjunctive retrieval — the lexical ranking twin of
    * `conjunctiveSearch` (reference behavior: ranked candidate retrieval
    * ahead of semantic scoring, `rag_model_mass.py`-style shortlist).
    * Okapi BM25 with k1 = 6/5 and b = 3/4 in PURE BIGINT so both engines
    * agree bit-for-bit: with those rational constants the term score
    *
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * clears denominators to  idf_milli · 22·tf·Σdl  div
    * (10·tf·Σdl + 3·Σdl + 9·dl·N)  (avgdl = Σdl/N), and the log-idf is
    * replaced by its integer-exact pre-log Robertson odds
    * ((2(N−df)+1)·1000) div (2df+1) — the same monotone no-float-log
    * trick as `collocations`, so rare terms still dominate and the
    * ranking is reproducible everywhere. tf-saturation and length
    * normalization (the parts of BM25 that change candidate ORDER for a
    * fixed term) survive exactly.
    *
    * Scale: tokens are filtered to the query vocabulary INSIDE the row
    * before the explode, so the only token-grain shuffle carries query
    * postings; `dl` is a full-corpus side computed without exploding
    * (one `size()` projection); df (≤ |terms| rows) broadcasts and the
    * corpus scalars (N, Σdl, max dl) are collected ONCE and baked in as
    * literals; the tf ⋈ dl equi-join shuffles on the doc key.
    *
    * Overflow is HANDLED, not documented away: the exact worst-case
    * numerator max_idf_milli·22·max_tf·Σdl is evaluated driver-side in
    * BigInt, and when it no longer fits a BIGINT the scoring arithmetic
    * widens to DECIMAL(38,0) (same integer values — `div` stays integral
    * — just 128-bit headroom), so a corpus past the ~100M-token BIGINT
    * envelope ranks correctly instead of wrapping.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: Column,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val toks = TA.tokens(textCol)
    val dl = docs.select(col(idCol), size(toks).cast("long").as("dl"))
    val row = dl.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"),
      coalesce(max(col("dl")), lit(0L)).as("max_dl")).head()
    val tf = docs.select(col(idCol),
        explode(filter(toks, t => t.isInCollection(terms))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    bm25Rank(tf.join(dl, Seq(idCol)).join(broadcast(dfreq), Seq("w")),
      idCol, row.getLong(0), row.getLong(1), row.getLong(2), k)
  }

  /** BM25 scoring core over a (w, idCol, tf, dl, df) relation with the
    * corpus scalars explicit — `private[graft]` so the overflow spec can
    * drive the widening decision directly. `forceWide` pins the
    * DECIMAL(38,0) path for equivalence testing.
    */
  private[graft] def bm25Rank(joined: DataFrame, idCol: String, nDocs: Long,
      sumDl: Long, maxDl: Long, k: Int, forceWide: Boolean = false): DataFrame = {
    // idf itself multiplies (2N+1) by 1000 in BIGINT — loud ceiling, not a wrap
    require((BigInt(2) * nDocs + 1) * 1000 < BigInt(Long.MaxValue),
      s"bm25: n_docs=$nDocs overflows the integer idf scale")
    // exact worst case of the per-term numerator: idf at df=1, tf at max dl
    val worstIdf = (BigInt(2) * BigInt(math.max(nDocs - 1, 0)) + 1) * 1000 / 3
    val worst = worstIdf * 22 * BigInt(maxDl) * BigInt(sumDl)
    // the DECIMAL(38,0) envelope is a loud ceiling too: past it the
    // product would overflow decimal and (ANSI off) null the scores out
    require(worst < BigInt(10).pow(38),
      s"bm25: worst-case numerator $worst exceeds the DECIMAL(38,0) envelope " +
        s"(n_docs=$nDocs, sum_dl=$sumDl, max_dl=$maxDl)")
    val wide = forceWide || worst >= BigInt(Long.MaxValue)
    // in wide mode every product chain starts from a DECIMAL(38,0) factor,
    // so neither the numerator nor the denominator ever multiplies in BIGINT
    def w(c: String) = if (wide) s"cast($c as decimal(38,0))" else c
    joined
      .withColumn("idf_milli",
        expr(s"((2 * (${nDocs}L - df) + 1) * 1000) div (2 * df + 1)"))
      .withColumn("score_milli", expr(
        s"(${w("idf_milli")} * 22 * tf * ${sumDl}L) div " +
          s"(10 * ${w("tf")} * ${sumDl}L + 3 * ${w(s"${sumDl}L")} + " +
          s"9 * ${w("dl")} * ${nDocs}L)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum(col("score_milli")).as("bm25_milli"))
      .orderBy(col("bm25_milli").desc, col(idCol).asc)
      .limit(k)
  }

  /** Top-10 BM25 over ('dup', 'vector', 'spark') — df spread of 25 vs
    * ~380 of 500 docs at the verify SF, so the idf axis is actually
    * exercised (docs containing the rare term rank first).
    */
  def bm25TopKQ(s: SparkSession, d: String): DataFrame =
    bm25TopK(Tables.documents(s, d), "doc_id", col("text"),
        Seq("dup", "vector", "spark"), k = 10)

  def keywordSearch(s: SparkSession, d: String): DataFrame =
    conjunctiveSearch(Tables.documents(s, d), "doc_id", col("text"),
        Seq("vector", "join", "filter"))
      .orderBy(col("score").desc, col("doc_id").asc)

  /** Exact phrase search over POSITIONAL postings — the retrieval
    * operator conjunctive search can't express (it loses adjacency).
    * Tokens are position-tagged (posexplode is row-local, no shuffle),
    * filtered to the two query terms before anything moves, and the
    * phrase constraint becomes one equi-join on (doc, position+1): a
    * first-term posting at p matches a second-term posting at p+1.
    * Shuffle volume is only the query-term postings; at warehouse scale
    * the same plan runs against a materialized positional-postings table
    * bucketed by term, which skips the tokenize entirely.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: Column,
      first: String, second: String): DataFrame = {
    val posted = docs
      .select(col(idCol), posexplode(TA.tokens(textCol)).as(Seq("pos", "term")))
      .where(col("term").isin(first, second))
    val p1 = posted.where(col("term") === first)
      .select(col(idCol), (col("pos") + 1).as("nxt"))
    val p2 = posted.where(col("term") === second)
      .select(col(idCol), col("pos").as("nxt"))
    p1.join(p2, Seq(idCol, "nxt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col(idCol).asc)
  }

  /** Documents containing the exact phrase "hash join", with occurrence
    * counts (27 docs at the verify SF).
    */
  def phraseSearchQ(s: SparkSession, d: String): DataFrame =
    phraseSearch(Tables.documents(s, d), "doc_id", col("text"),
      "hash", "join")

  /** 13-gram decontamination against the q_train_split assignment: train
    * docs (buckets 0-79) leaking any 13-gram of the test slice (90-99).
    */
  def decontaminate(s: SparkSession, d: String): DataFrame =
    contaminated(splitGrams(s, d, 13),
        trainPred = col("b") < 80, testPred = col("b") >= 90,
        idCol = "doc_id", gramCol = "gh")
      .orderBy(col("doc_id").asc)

  /** 8-gram repeated spans of >= 12 tokens across distinct documents,
    * stop-gram cap at 50 docs.
    */
  def repeatedSpansQ(s: SparkSession, d: String): DataFrame =
    repeatedSpans(Tables.documents(s, d), "doc_id", col("text"),
        k = 8, minSpan = 12, maxDocFreq = 50)
      .orderBy(col("id_a").asc, col("id_b").asc, col("start_a").asc,
        col("start_b").asc)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_keyword_search" -> keywordSearch,
    "q_phrase_search" -> phraseSearchQ,
    "q_bm25_topk" -> bm25TopKQ,
    "q_decontaminate" -> decontaminate,
    "q_collocations" -> collocations,
    "q_repeated_spans" -> repeatedSpansQ,
    "q_bigram_lm" -> bigramLm,
    "q_dup_gram_ppm" -> dupGramPpm,
    "q_vocab_growth" -> vocabGrowthQ,
    "q_source_drift" -> sourceDrift,
  )

  import Analysis.{toks, hash60}

  /** DuckDB distinct n-token shingles over token list `t` (general-n form
    * of Analysis.shinglesSql, which is fixed at n=3).
    */
  private def shinglesNSql(t: String, n: Int): String =
    s"list_distinct(list_transform(range(1, greatest(len($t) - ${n - 2}, 1)), " +
      s"i -> list_aggregate(($t)[i:i+${n - 1}], 'string_agg', ' ')))"

  /** Oracle twin of `repeatedSpans` (k=8, minSpan=12, maxDocFreq=50). */
  private val repeatedSpansSql: String = {
    val (k, minSpan, maxDf) = (8, 12, 50)
    s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
       |pg AS (SELECT doc_id AS id, CAST(i AS BIGINT) AS p,
       |    ${hash60(s"list_aggregate(tk[i:i+${k - 1}], 'string_agg', ' ')")} AS h
       |  FROM t CROSS JOIN LATERAL
       |    (SELECT unnest(range(1, len(tk) - ${k - 2})) AS i)
       |  WHERE len(tk) >= $k),
       |rare AS (SELECT h FROM (SELECT h, COUNT(DISTINCT id) AS df
       |    FROM pg GROUP BY h) WHERE df <= $maxDf),
       |m AS (SELECT a.id AS id_a, b.id AS id_b, a.p AS pa, b.p AS pb
       |  FROM pg a JOIN pg b ON a.h = b.h AND a.id < b.id
       |  JOIN rare r ON a.h = r.h),
       |g AS (SELECT id_a, id_b, pa - pb AS diag, pa, pb,
       |  pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
       |  FROM m)
       |SELECT id_a, id_b, MIN(pa) AS start_a, MIN(pb) AS start_b,
       |  COUNT(*) + ${k - 1} AS span_len
       |FROM g GROUP BY id_a, id_b, diag, grp
       |HAVING COUNT(*) + ${k - 1} >= $minSpan
       |ORDER BY id_a ASC, id_b ASC, start_a ASC, start_b ASC""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_phrase_search" ->
      s"""WITH t AS (SELECT doc_id, ${Analysis.toks} AS tk FROM documents),
         |h AS (SELECT doc_id, CAST(len(list_filter(range(1, len(tk)),
         |    i -> tk[i] = 'hash' AND tk[i+1] = 'join')) AS BIGINT) AS n_hits
         |  FROM t)
         |SELECT doc_id, n_hits FROM h WHERE n_hits > 0
         |ORDER BY doc_id ASC""".stripMargin,
    "q_repeated_spans" -> repeatedSpansSql,
    "q_vocab_growth" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |fs AS (SELECT ${hash60("w")} AS wh, MIN(doc_id) AS first_doc FROM (
         |    SELECT doc_id, unnest(${shinglesNSql("tk", 3)}) AS w
         |    FROM t WHERE len(tk) >= 3) GROUP BY wh),
         |pb AS (SELECT first_doc // 20 AS bucket, COUNT(*) AS new_tokens
         |  FROM fs GROUP BY 1)
         |SELECT bucket, new_tokens,
         |  CAST(SUM(new_tokens) OVER (ORDER BY bucket
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         |FROM pb ORDER BY bucket ASC""".stripMargin,
    "q_dup_gram_ppm" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |dg AS (SELECT doc_id, ${hash60("g")} AS gh
         |  FROM (SELECT doc_id, unnest(${shinglesNSql("tk", 8)}) AS g
         |    FROM t WHERE len(tk) >= 8)),
         |df AS (SELECT gh, COUNT(*) AS df FROM dg GROUP BY gh)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST((SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
         |    AS dup_gram_ppm
         |FROM dg JOIN df USING (gh)
         |GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin,
    "q_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |  FROM t CROSS JOIN LATERAL (SELECT unnest(range(1, len(tk))) AS i)
         |  WHERE len(tk) >= 2),
         |cxy AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY w1, w2),
         |cx AS (SELECT w1, COUNT(*) AS c_x FROM bg GROUP BY w1)
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM((c_xy * 1000000) // c_x) // COUNT(*) AS BIGINT) AS lm_score_ppm
         |FROM bg JOIN cxy USING (w1, w2) JOIN cx USING (w1)
         |GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin,
    "q_collocations" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |pr AS (SELECT w1, w2, COUNT(*) AS c_xy FROM (
         |    SELECT tk[i] AS w1, tk[i+1] AS w2 FROM t
         |    CROSS JOIN LATERAL (SELECT unnest(range(1, len(tk))) AS i))
         |  GROUP BY w1, w2),
         |uni AS (SELECT w, COUNT(*) AS c FROM (
         |    SELECT unnest(tk) AS w FROM t) GROUP BY w),
         |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni)
         |SELECT w1, w2, c_xy,
         |  CAST((c_xy * n.n_tokens * 1000000) // (a.c * b.c) AS BIGINT) AS lift_scaled
         |FROM pr JOIN uni a ON pr.w1 = a.w JOIN uni b ON pr.w2 = b.w CROSS JOIN n
         |WHERE c_xy >= 5
         |ORDER BY lift_scaled DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "q_keyword_search" ->
      s"""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(list_filter($toks,
         |      w -> w IN ('vector', 'join', 'filter'))) AS term
         |    FROM documents)
         |  GROUP BY doc_id, term)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS score FROM tf
         |GROUP BY doc_id HAVING COUNT(*) = 3
         |ORDER BY score DESC, doc_id ASC""".stripMargin,
    "q_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |tot AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(len(tk)) AS BIGINT) AS sum_dl FROM t),
         |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM t),
         |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(list_filter(tk,
         |      w -> w IN ('dup', 'vector', 'spark'))) AS w FROM t)
         |  GROUP BY doc_id, w),
         |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
         |s AS (SELECT tf.doc_id,
         |    ((((2 * (n_docs - df) + 1) * 1000) // (2 * df + 1))
         |        * 22 * tf * sum_dl)
         |      // (10 * tf * sum_dl + 3 * sum_dl + 9 * dl * n_docs)
         |      AS score_milli
         |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (w) CROSS JOIN tot)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |  CAST(SUM(score_milli) AS BIGINT) AS bm25_milli
         |FROM s GROUP BY doc_id
         |ORDER BY bm25_milli DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk,
         |    ${hash60("CAST(doc_id AS VARCHAR) || ':split'")} % 100 AS b
         |  FROM documents),
         |sh AS (SELECT doc_id, b, ${hash60("g")} AS gh
         |  FROM (SELECT doc_id, b, unnest(${shinglesNSql("tk", 13)}) AS g
         |    FROM t WHERE len(tk) >= 13)),
         |test AS (SELECT DISTINCT gh FROM sh WHERE b >= 90)
         |SELECT s.doc_id, COUNT(DISTINCT s.gh) AS n_hits
         |FROM sh s JOIN test USING (gh) WHERE s.b < 80
         |GROUP BY s.doc_id ORDER BY doc_id ASC""".stripMargin,
    "q_source_drift" ->
      s"""WITH sw AS (SELECT source, w, COUNT(*) AS c_sw FROM (
         |    SELECT source, unnest($toks) AS w FROM documents)
         |  GROUP BY source, w),
         |ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
         |  FROM sw GROUP BY source),
         |cw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
         |n AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_total FROM cw),
         |cp AS (SELECT w, (c_w * 1000000) // n_total AS ppm_c
         |  FROM cw CROSS JOIN n),
         |t AS (SELECT CAST(SUM(ppm_c) AS BIGINT) AS t_ppm FROM cp)
         |SELECT sw.source, ns.n_s AS n_tokens,
         |  CAST(SUM(abs((c_sw * 1000000) // n_s - ppm_c))
         |    + t.t_ppm - SUM(ppm_c) AS BIGINT) AS l1_ppm
         |FROM sw JOIN ns USING (source) JOIN cp USING (w) CROSS JOIN t
         |GROUP BY sw.source, ns.n_s, t.t_ppm
         |ORDER BY source ASC""".stripMargin,
  )
}
