package graft.queries

import graft.{Artifacts, Tables}
import graft.functions.VectorOps
import graft.operators.{AnnSearch, Dedup, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline queries (builder-prompt north star): text
  * analysis (token stats, language-ID, quality, fingerprints, simhash),
  * dedup (blocked Jaccard, MinHash+LSH, embedding cosine), and similarity
  * search (cosine top-k, deterministic IVF). Every query has a DuckDB
  * oracle — all hashing is md5-derived and all float math is double-cast
  * left-to-right folds, identical in both engines.
  */
object Analysis {

  def tokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TA.tokenCount(col("text")).cast("long").as("n_tokens"),
      size(array_distinct(TA.tokens(col("text")))).cast("long").as("n_distinct"),
      size(TA.regexTokens(col("text"))).cast("long").as("n_regex_tokens"))
      .orderBy(col("doc_id").asc)

  def langId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TA.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id").asc)

  def qualityScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TA.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id").asc)

  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TA.fingerprint(col("text")).as("fp"),
        TA.rollingHash(col("text")).as("fp_rolling"))
      .orderBy(col("doc_id").asc)

  def simhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TA.simhash(col("text")).as("simhash"))
      .orderBy(col("doc_id").asc)

  /** SimHash near-dups: pairs within source blocks whose 60-bit
    * fingerprints differ in ≤4 bits. The fingerprint is computed once per
    * row below the join (native SimHash60 — the HOF form re-evaluated the
    * tokenize+md5 pipeline once per bit).
    *
    * Candidate generation is pigeonhole banding, not block pairing: the
    * 60-bit fingerprint splits into 5 disjoint 12-bit bands; Hamming ≤ 4
    * guarantees at least one band is bit-identical, so an equi-join on
    * (source, band_idx, band_value) has perfect recall while enumerating
    * only pairs that collide on a full band — O(block²) candidate blowup
    * on a huge source block is gone. The groupBy(id_a, id_b) dedups pairs
    * that collide in several bands and keeps the hamming filter above an
    * aggregate barrier (not inlined into the join condition).
    */
  def simhashNearDup(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("source").as("block"), col("doc_id"), TA.simhash(col("text")).as("sh"))
    val banded = sh.select(col("block"), col("doc_id"), col("sh"),
      posexplode(array((0 until 5).map(b =>
        shiftright(col("sh"), b * 12).bitwiseAND(lit(4095L))): _*)).as(Seq("band", "bval")))
    val a = banded.select(col("block"), col("band"), col("bval"),
      col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("block"), col("band"), col("bval"),
      col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("block", "band", "bval"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")).as("hamming"))
      .where(col("hamming") <= 4)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .orderBy(col("id_a").asc, col("id_b").asc)
  }

  /** Unigram token-set near-dups within source blocks (vocab-overlap
    * tier). Tokens are hashed to 60-bit longs before the pairwise
    * intersect — identical Jaccard values (collisions are mirrored by the
    * oracle's identical hash), long-array intersection instead of UTF8
    * string comparison per candidate pair.
    */
  def jaccardNearDup(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairsHashedFromSets(tokenSets(s, d), 0.9)
      .orderBy(col("id_a").asc, col("id_b").asc)

  /** The hashed unigram token-set relation `(block=source, id=doc_id,
    * items sorted-asc)` shared by q_jaccard_neardup and q_dup_clusters —
    * same session-catalog cached-view lifecycle as `shingleSets`.
    */
  private[graft] def tokenSets(s: SparkSession, d: String): DataFrame =
    CachedViews.cached(s, "graft_token_sets", d,
      Artifacts.snapshotKey(s, d, "documents")) {
      Tables.documents(s, d).select(col("source").as("block"), col("doc_id").as("id"),
        array_sort(array_distinct(transform(TA.tokens(col("text")),
          t => TA.md5Hash60(t)))).as("items"))
    }

  /** The hashed 3-gram shingle-set relation over `documents`, cached in
    * the SESSION CATALOG keyed on the table's content fingerprint
    * ([[CachedViews]]) — the "persisted signature table" pattern. Both
    * q_minhash_lsh and q_curate read it, so the shingle→md5→sort pass
    * (the dominant LSH cost) runs once per Verify/Bench session instead
    * of once per plan branch per query; a mid-session rewrite of the
    * documents parquet evicts and rebuilds.
    */
  private[graft] def shingleSets(s: SparkSession, d: String): DataFrame =
    CachedViews.cached(s, "graft_shingle_sets", d,
      Artifacts.snapshotKey(s, d, "documents")) {
      Dedup.hashedSets(Tables.documents(s, d), "doc_id", TA.shingles(col("text"), 3))
    }

  /** Full LSH pipeline: 3-gram shingles → 12 minhashes → 4 bands × 3 →
    * bucket-join candidates → exact Jaccard >= 0.5 verify, over the
    * shared cached signature table.
    */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDupFromSets(shingleSets(s, d),
        bands = 4, rowsPerBand = 3, threshold = 0.5)
      .orderBy(col("id_a").asc, col("id_b").asc)

  /** Incremental LSH over the same shared signature table — the
    * continuous-ingestion shape, oracled. Rows with doc_id % 5 == 0 play
    * the NEW batch and the rest the existing corpus; ids are disjoint, so
    * by the equivalence asserted in DedupSpec the output is exactly the
    * full LSH pair set restricted to at-least-one-new-side — which is how
    * the oracle states it (full pipeline + the % 5 predicate).
    */
  def minhashLshIncremental(s: SparkSession, d: String): DataFrame = {
    val sets = shingleSets(s, d)
    Dedup.minhashNearDupIncremental(
        sets.where(col("id") % 5 === 0),
        sets.where(col("id") % 5 =!= 0),
        bands = 4, rowsPerBand = 3, threshold = 0.5)
      .orderBy(col("id_a").asc, col("id_b").asc)
  }

  /** Containment near-dup pairs: overlap coefficient |A∩B|/min(|A|,|B|)
    * >= 0.9 within source blocks — the asymmetric semantic Jaccard
    * misses (a doc quoted whole inside a larger one scores low Jaccard
    * but containment ~1). The predicate is integer-exact
    * (inter·10 >= 9·min) — no float division crosses engines; raw counts
    * are returned so callers pick their own direction. Candidates reuse
    * the cached token-set relation and the block self-join; at corpus
    * scale the candidate step becomes the smaller-side prefix against a
    * full postings list (containment joins have no symmetric
    * size-compatibility prune — the whole point is unequal sizes).
    */
  def containmentDedup(s: SparkSession, d: String): DataFrame = {
    val toks = tokenSets(s, d).withColumn("n", size(col("items")))
    val a = toks.select(col("block"), col("id").as("id_a"),
      col("items").as("items_a"), col("n").as("n_a"))
    val b = toks.select(col("block"), col("id").as("id_b"),
      col("items").as("items_b"), col("n").as("n_b"))
    a.join(b, Seq("block"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        graft.functions.SortedIntersectCount(col("items_a"), col("items_b"))
          .cast("long").as("inter"))
      .where(col("inter") * 10 >= least(col("n_a"), col("n_b")) * 9)
      .orderBy(col("id_a").asc, col("id_b").asc)
  }

  /** Embedding near-dup pairs: cosine >= 0.4 within label blocks. */
  def dedupCosine(s: SparkSession, d: String): DataFrame =
    Dedup.cosinePairs(Tables.embeddings(s, d), "vec_id", "embedding", "label", 0.4)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
      .orderBy(col("id_a").asc, col("id_b").asc)

  /** Exact cosine top-10 to the vec_id=0 query vector. Selection and
    * presentation both by (rounded cos desc, vec_id) — a total order the
    * oracle computes identically.
    */
  def cosineTopk(s: SparkSession, d: String): DataFrame = {
    val q = VectorOps.queryVector(s, d, 0L)
    Tables.embeddings(s, d)
      .select(col("vec_id"), VectorOps.cosineToQuery(col("embedding"), q).as("cos_raw"))
      .withColumn("cos", round(col("cos_raw"), 4))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), col("cos"))
  }

  /** Deterministic IVF-flat ANN: 16 cells (centroids = vec_id < 16),
    * probe the 4 cells nearest the query, exact L2 within probed cells.
    */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val q = VectorOps.queryVector(s, d, 0L)
    AnnSearch.ivfCandidates(Tables.embeddings(s, d), q, nCells = 16, nProbe = 4)
      .withColumn("dist", round(col("dist_raw"), 4))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), col("dist"))
  }

  /** IVF-blocked k-NN GRAPH — every vector's top-3 same-cell neighbors,
    * the candidate structure embedding-based clustering and semantic
    * dedup build first (a k-NN graph feeds connected components /
    * community detection the same way LSH bands feed near-dup verify).
    * Blocking = the deterministic IVF assignment `q_ann_ivf` already
    * oracles (centroids = vec_id < 16), so the whole graph is exactly
    * reproducible in DuckDB — no all-pairs: candidates come from ONE
    * shuffle equi-join on `cell`, and per-cell pairwise work is bounded
    * by the cell population. At corpus scale nCells grows ∝ N / target
    * cell size, keeping per-cell cost constant; uneven cells ride AQE
    * skew-join splitting (same story as the LSH band join). Recall gaps
    * at cell borders are the standard IVF trade — the multi-probe
    * variant widens each vector to its nProbe nearest cells without
    * changing the dataflow shape.
    */
  def knnGraph(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NO materialization: both self-join sides are the same ivfAssign
    // plan shuffled on cell, so ReuseExchange computes the assignment
    // once and reads the shuffle twice — zero persistent blocks for a
    // long-lived session to accumulate (this replaced a localCheckpoint;
    // PlanSpec pins the ReusedExchange so a projection drift that breaks
    // canonical sameness fails loudly instead of silently recomputing)
    val assigned = AnnSearch.ivfAssign(Tables.embeddings(s, d), nCells = 16)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist_raw").asc, col("nbr_id").asc)
    assigned.as("a")
      .join(assigned.as("b"), col("a.cell") === col("b.cell"))
      .where(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        VectorOps.squaredL2(col("a.embedding"), col("b.embedding")).as("dist_raw"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("vec_id"), col("rn").cast("long").as("rk"),
        col("nbr_id"), round(col("dist_raw"), 4).as("dist"))
      .orderBy(col("vec_id").asc, col("rk").asc)
  }

  /** MMR-diversified top-5 for the vec_id=0 query: candidates = cosine
    * top-20 (the distributed stage), then greedy maximal-marginal-
    * relevance selection with λ=0.5 (operators.Rerank) — the serving-side
    * diversification pass that keeps a result list from being five
    * near-copies of the best hit. rel and pairwise sims are pre-rounded
    * to 4 dp, so every argmax compares identical doubles cross-engine;
    * the oracle unrolls the 5 greedy rounds as chained CTEs.
    */
  def mmrTopk(s: SparkSession, d: String): DataFrame = {
    val q = VectorOps.queryVector(s, d, 0L)
    // candidate set is algorithm-bounded (top-20): LocalRelation, not a
    // localCheckpoint — no executor blocks outlive the query
    val cand = graft.operators.Iterate.boundedLocal(
      Tables.embeddings(s, d).where(col("vec_id") =!= 0)
        .select(col("vec_id").as("id"),
          round(VectorOps.cosineToQuery(col("embedding"), q), 4).as("rel"),
          col("embedding"))
        .orderBy(col("rel").desc, col("id").asc).limit(20), maxRows = 20)
    val sims = cand.select(col("id").as("ia"), col("embedding").as("ea"))
      .crossJoin(cand.select(col("id").as("ib"), col("embedding").as("eb")))
      .where(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(VectorOps.cosine(col("ea"), col("eb")), 4).as("sim"))
    graft.operators.Rerank.mmrSelect(cand.select(col("id"), col("rel")),
        sims, k = 5, lambda = 0.5)
      .select(col("pick"), col("id").as("vec_id"), col("rel"), col("mmr"))
      .orderBy(col("pick").asc)
  }

  /** Batch MMR — the serving shape: TWO probe vectors (vec_id 0 and 1)
    * diversified in the SAME k greedy rounds. Candidates are each qid's
    * cosine top-20 from one corpus scan (broadcast probe set + per-qid
    * window); pairwise sims are computed within each qid's candidate set;
    * `Rerank.mmrSelectBatch` then runs every qid's k greedy rounds on
    * the driver over one bounded collect, so the Spark work does not
    * grow with how many queries are in flight.
    */
  def mmrBatch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val probes = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("id").asc)
    // per-qid top-20 over the 2 probes = ≤40 rows, algorithm-bounded →
    // LocalRelation (see Iterate.boundedLocal) instead of localCheckpoint
    val cand = graft.operators.Iterate.boundedLocal(
      emb.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("id"),
          round(VectorOps.cosine(col("embedding"), col("qvec")), 4).as("rel"),
          col("embedding"))
        .withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= 20)
        .drop("rn"), maxRows = 40)
    val sims = cand.select(col("qid"), col("id").as("ia"), col("embedding").as("ea"))
      .join(cand.select(col("qid"), col("id").as("ib"), col("embedding").as("eb")),
        Seq("qid"))
      .where(col("ia") =!= col("ib"))
      .select(col("qid"), col("ia"), col("ib"),
        round(VectorOps.cosine(col("ea"), col("eb")), 4).as("sim"))
    graft.operators.Rerank.mmrSelectBatch(
        cand.select(col("qid"), col("id"), col("rel")), sims, k = 5,
        lambda = 0.5)
      .select(col("qid"), col("pick"), col("id").as("vec_id"), col("rel"),
        col("mmr"))
      .orderBy(col("qid").asc, col("pick").asc)
  }

  /** Long/tidy form of the quality signals via relational UNPIVOT — the
    * melt a feature store or metric warehouse ingests (one row per
    * (doc, metric) instead of one column per metric). Narrow per-row
    * reshape, no shuffle beyond the source's.
    */
  def signalsLong(s: SparkSession, d: String): DataFrame =
    qualitySignals(s, d)
      .unpivot(
        Array(col("doc_id")),
        Array(col("dup_shingle_ppm"), col("max_word_len"),
          col("stopword_ppm"), col("symbol_ppm")),
        "metric", "value")
      .orderBy(col("doc_id").asc, col("metric").asc)

  /** Heavy-hitter tokens (frequency > 1% of the whole corpus) via
    * sketch-then-verify: one bounded-memory Misra–Gries pass (k = 100
    * counters, map-side partials — functions.HeavyHitters) nominates a
    * candidate set guaranteed to include everything over n/101, then ONE
    * exact counting pass restricted to the candidates (broadcast
    * semi-join, so the count shuffle carries ≤ 100 distinct keys)
    * applies the exact cnt·100 > n threshold. No full vocabulary
    * histogram is ever materialized: at 100 TB the shuffle is ~100 keys,
    * not the whole token space — and the verified output is
    * deterministic even though the sketch's internal counts are
    * merge-order-dependent.
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(TA.tokens(col("text"))).as("tok"))
    // one row: (candidate list, total token count) — n rides in the
    // sketch buffer so no separate counting scan; localCheckpoint so the
    // two derivations below don't re-run the pass
    val sk = toks.as[String]
      .select(graft.functions.HeavyHitters.candidates(100).name("sk"))
      .localCheckpoint() // tuple output flattens to columns _1/_2
    val cands = sk.select(explode(col("_1")).as("tok"))
    val total = sk.select(col("_2").as("n_total"))
    toks.join(broadcast(cands), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * 100 > col("n_total"))
      .select(col("tok"), col("cnt"))
      .orderBy(col("tok").asc)
  }

  /** Gopher/C4-style repetition and quality signals per document, all as
    * integer-scaled ppm fractions (BIGINT div — no float logs, so
    * bit-exact cross-engine): repeated-3-gram fraction (the repetition
    * filter), max word length, stop-word fraction, and symbol-to-char
    * ratio. One narrow pass per row; at 100 TB these are the pre-filter
    * columns a curation job computes once and predicates on.
    */
  def qualitySignals(s: SparkSession, d: String): DataFrame = {
    val toks = TA.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks).cast("long").as("n"),
        greatest(size(toks) - 2, lit(0)).cast("long").as("total3"),
        size(TA.shingles(col("text"), 3)).cast("long").as("distinct3"),
        TA.markerHits(toks, TA.markers.head._2).cast("long").as("stop"),
        length(col("text")).cast("long").as("txt_len"),
        length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")).cast("long").as("aln"),
        coalesce(array_max(transform(toks, t => length(t))), lit(0))
          .cast("long").as("max_word_len"))
      .selectExpr("doc_id",
        "CASE WHEN total3 <= 0 THEN 0L ELSE (total3 - distinct3) * 1000000L div total3 END AS dup_shingle_ppm",
        "max_word_len",
        "CASE WHEN n = 0 THEN 0L ELSE stop * 1000000L div n END AS stopword_ppm",
        "CASE WHEN txt_len = 0 THEN 0L ELSE (txt_len - aln) * 1000000L div txt_len END AS symbol_ppm")
      .orderBy(col("doc_id").asc)
  }

  /** Random-hyperplane LSH ANN: cosine top-10 within the query's 8-bit
    * sign-code bucket. Hyperplanes are md5-derived (AnnSearch.rpPlanes)
    * so the oracle regenerates them exactly — the LSH analog of the
    * deterministic IVF tier.
    */
  def annRpLsh(s: SparkSession, d: String): DataFrame = {
    val q = VectorOps.queryVector(s, d, 0L)
    // selection (top-k by raw cosine) lives in the operator; here only
    // presentation rounding + display order
    AnnSearch.rpLshSearch(Tables.embeddings(s, d), q, nPlanes = 8, k = 10)
      .withColumn("cos", round(col("cos_raw"), 4))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .select(col("vec_id"), col("cos"))
  }

  /** Flagship composed pipeline: exact dedup → LSH near-dup removal →
    * language/quality gate (operators.Curation over the documents table).
    */
  def curate(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.curate(Tables.documents(s, d), "doc_id", "text",
        keepLangs = Seq("en"), minQuality = 0.45,
        sharedSets = Some(shingleSets(s, d)))
      .orderBy(col("doc_id").asc)

  /** Context-window chunking: docs split into 64-token chunks with
    * 16-token overlap → (doc_id, chunk_idx, n_chunk_tokens).
    */
  def chunkTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TA.tokenChunks(col("text"), size = 64, overlap = 16))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        size(TA.tokens(col("chunk"))).cast("long").as("n_chunk_tokens"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)

  /** Byte-level BPE token accounting beside the whitespace family: per
    * doc, the BPE token count under the deterministic
    * [[graft.operators.BpeTokenizer.fixtureMerges]] table (the real
    * cascading GPT-2 algorithm: pre-tokenize, byte-encode, iterative
    * lowest-rank merges) and the 64-token chunk count it implies. The
    * oracle replays the SAME merges in DuckDB as one list_reduce sweep
    * per rank — equivalent because the table is training-consistent
    * (see BpeTokenizer's scaladoc and the BpeSpec equivalence pin).
    * Map-side only via the BpeCount Catalyst expression (ranks built
    * once at plan construction); no shuffle until the contract sort.
    */
  def chunkTokensBpe(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.BpeCount(col("text"),
          graft.operators.BpeTokenizer.fixtureMerges).as("n_tokens_bpe"))
      .withColumn("n_chunks", expr("(n_tokens_bpe + 63) div 64"))
      .orderBy(col("doc_id").asc)
  }

  /** Greedy-by-order sequence packing: docs in doc_id order accumulate
    * into 2048-token bins via a two-phase distributed running sum — no
    * global single-partition window anywhere in the plan:
    *   1. range-partition by doc_id, cumulative-sum WITHIN each partition
    *      (window partitioned by spark_partition_id → hashpartitioning
    *      exchange, every partition sums independently);
    *   2. per-partition totals (≤ numPartitions rows) get a tiny
    *      prefix-sum and broadcast back as offsets; global cumsum =
    *      local cumsum + partition offset.
    * Exact integer sums, so the result is identical to the single-window
    * form regardless of where the range boundaries land.
    */
  def packSequences(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), TA.tokenCount(col("text")).cast("long").as("n_tokens"))
    // localCheckpoint pins the part assignment: spark_partition_id over a
    // sampled range exchange is nondeterministic, and BOTH the local-cumsum
    // and the offsets branch consume `part` — without materialization,
    // correctness would silently ride on physical exchange reuse.
    val parted = toks.repartitionByRange(32, col("doc_id"))
      .withColumn("part", spark_partition_id())
      .localCheckpoint()
    val wLocal = Window.partitionBy(col("part")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = parted.withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    // one row per partition: prefix-sum of earlier partitions' totals
    val wOff = Window.orderBy(col("part").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("part"))
      .agg(sum(col("n_tokens")).as("part_total"))
      .withColumn("offset", coalesce(sum(col("part_total")).over(wOff), lit(0L)))
      .select(col("part"), col("offset"))
    local.join(broadcast(offsets), Seq("part"))
      .withColumn("cum_tokens", col("local_cum") + col("offset"))
      .withColumn("bin",
        floor((col("cum_tokens") - col("n_tokens")) / 2048.0).cast("long"))
      .select(col("bin"), col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id").asc)
  }

  /** Sequence packing WITHIN each train/val/test split — the form the
    * packing step actually ships in (bins must not mix splits). Unlike
    * the global q_pack_sequences, the running sum here partitions by the
    * split key, so it is a plain key-shuffled window — scale-safe with
    * no two-phase trick needed (each split's ordering work distributes
    * across its partition).
    */
  def packGrouped(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = pmod(TA.md5Hash60(
      concat(col("doc_id").cast("string"), lit(":split"))), lit(100L))
    val toks = Tables.documents(s, d).select(col("doc_id"),
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"),
      TA.tokenCount(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("split")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    toks.withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("split"),
        floor((col("cum") - col("n_tokens")) / 2048.0).cast("long").as("bin"),
        col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id").asc)
  }

  /** Reproducible 10% corpus sample with a deterministic shuffle order:
    * membership = md5-hash bucket of the id (stable under reruns,
    * engine-independent — unlike TABLESAMPLE/rand), output order = md5 of
    * a salted id (a deterministic "shuffle" for training-data ordering).
    */
  def stableSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .where(pmod(TA.md5Hash60(col("doc_id").cast("string")), lit(100L)) < 10)
      .select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":shuffle")).cast("binary"))
          .as("shuffle_key"))
      .orderBy(col("shuffle_key").asc, col("doc_id").asc)

  /** Static mixture rebalancing (the data-mixing step of corpus prep):
    * downsample every language to the smallest language's count so the
    * mixture is balanced. The keep test is integer-exact —
    * `h % n_lang < n_min` on the md5-derived 60-bit row hash gives an
    * expected keep-fraction of n_min/n_lang with no float arithmetic to
    * diverge cross-engine, and membership is a pure function of doc_id
    * (stable under reruns and partitioning). One count aggregate
    * broadcast back into a map-side filter — the FILTER stage never
    * shuffles the fact; the terminal orderBy exists only for the
    * deterministic oracle contract and would be dropped in production
    * (a mixture filter feeds a writer, not a sort).
    */
  def mixtureRebalance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val nMin = counts.agg(min(col("n_lang")).as("n_min"))
    docs.join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(nMin))
      .where(pmod(TA.md5Hash60(concat(col("doc_id").cast("string"), lit(":mix"))),
        col("n_lang")) < col("n_min"))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id").asc)
  }

  /** BPE tokenizer training over the corpus: learn the top-8 merges
    * (rank, lhs, rhs, pair_freq) — [[graft.operators.BpeTrainer]], the
    * weighted-vocab formulation (one corpus pass into the distinct-word
    * table, collected once and trained on the driver). Same word model
    * as q_chunk_tokens_bpe's oracle: split on the single-space corpus,
    * Ġ prefix on non-initial words.
    */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    cachedMergeSchedule(s, d)._2.toDF("rank", "lhs", "rhs", "pair_freq")
      .orderBy(col("rank").asc)
  }

  /** The full 8-round merge schedule (and the base alphabet size),
    * trained ONCE per documents snapshot and memoized driver-side under
    * the parquet-footer content fingerprint, both from one collected
    * vocab ([[graft.operators.BpeTrainer.fit]]) — the persisted-artifact
    * discipline every quantizer here follows. All four BPE queries are
    * views of this one training: the stopping rules only ever TRUNCATE
    * the schedule (earlier merges are unaffected by when training
    * stops), so q_bpe_train is the whole schedule, q_bpe_train_vocab a
    * count prefix, q_bpe_train_floor a takeWhile prefix, and
    * q_bpe_train_apply its application. Bounded state: 8 merge rows +
    * one Long per snapshot.
    */
  private val mergeCache =
    new Artifacts.Memo[(Long, Seq[(Long, String, String, Long)])]()

  private[graft] def cachedMergeSchedule(s: SparkSession, d: String)
      : (Long, Seq[(Long, String, String, Long)]) =
    mergeCache(d, Artifacts.snapshotKey(s, d, "documents")) {
      graft.operators.BpeTrainer.fit(graft.operators.BpeTrainer.weightedVocab(
        Tables.documents(s, d), col("text")), rounds = 8)
    }

  /** BPE training to a TARGET VOCAB SIZE — how real tokenizer training
    * is parameterized (a 50k-token tokenizer is "vocab_size=50000", not
    * "49,743 merge rounds"): vocab size counts base alphabet + one new
    * token per merge, so the trainer realizes
    * min(rounds, targetVocab − |alphabet|) merges. Both engines derive
    * the alphabet from the SAME distinct-char count, so the oracle's
    * round filter is exact at any scale factor.
    */
  def bpeTrainVocab(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val (alphabet, schedule) = cachedMergeSchedule(s, d)
    schedule.take(math.max(BpeTargetVocab - alphabet.toInt, 0))
      .toDF("rank", "lhs", "rhs", "pair_freq")
      .orderBy(col("rank").asc)
  }

  /** BPE training with a MIN-FREQUENCY floor (the `min_frequency` stop
    * of production trainers): training ends at the first round whose
    * best pair occurs fewer than `BpeMinPairFreq` times. The stop is
    * replayable as a plain `cnt >= floor` filter on the unrolled
    * oracle rounds because the max pair count is non-increasing across
    * merges (see [[graft.operators.BpeTrainer.train]]); at sf0.01 the
    * floor lands mid-schedule (5 of 8 rounds realized), so the early
    * stop is exercised by the driver's own gate, and it also caps the
    * degenerate one-repeated-pair corpus at one merge.
    */
  def bpeTrainFloor(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    cachedMergeSchedule(s, d)._2.takeWhile(_._4 >= BpeMinPairFreq)
      .toDF("rank", "lhs", "rhs", "pair_freq")
      .orderBy(col("rank").asc)
  }

  private val BpeTargetVocab = 31
  private val BpeMinPairFreq = 2000L

  /** Train-then-apply composition: learn the 8 merges from the corpus
    * (q_bpe_train), then tokenize the SAME corpus with them — per-doc
    * token counts under the corpus's own tokenizer, the end-to-end
    * shape a tokenizer-fitting pipeline ships. The apply side is the
    * codegen'd [[graft.functions.BpeCount]] cascading-lowest-rank
    * expression; sequentially-learned merges are training-consistent
    * by construction (each operand is a base symbol or an earlier
    * output — `requireTrainingConsistent` guards it), which is exactly
    * the property that makes the oracle's one-ascending-sweep-per-rank
    * replay equivalent to the cascade.
    */
  def bpeTrainApply(s: SparkSession, d: String): DataFrame = {
    val learned = graft.operators.BpeTokenizer.requireTrainingConsistent(
      bpeTrain(s, d).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq)
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.BpeCount(col("text"), learned).as("n_tokens_bpe"))
      .orderBy(col("doc_id").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_train" -> bpeTrain,
    "q_bpe_train_vocab" -> bpeTrainVocab,
    "q_bpe_train_floor" -> bpeTrainFloor,
    "q_bpe_train_apply" -> bpeTrainApply,
    "q_mixture_rebalance" -> mixtureRebalance,
    "q_stable_sample" -> stableSample,
    "q_curate" -> curate,
    "q_chunk_tokens" -> chunkTokens,
    "q_chunk_tokens_bpe" -> chunkTokensBpe,
    "q_pack_sequences" -> packSequences,
    "q_token_stats" -> tokenStats,
    "q_lang_id" -> langId,
    "q_quality_score" -> qualityScore,
    "q_fingerprint" -> fingerprint,
    "q_simhash" -> simhash,
    "q_simhash_neardup" -> simhashNearDup,
    "q_jaccard_neardup" -> jaccardNearDup,
    "q_minhash_lsh" -> minhashLsh,
    "q_lsh_incremental" -> minhashLshIncremental,
    "q_containment_dedup" -> containmentDedup,
    "q_dedup_cosine" -> dedupCosine,
    "q_cosine_topk" -> cosineTopk,
    "q_ann_ivf" -> annIvf,
    "q_knn_graph" -> knnGraph,
    "q_ann_rplsh" -> annRpLsh,
    "q_quality_signals" -> qualitySignals,
    "q_mmr_topk" -> mmrTopk,
    "q_mmr_batch" -> mmrBatch,
    "q_heavy_hitters" -> heavyHitters,
    "q_signals_long" -> signalsLong,
    "q_pack_grouped" -> packGrouped,
  )

  // ---- DuckDB oracle SQL builders (mirror the Spark expressions 1:1) ----

  private[queries] val toks = "list_filter(string_split(text, ' '), w -> w <> '')"
  private[queries] val dtoks = s"list_distinct($toks)"

  private[queries] def hash60(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** DuckDB 3-gram shingles over the token list `t`. */
  private def shinglesSql(t: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($t) - 1, 1)), " +
      s"i -> list_aggregate(($t)[i:i+2], 'string_agg', ' ')))"

  /** The full MinHash+LSH oracle pipeline (shingles → 12 minhashes →
    * 4 bands × 3 → bucket candidates → exact Jaccard >= 0.5), with an
    * optional extra predicate on the verified pair set. q_minhash_lsh
    * uses it bare; q_lsh_incremental appends the at-least-one-new-side
    * filter, which by the DedupSpec equivalence (disjoint ids) is exactly
    * what the incremental operator computes.
    */
  /** The shared shingle→minhash→band CTE chain (sets, hs, sigs, banded)
    * — composed bare by minhashLshSql and by Clustering's bucket-union
    * components oracle.
    */
  private[queries] val minhashBandedCte: String = minhashBandedCteFrom("documents")

  /** The banded CTE chain over an arbitrary (doc_id, text) relation —
    * q_corpus_build_lsh bands only the exact-dedup survivors.
    */
  private[queries] def minhashBandedCteFrom(docRel: String): String =
    s"""sets AS (SELECT doc_id, ${shinglesSql(toks)} AS items FROM $docRel),
       |hs AS (SELECT doc_id, list_transform(items, t -> ${hash60("t")}) AS hashes FROM sets),
       |sigs AS (SELECT doc_id, list_transform(range(0, 12),
       |    i -> list_min(list_transform(hashes, h ->
       |      (${Dedup.minhashA.take(12).mkString("[", ",", "]")})[i+1] * (h & 1073741823)
       |      + (${Dedup.minhashB.take(12).mkString("[", ",", "]")})[i+1] * (h >> 30)
       |      + i))) AS sig
       |  FROM hs),
       |banded AS (SELECT doc_id, md5(CAST(b AS VARCHAR) || ':' ||
       |    list_aggregate(list_transform(sig[b*3+1:b*3+3],
       |      x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS bkey
       |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b))""".stripMargin

  private def minhashLshSql(extraPred: String): String =
    s"""WITH $minhashBandedCte,
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b ON a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, jaccard FROM (
       |  SELECT c.id_a, c.id_b, ${jaccardSql("ta.hashes", "tb.hashes")} AS jaccard
       |  FROM cand c JOIN hs ta ON c.id_a = ta.doc_id
       |  JOIN hs tb ON c.id_b = tb.doc_id)
       |WHERE jaccard >= 0.5$extraPred ORDER BY id_a ASC, id_b ASC""".stripMargin

  private[queries] def jaccardSql(a: String, b: String): String =
    s"(CASE WHEN (len($a) + len($b))::DOUBLE - len(list_intersect($a, $b))::DOUBLE = 0.0 THEN 0.0 " +
      s"ELSE len(list_intersect($a, $b))::DOUBLE / ((len($a) + len($b))::DOUBLE - len(list_intersect($a, $b))::DOUBLE) END)"

  /** Left-to-right double fold of squared L2 between two list columns. */
  private def l2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE)) * (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE))), " +
      s"(acc, v) -> acc + v)"

  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST(($a)[i] AS DOUBLE) * CAST(($b)[i] AS DOUBLE)), (acc, v) -> acc + v)"

  private[queries] def cosineSql(a: String, b: String): String =
    s"(CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) = 0.0 THEN 0.0 " +
      s"ELSE ${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END)"

  /** The lang-ID CASE and quality expressions over a relation that has
    * (doc_id, text) — shared by q_lang_id/q_quality_score/q_curate.
    */
  private[queries] val langCase: String =
    """CASE
      |  WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
      |  WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
      |  WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
      |  WHEN h_fr > 0 THEN 'fr'
      |  ELSE 'und' END""".stripMargin

  private[queries] val markerHits: String =
    s"""len(list_filter($toks, w -> w IN ('the','a','of','and','to'))) AS h_en,
       |  len(list_filter($toks, w -> w IN ('el','la','de','que','y'))) AS h_es,
       |  len(list_filter($toks, w -> w IN ('der','die','und','ist','das'))) AS h_de,
       |  len(list_filter($toks, w -> w IN ('le','les','et','des','une'))) AS h_fr""".stripMargin

  private[queries] val qualityExpr: String =
    "least(n / 100.0, 1.0) * 0.5 + (CASE WHEN n = 0.0 THEN 0.0 ELSE nd / n END) * 0.5"

  /** 60-bit simhash over a `hashes` list column (mirrors TA.simhash). */
  private val simhashSql: String =
    """CAST(list_sum(list_transform(range(0, 60), b ->
      |    CASE WHEN coalesce(list_sum(list_transform(hashes,
      |        h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
      |    THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)""".stripMargin

  /** The q_mmr_topk oracle: candidate top-20 + pairwise sims, then the
    * k greedy rounds unrolled as chained CTEs (selN picks round N's
    * argmax, accN accumulates the picked set).
    */
  private def mmrOracle(k: Int, lambda: Double): String = {
    val rounds = (2 to k).map { i =>
      s"""sel$i AS (SELECT $i AS pick, c.id, c.rel, c.rel - $lambda * ms.m AS mmr
         |  FROM cand c JOIN (SELECT ia AS id, MAX(sim) AS m FROM pairs
         |    WHERE ib IN (SELECT id FROM acc${i - 1}) GROUP BY ia) ms USING (id)
         |  WHERE c.id NOT IN (SELECT id FROM acc${i - 1})
         |  ORDER BY mmr DESC, id ASC LIMIT 1),
         |acc$i AS (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |cand AS (SELECT id, rel FROM (
       |    SELECT e.vec_id AS id, ROUND(${cosineSql("e.embedding", "q.qe")}, 4) AS rel
       |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
       |  ORDER BY rel DESC, id ASC LIMIT 20),
       |ce AS (SELECT c.id, e.embedding FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id),
       |pairs AS (SELECT a.id AS ia, b.id AS ib,
       |    ROUND(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |  FROM ce a JOIN ce b ON a.id <> b.id),
       |sel1 AS (SELECT 1 AS pick, id, rel, rel AS mmr FROM cand
       |  ORDER BY rel DESC, id ASC LIMIT 1),
       |acc1 AS (SELECT * FROM sel1),
       |$rounds
       |SELECT CAST(pick AS BIGINT) AS pick, id AS vec_id, rel, mmr
       |FROM acc$k ORDER BY pick ASC""".stripMargin
  }

  /** Shared quality-signal derivation (no trailing ORDER BY so it can
    * nest as a CTE) — q_quality_signals and q_signals_long both build
    * on it.
    */
  private def qualitySignalsSql: String =
    s"""WITH f AS (SELECT doc_id,
       |    len($toks) AS n,
       |    greatest(len($toks) - 2, 0) AS total3,
       |    len(${shinglesSql(toks)}) AS distinct3,
       |    len(list_filter($toks, w -> w IN ('the','a','of','and','to'))) AS stop,
       |    length(text) AS txt_len,
       |    length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS aln,
       |    coalesce(list_max(list_transform($toks, w -> length(w))), 0) AS max_word_len
       |  FROM documents)
       |SELECT doc_id,
       |  CASE WHEN total3 <= 0 THEN 0 ELSE (total3 - distinct3) * 1000000 // total3 END AS dup_shingle_ppm,
       |  max_word_len,
       |  CASE WHEN n = 0 THEN 0 ELSE stop * 1000000 // n END AS stopword_ppm,
       |  CASE WHEN txt_len = 0 THEN 0 ELSE (txt_len - aln) * 1000000 // txt_len END AS symbol_ppm
       |FROM f""".stripMargin

  /** The q_mmr_batch oracle: per-qid top-20 candidates + within-qid
    * pairwise sims, then the k greedy rounds unrolled as chained CTEs —
    * each round's argmax is a per-qid ROW_NUMBER, mirroring
    * Rerank.mmrSelectBatch exactly.
    */
  private def mmrBatchOracle(k: Int, lambda: Double): String = {
    val rounds = (2 to k).map { i =>
      s"""sel$i AS (SELECT qid, $i AS pick, id, rel, mmr FROM (
         |    SELECT qid, id, rel, mmr,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mmr DESC, id ASC) AS rn
         |    FROM (SELECT c.qid, c.id, c.rel, c.rel - $lambda * ms.m AS mmr
         |      FROM cand c JOIN (SELECT p.qid, p.ia AS id, MAX(p.sim) AS m
         |          FROM pairs p JOIN acc${i - 1} a ON a.qid = p.qid AND a.id = p.ib
         |          GROUP BY p.qid, p.ia) ms ON ms.qid = c.qid AND ms.id = c.id
         |      WHERE NOT EXISTS (SELECT 1 FROM acc${i - 1} x
         |        WHERE x.qid = c.qid AND x.id = c.id)))
         |  WHERE rn = 1),
         |acc$i AS (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH probes AS (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id < 2),
       |cand AS (SELECT qid, id, rel FROM (
       |    SELECT qid, id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, id ASC) AS rn
       |    FROM (SELECT q.qid, e.vec_id AS id,
       |        ROUND(${cosineSql("e.embedding", "q.qe")}, 4) AS rel
       |      FROM embeddings e CROSS JOIN probes q WHERE e.vec_id <> q.qid))
       |  WHERE rn <= 20),
       |ce AS (SELECT c.qid, c.id, e.embedding FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.id),
       |pairs AS (SELECT a.qid, a.id AS ia, b.id AS ib,
       |    ROUND(${cosineSql("a.embedding", "b.embedding")}, 4) AS sim
       |  FROM ce a JOIN ce b ON a.qid = b.qid AND a.id <> b.id),
       |sel1 AS (SELECT qid, 1 AS pick, id, rel, rel AS mmr FROM (
       |    SELECT qid, id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, id ASC) AS rn
       |    FROM cand) WHERE rn = 1),
       |acc1 AS (SELECT * FROM sel1),
       |$rounds
       |SELECT qid, CAST(pick AS BIGINT) AS pick, id AS vec_id, rel, mmr
       |FROM acc$k ORDER BY qid ASC, pick ASC""".stripMargin
  }

  /** BPE oracle: replay BpeTokenizer.fixtureMerges in DuckDB, one
    * list_reduce sweep per rank over chr(31)-joined symbol strings. Each
    * sweep merges every (X,Y) adjacency leftmost-greedily — identical to
    * the classic loop's merge-all pass — and training-consistency
    * guarantees no earlier rank re-fires, so ONE ascending sweep per
    * rank reproduces cascading BPE exactly. Words get the GPT-2 Ġ
    * (chr(288)) space prefix except the first, matching what the real
    * pre-tokenizer produces on the single-space lowercase corpus.
    */
  private val bpeOracleSql: String = {
    val SEP = "chr(31)"
    val passes = graft.operators.BpeTokenizer.fixtureMerges.zipWithIndex
      .map { case ((x, y), i) =>
        val xy = x + y
        s"""b${i + 1} AS (SELECT doc_id, wi, list_reduce(string_split(s, $SEP), (acc, e) ->
           |  CASE WHEN e = '$y' AND (acc = '$x' OR acc LIKE '%' || $SEP || '$x')
           |    THEN CASE WHEN acc = '$x' THEN '$xy'
           |      ELSE left(acc, len(acc) - ${x.length}) || '$xy' END
           |    ELSE acc || $SEP || e END) AS s FROM b$i)""".stripMargin
      }
    val last = s"b${graft.operators.BpeTokenizer.fixtureMerges.size}"
    s"""WITH w AS (SELECT doc_id, li.i AS wi,
       |    (CASE WHEN li.i = 1 THEN '' ELSE chr(288) END) || string_split(text, ' ')[li.i] AS word
       |  FROM documents
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1)) AS i) li),
       |b0 AS (SELECT doc_id, wi, array_to_string(string_split(word, ''), $SEP) AS s FROM w),
       |${passes.mkString(",\n")}
       |SELECT doc_id,
       |  CAST(SUM(len(string_split(s, $SEP))) AS BIGINT) AS n_tokens_bpe,
       |  (CAST(SUM(len(string_split(s, $SEP))) AS BIGINT) + 63) // 64 AS n_chunks
       |FROM $last GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
  }

  /** Trainer oracle: the 8 rounds unrolled — per round, weighted
    * adjacent-pair counts from the SEP-joined symbol strings, the
    * (cnt DESC, pair ASC) argmax, and one captured-column list_reduce
    * sweep applying the learned pair leftmost-greedily (the suffix
    * check uses right(), not LIKE, so symbol text can't inject
    * wildcards). Same word model as the apply-side BPE oracle.
    */
  private val BpeTrainRounds = 8

  /** The shared trainer CTE body: weighted vocab w1 and, per round r,
    * pair counts p_r, argmax m_r, and the merged vocab w_{r+1}.
    */
  private val bpeTrainChainsSql: String = bpeTrainChainsSqlN(BpeTrainRounds)

  private def bpeTrainChainsSqlN(nRounds: Int): String = {
    val SEP = "chr(31)"
    val rounds = (1 to nRounds).map { r =>
      s"""p$r AS (SELECT w.ss[li.i] AS x, w.ss[li.i + 1] AS y, w.freq
         |  FROM (SELECT string_split(s, $SEP) AS ss, freq FROM w$r) w
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(w.ss))) AS i) li),
         |m$r AS (SELECT x, y, CAST(SUM(freq) AS BIGINT) AS cnt FROM p$r
         |  GROUP BY x, y ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
         |w${r + 1} AS (SELECT list_reduce(string_split(w.s, $SEP), (acc, e) ->
         |    CASE WHEN e = m.y AND (acc = m.x OR right(acc, len(m.x) + 1) = $SEP || m.x)
         |      THEN CASE WHEN acc = m.x THEN m.x || m.y
         |        ELSE left(acc, len(acc) - len(m.x)) || m.x || m.y END
         |      ELSE acc || $SEP || e END) AS s, w.freq
         |  FROM w$r w CROSS JOIN m$r m)""".stripMargin
    }
    s"""words AS (SELECT (CASE WHEN li.i = 1 THEN '' ELSE chr(288) END) ||
       |    string_split(text, ' ')[li.i] AS word
       |  FROM documents
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1)) AS i) li),
       |w1 AS (SELECT array_to_string(string_split(word, ''), $SEP) AS s,
       |    CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM words GROUP BY 1),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private val bpeTrainOracleSql: String = {
    val unions = (1 to BpeTrainRounds)
      .map(r => s"SELECT $r AS r, x, y, cnt FROM m$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainChainsSql
       |SELECT CAST(r AS BIGINT) AS rank, x AS lhs, y AS rhs, cnt AS pair_freq
       |FROM ($unions)
       |ORDER BY rank ASC""".stripMargin
  }

  /** Vocab-target oracle: the same unrolled chains, with the realized
    * rounds cut to targetVocab − |alphabet| (alphabet = distinct chars
    * of the same `words` CTE the chains tokenize — both engines count
    * the identical set).
    */
  private val bpeTrainVocabOracleSql: String = {
    val unions = (1 to BpeTrainRounds)
      .map(r => s"SELECT $r AS r, x, y, cnt FROM m$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainChainsSql,
       |alpha AS (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(word, '')) AS c FROM words)),
       |mm AS ($unions)
       |SELECT CAST(r AS BIGINT) AS rank, x AS lhs, y AS rhs, cnt AS pair_freq
       |FROM mm CROSS JOIN alpha
       |WHERE r <= greatest($BpeTargetVocab - alpha.n, 0)
       |ORDER BY rank ASC""".stripMargin
  }

  /** Min-frequency oracle: `cnt >= floor` on the unrolled rounds is the
    * whole stop — sound because the max pair count never increases
    * across merges, so the qualifying rounds are exactly the realized
    * prefix (the chains keep merging past the stop, but every later
    * argmax is below the floor and filters out).
    */
  private val bpeTrainFloorOracleSql: String = {
    val unions = (1 to BpeTrainRounds)
      .map(r => s"SELECT $r AS r, x, y, cnt FROM m$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $bpeTrainChainsSql
       |SELECT CAST(r AS BIGINT) AS rank, x AS lhs, y AS rhs, cnt AS pair_freq
       |FROM ($unions)
       |WHERE cnt >= $BpeMinPairFreq
       |ORDER BY rank ASC""".stripMargin
  }

  /** Train-then-apply oracle: the trainer chains, then the corpus
    * re-tokenized per doc with one captured-column sweep per learned
    * rank (same word model; same sweep lambda as the trainer's own
    * vocab update), counting final symbols per doc.
    */
  private val bpeTrainApplyOracleSql: String = {
    val SEP = "chr(31)"
    val sweeps = (1 to BpeTrainRounds).map { r =>
      s"""t$r AS (SELECT t.doc_id, t.wi, list_reduce(string_split(t.s, $SEP), (acc, e) ->
         |    CASE WHEN e = m.y AND (acc = m.x OR right(acc, len(m.x) + 1) = $SEP || m.x)
         |      THEN CASE WHEN acc = m.x THEN m.x || m.y
         |        ELSE left(acc, len(acc) - len(m.x)) || m.x || m.y END
         |      ELSE acc || $SEP || e END) AS s
         |  FROM t${r - 1} t CROSS JOIN m$r m)""".stripMargin
    }
    s"""WITH $bpeTrainChainsSql,
       |dw AS (SELECT doc_id, li.i AS wi,
       |    (CASE WHEN li.i = 1 THEN '' ELSE chr(288) END) ||
       |      string_split(text, ' ')[li.i] AS word
       |  FROM documents
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1)) AS i) li),
       |t0 AS (SELECT doc_id, wi,
       |    array_to_string(string_split(word, ''), $SEP) AS s FROM dw),
       |${sweeps.mkString(",\n")}
       |SELECT doc_id,
       |  CAST(SUM(len(string_split(s, $SEP))) AS BIGINT) AS n_tokens_bpe
       |FROM t$BpeTrainRounds GROUP BY doc_id ORDER BY doc_id ASC""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_bpe_train" -> bpeTrainOracleSql,
    "q_bpe_train_vocab" -> bpeTrainVocabOracleSql,
    "q_bpe_train_floor" -> bpeTrainFloorOracleSql,
    "q_bpe_train_apply" -> bpeTrainApplyOracleSql,
    "q_mmr_topk" -> mmrOracle(5, 0.5),
    "q_mmr_batch" -> mmrBatchOracle(5, 0.5),
    "q_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($toks) AS tok FROM documents),
         |c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         |n AS (SELECT COUNT(*) AS n_total FROM t)
         |SELECT tok, cnt FROM c CROSS JOIN n
         |WHERE cnt * 100 > n_total ORDER BY tok ASC""".stripMargin,
    "q_mixture_rebalance" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
         |m AS (SELECT MIN(n_lang) AS n_min FROM c)
         |SELECT doc_id, d.lang
         |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
         |WHERE ${hash60("CAST(doc_id AS VARCHAR) || ':mix'")} % n_lang < n_min
         |ORDER BY doc_id ASC""".stripMargin,
    "q_stable_sample" ->
      s"""SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':shuffle') AS shuffle_key
         |FROM documents
         |WHERE ${hash60("CAST(doc_id AS VARCHAR)")} % 100 < 10
         |ORDER BY shuffle_key ASC, doc_id ASC""".stripMargin,
    "q_chunk_tokens" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |ch AS (SELECT doc_id, i AS chunk_idx,
         |    len(tk[CAST(i*48+1 AS BIGINT) : CAST(i*48+64 AS BIGINT)]) AS n_chunk_tokens
         |  FROM t CROSS JOIN LATERAL (SELECT unnest(range(0,
         |    greatest(CAST(ceil(greatest(len(tk) - 16, 0) / 48.0) AS BIGINT), 1))) AS i)
         |  WHERE len(tk) > 0)
         |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, n_chunk_tokens
         |FROM ch ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin,
    "q_chunk_tokens_bpe" -> bpeOracleSql,
    "q_pack_grouped" ->
      s"""SELECT split, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
         |  doc_id, n_tokens FROM (
         |  SELECT split, doc_id, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM (SELECT doc_id, CASE
         |      WHEN ${hash60("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 80 THEN 'train'
         |      WHEN ${hash60("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 90 THEN 'val'
         |      ELSE 'test' END AS split,
         |      len($toks) AS n_tokens
         |    FROM documents))
         |ORDER BY doc_id ASC""".stripMargin,
    "q_pack_sequences" ->
      s"""SELECT CAST(floor((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS bin,
         |  doc_id, n_tokens FROM (
         |  SELECT doc_id, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM (SELECT doc_id, len($toks) AS n_tokens FROM documents))
         |ORDER BY doc_id ASC""".stripMargin,
    "q_curate" ->
      s"""WITH canon AS (
         |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |kept1 AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN canon c ON d.doc_id = c.doc_id),
         |sets AS (SELECT doc_id, ${shinglesSql(toks)} AS items FROM kept1),
         |hs AS (SELECT doc_id, list_transform(items, t -> ${hash60("t")}) AS hashes FROM sets),
         |sigs AS (SELECT doc_id, list_transform(range(0, 12),
         |    i -> list_min(list_transform(hashes, h ->
         |      (${Dedup.minhashA.take(12).mkString("[", ",", "]")})[i+1] * (h & 1073741823)
         |      + (${Dedup.minhashB.take(12).mkString("[", ",", "]")})[i+1] * (h >> 30)
         |      + i))) AS sig
         |  FROM hs),
         |banded AS (SELECT doc_id, md5(CAST(b AS VARCHAR) || ':' ||
         |    list_aggregate(list_transform(sig[b*3+1:b*3+3],
         |      x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS bkey
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b ON a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |drops AS (SELECT DISTINCT id_b AS doc_id FROM (
         |  SELECT c.id_a, c.id_b, ${jaccardSql("ta.hashes", "tb.hashes")} AS jaccard
         |  FROM cand c JOIN hs ta ON c.id_a = ta.doc_id
         |  JOIN hs tb ON c.id_b = tb.doc_id)
         |  WHERE jaccard >= 0.5),
         |kept2 AS (SELECT k.doc_id, k.text FROM kept1 k
         |  WHERE NOT EXISTS (SELECT 1 FROM drops x WHERE x.doc_id = k.doc_id)),
         |feat AS (SELECT doc_id, $langCase AS lang_pred, $qualityExpr AS quality
         |  FROM (SELECT doc_id, $markerHits,
         |    len($toks)::DOUBLE AS n, len($dtoks)::DOUBLE AS nd
         |    FROM kept2))
         |SELECT doc_id, lang_pred, quality FROM feat
         |WHERE lang_pred IN ('en') AND quality >= 0.45
         |ORDER BY doc_id ASC""".stripMargin,
    "q_token_stats" ->
      s"""SELECT doc_id, len($toks) AS n_tokens, len($dtoks) AS n_distinct,
         |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_regex_tokens
         |FROM documents ORDER BY doc_id ASC""".stripMargin,
    "q_lang_id" ->
      s"""SELECT doc_id, CASE
         |  WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
         |  WHEN h_es > 0 AND h_es >= h_de AND h_es >= h_fr THEN 'es'
         |  WHEN h_de > 0 AND h_de >= h_fr THEN 'de'
         |  WHEN h_fr > 0 THEN 'fr'
         |  ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id,
         |  len(list_filter($toks, w -> w IN ('the','a','of','and','to'))) AS h_en,
         |  len(list_filter($toks, w -> w IN ('el','la','de','que','y'))) AS h_es,
         |  len(list_filter($toks, w -> w IN ('der','die','und','ist','das'))) AS h_de,
         |  len(list_filter($toks, w -> w IN ('le','les','et','des','une'))) AS h_fr
         |  FROM documents)
         |ORDER BY doc_id ASC""".stripMargin,
    "q_quality_score" ->
      s"""SELECT doc_id,
         |  least(n / 100.0, 1.0) * 0.5 +
         |  (CASE WHEN n = 0.0 THEN 0.0 ELSE nd / n END) * 0.5 AS quality
         |FROM (SELECT doc_id, len($toks)::DOUBLE AS n, len($dtoks)::DOUBLE AS nd
         |  FROM documents)
         |ORDER BY doc_id ASC""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(list_aggregate(list_sort($dtoks), 'string_agg', ' ')) AS fp,
         |  coalesce(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($toks, t -> ${hash60("t")} % 2147483647)),
         |    (acc, h) -> (acc * 31 + h) % 2147483647), 0) AS fp_rolling
         |FROM documents ORDER BY doc_id ASC""".stripMargin,
    "q_simhash" ->
      s"""SELECT doc_id, $simhashSql AS simhash
         |FROM (SELECT doc_id,
         |  list_transform($dtoks, t -> ${hash60("t")}) AS hashes
         |  FROM documents)
         |ORDER BY doc_id ASC""".stripMargin,
    "q_simhash_neardup" ->
      s"""WITH sh AS (SELECT source, doc_id, $simhashSql AS sh
         |  FROM (SELECT source, doc_id,
         |    list_transform($dtoks, t -> ${hash60("t")}) AS hashes
         |    FROM documents))
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE hamming <= 4 ORDER BY id_a ASC, id_b ASC""".stripMargin,
    "q_jaccard_neardup" ->
      s"""WITH hashed AS (SELECT doc_id, source,
         |  list_distinct(list_transform($toks, w -> ${hash60("w")})) AS items
         |  FROM documents)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${jaccardSql("a.items", "b.items")} AS jaccard
         |  FROM hashed a JOIN hashed b
         |    ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.9 ORDER BY id_a ASC, id_b ASC""".stripMargin,
    "q_containment_dedup" ->
      s"""WITH hashed AS (SELECT doc_id, source,
         |  list_distinct(list_transform($toks, w -> ${hash60("w")})) AS items
         |  FROM documents)
         |SELECT id_a, id_b, n_a, n_b, inter FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(a.items) AS BIGINT) AS n_a,
         |    CAST(len(b.items) AS BIGINT) AS n_b,
         |    CAST(len(list_intersect(a.items, b.items)) AS BIGINT) AS inter
         |  FROM hashed a JOIN hashed b
         |    ON a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE inter * 10 >= least(n_a, n_b) * 9
         |ORDER BY id_a ASC, id_b ASC""".stripMargin,
    "q_minhash_lsh" -> minhashLshSql(extraPred = ""),
    "q_lsh_incremental" ->
      minhashLshSql(extraPred = " AND (id_a % 5 = 0 OR id_b % 5 = 0)"),
    "q_dedup_cosine" ->
      s"""SELECT id_a, id_b, ROUND(cos_raw, 4) AS cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosineSql("a.embedding", "b.embedding")} AS cos_raw
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cos_raw >= 0.4 ORDER BY id_a ASC, id_b ASC""".stripMargin,
    "q_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, ROUND(cos_raw, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosineSql("e.embedding", "q.qe")} AS cos_raw
         |  FROM embeddings e CROSS JOIN q)
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,
    "q_quality_signals" ->
      s"""$qualitySignalsSql
         |ORDER BY doc_id ASC""".stripMargin,
    "q_signals_long" ->
      s"""WITH q AS ($qualitySignalsSql)
         |SELECT doc_id, metric, value FROM (UNPIVOT q
         |  ON dup_shingle_ppm, max_word_len, stopword_ppm, symbol_ppm
         |  INTO NAME metric VALUE value)
         |ORDER BY doc_id ASC, metric ASC""".stripMargin,
    "q_ann_rplsh" ->
      s"""WITH planes AS (SELECT p, list_transform(range(0, 64), j ->
         |    ((${hash60("'rp:' || p || ':' || j")} % 2001) - 1000) / 1000.0) AS hp
         |  FROM (SELECT unnest(range(0, 8)) AS p)),
         |codes AS (SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${dotSql("e.embedding", "pl.hp")} > 0
         |      THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |qc AS (SELECT code AS qcode FROM codes WHERE vec_id = 0)
         |SELECT vec_id, ROUND(cos_raw, 4) AS cos FROM (
         |  SELECT e.vec_id, ${cosineSql("e.embedding", "q.qe")} AS cos_raw
         |  FROM embeddings e JOIN codes c ON e.vec_id = c.vec_id
         |    CROSS JOIN q CROSS JOIN qc
         |  WHERE c.code = qc.qcode
         |  ORDER BY cos_raw DESC, e.vec_id ASC LIMIT 10)
         |ORDER BY cos DESC, vec_id ASC""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |cents AS (SELECT vec_id AS cell, embedding AS cvec
         |  FROM embeddings WHERE vec_id < 16),
         |assigned AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.cell, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${l2Sql("e.embedding", "c.cvec")} ASC, c.cell ASC) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |probed AS (SELECT cell FROM (
         |  SELECT c.cell, ${l2Sql("c.cvec", "q.qe")} AS qdist
         |  FROM cents c CROSS JOIN q)
         |  ORDER BY qdist ASC, cell ASC LIMIT 4)
         |SELECT vec_id, ROUND(dist_raw, 4) AS dist FROM (
         |  SELECT a.vec_id, ${l2Sql("a.embedding", "q.qe")} AS dist_raw
         |  FROM assigned a JOIN probed p ON a.cell = p.cell CROSS JOIN q)
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_knn_graph" ->
      s"""WITH cents AS (SELECT vec_id AS cell, embedding AS cvec
         |  FROM embeddings WHERE vec_id < 16),
         |assigned AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.cell, ROW_NUMBER() OVER (
         |    PARTITION BY e.vec_id
         |    ORDER BY ${l2Sql("e.embedding", "c.cvec")} ASC, c.cell ASC) AS rn
         |  FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         |pairs AS (SELECT a.vec_id, b.vec_id AS nbr_id,
         |    ${l2Sql("a.embedding", "b.embedding")} AS dist_raw
         |  FROM assigned a JOIN assigned b ON a.cell = b.cell
         |  WHERE a.vec_id <> b.vec_id),
         |ranked AS (SELECT vec_id, nbr_id, dist_raw, ROW_NUMBER() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY dist_raw ASC, nbr_id ASC) AS rk
         |  FROM pairs)
         |SELECT vec_id, rk, nbr_id, ROUND(dist_raw, 4) AS dist
         |FROM ranked WHERE rk <= 3 ORDER BY vec_id ASC, rk ASC""".stripMargin,
  )
}
