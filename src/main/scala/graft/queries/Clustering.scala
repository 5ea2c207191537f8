package graft.queries

import graft.{Artifacts, Tables}
import graft.operators.{ConnectedComponents, Dedup, Iterate, KMeansOp, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster-level dedup and corpus-construction queries — the step AFTER
  * pair detection: resolving near-dup pairs into components, blocked
  * edit-distance grouping, exact stratified sampling, and TF-IDF term
  * selection. All oracled (the components oracle is a DuckDB recursive
  * CTE computing the same min-label closure).
  */
object Clustering {

  /** Every document labeled with its near-dup cluster's canonical
    * (minimum) doc_id: edges = blocked token-Jaccard >= 0.9 pairs
    * (exactly q_jaccard_neardup's relation), components via the adaptive
    * resolver (cheap propagation rounds first, alternating large-star/
    * small-star escalation for deep graphs — O(log n) rounds on any
    * shape; min-label propagation stays as the spec oracle).
    * Singletons keep their own id, so this is the full dedup assignment
    * table a curation pipeline joins against.
    */
  def dupClusters(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // set-contracted edges: same components as the full pair relation
    // (Dedup.componentEdgesBySet), but saturated-set cliques contribute
    // O(N) star edges instead of O(N²) pairs — the sf1-probe fix
    val pairs = Dedup.componentEdgesBySet(Analysis.tokenSets(s, d), 0.9)
    ConnectedComponents.assignAdaptive(docs.select(col("doc_id").as("id")), pairs,
        checkpointDir = Iterate.envDir)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id").asc)
  }

  /** Bucket-union near-dup components — the 100 TB-scale sibling of
    * q_dup_clusters that the sf1 probe demanded: docs sharing ANY
    * MinHash band bucket (the q_minhash_lsh banding: 3-gram shingles,
    * 12 hashes, 4 bands × 3, all md5-deterministic) union directly into
    * one component, with NO pairwise verify stage anywhere. Per bucket
    * the edges are a star to the min-id anchor, so the CC input is
    * O(N·bands) edges REGARDLESS of how clique-heavy the similarity
    * graph is — where any exact-pair semantics must enumerate Ω(pairs),
    * which the probe measured quadratic on this corpus (29% of docs are
    * mutually-near-dup). The trade is the standard LSH one (RefinedWeb/
    * SlimPajama-style production dedup): components may over-merge on a
    * band collision and may miss a true pair that shares no band; every
    * pair q_minhash_lsh VERIFIES is in one component by construction.
    * Deterministic hashing makes the whole thing oracle-checkable — the
    * DuckDB twin replays the same bands and closes the same stars.
    */
  def dupClustersLsh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    ConnectedComponents.assignAdaptive(docs.select(col("doc_id").as("id")),
        lshEdges(Analysis.shingleSets(s, d)), checkpointDir = Iterate.envDir)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id").asc)
  }

  /** The bucket-union star-edge relation [[dupClustersLsh]] and
    * [[corpusBuildLsh]] resolve over the `(id, hsorted)` shingle `sets`:
    * per band bucket, every member points at the bucket's min-id anchor
    * — O(N·bands) edges total.
    */
  private def lshEdges(sets: DataFrame): DataFrame = {
    val banded = Dedup.bandTable(sets, bands = 4, rowsPerBand = 3)
    val anchors = banded.groupBy(col("bkey")).agg(min(col("id")).as("anchor"))
    banded.join(anchors, Seq("bkey"))
      .where(col("id") =!= col("anchor"))
      .select(col("anchor").as("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** All distinct strings obtainable from `s` by deleting at most
    * `maxDel` characters — the FastSS deletion neighborhood. If
    * lev(a, b) <= τ then the two τ-deletion neighborhoods intersect
    * (delete the edited positions from each side), so an equi-join on
    * neighborhood membership has perfect recall for the exact verify.
    * |neighborhood| is O(len^τ) per string — ~170 for len 18, τ 2.
    */
  private[graft] def deletionNeighborhood(s: String, maxDel: Int): Array[String] = {
    var frontier = Set(s)
    val all = scala.collection.mutable.Set(s)
    for (_ <- 1 to maxDel) {
      frontier = frontier.flatMap(t => t.indices.map(i =>
        t.substring(0, i) + t.substring(i + 1)))
      all ++= frontier
    }
    all.toArray
  }

  /** Edit-distance near-dup pairs over customer names (lev <= 1 within
    * market-segment blocks — the classic single-typo dedup). NOT a
    * blocked self-join: the names share a long constant prefix, so every
    * size/prefix filter degenerates and O(block²) pairs (22M at sf0.1)
    * would each pay an O(len²) levenshtein. Instead: FastSS
    * deletion-neighborhood signatures — an equi-join on
    * (block, md5(neighborhood variant)) proposes only pairs that agree
    * on some ≤τ-deletion variant (recall guaranteed, see
    * deletionNeighborhood), and the exact distance runs once per
    * surviving pair above an aggregate barrier.
    *
    * τ is a precision lever on low-entropy keys: these names carry ~5
    * significant digits, so τ=2 signatures retain only 3 digits (10³
    * buckets → ~10M candidates at sf0.1, and the TRUE lev≤2 result is
    * itself near-quadratic on sequential ids — the data is degenerate at
    * that radius). τ=1 keeps 4-digit keys: candidates track true pairs,
    * both linear in the input.
    */
  def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    val neighborhood = udf((name: String) => deletionNeighborhood(name, 1))
    val c = Tables.customer(s, d).select(
      col("c_mktsegment").as("block"), col("c_custkey").as("id"),
      col("c_name").as("name"))
    val sigs = c.select(col("block"), col("id"),
        explode(neighborhood(col("name"))).as("variant"))
      .select(col("block"), col("id"), TA.md5Hash60(col("variant")).as("sig"))
    val cand = sigs.select(col("block"), col("sig"), col("id").as("id_a"))
      .join(sigs.select(col("block"), col("sig"), col("id").as("id_b")), Seq("block", "sig"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val names = c.select(col("id"), col("name"))
    cand
      .join(names.select(col("id").as("id_a"), col("name").as("name_a")), Seq("id_a"))
      .join(names.select(col("id").as("id_b"), col("name").as("name_b")), Seq("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(levenshtein(col("name_a"), col("name_b"))).cast("long").as("dist"))
      .where(col("dist") <= 1)
      .orderBy(col("id_a").asc, col("id_b").asc)
  }

  /** Exact proportional stratified sample: 20% of each source stratum,
    * membership by rank of a deterministic md5 sort key within the
    * stratum (so every stratum contributes exactly ceil(0.2·n) rows —
    * unlike bernoulli hash sampling, which only hits the rate in
    * expectation). One window shuffle on the stratum key.
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val keyed = Tables.documents(s, d).select(col("source"), col("doc_id"),
      md5(concat(col("doc_id").cast("string"), lit(":strat")).cast("binary")).as("skey"))
    val w = Window.partitionBy(col("source")).orderBy(col("skey").asc, col("doc_id").asc)
    keyed
      .withColumn("rn", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy(col("source"))))
      .where(col("rn") <= ceil(col("n_src") * 0.2))
      .select(col("source"), col("doc_id"))
      .orderBy(col("source").asc, col("doc_id").asc)
  }

  /** Top-3 TF-IDF terms per document. The score is integer-scaled
    * (tf · 10^6 · N_docs div df — BIGINT arithmetic end to end) so
    * ranking is bit-identical across engines with no float logs; ranking
    * ties break on the term string. df comes from the (doc, term)
    * relation itself (one extra aggregation, map-side combined).
    */
  def tfidfTop3(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(nDocs))
      .withColumn("score_scaled", expr("tf * 1000000L * n_docs div df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_scaled").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("score_scaled"))
      .orderBy(col("doc_id").asc, col("rk").asc)
  }

  /** Symmetric int8 quantization of the embedding column (the 4×
    * memory/IO cut a 100 TB vector corpus takes before serving):
    * scale = max|x| / 127 per vector, q_i = floor(x_i/scale + 0.5).
    * Output exploded to scalar (vec_id, pos, qval, scale) rows — the
    * checker hashes scalars only. All math is IEEE double on identical
    * inputs (floats widen exactly), so quantized codes match the oracle
    * bit-for-bit; floor(x + 0.5) is used instead of round() because the
    * engines' ROUND-on-double semantics differ.
    */
  def quantizeEmbeddings(s: SparkSession, d: String): DataFrame = {
    val amax = array_max(transform(col("embedding"), e => abs(e.cast("double"))))
    val scaleC = when(amax === 0.0, lit(0.0)).otherwise(amax / 127.0)
    Tables.embeddings(s, d)
      .withColumn("scale", scaleC)
      .select(col("vec_id"), col("scale"),
        posexplode(transform(col("embedding"), e =>
          when(col("scale") === 0.0, lit(0L))
            .otherwise(floor(e.cast("double") / col("scale") + 0.5).cast("long"))))
          .as(Seq("pos", "qval")))
      .select(col("vec_id"), col("pos"), col("qval"), col("scale"))
      .orderBy(col("vec_id").asc, col("pos").asc)
  }

  /** Deterministic 80/10/10 train/val/test assignment by md5 bucket of
    * the doc id — stable under reruns, engine-independent, and safe to
    * recompute on any cluster (the split a training pipeline joins
    * against instead of materializing three copies of the corpus).
    */
  def trainSplit(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(TA.md5Hash60(concat(col("doc_id").cast("string"), lit(":split"))), lit(100L))
    Tables.documents(s, d)
      .select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").as("split"))
      .orderBy(col("doc_id").asc)
  }

  // ---- shared corpus-build stages ------------------------------------
  // The five corpus pipelines (exact CC; + SemDeDup at fixed k, at √N,
  // and capped; LSH-resolved) are compositions of the SAME stages:
  // exactKeptIds, componentCanon over the edges of q_dup_clusters
  // (componentEdgesBySet) or q_dup_clusters_lsh (lshEdges),
  // Dedup.semDedup (the operator of q_semdedup*), and gateChunkSplit.
  // Factoring them keeps the pipelines provably consistent with the
  // standalone oracled queries they compose.

  /** Exact-dedup survivors: min doc_id per content hash. */
  private def exactKeptIds(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /** Canonical representatives of the token-Jaccard ≥ 0.9 near-dup
    * components over the exact-dedup survivors (set-contracted edges,
    * same components as the full pair relation).
    */
  private def nearDupCanon(s: SparkSession, d: String, kept1Ids: DataFrame): DataFrame = {
    val sets = Analysis.tokenSets(s, d)
      .join(kept1Ids.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    // set-contracted, same components
    componentCanon(kept1Ids, Dedup.componentEdgesBySet(sets, 0.9))
  }

  /** Canonical representatives of the near-dup components `edges` form
    * over the `kept1Ids` survivors: each component's minimum doc_id.
    */
  private def componentCanon(kept1Ids: DataFrame, edges: DataFrame): DataFrame =
    ConnectedComponents
      .assignAdaptive(kept1Ids.select(col("doc_id").as("id")), edges,
        checkpointDir = Iterate.envDir)
      .where(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id"))

  /** Canonical near-dup representatives of the exact-dedup survivors —
    * the shared fact derivation of corpus_build/v2/v3 — cached once per
    * (session, sf dir) in the SESSION CATALOG (the same
    * persisted-derivation pattern as Analysis.tokenSets; see SCALE.md
    * "Fact-derivation reuse"). The derivation is deterministic (exact
    * dedup → set-contracted Jaccard edges → CC → min-id reps), so reuse
    * across the three pipelines is sound; at production scale this IS
    * the materialized dedup-assignment table every curation job joins
    * against rather than re-deriving.
    */
  private[graft] def canonIds(s: SparkSession, d: String): DataFrame =
    // Keyed on the documents table's CONTENT fingerprint (the same
    // parquet-footer hash the quantizer memos use), not the dir alone: a mid-session rewrite of documents.parquet evicts the
    // stale view and rebuilds — dir-only keys proved unsound there.
    CachedViews.cached(s, "graft_canon_ids", d,
      Artifacts.snapshotKey(s, d, "documents")) {
      nearDupCanon(s, d, exactKeptIds(Tables.documents(s, d)))
    }

  /** The canon survivors [[Dedup.semDedup]] keeps under quantizer
    * `cents` and population `cap` (doc_id ≡ vec_id in this corpus),
    * with the assigned + payload relation pinned — see the operator's
    * note on why the compositions pin and the standalone queries do not.
    */
  private def semKept(s: SparkSession, d: String,
      cents: Seq[(Long, Seq[Long])], cap: Option[Int]): DataFrame = {
    val canon = canonIds(s, d)
    val vecs = Tables.embeddings(s, d)
      .select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))
      .join(canon.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    canon.join(Dedup.semDedup(vecs, Tables.embeddings(s, d), cents, cap, pin = true)
        .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_anti")
  }

  /** Shared pipeline tail: language + quality gate → context-window
    * chunking → split assignment over the kept ids. Output: one row per
    * kept chunk with its split label.
    */
  private def gateChunkSplit(docs: DataFrame, keptIds: DataFrame): DataFrame = {
    val gated = docs
      .join(keptIds, Seq("doc_id"), "left_semi")
      .where(TA.langId(col("text")) === "en" && TA.qualityScore(col("text")) >= 0.45)
    val bucket = pmod(TA.md5Hash60(concat(col("doc_id").cast("string"), lit(":split"))), lit(100L))
    gated
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("split"),
        posexplode(TA.tokenChunks(col("text"), size = 64, overlap = 16))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        size(TA.tokens(col("chunk"))).cast("long").as("n_chunk_tokens"), col("split"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
  }

  /** End-to-end corpus build — the whole training-data prep pipeline as
    * ONE declared query: exact dedup (min id per content hash) →
    * near-dup CLUSTER resolution (token-Jaccard pairs → connected
    * components; keep only canonical cluster representatives — strictly
    * stronger than pair-based dropping, which keeps a doc transitively
    * connected to a smaller near-dup when no direct pair links them) →
    * language + quality gate → context-window chunking → split
    * assignment. Every stage is the already-oracled operator; the
    * oracle composes the same CTEs plus the recursive-CTE component
    * closure. This is the pinned EXACT contract — its pair stage is
    * intrinsically Ω(pairs); the scale-safe siblings are v3 (√N
    * SemDeDup) and lsh (no pairwise stage at all).
    */
  def corpusBuild(s: SparkSession, d: String): DataFrame =
    gateChunkSplit(Tables.documents(s, d), canonIds(s, d))

  /** q_corpus_build with the SemDeDup stage spliced in — the FULL
    * SemDeDup-paper pipeline (Abbas et al. 2023) as one dataflow:
    * exact dedup → near-dup cluster resolution → **trained-k-means +
    * within-cluster cosine prune** → language/quality gate → chunk →
    * split. The quantizer is the SHARED trained artifact
    * (SemanticQ.trainedCentroids — same cache the IVF/search queries
    * load; no re-training, no corpus re-read). Pinned small-k contract:
    * the fixed k=8 keeps the (N/k)² within-cluster term, so the
    * pipeline a 100 TB deployment runs is [[corpusBuildV3]].
    */
  def corpusBuildV2(s: SparkSession, d: String): DataFrame =
    gateChunkSplit(Tables.documents(s, d),
      semKept(s, d, SemanticQ.trainedCentroids(s, d), cap = None))

  /** The PRODUCTION corpus build — v2 with the SemDeDup quantizer at
    * k = ⌈√N⌉ (2-round integer Lloyd, as q_semdedup_scaled): cluster
    * populations stay ~√N as the corpus grows, so the within-cluster
    * pairwise term is ~N^1.5·density instead of (N/8)². This closes
    * the last quadratic stage of the flagship pipeline — the sf1 probe
    * measured the fixed-k v2 at 10.7× under 10× rows vs 2.7× for the
    * √N stage standalone. Since round 17 the quantizer TRAINS ON A
    * BOUNDED SAMPLE ([[SemanticQ.sampledCentroids]] — full-corpus
    * Lloyd at k=⌈√N⌉ was the pipeline's one remaining superlinear
    * term, O(N^1.5) per round; the sampled fit is O(16·N)). k derives
    * from the embeddings COUNT and the sample from a cross-engine
    * multiplicative hash, both replayed by the oracle
    * (SemanticQ.lloydSqlSampled), so the composition stays exact.
    */
  def corpusBuildV3(s: SparkSession, d: String): DataFrame =
    gateChunkSplit(Tables.documents(s, d),
      semKept(s, d, SemanticQ.sampledCentroids(s, d), cap = None))

  /** The LINEAR SEMANTIC corpus build — v2 with the SemDeDup stage's
    * populations CAPPED (q_semdedup_capped's rank chunking into runs
    * of at most SemanticQ.SemCap): where v3 holds
    * populations ~√N (leaving the N·√N assignment term — measured
    * 53–63× at 100× rows), the cap bounds every bucket at a CONSTANT,
    * so assignment (fixed k=8), rank window, and pairwise prune are
    * ALL linear in N. This is the semantic-dedup twin of
    * [[corpusBuildLsh]]'s trajectory (the lsh build is linear via
    * minhash banding; this one via distance-rank chunking), trading
    * dup pairs that straddle a chunk boundary — kept docs are a
    * SUPERSET of v2's (pinned in ClusteringSpec). At fleet scale k
    * tracks executor count, never corpus size; the cap carries the
    * population bound.
    */
  def corpusBuildCapped(s: SparkSession, d: String): DataFrame =
    gateChunkSplit(Tables.documents(s, d),
      semKept(s, d, SemanticQ.trainedCentroids(s, d), cap = Some(SemanticQ.SemCap)))

  /** The fully LINEAR corpus build — near-dup resolution by LSH
    * bucket-union components (q_dup_clusters_lsh's stage) instead of
    * exact pairwise Jaccard: exact dedup → band the survivors' shingle
    * signatures → per-bucket min-id star edges (O(N·bands), NO pairwise
    * stage anywhere) → connected components → canonical reps → gate →
    * chunk → split. End-to-end there is no stage whose cost grows with
    * the PAIR count — the pipeline a 100 TB crawl actually runs
    * (RefinedWeb/SlimPajama-style), with the standard LSH trade:
    * components may over-merge on a band collision and may miss a pair
    * sharing no band. Deterministic md5 banding keeps the whole
    * composition oracle-checkable.
    */
  def corpusBuildLsh(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val kept1Ids = exactKeptIds(docs)
    val sets = Analysis.shingleSets(s, d)
      .join(kept1Ids.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    gateChunkSplit(docs, componentCanon(kept1Ids, lshEdges(sets)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dup_clusters" -> dupClusters,
    "q_dup_clusters_lsh" -> dupClustersLsh,
    "q_corpus_build" -> corpusBuild,
    "q_corpus_build_v2" -> corpusBuildV2,
    "q_corpus_build_v3" -> corpusBuildV3,
    "q_corpus_build_capped" -> corpusBuildCapped,
    "q_corpus_build_lsh" -> corpusBuildLsh,
    "q_edit_distance_dedup" -> editDistancePairs,
    "q_stratified_sample" -> stratifiedSample,
    "q_tfidf" -> tfidfTop3,
    "q_quantize_embeddings" -> quantizeEmbeddings,
    "q_train_split" -> trainSplit,
  )

  // ---- shared oracle CTE builders for the corpus pipelines ----------
  // One SQL fragment per Spark-side stage helper, composed exactly as
  // the Spark pipelines compose — the stages cannot drift apart.

  /** exactKeptIds in SQL. */
  private val kept1Sql: String =
    """kept1 AS (
      |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))""".stripMargin

  /** nearDupCanon in SQL: full-pair Jaccard relation over the survivors
    * + recursive min-label closure (the oracle side never contracts —
    * componentEdgesBySet is PROVEN equal to this in ClusteringSpec).
    */
  private val exactCcSql: String =
    s"""hashed AS (SELECT d.doc_id, d.source,
       |    list_distinct(list_transform(${Analysis.toks}, w -> ${Analysis.hash60("w")})) AS items
       |  FROM documents d JOIN kept1 k ON d.doc_id = k.doc_id),
       |pairs AS (SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      ${Analysis.jaccardSql("a.items", "b.items")} AS jaccard
       |    FROM hashed a JOIN hashed b
       |      ON a.source = b.source AND a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.9),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach(id, label) AS (
       |  SELECT doc_id, doc_id FROM kept1
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |canon AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id = MIN(label))""".stripMargin

  /** [[semKept]] under the SemCap cap, in SQL: the Lloyd chain's a3
    * carries dist, so the rank window and the ≤SemCap chunking replay
    * exactly; ranks run over the canon SUBSET on both sides.
    */
  private def semStageCappedSql(lloyd: String): String =
    s"""$lloyd,
       |sva AS (SELECT a3.vec_id, a3.cid AS cluster, a3.dist
       |  FROM a3 JOIN canon c ON a3.vec_id = c.doc_id),
       |svb AS (SELECT vec_id, cluster,
       |    CAST((ROW_NUMBER() OVER (PARTITION BY cluster
       |      ORDER BY dist ASC, vec_id ASC) - 1) // ${SemanticQ.SemCap}
       |      AS BIGINT) AS sb
       |  FROM sva),
       |sv AS (SELECT s.vec_id, s.cluster, s.sb, e.embedding
       |  FROM svb s JOIN embeddings e USING (vec_id)),
       |semdrops AS (SELECT DISTINCT b.vec_id
       |  FROM sv a JOIN sv b ON a.cluster = b.cluster AND a.sb = b.sb
       |    AND a.vec_id < b.vec_id
       |  WHERE ${Analysis.cosineSql("a.embedding", "b.embedding")} >= 0.4),
       |kept3 AS (SELECT doc_id FROM canon
       |  WHERE doc_id NOT IN (SELECT vec_id FROM semdrops))""".stripMargin

  /** [[semKept]] uncapped, in SQL, parameterized on the Lloyd CTE
    * chain (fixed-k lloydSql for v2, sample-trained √N lloydSqlSampled
    * for v3).
    */
  private def semStageSql(lloyd: String): String =
    s"""$lloyd,
       |sv AS (SELECT a3.vec_id, a3.cid AS cluster, e.embedding
       |  FROM a3 JOIN embeddings e USING (vec_id)
       |  JOIN canon c ON a3.vec_id = c.doc_id),
       |semdrops AS (SELECT DISTINCT b.vec_id
       |  FROM sv a JOIN sv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${Analysis.cosineSql("a.embedding", "b.embedding")} >= 0.4),
       |kept3 AS (SELECT doc_id FROM canon
       |  WHERE doc_id NOT IN (SELECT vec_id FROM semdrops))""".stripMargin

  /** gateChunkSplit in SQL over kept relation `keptRel` (must expose
    * doc_id), ending in the final SELECT.
    */
  private def corpusTailSql(keptRel: String): String =
    s"""feat AS (SELECT doc_id, text, ${Analysis.langCase} AS lang_pred,
       |    ${Analysis.qualityExpr} AS quality
       |  FROM (SELECT d.doc_id, d.text, ${Analysis.markerHits},
       |      len(${Analysis.toks})::DOUBLE AS n, len(${Analysis.dtoks})::DOUBLE AS nd
       |    FROM documents d JOIN $keptRel c ON d.doc_id = c.doc_id)),
       |kept2 AS (SELECT doc_id, text FROM feat
       |  WHERE lang_pred = 'en' AND quality >= 0.45),
       |t AS (SELECT doc_id, ${Analysis.toks} AS tk, CASE
       |    WHEN ${Analysis.hash60("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 80 THEN 'train'
       |    WHEN ${Analysis.hash60("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 90 THEN 'val'
       |    ELSE 'test' END AS split
       |  FROM kept2),
       |ch AS (SELECT doc_id, split, i AS chunk_idx,
       |    len(tk[CAST(i*48+1 AS BIGINT) : CAST(i*48+64 AS BIGINT)]) AS n_chunk_tokens
       |  FROM t CROSS JOIN LATERAL (SELECT unnest(range(0,
       |    greatest(CAST(ceil(greatest(len(tk) - 16, 0) / 48.0) AS BIGINT), 1))) AS i)
       |  WHERE len(tk) > 0)
       |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, n_chunk_tokens, split
       |FROM ch ORDER BY doc_id ASC, chunk_idx ASC""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_dup_clusters_lsh" ->
      s"""WITH RECURSIVE ${Analysis.minhashBandedCte},
         |anchors AS (SELECT bkey, MIN(doc_id) AS anchor FROM banded GROUP BY bkey),
         |stars AS (SELECT DISTINCT a.anchor AS id_a, b.doc_id AS id_b
         |  FROM banded b JOIN anchors a USING (bkey) WHERE b.doc_id <> a.anchor),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM stars
         |  UNION SELECT id_b AS src, id_a AS dst FROM stars),
         |reach(id, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, MIN(label) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id ASC""".stripMargin,
    "q_dup_clusters" ->
      s"""WITH RECURSIVE hashed AS (SELECT doc_id, source,
         |    list_distinct(list_transform(${Analysis.toks}, w -> ${Analysis.hash60("w")})) AS items
         |  FROM documents),
         |pairs AS (SELECT id_a, id_b FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |      ${Analysis.jaccardSql("a.items", "b.items")} AS jaccard
         |    FROM hashed a JOIN hashed b
         |      ON a.source = b.source AND a.doc_id < b.doc_id)
         |  WHERE jaccard >= 0.9),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, MIN(label) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id ASC""".stripMargin,
    "q_corpus_build" ->
      s"""WITH RECURSIVE $kept1Sql,
         |$exactCcSql,
         |${corpusTailSql("canon")}""".stripMargin,
    "q_corpus_build_v2" ->
      s"""WITH RECURSIVE $kept1Sql,
         |$exactCcSql,
         |${semStageSql(SemanticQ.lloydSql)},
         |${corpusTailSql("kept3")}""".stripMargin,
    "q_corpus_build_v3" ->
      s"""WITH RECURSIVE $kept1Sql,
         |$exactCcSql,
         |${semStageSql(SemanticQ.lloydSqlSampled)},
         |${corpusTailSql("kept3")}""".stripMargin,
    "q_corpus_build_capped" ->
      s"""WITH RECURSIVE $kept1Sql,
         |$exactCcSql,
         |${semStageCappedSql(SemanticQ.lloydSql)},
         |${corpusTailSql("kept3")}""".stripMargin,
    "q_corpus_build_lsh" ->
      s"""WITH RECURSIVE $kept1Sql,
         |${Analysis.minhashBandedCteFrom(
             "(SELECT d.doc_id, d.text FROM documents d JOIN kept1 k ON d.doc_id = k.doc_id) dk")},
         |anchors AS (SELECT bkey, MIN(doc_id) AS anchor FROM banded GROUP BY bkey),
         |stars AS (SELECT DISTINCT a.anchor AS id_a, b.doc_id AS id_b
         |  FROM banded b JOIN anchors a USING (bkey) WHERE b.doc_id <> a.anchor),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM stars
         |  UNION SELECT id_b AS src, id_a AS dst FROM stars),
         |reach(id, label) AS (
         |  SELECT doc_id, doc_id FROM kept1
         |  UNION
         |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
         |canon AS (SELECT id AS doc_id FROM reach GROUP BY id HAVING id = MIN(label)),
         |${corpusTailSql("canon")}""".stripMargin,
    "q_edit_distance_dedup" ->
      """SELECT id_a, id_b, dist FROM (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |    levenshtein(a.c_name, b.c_name) AS dist
        |  FROM customer a JOIN customer b
        |    ON a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey
        |    AND abs(length(a.c_name) - length(b.c_name)) <= 1)
        |WHERE dist <= 1 ORDER BY id_a ASC, id_b ASC""".stripMargin,
    "q_stratified_sample" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':strat') ASC, doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS n_src
        |  FROM documents)
        |WHERE rn <= ceil(n_src * 0.2)
        |ORDER BY source ASC, doc_id ASC""".stripMargin,
    "q_quantize_embeddings" ->
      """WITH v AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, e -> abs(CAST(e AS DOUBLE)))) AS amax
        |  FROM embeddings),
        |s AS (SELECT vec_id, embedding,
        |    CASE WHEN amax = 0.0 THEN 0.0 ELSE amax / 127.0 END AS scale FROM v)
        |SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
        |  CASE WHEN scale = 0.0 THEN 0
        |    ELSE CAST(floor(CAST(embedding[i] AS DOUBLE) / scale + 0.5) AS BIGINT)
        |    END AS qval,
        |  scale
        |FROM s CROSS JOIN LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
        |ORDER BY vec_id ASC, pos ASC""".stripMargin,
    "q_train_split" ->
      s"""SELECT doc_id, CASE
         |  WHEN ${Analysis.hash60("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 80 THEN 'train'
         |  WHEN ${Analysis.hash60("CAST(doc_id AS VARCHAR) || ':split'")} % 100 < 90 THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id ASC""".stripMargin,
    "q_tfidf" ->
      s"""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
         |    SELECT doc_id, unnest(${Analysis.toks}) AS term FROM documents)
         |  GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT tf.doc_id, tf.term,
         |    (tf.tf * 1000000 * n.n_docs) // df.df AS score_scaled
         |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
         |SELECT doc_id, rk, term, score_scaled FROM (
         |  SELECT doc_id, term, score_scaled,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY score_scaled DESC, term ASC) AS rk
         |  FROM scored)
         |WHERE rk <= 3 ORDER BY doc_id ASC, rk ASC""".stripMargin,
  )
}
