package graft.queries

import graft.{Artifacts, Tables}
import graft.functions.VectorOps
import graft.operators.{Dedup, Encoding, KMeansOp, Quantizers}
import graft.streaming.IndexStream
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space clustering and semantic dedup — the SemDeDup shape
  * (Abbas et al. 2023): k-means the corpus, then prune near-identical
  * vectors WITHIN each cluster, so pairwise cosine work is bounded by
  * cluster population instead of N². The reference stops at a flat FAISS
  * scan (/root/reference/vectorDB.py:12,38); this module is its 100 TB
  * continuation per SURVEY §2.3 (dedup / similarity-search north star).
  *
  * Both queries are exactly reproducible in DuckDB: k-means runs in the
  * scaled-integer arithmetic of [[KMeansOp]] (every distance and centroid
  * is a BIGINT, see the determinism contract there), and the oracle
  * unrolls the two Lloyd rounds as chained CTEs.
  */
object SemanticQ {
  import Encoding.{Kind, Opq, Pq, ResidualPq, Sq8, Sq8Dim}

  private val K = 8
  private val Iters = 2

  // Product-quantization geometry: dim-64 embeddings → 4 subspaces of 16
  // dims, 8 codes each (the k=8 / 2-iter training budget shared with the
  // coarse quantizer). 4 codes/vector vs 64 floats — the 64× scan shrink.
  private val PqM = 4
  private val PqSubDim = 16

  /** Trained centroids memoized per dataset CONTENT, not per path
    * ([[Artifacts.snapshotKey]]), under (dir, policy): overwriting a
    * dataset dir in place retrains instead of serving a stale
    * quantizer, and the superseded entry is replaced — one live
    * quantizer per (dir, policy), never one per historical snapshot.
    * Training is deterministic (integer Lloyd on an immutable
    * snapshot), so a hit is sound; it mirrors production, where a
    * trained quantizer is a PERSISTED artifact keyed to its corpus
    * snapshot that the serving/dedup/eval jobs all load rather than
    * re-train.
    */
  private val centroidCache = new Artifacts.Memo[Seq[(Long, Seq[Long])]]()
  private def cachedCentroids(s: SparkSession, d: String, policy: String)
      (train: => Seq[(Long, Seq[Long])]): Seq[(Long, Seq[Long])] =
    centroidCache(s"$d|$policy", Artifacts.snapshotKey(s, d))(train)

  private[graft] def trainedCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Long])] =
    cachedCentroids(s, d, s"fixed$K")(
      KMeansOp.lloydCentroidsLocal(Tables.embeddings(s, d), "vec_id",
        col("embedding"), K, Iters))

  /** Each encoding's quantizers over the fixed-k coarse centroids,
    * trained by [[Encoding.train]] and memoized like the centroids. */
  private val quantizerCache = new Artifacts.Memo[Quantizers]()
  private[graft] def quantizers(s: SparkSession, d: String, kind: Kind): Quantizers =
    quantizerCache(s"$d|${kind.name}", Artifacts.snapshotKey(s, d))(
      Encoding.train(kind, Tables.embeddings(s, d), trainedCentroids(s, d),
        K, Iters, PqM, PqSubDim))

  private def intVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))

  /** The integer-exact top-k of (vec_id, v) rows by distance to `qv`,
    * ties to the lower vec_id (TakeOrderedAndProject): the exact side of
    * every single-probe recall monitor. Output (vec_id, dist_scaled).
    */
  private def exactTopK(vecs: DataFrame, qv: Seq[Long], k: Int): DataFrame =
    vecs.select(col("vec_id"),
        KMeansOp.intDist(col("v"), typedLit(qv)).as("dist_scaled"))
      .orderBy(col("dist_scaled").asc, col("vec_id").asc)
      .limit(k)

  /** The recall tail every monitor shares: the `exact` rows `approx`
    * also returned (a `left_semi` join on `keys`), as `n_hits` and a
    * deterministic BIGINT ppm over the `slots` exact slots.
    */
  private def recallPpm(exact: DataFrame, approx: DataFrame,
      keys: Seq[String], slots: Int): DataFrame =
    exact.select(keys.map(col): _*)
      .join(approx.select(keys.map(col): _*), keys, "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("n_hits"), (col("n_hits") * lit(1000000L) /
        lit(slots.toLong)).cast("long").as("recall_ppm"))

  /** Recall@k of a single-probe result against the integer-exact top-k
    * for the same probe — over the CDC lifecycle's live set when `live`.
    * The probe is collected once and handed to both sides.
    */
  private def recall(s: SparkSession, d: String, approx: Seq[Double] => DataFrame,
      k: Int = 10, live: Boolean = false): DataFrame = {
    val p = VectorOps.queryVector(s, d)
    val vecs = intVecs(s, d)
    recallPpm(exactTopK(if (live) vecs.where(cdcLive(col("vec_id"))) else vecs,
      Encoding.scaled(p), k), approx(p), Seq("vec_id"), k)
  }

  /** Integer-exact Lloyd assignment after 2 rounds, seeded on the 8
    * lowest vec_ids (the engine AND oracle convention, well-defined for
    * any id space):
    * (vec_id, cluster, dist_scaled). One row per vector — the full
    * clustering a curation pipeline joins against.
    */
  def kmeansQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    KMeansOp.assignCells(intVecs(s, d), trainedCentroids(s, d).toDF("cid", "c"))
      .select(col("vec_id"), col("cid").as("cluster"),
        col("dist").as("dist_scaled"))
      .orderBy(col("vec_id").asc)
  }

  /** SemDeDup prune over the k-means clusters: within each cluster, a
    * vector is DROPPED when some lower-id cluster-mate has cosine ≥ 0.4
    * with it (same threshold and raw-cosine predicate as the oracled
    * q_dedup_cosine). Output: every vector with its cluster and kept
    * flag. The pairwise stage is one equi-join on `cluster` — candidate
    * count is Σ|cluster|², never N²; at 100 TB k grows ∝ √N to hold
    * cluster populations (and thus per-cluster cost) constant, and a
    * skewed cluster rides AQE skew-join splitting like any other hot key.
    */
  def semdedupQ(s: SparkSession, d: String): DataFrame =
    semdedup(s, d, trainedCentroids(s, d), cap = None)

  /** The q_semdedup* output over quantizer `cents`: every vector with
    * its cluster and whether [[Dedup.semDedup]] (lazy — see its note on
    * pinning) kept it.
    */
  private def semdedup(s: SparkSession, d: String,
      cents: Seq[(Long, Seq[Long])], cap: Option[Int]): DataFrame = {
    import s.implicits._
    val vecs = intVecs(s, d)
    KMeansOp.assignCells(vecs, cents.toDF("cid", "c"))
      .select(col("vec_id"), col("cid").as("cluster"))
      .join(Dedup.semDedup(vecs, Tables.embeddings(s, d), cents, cap, pin = false)
        .withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dropped").isNull.as("kept"))
      .orderBy(col("vec_id").asc)
  }

  /** IVF search over the TRAINED quantizer — the production form of
    * q_ann_ivf, whose cells are raw seed vectors: the driver-local
    * centroids pick the 2 probe cells for the vec_id=0 query, then ONE
    * corpus pass assigns + filters to the probed cells and
    * TakeOrderedAndProject returns the integer-exact top-10. `p` is the
    * collected probe.
    */
  private def annIvfTrained(s: SparkSession, d: String, p: Seq[Double]): DataFrame = {
    import s.implicits._
    val cents = trainedCentroids(s, d)
    val qv = Encoding.scaled(p)
    exactTopK(KMeansOp.assign(intVecs(s, d), cents.toDF("cid", "c"))
      .where(col("cid").isin(KMeansOp.nearestCells(cents, qv, 2): _*)), qv, 10)
  }

  // ---- The ANN tiers: one encoding served over one layout -----------
  //
  // Every ANN query below is an (encoding, layout) pair served by
  // [[Quantizers.serve]] — the vec_id=0 probe (top-10), or the probe
  // batch vec_ids 0/1/2 (top-3), at nProbe = 2 — and every recall
  // monitor is [[recall]] over one of them. A layout is the code table
  // (vec_id, cell, code_0 …) the serve scans:
  //  - Flat: the in-flight projection under ONE all-zero coarse cell
  //    (flat search is IVF with nProbe = 1 over a single cell);
  //  - InFlight: the in-flight projection, re-encoding the corpus per
  //    query (the shape of an index built in the same lineage);
  //  - Persisted: the content-addressed `partitionBy(cell)` dir
  //    ([[indexPath]]), so the probed-cell predicate is answered by
  //    DIRECTORY pruning at the listing (ServingTiersSpec pins
  //    `selectedPartitions`);
  //  - Maintained: the live rows of the CDC lifecycle fixture
  //    ([[cdcLifecycleDir]]), which has taken deletes and resurrections.
  // Results are identical across layouts of one encoding (the oracle of
  // a persisted tier IS its in-flight twin's); the DuckDB oracles replay
  // each encoding's integer chain bit-for-bit.

  private sealed trait Layout
  private case object Flat extends Layout
  private case object InFlight extends Layout
  private case object Persisted extends Layout
  private case object Maintained extends Layout

  private def layout(s: SparkSession, d: String, kind: Kind,
      at: Layout): (Quantizers, DataFrame) = {
    val q = quantizers(s, d, kind)
    at match {
      case Flat => (q.flat, q.flat.project(Tables.embeddings(s, d)))
      case InFlight => (q, q.project(Tables.embeddings(s, d)))
      case Persisted => (q, s.read.schema(Encoding.layoutSchema(q.m))
        .parquet(indexPath(s, d, kind)))
      case Maintained =>
        (q, IndexStream.liveCodes(s, cdcLifecycleDir(s, d, kind), q.m))
    }
  }

  /** The top-k of `p`, the collected vec_id=0 probe:
    * (vec_id, adc_scaled | qdist).
    */
  private def ann(s: SparkSession, d: String, kind: Kind, at: Layout,
      p: Seq[Double], k: Int = 10): DataFrame = {
    val (q, rows) = layout(s, d, kind, at)
    q.serve(rows, p, if (at == Flat) 1 else 2, k)
  }

  /** Per-probe top-k of the vec_id 0/1/2 probe batch:
    * (qid, rnk, vec_id, adc_scaled | qdist).
    */
  private def annBatch(s: SparkSession, d: String, kind: Kind, at: Layout,
      k: Int = 3): DataFrame = {
    val (q, rows) = layout(s, d, kind, at)
    q.serve(rows, q.probes(Tables.embeddings(s, d)
      .where(col("vec_id").isin(0L, 1L, 2L))), if (at == Flat) 1 else 2, k)
  }

  /** The PQ code table itself — (vec_id, code_0..code_3), the compressed
    * index a PQ deployment persists (4 small ints per vector instead of
    * 64 floats).
    */
  def pqCodesQ(s: SparkSession, d: String): DataFrame =
    graft.operators.ProductQuantizer
      .encode(intVecs(s, d), quantizers(s, d, Pq).books, PqSubDim)
      .orderBy(col("vec_id").asc)

  /** The reference's bulk shortlist served from the COMPRESSED index —
    * q_shortlist's contract (`/root/reference/rag_model_mass.py:17-47`:
    * top-N files for the vec_id=0 probe with `round(10/(1+d), 2)`
    * scores) ranked by IVFADC asymmetric distance instead of the exact
    * flat scan; the score descales the integer ADC distance back to the
    * raw squared-L2 domain (adc/10^12). Integer-exact until the one
    * terminal ROUND, so the oracle replays it bit-for-bit.
    */
  def shortlistAnnQ(s: SparkSession, d: String): DataFrame =
    ann(s, d, Pq, InFlight, VectorOps.queryVector(s, d), k = 5)
      .select(
        concat(lit("vec_"), lpad(col("vec_id").cast("string"), 6, "0"))
          .as("file_name"),
        round(lit(10.0) / (lit(1.0) +
          col("adc_scaled").cast("double") / lit(1e12)), 2).as("score"),
        concat(lit("doc "), col("vec_id").cast("string")).as("content"),
        col("adc_scaled"), col("vec_id"))
      .orderBy(col("adc_scaled").asc, col("vec_id").asc)
      .select(col("file_name"), col("score"), col("content"))

  /** IVFADC + exact REFINE (FAISS's `IndexRefineFlat`): the in-flight
    * IVFADC top-10 shortlist is re-ranked by the integer-exact distance
    * over ONLY those raw vectors (a broadcast semi-join back into the
    * vector table), and the exact top-3 of the collected probe `p` is
    * served.
    */
  private def annIvfPqRerank(s: SparkSession, d: String, p: Seq[Double]): DataFrame =
    exactTopK(intVecs(s, d).join(broadcast(ann(s, d, Pq, InFlight, p)
      .select(col("vec_id"))), Seq("vec_id"), "left_semi"),
      Encoding.scaled(p), 3)

  /** The refine stage at the BATCH tier: the batch IVFADC proposes a
    * per-qid top-10, the ≤ Q·10-row candidate relation broadcasts back
    * into the raw vector table (joined with the probe frame for the
    * exact distances), and a qid-partitioned rank serves the exact
    * top-3 per probe.
    */
  def annIvfPqRerankBatchQ(s: SparkSession, d: String): DataFrame = {
    val vecs = intVecs(s, d)
    val probes = vecs.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val shortlist = annBatch(s, d, Pq, InFlight, k = 10)
      .select(col("qid"), col("vec_id"))
    graft.operators.ProductQuantizer.perProbeTopK(
      vecs.join(broadcast(shortlist), Seq("vec_id"))
        .join(broadcast(probes), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          KMeansOp.intDist(col("v"), col("qv")).as("dist_scaled")),
      "dist_scaled", 3)
  }

  /** Recall of the BATCH IVFADC path over the probe SET — the fleet
    * metric a serving tier publishes: hits of the batch top-3 against
    * each probe's integer-exact top-3, one BIGINT ppm over all 9
    * probe·k pairs.
    */
  def recallIvfPqBatchQ(s: SparkSession, d: String): DataFrame = {
    val vecs = intVecs(s, d)
    val probes = vecs.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = graft.operators.ProductQuantizer.perProbeTopK(
      vecs.crossJoin(broadcast(probes)).select(col("qid"), col("vec_id"),
        KMeansOp.intDist(col("v"), col("qv")).as("d")), "d", 3)
    recallPpm(exact, annBatch(s, d, Pq, InFlight), Seq("qid", "vec_id"), 9)
  }

  /** Code/layout version folded into every content-addressed index key:
    * a change to quantizer training, the projection, or the on-disk
    * layout bumps this, so a marked dir built by an OLDER code version
    * can never be reused across sessions — the content fingerprint
    * alone only sees the DATA snapshot. 4: every encoding persists the
    * one (vec_id, cell, code_0 …) layout.
    */
  private val IndexLayoutVersion = 4

  /** Content-addressed persisted-index dir under `tag`, on the
    * [[Artifacts.persisted]] lifecycle: reused while (layout version,
    * tag, data snapshot) all match — also across sessions, the write
    * being a pure function of the three — else `build` fills a staging
    * dir that is atomically installed under
    * `java.io.tmpdir/graft_idx_<tag>_<md5>`. One live dir per (dataset
    * dir, tag).
    */
  private def persistedIndexPath(s: SparkSession, d: String, tag: String)
      (build: String => Unit): String = {
    val fp = s"v$IndexLayoutVersion|$tag|${Artifacts.snapshotKey(s, d)}"
    Artifacts.persisted(s"$d|$tag", fp, java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_idx_${tag}_${Artifacts.md5Hex(fp.getBytes("UTF-8"))}"))(
      dir => build(dir.toString))
  }

  /** The encoding's persisted cell-partitioned code table
    * (`graft_idx_ivf<kind>_…`) — the layout a production IVF deployment
    * persists: built ONCE by the in-flight projection and written
    * `partitionBy(cell)`, so a probe reads exactly |probed cells|/k of
    * its FILES. Reference tie: `vectorDB.py:38` — the persisted index
    * whose build the reference redoes per request.
    */
  private[graft] def indexPath(s: SparkSession, d: String, kind: Kind): String =
    persistedIndexPath(s, d, s"ivf${kind.name}") { dir =>
      quantizers(s, d, kind).project(Tables.embeddings(s, d))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }

  /** √N quantizer fit: k = ⌈√N⌉ over the dataset's embeddings, 2-round
    * integer Lloyd, N read off the one collected training set. k is
    * data-dependent, but it is a pure function of the snapshot, so the
    * fit memoizes under the same
    * content fingerprint as the fixed-k quantizer — q_semdedup_scaled
    * and q_corpus_build_v3 share one training per session, mirroring
    * the production persisted-artifact discipline.
    */
  private[graft] def scaledCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Long])] =
    cachedCentroids(s, d, "sqrtN") {
      val pts = KMeansOp.points(intVecs(s, d))
      KMeansOp.lloydCentroidsInMemory(pts,
        math.ceil(math.sqrt(pts.size.toDouble)).toInt, Iters)
    }

  /** SAMPLE-trained √N quantizer — the production form of
    * [[scaledCentroids]] and the fix for the one measured superlinear
    * term on the 100× board: full-corpus Lloyd at k = ⌈√N⌉ costs
    * O(N·k) = O(N^1.5) PER ROUND (quantizer_sqrt_n: 342.5 s at 100×
    * rows vs 4.8 s base, BENCH_SF10_PROBE), while FAISS and every
    * production IVF train the coarse quantizer on a bounded SAMPLE and
    * assign the full corpus once. Here the training set is the
    * min(N, 16·k) vectors ranked by the multiplicative hash
    * `(vec_id · 2654435761) mod 2^32` (Knuth's 2^32/φ constant —
    * exact BIGINT arithmetic both engines replay, no engine-specific
    * hash function), ties to the lower vec_id; k still derives from
    * the FULL count. Per-round training cost becomes
    * O(16k·k) = O(16·N) — linear — and the only remaining O(N·√N)
    * stage is the single final full-corpus assignment every IVF build
    * pays by definition. Deterministic: the sample, the seeds (the k
    * lowest vec_ids OF the sample), and the integer Lloyd rounds are
    * all pure functions of the snapshot, so the DuckDB oracle replays
    * the whole derivation (sampled chain + one full assign) exactly.
    */
  private[graft] def sampledCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Long])] =
    cachedCentroids(s, d, "sqrtNSampled") {
      val n = Tables.embeddings(s, d).count()
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      // the hash ranking stays distributed; the bounded sample
      // (16·√N·d·8 B — 3.7 MB at the 100× probe) is the fit's one collect
      val sample = KMeansOp.points(intVecs(s, d)
        .orderBy(((col("vec_id") * lit(2654435761L)) % lit(4294967296L)).asc,
          col("vec_id").asc)
        .limit(math.min(n, 16L * k).toInt))
      KMeansOp.lloydCentroidsInMemory(sample, k, Iters)
    }

  /** SemDeDup with the PRODUCTION quantizer size — k = ceil(√N) — the
    * fix the sf1 scale probe prescribed for the fixed-k family: cluster
    * populations stay ~√N as the corpus grows, so the within-cluster
    * pairwise term is Σ|cluster|² ≈ N·√N·(dup-density), not (N/k)².
    * Both engines derive k from the SAME count, so the oracle is exact
    * (DuckDB computes the seed LIMIT from a scalar subquery); the
    * k=8 q_semdedup stays as the pinned small-k contract. Training
    * (2-round integer Lloyd at the derived k) memoizes under the
    * dataset content fingerprint like every quantizer here — see
    * [[scaledCentroids]].
    */
  def semdedupScaledQ(s: SparkSession, d: String): DataFrame =
    semdedup(s, d, scaledCentroids(s, d), cap = None)

  /** SemDeDup over the SAMPLE-trained √N quantizer
    * ([[sampledCentroids]]) — identical dedup semantics to
    * q_semdedup_scaled, with the quantizer training cost linear in N
    * instead of O(N^1.5). Same cluster granularity (~√N populations),
    * so the within-cluster pairwise term keeps the SemDeDup scale
    * shape; only the training derivation changed.
    */
  def semdedupSampledQ(s: SparkSession, d: String): DataFrame =
    semdedup(s, d, sampledCentroids(s, d), cap = None)

  /** Per-bucket population cap for [[semdedupCappedQ]]: small enough to
    * split every cell several ways at the sf0.001 contract scale
    * (N=500 at k=8 puts mean cell population ~62 — the cap is heavily
    * exercised, not vacuous), large enough that a bucket still holds a
    * dup cluster's neighbourhood.
    */
  private[queries] val SemCap = 16

  /** SemDeDup with BOUNDED bucket populations — the r17 scale fix for
    * the Σ|c|² = N^1.5 prune term (53–58× at 100× rows on the SF10
    * probe): after assignment, any cell is CHUNKED into runs of at most
    * [[SemCap]] members, so the pairwise stage is Σ|bucket|² ≤ N·Cap —
    * LINEAR in N with the cap a constant, whatever the cluster skew.
    * The chunking key is the member's rank by (distance-to-centroid,
    * vec_id) WITHIN its cell: deterministic (both orderings are exact
    * BIGINTs the assignment already computed), one window over the
    * assignment relation, and — unlike a hash split —
    * locality-preserving: near-identical vectors sit at near-identical
    * centroid distances, so dup pairs land in the same or adjacent
    * ranks and mostly survive the split.
    *
    * Because the CAP now bounds populations, the quantizer's only
    * remaining job is locality + parallelism — so this query assigns
    * against the FIXED k=8 quantizer ([[trainedCentroids]]), not the
    * √N one: the √N family's OTHER N^1.5 term is the assignment itself
    * (N·√N distance evaluations — measured 53× at 100× rows even with
    * sampled training), while k constant makes assignment, window,
    * and pairwise ALL linear. At fleet scale k tracks the executor
    * count (a parallelism knob, constant in N), never the corpus size;
    * the cap carries the population bound either way. What the cap
    * trades is recall across chunk boundaries (a dup pair straddling
    * two runs is not compared) — the same within-partition
    * approximation SemDeDup itself makes at cluster grain, taken one
    * level deeper; a production pipeline prices it against the hard
    * per-task bound. Lowest-id-keep semantics unchanged within each
    * bucket; the DuckDB oracle replays the Lloyd chain, the rank
    * window, and the prune bit-for-bit.
    */
  def semdedupCappedQ(s: SparkSession, d: String): DataFrame =
    semdedup(s, d, trainedCentroids(s, d), cap = Some(SemCap))

  // ---- CDC-index lifecycle + recall monitor -------------------------

  // ---- CDC-index lifecycle + recall monitor (r17 verdict #6) --------

  /** The CDC lifecycle fixture's delete/resurrect predicates, CENTRAL
    * (ADVICE r18: the `%10==3 deleted, %20==3 resurrected` convention
    * was hardcoded independently in the fixture, the monitor's exact
    * side, the oracle SQL, and CdcIndexSpec — four sites that could
    * drift on edit). The Scala Columns and the generated SQL fragment
    * are the single source: batch 2 deletes [[cdcDeleted]] ids, batch 3
    * re-inserts [[cdcResurrected]] ids, and a vec_id is LIVE
    * mid-lifecycle iff [[cdcLiveSql]] holds.
    */
  private[graft] val CdcDeleteMod = 10
  private[graft] val CdcResurrectMod = 20
  private[graft] val CdcResidue = 3
  private[graft] def cdcDeleted(id: Column): Column =
    id % CdcDeleteMod === CdcResidue
  private[graft] def cdcResurrected(id: Column): Column =
    id % CdcResurrectMod === CdcResidue
  private[graft] def cdcLive(id: Column): Column =
    !(cdcDeleted(id) && !cdcResurrected(id))
  private[graft] def cdcLiveSql(idExpr: String): String =
    s"NOT ($idExpr % $CdcDeleteMod = $CdcResidue AND " +
      s"$idExpr % $CdcResurrectMod <> $CdcResidue)"

  /** The encoding's CDC lifecycle fixture (`graft_idx_cdc<kind>_…`) — a
    * deterministic three-batch LIFECYCLE over the dataset: insert the
    * full corpus, delete every [[cdcDeleted]] vec_id, re-insert the
    * [[cdcResurrected]] half of them, through the real
    * [[IndexStream.processBatchCdc]] against the frozen quantizers,
    * materialized once per content snapshot on the
    * [[persistedIndexPath]] lifecycle (a torn partial run is never
    * visible under the served name). The q_recall_cdc* monitors serve
    * from it: a tombstone bug (deleted ids surfacing, resurrected ids
    * missing) moves their ppm, where the static monitors stay green.
    */
  private[graft] def cdcLifecycleDir(s: SparkSession, d: String, kind: Kind): String =
    persistedIndexPath(s, d, s"cdc${kind.name}") { dir =>
      val q = quantizers(s, d, kind)
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      IndexStream.processBatchCdc(emb, 1L, q, dir)
      IndexStream.processBatchCdc(
        emb.where(cdcDeleted(col("vec_id")))
          .withColumn(IndexStream.OpColumn, lit("delete")),
        2L, q, dir)
      IndexStream.processBatchCdc(
        emb.where(cdcResurrected(col("vec_id"))), 3L, q, dir)
      ()
    }

  private def annOf(k: Kind, at: Layout): (SparkSession, String) => DataFrame =
    (s, d) => ann(s, d, k, at, VectorOps.queryVector(s, d))

  private def recallOf(k: Kind, at: Layout): (SparkSession, String) => DataFrame =
    (s, d) => recall(s, d, ann(s, d, k, at, _), live = at == Maintained)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans" -> kmeansQ,
    "q_semdedup" -> semdedupQ,
    "q_semdedup_scaled" -> semdedupScaledQ,
    "q_semdedup_sampled" -> semdedupSampledQ,
    "q_semdedup_capped" -> semdedupCappedQ,
    "q_ann_ivf_trained" -> ((s, d) => annIvfTrained(s, d, VectorOps.queryVector(s, d))),
    "q_recall_ivf" -> ((s, d) => recall(s, d, annIvfTrained(s, d, _))),
    "q_pq_codes" -> pqCodesQ,
    "q_ann_pq" -> annOf(Pq, Flat),
    "q_ann_opq" -> annOf(Opq, Flat),
    "q_ann_opq_part" -> annOf(Opq, Persisted),
    "q_ann_opq_batch" -> ((s, d) => annBatch(s, d, Opq, Persisted)),
    "q_recall_opq" -> recallOf(Opq, Flat),
    "q_ann_ivfpq" -> annOf(Pq, InFlight),
    "q_ann_ivfpq_part" -> annOf(Pq, Persisted),
    "q_ann_ivfpq_res_part" -> annOf(ResidualPq, Persisted),
    "q_ann_ivfpq_rerank" -> ((s, d) => annIvfPqRerank(s, d, VectorOps.queryVector(s, d))),
    "q_ann_ivfpq_rerank_batch" -> annIvfPqRerankBatchQ,
    "q_recall_ivfpq_rerank" -> ((s, d) => recall(s, d, annIvfPqRerank(s, d, _), k = 3)),
    "q_sq8_topk" -> annOf(Sq8, Flat),
    "q_recall_sq8" -> recallOf(Sq8, Flat),
    "q_sq8_batch" -> ((s, d) => annBatch(s, d, Sq8, Flat)),
    "q_sq8_dim" -> annOf(Sq8Dim, Flat),
    "q_sq8_dim_part" -> annOf(Sq8Dim, Persisted),
    "q_sq8_dim_batch" -> ((s, d) => annBatch(s, d, Sq8Dim, Persisted)),
    "q_recall_sq8_dim" -> recallOf(Sq8Dim, Flat),
    "q_recall_sq8_dim_part" -> recallOf(Sq8Dim, Persisted),
    "q_ann_ivf_sq8" -> annOf(Sq8, InFlight),
    "q_ann_ivf_sq8_part" -> annOf(Sq8, Persisted),
    "q_ann_ivf_sq8_batch" -> ((s, d) => annBatch(s, d, Sq8, Persisted)),
    "q_recall_ivf_sq8" -> recallOf(Sq8, InFlight),
    "q_recall_cdc" -> recallOf(Pq, Maintained),
    "q_recall_cdc_opq" -> recallOf(Opq, Maintained),
    "q_recall_cdc_sq8" -> recallOf(Sq8, Maintained),
    "q_recall_cdc_sq8dim" -> recallOf(Sq8Dim, Maintained),
    "q_ann_ivfpq_res" -> annOf(ResidualPq, InFlight),
    "q_ann_ivfpq_res_batch" -> ((s, d) => annBatch(s, d, ResidualPq, InFlight)),
    "q_ann_pq_batch" -> ((s, d) => annBatch(s, d, Pq, Flat)),
    "q_ann_ivfpq_batch" -> ((s, d) => annBatch(s, d, Pq, InFlight)),
    "q_ann_ivfpq_batch_part" -> ((s, d) => annBatch(s, d, Pq, Persisted)),
    "q_ann_ivfpq_res_batch_part" -> ((s, d) => annBatch(s, d, ResidualPq, Persisted)),
    "q_recall_ivfpq_batch" -> recallIvfPqBatchQ,
    "q_shortlist_ann" -> shortlistAnnQ,
    "q_recall_shortlist_ann" -> ((s, d) =>
      recallPpm(PipelineQ.shortlist(s, d), shortlistAnnQ(s, d), Seq("file_name"), 5)),
    "q_recall_pq" -> recallOf(Pq, Flat),
    "q_recall_ivfpq" -> recallOf(Pq, InFlight),
    "q_recall_ivfpq_res" -> recallOf(ResidualPq, InFlight),
  )

  // ---- DuckDB oracle: the two Lloyd rounds unrolled as CTEs ----

  /** Integer squared L2 between two BIGINT list expressions. */
  private def idistSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> (($a)[i] - ($b)[i]) * (($a)[i] - ($b)[i])), (x, y) -> x + y)"

  /** Assignment CTE pair dR/aR against centroid table cPrev. `sfx`
    * namespaces the chain (the PQ oracle runs one chain per subspace).
    */
  private def assignSql(r: Int, cPrev: String, sfx: String = ""): String =
    s"""d$r$sfx AS (SELECT q.vec_id, c.cid, ${idistSql("q.v", "c.c")} AS dist
       |  FROM q$sfx q CROSS JOIN $cPrev c),
       |a$r$sfx AS (SELECT vec_id, cid, dist FROM (
       |    SELECT vec_id, cid, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id
       |        ORDER BY dist ASC, cid ASC) AS rn
       |    FROM d$r$sfx) WHERE rn = 1)""".stripMargin

  /** Update CTE pair uR/cR from assignment aR (exact integer mean per
    * (cluster, dim) through an exact double, as in
    * KMeansOp.lloydCentroidsInMemory).
    */
  private def updateSql(r: Int, sfx: String = ""): String =
    s"""u$r$sfx AS (SELECT a.cid, li.i AS pos,
       |    CAST(floor(CAST(SUM(q.v[li.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
       |  FROM a$r$sfx a JOIN q$sfx q USING (vec_id)
       |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(q.v) + 1)) AS i) li
       |  GROUP BY a.cid, li.i),
       |c$r$sfx AS (SELECT cid, list(cv ORDER BY pos) AS c FROM u$r$sfx GROUP BY cid)""".stripMargin

  /** A full 2-round Lloyd chain over input CTE body `qExpr`, every CTE
    * name suffixed by `sfx`, ending in the final assignment a3$sfx.
    */
  private def lloydChain(seedLimit: String, sfx: String, qExpr: String): String =
    s"""q$sfx AS ($qExpr),
       |c0$sfx AS (SELECT vec_id AS cid, v AS c FROM q$sfx ORDER BY vec_id ASC LIMIT $seedLimit),
       |${assignSql(1, s"c0$sfx", sfx)},
       |${updateSql(1, sfx)},
       |${assignSql(2, s"c1$sfx", sfx)},
       |${updateSql(2, sfx)},
       |${assignSql(3, s"c2$sfx", sfx)}""".stripMargin

  /** The scaled-integer full-vector input CTE body. */
  private val qFullExpr: String =
    """SELECT vec_id, list_transform(embedding,
      |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS v
      |  FROM embeddings""".stripMargin

  /** Shared CTE chain ending in the final assignment a3 (also composed
    * into Clustering's q_corpus_build_v2 oracle — the shared-quantizer
    * contract in SQL form). `seedLimit` is the k expression — a literal
    * for the pinned k=8 chain, a scalar subquery for the √N-scaled one
    * (everything after c0 is k-agnostic).
    */
  private def lloydSqlWithSeed(seedLimit: String): String =
    lloydChain(seedLimit, "", qFullExpr)

  private[queries] val lloydSql: String = lloydSqlWithSeed(K.toString)

  /** The √N-scaled chain: k derives from the same COUNT both engines
    * see, as a scalar-subquery LIMIT on the seed CTE. Also composed
    * into Clustering's q_corpus_build_v3 oracle (the scaled-quantizer
    * contract in SQL form, mirroring lloydSql's role for v2).
    */
  private[queries] val lloydSqlScaled: String =
    lloydSqlWithSeed("(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM q)")

  /** The SAMPLE-trained √N chain ([[sampledCentroids]] in SQL): the
    * training rounds run over `qsmp` — the min(N, 16·⌈√N⌉) vectors
    * ranked by the multiplicative hash (vec_id·2654435761) mod 2^32,
    * ties to the lower vec_id — seeded by the sample's k lowest
    * vec_ids, then ONE final assignment of the FULL corpus against the
    * trained c2smp. Ends in a3 like the other chains, so downstream
    * CTEs compose unchanged.
    */
  private[queries] val lloydSqlSampled: String = {
    val kExpr = "(SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM q)"
    val sExpr = "(SELECT LEAST(COUNT(*), " +
      "16 * CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM q)"
    s"""q AS ($qFullExpr),
       |qsmp AS (SELECT vec_id, v FROM q
       |  ORDER BY (vec_id * 2654435761) % 4294967296 ASC, vec_id ASC
       |  LIMIT $sExpr),
       |c0smp AS (SELECT vec_id AS cid, v AS c FROM qsmp
       |  ORDER BY vec_id ASC LIMIT $kExpr),
       |${assignSql(1, "c0smp", "smp")},
       |${updateSql(1, "smp")},
       |${assignSql(2, "c1smp", "smp")},
       |${updateSql(2, "smp")},
       |${assignSql(3, "c2smp", "")}""".stripMargin
  }

  // ---- PQ oracle: one suffixed Lloyd chain per subspace over the
  // SLICED scaled-integer vectors (DuckDB list slicing is 1-based
  // inclusive), then codes / ADC / recall compose from the a3_s* and
  // c2_s* CTEs exactly as the engine does from its codebooks. ----

  /** Subspace s's input CTE body: slice the float list, then the shared
    * floor-×10^6 transform (slice-then-floor ≡ floor-then-slice).
    */
  private def pqSubExpr(s: Int): String = {
    val lo = s * PqSubDim + 1
    val hi = (s + 1) * PqSubDim
    s"""SELECT vec_id, list_transform(embedding[$lo:$hi],
       |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings""".stripMargin
  }

  /** All PqM subspace chains, comma-joined for a WITH clause. */
  private val pqChainsSql: String =
    (0 until PqM).map(s => lloydChain(K.toString, s"_s$s", pqSubExpr(s)))
      .mkString(",\n")

  /** Per-subspace query LUT CTEs (qv_s* / lut_s*) for the vec_id=0
    * probe, off the trained c2_s* codebooks.
    */
  private val pqLutSql: String =
    (0 until PqM).map { s =>
      s"""qv_s$s AS (SELECT v FROM q_s$s WHERE vec_id = 0),
         |lut_s$s AS (SELECT c.cid, ${idistSql("c.c", "qv.v")} AS d
         |  FROM c2_s$s c CROSS JOIN qv_s$s qv)""".stripMargin
    }.mkString(",\n")

  // ---- Residual-IVFADC oracle pieces (compose with lloydSql's coarse
  // chain: q, a3, c2). ----

  /** Integer residuals per vector: res(vec_id, cell, r). */
  private val pqResSql: String =
    """res AS (SELECT q.vec_id, a3.cid AS cell,
      |    list_transform(range(1, len(q.v) + 1), i -> q.v[i] - c.c[i]) AS r
      |  FROM q JOIN a3 USING (vec_id) JOIN c2 c ON a3.cid = c.cid)""".stripMargin

  /** Per-subspace Lloyd chains over the residual slices (sfx _r<s>). */
  private val pqResChainsSql: String =
    (0 until PqM).map { s =>
      val lo = s * PqSubDim + 1
      val hi = (s + 1) * PqSubDim
      lloydChain(K.toString, s"_r$s",
        s"SELECT vec_id, r[$lo:$hi] AS v FROM res")
    }.mkString(",\n")

  /** Per-probed-cell query residuals and per-subspace LUTs keyed by
    * (cell, code) — requires `pc` (probe cells) and `qvc` (the query
    * vector) upstream.
    */
  private val pqResLutSql: String = {
    val luts = (0 until PqM).map { s =>
      val lo = s * PqSubDim + 1
      val hi = (s + 1) * PqSubDim
      s"""lutr$s AS (SELECT qres.cell, b.cid AS code,
         |  ${idistSql(s"qres.r[$lo:$hi]", "b.c")} AS d
         |  FROM qres CROSS JOIN c2_r$s b)""".stripMargin
    }
    s"""qres AS (SELECT pc.cid AS cell,
       |    list_transform(range(1, len(qv.v) + 1), i -> qv.v[i] - cc.c[i]) AS r
       |  FROM pc JOIN c2 cc ON pc.cid = cc.cid CROSS JOIN qvc qv),
       |${luts.mkString(",\n")}""".stripMargin
  }

  /** The residual ADC scan: join each vector's per-subspace code to the
    * (cell, code)-keyed LUT — the inner join on cell doubles as the
    * probed-cell filter. Ends in `adcres(vec_id, adc_scaled)`.
    */
  private val pqResAdcSql: String = {
    val joins = (0 until PqM).map(s =>
      s"JOIN a3_r$s p$s USING (vec_id) " +
        s"JOIN lutr$s l$s ON r.cell = l$s.cell AND p$s.cid = l$s.code")
      .mkString("\n  ")
    val total = (0 until PqM).map(s => s"l$s.d").mkString(" + ")
    s"""adcres AS (SELECT r.vec_id, $total AS adc_scaled
       |  FROM res r
       |  $joins)""".stripMargin
  }

  /** The OPQ derivation in SQL ([[Encoding.train]]'s OPQ fit replayed): the
    * per-dim integer energy, the rank permutation, and one suffixed
    * Lloyd chain per subspace over the PERMUTED slices (`list(v[pos]
    * ORDER BY rnk)` is the oracle side of the engine's allocated-dim
    * array), ending in a3_oN and c2_oN exactly as the plain PQ chains.
    */
  private lazy val opqChainSql: String = {
    val pre =
      s"""qo AS ($qFullExpr),
         |eno AS (SELECT li.i AS pos, SUM(ABS(qq.v[li.i])) AS e
         |  FROM qo qq CROSS JOIN LATERAL
         |    (SELECT unnest(range(1, len(qq.v) + 1)) AS i) li
         |  GROUP BY li.i),
         |pro AS (SELECT pos,
         |    ROW_NUMBER() OVER (ORDER BY e DESC, pos ASC) - 1 AS rnk
         |  FROM eno)""".stripMargin
    val chains = (0 until PqM).map { sub =>
      lloydChain(K.toString, s"_o$sub",
        s"""SELECT qq.vec_id, list(qq.v[pro.pos] ORDER BY pro.rnk) AS v
           |  FROM qo qq JOIN pro ON pro.rnk % $PqM = $sub
           |  GROUP BY qq.vec_id""".stripMargin)
    }.mkString(",\n")
    s"$pre,\n$chains"
  }

  /** OPQ query LUTs + ADC scan — [[pqAdcSql]] with the _o chains; ends
    * in `adco(vec_id, adc_scaled)`.
    */
  private lazy val opqAdcSql: String = {
    val luts = (0 until PqM).map { m =>
      s"""qv_o$m AS (SELECT v FROM q_o$m WHERE vec_id = 0),
         |lut_o$m AS (SELECT c.cid, ${idistSql("c.c", "qv.v")} AS d
         |  FROM c2_o$m c CROSS JOIN qv_o$m qv)""".stripMargin
    }.mkString(",\n")
    val joins = (0 until PqM).map(m =>
      s"JOIN a3_o$m p$m USING (vec_id) JOIN lut_o$m l$m ON p$m.cid = l$m.cid")
      .mkString("\n  ")
    val total = (0 until PqM).map(m => s"l$m.d").mkString(" + ")
    s"""$luts,
       |adco AS (SELECT base.vec_id, $total AS adc_scaled
       |  FROM (SELECT vec_id FROM q_o0) base
       |  $joins)""".stripMargin
  }

  /** The ADC scan: join each vector's per-subspace code to its LUT row
    * and sum — ends in CTE `adc(vec_id, adc_scaled)`.
    */
  private val pqAdcSql: String = {
    val joins = (0 until PqM).map(s =>
      s"JOIN a3_s$s p$s USING (vec_id) JOIN lut_s$s l$s ON p$s.cid = l$s.cid")
      .mkString("\n  ")
    val total = (0 until PqM).map(s => s"l$s.d").mkString(" + ")
    s"""adc AS (SELECT base.vec_id, $total AS adc_scaled
       |  FROM (SELECT vec_id FROM q_s0) base
       |  $joins)""".stripMargin
  }

  /** The q_ann_ivfpq_batch CTE chain, through `ranked(qid, vec_id,
    * adc_scaled, rnk)` — shared with the batch recall monitor.
    */
  private lazy val ivfPqBatchChainSql: String = {
    val lutbs = (0 until PqM).map { m =>
      s"""lutb$m AS (SELECT qb.vec_id AS qid, $m AS sub, c.cid AS code,
         |  ${idistSql("c.c", "qb.v")} AS d
         |  FROM c2_s$m c CROSS JOIN
         |    (SELECT vec_id, v FROM q_s$m WHERE vec_id IN (0, 1, 2)) qb)""".stripMargin
    }
    val lutUnion = (0 until PqM).map(m => s"SELECT * FROM lutb$m")
      .mkString(" UNION ALL ")
    val codesUnion = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS sub, cid AS code FROM a3_s$m")
      .mkString(" UNION ALL ")
    s"""$lloydSql,
       |$pqChainsSql,
       |${lutbs.mkString(",\n")},
       |luts AS ($lutUnion),
       |codes_long AS ($codesUnion),
       |qb AS (SELECT vec_id AS qid, v FROM q WHERE vec_id IN (0, 1, 2)),
       |pcb AS (SELECT qid, cid FROM (
       |    SELECT qb.qid, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY qb.qid
       |        ORDER BY ${idistSql("c.c", "qb.v")} ASC, c.cid ASC) AS rn
       |    FROM c2 c CROSS JOIN qb) WHERE rn <= 2),
       |cand AS (SELECT pcb.qid, a3.vec_id FROM a3 JOIN pcb ON a3.cid = pcb.cid),
       |adc AS (SELECT l.qid, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_scaled
       |  FROM codes_long c JOIN luts l ON c.sub = l.sub AND c.code = l.code
       |  GROUP BY l.qid, c.vec_id HAVING COUNT(*) = $PqM),
       |ranked AS (SELECT adc.qid, adc.vec_id, adc.adc_scaled,
       |    ROW_NUMBER() OVER (PARTITION BY adc.qid
       |      ORDER BY adc.adc_scaled ASC, adc.vec_id ASC) AS rnk
       |  FROM adc JOIN cand ON adc.qid = cand.qid AND adc.vec_id = cand.vec_id)""".stripMargin
  }

  /** The single-probe IVFADC WITH-body (coarse chain + subspace chains
    * + query LUTs + probe cells + candidate filter + ADC scan) — shared
    * by q_ann_ivfpq, its partitioned-index twin, and the refine tier.
    */
  private lazy val ivfPqSingleSql: String =
    s"""$lloydSql,
       |$pqChainsSql,
       |$pqLutSql,
       |qvc AS (SELECT v FROM q WHERE vec_id = 0),
       |pc AS (SELECT cid FROM (
       |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
       |      c.cid ASC) AS rn
       |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
       |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
       |$pqAdcSql""".stripMargin

  /** q_ann_opq_part's contract SQL: the OPQ ADC chain gated by the
    * RAW-domain probe cells (the engine assigns cells over permuted
    * vectors vs permuted centroids — a permutation preserves every
    * distance, so the raw-domain replay is exact, ties included).
    */
  private lazy val annOpqIvfOracle: String =
    s"""WITH $lloydSql,
       |$opqChainSql,
       |$opqAdcSql,
       |qvc AS (SELECT v FROM q WHERE vec_id = 0),
       |pc AS (SELECT cid FROM (
       |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
       |      c.cid ASC) AS rn
       |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
       |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid)
       |SELECT adco.vec_id, adco.adc_scaled FROM adco JOIN cand USING (vec_id)
       |ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10""".stripMargin

  /** q_ann_opq_batch's contract SQL — [[ivfPqBatchChainSql]]'s shape
    * over the _o (permuted-slice) chains, cells in the raw domain.
    */
  private lazy val annOpqBatchOracle: String = {
    val lutobs = (0 until PqM).map { m =>
      s"""lutob$m AS (SELECT qb.vec_id AS qid, $m AS sub, c.cid AS code,
         |  ${idistSql("c.c", "qb.v")} AS d
         |  FROM c2_o$m c CROSS JOIN
         |    (SELECT vec_id, v FROM q_o$m WHERE vec_id IN (0, 1, 2)) qb)""".stripMargin
    }
    val lutUnion = (0 until PqM).map(m => s"SELECT * FROM lutob$m")
      .mkString(" UNION ALL ")
    val codesUnion = (0 until PqM)
      .map(m => s"SELECT vec_id, $m AS sub, cid AS code FROM a3_o$m")
      .mkString(" UNION ALL ")
    s"""WITH $lloydSql,
       |$opqChainSql,
       |${lutobs.mkString(",\n")},
       |lutso AS ($lutUnion),
       |codeso AS ($codesUnion),
       |qb AS (SELECT vec_id AS qid, v FROM q WHERE vec_id IN (0, 1, 2)),
       |pcb AS (SELECT qid, cid FROM (
       |    SELECT qb.qid, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY qb.qid
       |        ORDER BY ${idistSql("c.c", "qb.v")} ASC, c.cid ASC) AS rn
       |    FROM c2 c CROSS JOIN qb) WHERE rn <= 2),
       |cand AS (SELECT pcb.qid, a3.vec_id FROM a3 JOIN pcb ON a3.cid = pcb.cid),
       |adcob AS (SELECT l.qid, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_scaled
       |  FROM codeso c JOIN lutso l ON c.sub = l.sub AND c.code = l.code
       |  GROUP BY l.qid, c.vec_id HAVING COUNT(*) = $PqM),
       |ranked AS (SELECT adcob.qid, adcob.vec_id, adcob.adc_scaled,
       |    ROW_NUMBER() OVER (PARTITION BY adcob.qid
       |      ORDER BY adcob.adc_scaled ASC, adcob.vec_id ASC) AS rnk
       |  FROM adcob JOIN cand ON adcob.qid = cand.qid
       |    AND adcob.vec_id = cand.vec_id)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc_scaled
       |FROM ranked WHERE rnk <= 3
       |ORDER BY qid ASC, rnk ASC""".stripMargin
  }

  /** q_ann_ivfpq's contract SQL — also the oracle of the
    * partitioned-index serving twin (same results, different layout).
    */
  private lazy val annIvfPqOracle: String =
    s"""WITH $ivfPqSingleSql
       |SELECT adc.vec_id, adc.adc_scaled FROM adc JOIN cand USING (vec_id)
       |ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10""".stripMargin

  /** The SQ8 code CTEs: global amax, query codes, corpus codes. */
  private lazy val sq8ChainSql: String = {
    val codeExpr =
      """list_transform(embedding, e -> CASE WHEN g.amax = 0.0 THEN 0
        |    ELSE CAST(floor(CAST(e AS DOUBLE) / (g.amax / 127.0) + 0.5) AS BIGINT)
        |    END)""".stripMargin
    s"""g AS (SELECT max(list_max(list_transform(embedding,
       |    e -> abs(CAST(e AS DOUBLE))))) AS amax FROM embeddings),
       |qc AS (SELECT $codeExpr AS qv FROM embeddings, g WHERE vec_id = 0),
       |cod AS (SELECT vec_id, $codeExpr AS cv FROM embeddings, g)""".stripMargin
  }

  /** q_ann_ivf_sq8's contract SQL — also the oracle of its
    * partitioned-index serving twin (same results, different layout).
    */
  private lazy val annIvfSq8Oracle: String =
    s"""WITH $lloydSql,
       |$sq8ChainSql,
       |qvc AS (SELECT v FROM q WHERE vec_id = 0),
       |pc AS (SELECT cid FROM (
       |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
       |      c.cid ASC) AS rn
       |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
       |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid)
       |SELECT c.vec_id, ${idistSql("c.cv", "qc.qv")} AS qdist
       |FROM cod c JOIN cand USING (vec_id) CROSS JOIN qc
       |ORDER BY qdist ASC, vec_id ASC LIMIT 10""".stripMargin

  /** q_ann_ivfpq_res's contract SQL — also the oracle of its
    * partitioned-index serving twin (same results, different layout).
    */
  private lazy val annIvfPqResOracle: String =
    s"""WITH $lloydSql,
       |$pqResSql,
       |$pqResChainsSql,
       |qvc AS (SELECT v FROM q WHERE vec_id = 0),
       |pc AS (SELECT cid FROM (
       |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
       |      c.cid ASC) AS rn
       |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
       |$pqResLutSql,
       |$pqResAdcSql
       |SELECT vec_id, adc_scaled FROM adcres
       |ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10""".stripMargin

  /** q_ann_ivfpq_batch's contract SQL — also the oracle of its
    * persisted-partitioned serving twin (same results, no re-encode).
    */
  private lazy val annIvfPqBatchOracle: String =
    s"""WITH $ivfPqBatchChainSql
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc_scaled
       |FROM ranked WHERE rnk <= 3
       |ORDER BY qid ASC, rnk ASC""".stripMargin

  /** q_ann_ivfpq_res_batch's contract SQL — also the oracle of its
    * persisted-partitioned serving twin.
    */
  private lazy val annIvfPqResBatchOracle: String = {
    val lutrbs = (0 until PqM).map { s =>
      val lo = s * PqSubDim + 1
      val hi = (s + 1) * PqSubDim
      s"""lutrb$s AS (SELECT qr.qid, qr.cell, $s AS sub, b.cid AS code,
         |  ${idistSql(s"qr.rv[$lo:$hi]", "b.c")} AS d
         |  FROM qresb qr CROSS JOIN c2_r$s b)""".stripMargin
    }
    val lutUnion = (0 until PqM).map(s => s"SELECT * FROM lutrb$s")
      .mkString(" UNION ALL ")
    val codesUnion = (0 until PqM)
      .map(s => s"SELECT vec_id, $s AS sub, cid AS code FROM a3_r$s")
      .mkString(" UNION ALL ")
    s"""WITH $lloydSql,
       |$pqResSql,
       |$pqResChainsSql,
       |qb AS (SELECT vec_id AS qid, v FROM q WHERE vec_id IN (0, 1, 2)),
       |pcb AS (SELECT qid, cid FROM (
       |    SELECT qb.qid, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY qb.qid
       |        ORDER BY ${idistSql("c.c", "qb.v")} ASC, c.cid ASC) AS rn
       |    FROM c2 c CROSS JOIN qb) WHERE rn <= 2),
       |qresb AS (SELECT pcb.qid, pcb.cid AS cell,
       |    list_transform(range(1, len(qb.v) + 1), i -> qb.v[i] - cc.c[i]) AS rv
       |  FROM pcb JOIN c2 cc ON pcb.cid = cc.cid JOIN qb ON qb.qid = pcb.qid),
       |${lutrbs.mkString(",\n")},
       |lutsb AS ($lutUnion),
       |codesb AS ($codesUnion),
       |cand AS (SELECT pcb.qid, r.vec_id, r.cell
       |  FROM res r JOIN pcb ON r.cell = pcb.cid),
       |adcb AS (SELECT cand.qid, cand.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_scaled
       |  FROM cand JOIN codesb c USING (vec_id)
       |  JOIN lutsb l ON l.qid = cand.qid AND l.cell = cand.cell
       |    AND l.sub = c.sub AND l.code = c.code
       |  GROUP BY cand.qid, cand.vec_id HAVING COUNT(*) = $PqM),
       |ranked AS (SELECT qid, vec_id, adc_scaled,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY adc_scaled ASC, vec_id ASC) AS rnk
       |  FROM adcb)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc_scaled
       |FROM ranked WHERE rnk <= 3
       |ORDER BY qid ASC, rnk ASC""".stripMargin
  }

  /** The per-dim SQ8 derivation ([[Encoding.train]]'s intervals, code and decode in
    * SQL, operation order aligned expression-for-expression): per-dim
    * min/max, the two scale arrays as one row, and the dequantized
    * scaled-integer corpus table `dq(vec_id, dv)`.
    */
  private lazy val sq8DimChainSql: String =
    """dims AS (SELECT li.i AS pos,
      |    min(CAST(e.embedding[li.i] AS DOUBLE)) AS mn,
      |    max(CAST(e.embedding[li.i] AS DOUBLE)) AS mx
      |  FROM embeddings e CROSS JOIN LATERAL
      |    (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) li
      |  GROUP BY li.i),
      |sc8 AS (SELECT list(mn ORDER BY pos) AS vmn, list(mx ORDER BY pos) AS vmx
      |  FROM dims),
      |dq AS (SELECT e.vec_id, list_transform(range(1, len(e.embedding) + 1), i ->
      |    CAST(floor((sq.vmn[i] + (CASE WHEN sq.vmx[i] = sq.vmn[i] THEN 0
      |        ELSE floor((CAST(e.embedding[i] AS DOUBLE) - sq.vmn[i])
      |          / ((sq.vmx[i] - sq.vmn[i]) / 255.0) + 0.5)
      |      END) * ((sq.vmx[i] - sq.vmn[i]) / 255.0)) * 1000000.0) AS BIGINT))
      |    AS dv
      |  FROM embeddings e CROSS JOIN sc8 sq)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_ann_ivfpq_part" -> annIvfPqOracle,
    "q_ann_ivfpq_res_part" -> annIvfPqResOracle,
    "q_ann_ivf_sq8_part" -> annIvfSq8Oracle,
    "q_ann_ivf_sq8_batch" ->
      s"""WITH $lloydSql,
         |$sq8ChainSql,
         |qb AS (SELECT vec_id AS qid, v FROM q WHERE vec_id IN (0, 1, 2)),
         |pcb AS (SELECT qid, cid FROM (
         |    SELECT qb.qid, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY qb.qid
         |        ORDER BY ${idistSql("c.c", "qb.v")} ASC, c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qb) WHERE rn <= 2),
         |qc8 AS (SELECT vec_id AS qid, cv AS qcode FROM cod WHERE vec_id IN (0, 1, 2)),
         |cand AS (SELECT pcb.qid, a3.vec_id FROM a3 JOIN pcb ON a3.cid = pcb.cid),
         |sc AS (SELECT cand.qid, cand.vec_id, ${idistSql("c.cv", "q8.qcode")} AS qdist
         |  FROM cand JOIN cod c USING (vec_id) JOIN qc8 q8 ON q8.qid = cand.qid),
         |rr AS (SELECT qid, vec_id, qdist,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY qdist ASC, vec_id ASC) AS rnk
         |  FROM sc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, qdist
         |FROM rr WHERE rnk <= 3
         |ORDER BY qid ASC, rnk ASC""".stripMargin,
    "q_sq8_dim" ->
      s"""WITH $sq8DimChainSql,
         |qfull AS ($qFullExpr),
         |qvfull AS (SELECT v FROM qfull WHERE vec_id = 0)
         |SELECT d.vec_id, ${idistSql("d.dv", "qv.v")} AS qdist
         |FROM dq d CROSS JOIN qvfull qv
         |ORDER BY qdist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_sq8_dim_part" ->
      s"""WITH $lloydSql,
         |$sq8DimChainSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid)
         |SELECT d.vec_id, ${idistSql("d.dv", "qv.v")} AS qdist
         |FROM dq d JOIN cand USING (vec_id) CROSS JOIN qvc qv
         |ORDER BY qdist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_sq8_dim_batch" ->
      s"""WITH $lloydSql,
         |$sq8DimChainSql,
         |qb AS (SELECT vec_id AS qid, v FROM q WHERE vec_id IN (0, 1, 2)),
         |pcb AS (SELECT qid, cid FROM (
         |    SELECT qb.qid, c.cid,
         |      ROW_NUMBER() OVER (PARTITION BY qb.qid
         |        ORDER BY ${idistSql("c.c", "qb.v")} ASC, c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qb) WHERE rn <= 2),
         |cand AS (SELECT pcb.qid, a3.vec_id FROM a3 JOIN pcb ON a3.cid = pcb.cid),
         |sc AS (SELECT cand.qid, cand.vec_id, ${idistSql("d.dv", "qb.v")} AS qdist
         |  FROM cand JOIN dq d USING (vec_id) JOIN qb ON qb.qid = cand.qid),
         |rr AS (SELECT qid, vec_id, qdist,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY qdist ASC, vec_id ASC) AS rnk
         |  FROM sc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, qdist
         |FROM rr WHERE rnk <= 3
         |ORDER BY qid ASC, rnk ASC""".stripMargin,
    "q_recall_sq8_dim_part" ->
      s"""WITH $lloydSql,
         |$sq8DimChainSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |approx AS (SELECT d.vec_id FROM dq d JOIN cand USING (vec_id)
         |  CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("d.dv", "qv.v")} ASC, d.vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_sq8_dim" ->
      s"""WITH $sq8DimChainSql,
         |qfull AS ($qFullExpr),
         |qvfull AS (SELECT v FROM qfull WHERE vec_id = 0),
         |approx AS (SELECT d.vec_id FROM dq d CROSS JOIN qvfull qv
         |  ORDER BY ${idistSql("d.dv", "qv.v")} ASC, d.vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM qfull q CROSS JOIN qvfull qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_semdedup_capped" ->
      s"""WITH $lloydSql,
         |sub AS (SELECT vec_id, cid AS cluster,
         |    CAST((ROW_NUMBER() OVER (PARTITION BY cid
         |      ORDER BY dist ASC, vec_id ASC) - 1) // $SemCap AS BIGINT) AS sb
         |  FROM a3),
         |ve AS (SELECT su.vec_id, su.cluster, su.sb, e.embedding
         |  FROM sub su JOIN embeddings e USING (vec_id)),
         |drops AS (SELECT DISTINCT b.vec_id
         |  FROM ve a JOIN ve b ON a.cluster = b.cluster AND a.sb = b.sb
         |    AND a.vec_id < b.vec_id
         |  WHERE ${Analysis.cosineSql("a.embedding", "b.embedding")} >= 0.4)
         |SELECT v.vec_id, v.cluster, (d.vec_id IS NULL) AS kept
         |FROM ve v LEFT JOIN drops d ON v.vec_id = d.vec_id
         |ORDER BY v.vec_id ASC""".stripMargin,
    "q_recall_cdc" ->
      s"""WITH $ivfPqSingleSql,
         |live AS (SELECT vec_id FROM q
         |  WHERE ${cdcLiveSql("vec_id")}),
         |approx AS (SELECT adc.vec_id FROM adc JOIN cand USING (vec_id)
         |  JOIN live USING (vec_id)
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q JOIN live USING (vec_id)
         |  CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_cdc_opq" ->
      s"""WITH $lloydSql,
         |$opqChainSql,
         |$opqAdcSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |live AS (SELECT vec_id FROM q
         |  WHERE ${cdcLiveSql("vec_id")}),
         |approx AS (SELECT adco.vec_id FROM adco JOIN cand USING (vec_id)
         |  JOIN live USING (vec_id)
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q JOIN live USING (vec_id)
         |  CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_cdc_sq8" ->
      s"""WITH $lloydSql,
         |$sq8ChainSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |live AS (SELECT vec_id FROM q
         |  WHERE ${cdcLiveSql("vec_id")}),
         |approx AS (SELECT c.vec_id FROM cod c JOIN cand USING (vec_id)
         |  JOIN live USING (vec_id) CROSS JOIN qc
         |  ORDER BY ${idistSql("c.cv", "qc.qv")} ASC, c.vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q JOIN live USING (vec_id)
         |  CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_cdc_sq8dim" ->
      s"""WITH $lloydSql,
         |$sq8DimChainSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |live AS (SELECT vec_id FROM q
         |  WHERE ${cdcLiveSql("vec_id")}),
         |approx AS (SELECT d.vec_id FROM dq d JOIN cand USING (vec_id)
         |  JOIN live USING (vec_id) CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("d.dv", "qv.v")} ASC, d.vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q JOIN live USING (vec_id)
         |  CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_ann_ivfpq_rerank" ->
      s"""WITH $ivfPqSingleSql,
         |rtop AS (SELECT adc.vec_id FROM adc JOIN cand USING (vec_id)
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10)
         |SELECT q.vec_id, ${idistSql("q.v", "qv.v")} AS dist_scaled
         |FROM q JOIN rtop USING (vec_id) CROSS JOIN qvc qv
         |ORDER BY dist_scaled ASC, vec_id ASC LIMIT 3""".stripMargin,
    "q_recall_ivfpq_rerank" ->
      s"""WITH $ivfPqSingleSql,
         |rtop AS (SELECT adc.vec_id FROM adc JOIN cand USING (vec_id)
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10),
         |refined AS (SELECT q.vec_id FROM q JOIN rtop USING (vec_id)
         |  CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 3),
         |exact AS (SELECT q.vec_id FROM q CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 3)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 // 3 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM refined)""".stripMargin,
    "q_ann_ivfpq_rerank_batch" ->
      s"""WITH $ivfPqBatchChainSql,
         |rtopb AS (SELECT qid, vec_id FROM ranked WHERE rnk <= 10),
         |rex AS (SELECT r.qid, r.vec_id, ${idistSql("q.v", "qb.v")} AS dist_scaled
         |  FROM rtopb r JOIN q ON q.vec_id = r.vec_id
         |  JOIN qb ON qb.qid = r.qid),
         |rr AS (SELECT qid, vec_id, dist_scaled,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY dist_scaled ASC, vec_id ASC) AS rnk
         |  FROM rex)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, dist_scaled
         |FROM rr WHERE rnk <= 3
         |ORDER BY qid ASC, rnk ASC""".stripMargin,
    "q_sq8_topk" ->
      s"""WITH $sq8ChainSql
         |SELECT c.vec_id, ${idistSql("c.cv", "qc.qv")} AS qdist
         |FROM cod c CROSS JOIN qc
         |ORDER BY qdist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_sq8_batch" ->
      s"""WITH $sq8ChainSql,
         |qb8 AS (SELECT vec_id AS qid, cv AS qv FROM cod WHERE vec_id IN (0, 1, 2)),
         |sc AS (SELECT qb8.qid, c.vec_id, ${idistSql("c.cv", "qb8.qv")} AS qdist
         |  FROM cod c CROSS JOIN qb8),
         |rr AS (SELECT qid, vec_id, qdist,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY qdist ASC, vec_id ASC) AS rnk
         |  FROM sc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, qdist
         |FROM rr WHERE rnk <= 3
         |ORDER BY qid ASC, rnk ASC""".stripMargin,
    "q_ann_ivf_sq8" -> annIvfSq8Oracle,
    "q_recall_ivf_sq8" ->
      s"""WITH $lloydSql,
         |$sq8ChainSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |approx AS (SELECT c.vec_id FROM cod c JOIN cand USING (vec_id)
         |  CROSS JOIN qc
         |  ORDER BY ${idistSql("c.cv", "qc.qv")} ASC, c.vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_sq8" ->
      s"""WITH $sq8ChainSql,
         |approx AS (SELECT c.vec_id FROM cod c CROSS JOIN qc
         |  ORDER BY ${idistSql("c.cv", "qc.qv")} ASC, c.vec_id ASC LIMIT 10),
         |qfull AS ($qFullExpr),
         |qvfull AS (SELECT v FROM qfull WHERE vec_id = 0),
         |exact AS (SELECT q.vec_id FROM qfull q CROSS JOIN qvfull qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_ivfpq_batch" ->
      s"""WITH $ivfPqBatchChainSql,
         |approx AS (SELECT qid, vec_id FROM ranked WHERE rnk <= 3),
         |exact AS (SELECT qid, vec_id FROM (
         |    SELECT qb.qid, q.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY qb.qid
         |        ORDER BY ${idistSql("q.v", "qb.v")} ASC, q.vec_id ASC) AS rn
         |    FROM q CROSS JOIN qb) WHERE rn <= 3)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  -- integer division (//): Spark's BIGINT / truncates, DuckDB's
         |  -- float / would round 5e6/9 UP on the cast — a latent
         |  -- mismatch masked whenever n_hits divides 9
         |  CAST(COUNT(*) * 1000000 // 9 AS BIGINT) AS recall_ppm
         |FROM exact JOIN approx USING (qid, vec_id)""".stripMargin,
    "q_pq_codes" -> {
      val codeCols = (0 until PqM)
        .map(s => s"p$s.cid AS code_$s").mkString(", ")
      val joins = (1 until PqM)
        .map(s => s"JOIN a3_s$s p$s USING (vec_id)").mkString(" ")
      s"""WITH $pqChainsSql
         |SELECT p0.vec_id, $codeCols
         |FROM a3_s0 p0 $joins
         |ORDER BY p0.vec_id ASC""".stripMargin
    },
    "q_ann_pq" ->
      s"""WITH $pqChainsSql,
         |$pqLutSql,
         |$pqAdcSql
         |SELECT vec_id, adc_scaled FROM adc
         |ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ann_opq" ->
      s"""WITH $opqChainSql,
         |$opqAdcSql
         |SELECT vec_id, adc_scaled FROM adco
         |ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ann_opq_part" -> annOpqIvfOracle,
    "q_ann_opq_batch" -> annOpqBatchOracle,
    "q_recall_opq" ->
      s"""WITH $opqChainSql,
         |$opqAdcSql,
         |approx AS (SELECT vec_id FROM adco
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10),
         |qvo AS (SELECT v FROM qo WHERE vec_id = 0),
         |exact AS (SELECT qq.vec_id FROM qo qq CROSS JOIN qvo qv
         |  ORDER BY ${idistSql("qq.v", "qv.v")} ASC, qq.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_ann_ivfpq" -> annIvfPqOracle,
    "q_ann_pq_batch" -> {
      val lutbs = (0 until PqM).map { m =>
        s"""lutb$m AS (SELECT qb.vec_id AS qid, $m AS sub, c.cid AS code,
           |  ${idistSql("c.c", "qb.v")} AS d
           |  FROM c2_s$m c CROSS JOIN
           |    (SELECT vec_id, v FROM q_s$m WHERE vec_id IN (0, 1, 2)) qb)""".stripMargin
      }
      val lutUnion = (0 until PqM).map(m => s"SELECT * FROM lutb$m")
        .mkString(" UNION ALL ")
      val codesUnion = (0 until PqM)
        .map(m => s"SELECT vec_id, $m AS sub, cid AS code FROM a3_s$m")
        .mkString(" UNION ALL ")
      s"""WITH $pqChainsSql,
         |${lutbs.mkString(",\n")},
         |luts AS ($lutUnion),
         |codes_long AS ($codesUnion),
         |adc AS (SELECT l.qid, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_scaled
         |  FROM codes_long c JOIN luts l ON c.sub = l.sub AND c.code = l.code
         |  GROUP BY l.qid, c.vec_id HAVING COUNT(*) = $PqM),
         |ranked AS (SELECT qid, vec_id, adc_scaled,
         |    ROW_NUMBER() OVER (PARTITION BY qid
         |      ORDER BY adc_scaled ASC, vec_id ASC) AS rnk
         |  FROM adc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc_scaled
         |FROM ranked WHERE rnk <= 3
         |ORDER BY qid ASC, rnk ASC""".stripMargin
    },
    "q_ann_ivfpq_batch" -> annIvfPqBatchOracle,
    "q_ann_ivfpq_batch_part" -> annIvfPqBatchOracle,
    "q_shortlist_ann" ->
      s"""WITH $lloydSql,
         |$pqChainsSql,
         |$pqLutSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |$pqAdcSql,
         |top AS (SELECT adc.vec_id, adc.adc_scaled FROM adc JOIN cand USING (vec_id)
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 5)
         |SELECT 'vec_' || lpad(CAST(vec_id AS VARCHAR), 6, '0') AS file_name,
         |  ROUND(10.0 / (1.0 + CAST(adc_scaled AS DOUBLE) / 1000000000000.0), 2) AS score,
         |  'doc ' || CAST(vec_id AS VARCHAR) AS content
         |FROM top ORDER BY adc_scaled ASC, vec_id ASC""".stripMargin,
    "q_recall_shortlist_ann" ->
      s"""WITH $lloydSql,
         |$pqChainsSql,
         |$pqLutSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |$pqAdcSql,
         |anntop AS (SELECT adc.vec_id FROM adc JOIN cand USING (vec_id)
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 5),
         |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |extop AS (SELECT e.vec_id FROM embeddings e CROSS JOIN qe qq
         |  ORDER BY list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(qq.qe[i] AS DOUBLE))
         |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(qq.qe[i] AS DOUBLE))),
         |      (acc, v) -> acc + v) ASC, e.vec_id ASC LIMIT 5)
         |SELECT count(*) AS n_hits,
         |  count(*) * 1000000 // 5 AS recall_ppm
         |FROM extop WHERE vec_id IN (SELECT vec_id FROM anntop)""".stripMargin,
    "q_ann_ivfpq_res" -> annIvfPqResOracle,
    "q_ann_ivfpq_res_batch" -> annIvfPqResBatchOracle,
    "q_ann_ivfpq_res_batch_part" -> annIvfPqResBatchOracle,
    "q_recall_ivfpq" ->
      s"""WITH $lloydSql,
         |$pqChainsSql,
         |$pqLutSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |$pqAdcSql,
         |approx AS (SELECT adc.vec_id FROM adc JOIN cand USING (vec_id)
         |  ORDER BY adc.adc_scaled ASC, adc.vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_ivfpq_res" ->
      s"""WITH $lloydSql,
         |$pqResSql,
         |$pqResChainsSql,
         |qvc AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |      c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qvc qv) WHERE rn <= 2),
         |$pqResLutSql,
         |$pqResAdcSql,
         |approx AS (SELECT vec_id FROM adcres
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q CROSS JOIN qvc qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM approx)""".stripMargin,
    "q_recall_pq" ->
      s"""WITH $pqChainsSql,
         |$pqLutSql,
         |$pqAdcSql,
         |pq AS (SELECT vec_id FROM adc
         |  ORDER BY adc_scaled ASC, vec_id ASC LIMIT 10),
         |qfull AS ($qFullExpr),
         |qvfull AS (SELECT v FROM qfull WHERE vec_id = 0),
         |exact AS (SELECT q.vec_id FROM qfull q CROSS JOIN qvfull qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM pq)""".stripMargin,
    "q_semdedup_scaled" ->
      s"""WITH $lloydSqlScaled,
         |ve AS (SELECT a3.vec_id, a3.cid AS cluster, e.embedding
         |  FROM a3 JOIN embeddings e USING (vec_id)),
         |drops AS (SELECT DISTINCT b.vec_id
         |  FROM ve a JOIN ve b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${Analysis.cosineSql("a.embedding", "b.embedding")} >= 0.4)
         |SELECT v.vec_id, v.cluster, (d.vec_id IS NULL) AS kept
         |FROM ve v LEFT JOIN drops d ON v.vec_id = d.vec_id
         |ORDER BY v.vec_id ASC""".stripMargin,
    "q_semdedup_sampled" ->
      s"""WITH $lloydSqlSampled,
         |ve AS (SELECT a3.vec_id, a3.cid AS cluster, e.embedding
         |  FROM a3 JOIN embeddings e USING (vec_id)),
         |drops AS (SELECT DISTINCT b.vec_id
         |  FROM ve a JOIN ve b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${Analysis.cosineSql("a.embedding", "b.embedding")} >= 0.4)
         |SELECT v.vec_id, v.cluster, (d.vec_id IS NULL) AS kept
         |FROM ve v LEFT JOIN drops d ON v.vec_id = d.vec_id
         |ORDER BY v.vec_id ASC""".stripMargin,
    "q_kmeans" ->
      s"""WITH $lloydSql
         |SELECT vec_id, cid AS cluster, dist AS dist_scaled
         |FROM a3 ORDER BY vec_id ASC""".stripMargin,
    "q_ann_ivf_trained" ->
      s"""WITH $lloydSql,
         |qv AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ${idistSql("c.c", "qv.v")} AS dist,
         |      ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |        c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid)
         |SELECT q.vec_id, ${idistSql("q.v", "qv.v")} AS dist_scaled
         |FROM q JOIN cand USING (vec_id) CROSS JOIN qv
         |ORDER BY dist_scaled ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_recall_ivf" ->
      s"""WITH $lloydSql,
         |qv AS (SELECT v FROM q WHERE vec_id = 0),
         |pc AS (SELECT cid FROM (
         |    SELECT c.cid, ROW_NUMBER() OVER (ORDER BY ${idistSql("c.c", "qv.v")} ASC,
         |        c.cid ASC) AS rn
         |    FROM c2 c CROSS JOIN qv) WHERE rn <= 2),
         |cand AS (SELECT a3.vec_id FROM a3 JOIN pc ON a3.cid = pc.cid),
         |ivf AS (SELECT q.vec_id FROM q JOIN cand USING (vec_id) CROSS JOIN qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10),
         |exact AS (SELECT q.vec_id FROM q CROSS JOIN qv
         |  ORDER BY ${idistSql("q.v", "qv.v")} ASC, q.vec_id ASC LIMIT 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  CAST(COUNT(*) * 1000000 / 10 AS BIGINT) AS recall_ppm
         |FROM exact WHERE vec_id IN (SELECT vec_id FROM ivf)""".stripMargin,
    "q_semdedup" ->
      s"""WITH $lloydSql,
         |ve AS (SELECT a3.vec_id, a3.cid AS cluster, e.embedding
         |  FROM a3 JOIN embeddings e USING (vec_id)),
         |drops AS (SELECT DISTINCT b.vec_id
         |  FROM ve a JOIN ve b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${Analysis.cosineSql("a.embedding", "b.embedding")} >= 0.4)
         |SELECT v.vec_id, v.cluster, (d.vec_id IS NULL) AS kept
         |FROM ve v LEFT JOIN drops d ON v.vec_id = d.vec_id
         |ORDER BY v.vec_id ASC""".stripMargin,
  )
}
