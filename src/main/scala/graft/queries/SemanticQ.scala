package graft.queries

import graft.{Artifacts, Tables}
import graft.functions.VectorOps
import graft.operators.KMeansOp
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

  private def intVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))

  /** The vec_id=0 probe's scaled-integer vector, collected — the one
    * query every single-probe tier and recall monitor here serves.
    */
  private def probeVec(s: SparkSession, d: String): Seq[Long] = {
    import s.implicits._
    intVecs(s, d).where(col("vec_id") === 0L).select(col("v"))
      .as[Seq[Long]].head()
  }

  /** The exact side of every single-probe recall monitor: the
    * integer-exact top-k of (vec_id, v) rows by distance to `qv`, ties
    * to the lower vec_id (TakeOrderedAndProject). Output (vec_id).
    */
  private def exactTopK(vecs: DataFrame, qv: Seq[Long], k: Int): DataFrame =
    vecs.select(col("vec_id"),
        KMeansOp.intDist(col("v"), typedLit(qv)).as("dist_scaled"))
      .orderBy(col("dist_scaled").asc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"))

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
  def semdedupQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ve has THREE consumers (both pair sides + the kept projection),
    // but materializing it (r21 experiment, both the narrow-assignment
    // and payload-attached variants) measured 1.6-3.7x SLOWER here:
    // the standalone query's duplicate subtrees run as INDEPENDENT
    // parallel stages that overlap on idle cores, while a lineage cap
    // serializes an extra materialization job ahead of them. The
    // corpus-build compositions (Clustering.semDropIds*), whose copies
    // compete with the rest of the pipeline for the same cores, keep
    // the cap — it measured faster there.
    val asg = KMeansOp.assignCells(intVecs(s, d),
        trainedCentroids(s, d).toDF("cid", "c"))
      .select(col("vec_id"), col("cid").as("cluster"))
    val ve = asg.join(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      Seq("vec_id"))
    val a = ve.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val b = ve.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    val drops = a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .where(VectorOps.cosine(col("ea"), col("eb")) >= 0.4)
      .select(col("id_b").as("vec_id"))
      .distinct()
    ve.select(col("vec_id"), col("cluster"))
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dropped"), lit(false)) === false)
      .toDF("vec_id", "cluster", "kept")
      .orderBy(col("vec_id").asc)
  }

  /** IVF search over the TRAINED quantizer — the production form of
    * q_ann_ivf, whose cells are raw seed vectors. Training is the 2-round
    * integer Lloyd above; the driver-local centroids pick the 2 probe
    * cells for the vec_id=0 query without touching the corpus, then ONE
    * corpus pass assigns + filters to the probed cells and
    * TakeOrderedAndProject returns the integer-exact top-10. Same recall
    * mechanics as any IVF (cell-border misses are the nProbe trade);
    * everything the oracle needs is the same unrolled Lloyd CTE chain
    * plus a probe-cell rank.
    */
  def annIvfTrainedQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = trainedCentroids(s, d)
    val vecs = intVecs(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(cents, qv, 2)
    KMeansOp.assign(vecs, cents.toDF("cid", "c"))
      .where(col("cid").isin(probeCells: _*))
      .select(col("vec_id"),
        KMeansOp.intDist(col("v"), typedLit(qv)).as("dist_scaled"))
      .orderBy(col("dist_scaled").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Index-quality monitoring: recall@10 of the trained-IVF search
    * against the integer-exact top-10 for the same probe — the metric an
    * ANN tier ships with (every production vector index is deployed next
    * to exactly this evaluation job; recall decides nProbe). Both sides
    * run in the shared integer domain, so the recall is a deterministic
    * BIGINT ppm, not a float. One corpus pass for the exact baseline
    * (TakeOrderedAndProject), the IVF side reuses the probed-cell scan;
    * the intersection is a 10×10 broadcast join.
    */
  def recallIvfQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), annIvfTrainedQ(s, d),
      Seq("vec_id"), 10)

  /** PQ codebooks memoized like every quantizer here — one cache entry
    * per subspace under policy `pq<s>`, keyed to the dataset content
    * fingerprint. Training is [[ProductQuantizer.train]]: PqM independent
    * 2-round integer Lloyd fits on the sliced embeddings.
    */
  private[graft] def pqCodebooks(s: SparkSession, d: String): Seq[Seq[(Long, Seq[Long])]] =
    (0 until PqM).map { m =>
      cachedCentroids(s, d, s"pq$m")(
        graft.operators.ProductQuantizer.trainSubspace(
          Tables.embeddings(s, d), "vec_id", col("embedding"),
          m, PqSubDim, K, Iters))
    }

  /** The PQ code table itself — (vec_id, code_0..code_3), the compressed
    * index a PQ deployment persists (4 small ints per vector instead of
    * 64 floats). One projection over the corpus; the argmin per subspace
    * is a codegen'd min over an 8-element literal array, no shuffle at
    * all until the output sort.
    */
  def pqCodesQ(s: SparkSession, d: String): DataFrame =
    graft.operators.ProductQuantizer
      .encode(intVecs(s, d), pqCodebooks(s, d), PqSubDim)
      .orderBy(col("vec_id").asc)

  /** ANN by PQ asymmetric distance (ADC): the vec_id=0 query builds a
    * per-subspace LUT of distances to each codebook entry on the driver
    * (bounded: 4×8 BIGINTs), and the scan sums 4 map-literal lookups per
    * row over the CODE table — raw vectors are never read at query time.
    * Integer-exact end to end, so the oracle replays it bit-for-bit.
    */
  def annPqQ(s: SparkSession, d: String): DataFrame = {
    val books = pqCodebooks(s, d)
    val vecs = intVecs(s, d)
    val qv = probeVec(s, d)
    val luts = graft.operators.ProductQuantizer.adcTables(qv, books, PqSubDim)
    graft.operators.ProductQuantizer.adcTopK(
      graft.operators.ProductQuantizer.encode(vecs, books, PqSubDim),
      luts, 10)
  }

  /** The composed IVFADC search (Jégou et al. §IV: coarse quantizer
    * restricts the scan, PQ codes carry the distances): the vec_id=0
    * probe picks its 2 nearest coarse cells driver-side, then ONE corpus
    * projection computes each vector's coarse cell AND its 4 PQ codes as
    * literal-codebook argmins (no join, no shuffle — both quantizers are
    * bounded driver-local literals), filters to the probed cells, and
    * sums the broadcast ADC LUTs for the top-10. At 100 TB the cell and
    * code columns are the PERSISTED index (built once by this same
    * projection); a query touches |probed cells|/k of the code table
    * and never the raw vectors.
    */
  def annIvfPqQ(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    val books = pqCodebooks(s, d)
    val vecs = intVecs(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(cents, qv, 2)
    val luts = graft.operators.ProductQuantizer.adcTables(qv, books, PqSubDim)
    val indexed = graft.operators.ProductQuantizer
      .indexProjection(vecs, cents, books, PqSubDim)
    graft.operators.ProductQuantizer.adcTopK(
      indexed.where(col("cell").isin(probeCells: _*)), luts, 10)
  }

  /** Residual PQ codebooks: the subspace quantizers trained on
    * v − centroid[cell] (already-integer vectors, so the fit enters
    * Lloyd through the pre-scaled door). Memoized per subspace under
    * `pqres<s>` like every quantizer here.
    */
  private[graft] def resCodebooks(s: SparkSession, d: String): Seq[Seq[(Long, Seq[Long])]] = {
    lazy val res = graft.operators.ProductQuantizer
      .residuals(intVecs(s, d), trainedCentroids(s, d))
    (0 until PqM).map { m =>
      cachedCentroids(s, d, s"pqres$m")(
        KMeansOp.lloydCentroidsLocalInt(
          res.select(col("vec_id"),
            slice(col("r"), m * PqSubDim + 1, PqSubDim).as("v")),
          K, Iters))
    }
  }

  /** The RESIDUAL-encoded IVFADC (Jégou et al. §IV.B — FAISS's default):
    * PQ quantizes v − centroid[cell], so the codes spend their bits on
    * the within-cell offset instead of re-encoding cell position —
    * better recall at identical scan cost. Everything stays exact
    * BIGINT (residual = integer subtraction), so the oracle replays
    * the full composition. Query-side LUTs are PER PROBED CELL (the
    * query's residual differs per cell): nProbe·m·k driver-built
    * entries, folded into the scan as a chained `when` over the two
    * probed cells — still one shuffle-free pass over the code table.
    */
  def annIvfPqResQ(s: SparkSession, d: String): DataFrame = {
    val coarse = trainedCentroids(s, d)
    val books = resCodebooks(s, d)
    val vecs = intVecs(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(coarse, qv, 2)
    val codes = graft.operators.ProductQuantizer
      .residualIndexProjection(vecs, coarse, books, PqSubDim)
    resAdcTopK(codes, coarse, books, qv, probeCells, 10)
  }

  /** The residual-ADC probed-cell scan shared by the in-flight and
    * persisted serving tiers: per-probed-cell query residuals and their
    * LUTs built driver-side (bounded: nProbe·m·k BIGINTs), folded into
    * the scan as a chained `when` over the probed cells, top-k by the
    * summed ADC. `codes` carries (vec_id, cell, code_0 …) in EITHER
    * layout — an in-flight projection (filter pushed to row predicate)
    * or the cell-partitioned persisted table (filter answered by
    * directory pruning).
    */
  private def resAdcTopK(codes: DataFrame, coarse: Seq[(Long, Seq[Long])],
      books: Seq[Seq[(Long, Seq[Long])]], qv: Seq[Long],
      probeCells: Seq[Long], k: Int): DataFrame = {
    val centById = coarse.toMap
    val lutsByCell: Map[Long, Seq[Map[Long, Long]]] = probeCells.map { c =>
      val qr = qv.zip(centById(c)).map { case (x, cc) => x - cc }
      c -> graft.operators.ProductQuantizer.adcTables(qr, books, PqSubDim)
    }.toMap
    val adc = (0 until PqM).map { m =>
      probeCells.tail.foldLeft(
        when(col("cell") === probeCells.head,
          element_at(typedLit(lutsByCell(probeCells.head)(m)), col(s"code_$m")))) {
        (acc, c) => acc.when(col("cell") === c,
          element_at(typedLit(lutsByCell(c)(m)), col(s"code_$m")))
      }
    }.reduce(_ + _)
    codes.where(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), adc.as("adc_scaled"))
      .orderBy(col("adc_scaled").asc, col("vec_id").asc)
      .limit(k)
  }

  /** BATCH serving over the RESIDUAL index — [[annIvfPqResQ]]'s
    * encoding (FAISS's default, Jégou et al. §IV.B) at the batch tier:
    * per-qid probe cells, per-(qid, cell) query residuals, and the
    * per-(qid, cell) ADC tables are ALL dataflows
    * ([[graft.operators.ProductQuantizer.adcBatchServeResidual]] —
    * the LUT's cell key doubles as the probed-cell filter). Declared
    * at the 3-probe / nProbe=2 / top-3 contract; integer-exact end to
    * end, so the oracle replays the residual chains + batch LUT CTEs
    * bit-for-bit. Reference tie: the bulk route's fan-in
    * (`/root/reference/rag_model_mass.py:37`, `app.py:138`) over the
    * encoding a production FAISS deployment actually persists.
    */
  def annIvfPqResBatchQ(s: SparkSession, d: String): DataFrame = {
    val coarse = trainedCentroids(s, d)
    val books = resCodebooks(s, d)
    val probes = intVecs(s, d).where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    graft.operators.ProductQuantizer.adcBatchServeResidual(
      graft.operators.ProductQuantizer
        .residualIndexProjection(intVecs(s, d), coarse, books, PqSubDim),
      probes, coarse, books, PqSubDim, nProbe = 2, topK = 3)
  }

  /** Batch ADC serving: top-3 per probe for a probe SET (vec_ids
    * 0/1/2) over the PQ code table. The production distinction from
    * q_ann_pq: a LUT per query can't be a plan literal when thousands
    * of queries batch together, so the (qid, subspace, code) → distance
    * table becomes a BROADCAST RELATION (Q·m·k rows, driver-built from
    * the bounded codebooks) joined against the melted code table; the
    * per-(qid, vec) ADC sum is one map-side-combined aggregation and
    * the per-qid cutoff a qid-partitioned rank — ONE corpus-scan
    * lineage regardless of probe count, the same discipline as
    * q_multi_query_topk over raw vectors. Served by the shared
    * [[graft.operators.ProductQuantizer.adcBatchServe]] dataflow at
    * its DEGENERATE coarse quantizer — flat PQ is IVFADC with ONE
    * coarse cell: the per-row cell argmin folds to a constant, the
    * probe-cell join passes every code row, and the ADC sums depend
    * only on the sub-codebooks, so the unfiltered contract is served
    * byte-for-byte with ZERO `.collect()` anywhere on the path (this
    * replaced the last bounded probe-side driver loop; the probe
    * vectors stay a DataFrame end-to-end).
    */
  def annPqBatchQ(s: SparkSession, d: String): DataFrame = {
    val books = pqCodebooks(s, d)
    val probes = intVecs(s, d).where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    val flatCoarse = Seq(0L -> Seq.fill(PqM * PqSubDim)(0L))
    graft.operators.ProductQuantizer.adcBatchServe(
      graft.operators.ProductQuantizer
        .indexProjection(intVecs(s, d), flatCoarse, books, PqSubDim),
      probes, flatCoarse, books, PqSubDim, nProbe = 1, topK = 3)
  }

  /** Batch IVFADC serving — [[annPqBatchQ]] composed with the coarse
    * probe-cell filter, so batch serving gets the same |probed|/k scan
    * cut the single-probe q_ann_ivfpq has. The declared contract is the
    * 3-probe set (vec_ids 0/1/2) at nProbe=2; the dataflow itself
    * ([[annIvfPqBatch]]) never collects a probe vector.
    */
  def annIvfPqBatchQ(s: SparkSession, d: String): DataFrame = {
    val probes = intVecs(s, d).where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    annIvfPqBatch(intVecs(s, d), probes, trainedCentroids(s, d),
      pqCodebooks(s, d), nProbe = 2, topK = 3)
  }

  /** Batch IVFADC over the PERSISTED cell-partitioned code table —
    * [[annIvfPqBatchQ]]'s contract with the corpus-side encode removed:
    * the in-flight batch query recomputes every vector's cell + codes
    * per invocation (fine when the index is being built in the same
    * lineage; wasteful when it already exists), while this tier reads
    * [[partitionedCodesPath]] and pays only the probed-cell join + ADC
    * melt + rank. TWO prunings stack: the union of the batch's probed
    * cells — collected via
    * [[graft.operators.ProductQuantizer.pinProbesWithCells]], ≤ Q·nProbe
    * longs, the same argmin expression the serving join evaluates — is
    * pushed as a STATIC partition predicate so the file LISTING stops
    * at the probed directories (Spark plants no dynamic-partition-
    * pruning subquery for the broadcast join shape, verified r18;
    * ServingTiersSpec pins `selectedPartitions == |distinct probed
    * cells|` on this plan), and the broadcast (qid, cell) join then
    * scopes which of those rows each qid SCORES. Identical results to
    * q_ann_ivfpq_batch (shared oracle) — the static predicate is a
    * superset of the join's cells by construction.
    */
  def annIvfPqBatchPartQ(s: SparkSession, d: String): DataFrame = {
    // pin + listing-prune cells in ONE action (r21 fused pin)
    val (probes, cells) = graft.operators.ProductQuantizer.pinProbesWithCells(
      intVecs(s, d).where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("v")),
      trainedCentroids(s, d), nProbe = 2)
    graft.operators.ProductQuantizer.adcBatchServe(
      s.read.schema(partCodesSchema).parquet(partitionedCodesPath(s, d))
        .where(col("cell").isin(cells: _*)),
      probes, trainedCentroids(s, d), pqCodebooks(s, d), PqSubDim,
      nProbe = 2, topK = 3)
  }

  /** Batch serving for the RESIDUAL encoding over its PERSISTED
    * cell-partitioned code table — [[annIvfPqResBatchQ]]'s contract
    * served from [[partitionedResCodesPath]] instead of a per-query
    * re-encode (the same gap q_ann_ivfpq_res_part closes for the
    * single-probe tier, at the batch tier), with the same stacked
    * pruning as [[annIvfPqBatchPartQ]]: the collected probed-cell union
    * stops the file LISTING (plan-pinned in ServingTiersSpec), the
    * broadcast (qid, cell) join scopes per-qid scoring. Identical
    * results to q_ann_ivfpq_res_batch (shared oracle).
    */
  def annIvfPqResBatchPartQ(s: SparkSession, d: String): DataFrame = {
    // pin + listing-prune cells in ONE action (r21 fused pin)
    val (probes, cells) = graft.operators.ProductQuantizer.pinProbesWithCells(
      intVecs(s, d).where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("v")),
      trainedCentroids(s, d), nProbe = 2)
    graft.operators.ProductQuantizer.adcBatchServeResidual(
      s.read.schema(partCodesSchema).parquet(partitionedResCodesPath(s, d))
        .where(col("cell").isin(cells: _*)),
      probes, trainedCentroids(s, d), resCodebooks(s, d), PqSubDim,
      nProbe = 2, topK = 3)
  }

  /** The batch IVFADC serving DATAFLOW over an arbitrary probe frame
    * (qid, v) — the FAISS batch-query path over the persisted index,
    * with BOTH sides distributed (the reference's bulk fan-in,
    * `/root/reference/rag_model_mass.py:37`, `app.py:138`, at fleet
    * scale — thousands of concurrent probes are a DataFrame, not a
    * driver loop):
    *
    *  - per-qid nProbe-nearest coarse cells: the same literal-argmin
    *    projection the corpus side's indexProjection uses, generalized
    *    to argmin-n via `array_sort` over (dist, cid) structs (ties to
    *    the lower cid — the shared engine/oracle convention), then a
    *    bounded explode. Shuffle-free; the centroids are k·d literals.
    *  - per-qid ADC LUTs: the probes joined against the BOUNDED
    *    codebook-entry relation (m·k rows, broadcast) with a
    *    per-subspace slice — Q·m·k LUT rows built by executors,
    *    never on the driver.
    *  - the probe-cell list and the LUT relation ship as BROADCAST
    *    relations; the cell join prunes the code table BEFORE the ADC
    *    melt, so only probed-cell rows reach the LUT join and the
    *    (qid, vec) aggregation. Exchanges stay at the aggregation +
    *    the qid rank window regardless of probe count.
    */
  private[graft] def annIvfPqBatch(vecs: DataFrame, probes: DataFrame,
      coarse: Seq[(Long, Seq[Long])], books: Seq[Seq[(Long, Seq[Long])]],
      nProbe: Int, topK: Int): DataFrame =
    graft.operators.ProductQuantizer.adcBatchServe(
      graft.operators.ProductQuantizer
        .indexProjection(vecs, coarse, books, PqSubDim),
      probes, coarse, books, PqSubDim, nProbe, topK)

  /** The reference's bulk shortlist served from the COMPRESSED index —
    * q_shortlist's contract (`/root/reference/rag_model_mass.py:17-47`:
    * top-N files for the vec_id=0 probe with `round(10/(1+d), 2)`
    * scores) ranked by IVFADC asymmetric distance instead of the exact
    * flat scan. This is the 100 TB form of the reference's headline
    * feature: the scan touches |probed cells|/k of the 4-byte code
    * table, never the raw floats, and the reported score descales the
    * integer ADC distance back to the raw squared-L2 domain
    * (adc/10^12 — intVec scales each coordinate by 10^6). The whole
    * composition is integer-exact until the one terminal ROUND, so the
    * oracle replays it bit-for-bit through the same CTE chains as
    * q_ann_ivfpq plus the score projection.
    */
  def shortlistAnnQ(s: SparkSession, d: String): DataFrame = {
    val coarse = trainedCentroids(s, d)
    val books = pqCodebooks(s, d)
    val vecs = intVecs(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(coarse, qv, 2)
    val luts = graft.operators.ProductQuantizer.adcTables(qv, books, PqSubDim)
    val indexed = graft.operators.ProductQuantizer
      .indexProjection(vecs, coarse, books, PqSubDim)
    graft.operators.ProductQuantizer
      .adcTopK(indexed.where(col("cell").isin(probeCells: _*)), luts, 5)
      .select(
        concat(lit("vec_"), lpad(col("vec_id").cast("string"), 6, "0"))
          .as("file_name"),
        round(lit(10.0) / (lit(1.0) +
          col("adc_scaled").cast("double") / lit(1e12)), 2).as("score"),
        concat(lit("doc "), col("vec_id").cast("string")).as("content"),
        col("adc_scaled"), col("vec_id"))
      .orderBy(col("adc_scaled").asc, col("vec_id").asc)
      .select(col("file_name"), col("score"), col("content"))
  }

  /** Recall envelope for the REFERENCE-CONTRACT composition: the
    * compressed-index shortlist's top-5 file set ([[shortlistAnnQ]])
    * against the exact flat-scan shortlist's (q_shortlist, the
    * reference's own bulk route) — one BIGINT ppm over the 5 slots.
    * The generic ANN paths already publish recall monitors
    * (q_recall_ivfpq etc.); this one watches the exact surface a
    * reference user would swap: "does serving the headline shortlist
    * from the 4-byte code table still return the files the raw-float
    * scan would?" A deployment alerts when it drifts below its floor.
    */
  def recallShortlistAnnQ(s: SparkSession, d: String): DataFrame =
    recallPpm(PipelineQ.shortlist(s, d), shortlistAnnQ(s, d),
      Seq("file_name"), 5)

  /** Recall@10 of the COMPOSED IVFADC search vs the integer-exact
    * top-10 — the end-to-end index monitor a deployment actually
    * watches: it folds BOTH loss sources (coarse cell misses, which
    * nProbe buys back, and PQ compression error, which m/k buy back)
    * into one deterministic BIGINT ppm, where q_recall_ivf and
    * q_recall_pq isolate each source.
    */
  def recallIvfPqQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), annIvfPqQ(s, d),
      Seq("vec_id"), 10)

  /** Recall@10 of the RESIDUAL-encoded IVFADC vs the integer-exact
    * top-10 — the monitor for FAISS's default encoding, completing the
    * recall family (q_recall_ivf isolates coarse loss, q_recall_pq
    * compression loss, q_recall_ivfpq the plain composition; this one
    * watches the residual composition the batch tier and the
    * maintained streaming index actually serve). Deterministic BIGINT
    * ppm.
    */
  def recallIvfPqResQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), annIvfPqResQ(s, d),
      Seq("vec_id"), 10)

  /** Code/layout version folded into every content-addressed index key
    * (ADVICE r17): a change to quantizer training, the projection, or
    * the on-disk layout bumps this, so a marked dir built by an OLDER
    * code version can never be reused across sessions — the content
    * fingerprint alone only sees the DATA snapshot.
    */
  private val IndexLayoutVersion = 3

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

  /** Content-addressed CELL-PARTITIONED code table on scratch disk —
    * the layout a production IVFADC deployment actually persists: the
    * index write is `partitionBy(cell)`, so a probed-cell predicate is
    * answered by DIRECTORY PRUNING at plan time (the listing never
    * opens a non-probed cell's files — `PartitionFilters` in the scan,
    * pinned by ServingTiersSpec). At 100 TB this is the difference between
    * "scan the whole 4-byte code table and filter" and "read exactly
    * |probed cells|/k of its FILES": the filter moves from row-group
    * evaluation to the file listing. Keyed to the dataset content
    * fingerprint like every trained artifact here ([[persistedIndexPath]]).
    * Reference tie: `vectorDB.py:38` — the persisted index whose build
    * the reference redoes per request.
    */
  private[graft] def partitionedCodesPath(s: SparkSession, d: String): String =
    persistedIndexPath(s, d, "ivfpq") { dir =>
      graft.operators.ProductQuantizer
        .indexProjection(intVecs(s, d), trainedCentroids(s, d),
          pqCodebooks(s, d), PqSubDim)
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }

  /** The RESIDUAL encoding's persisted cell-partitioned code table —
    * [[partitionedCodesPath]] for FAISS's default encoding
    * ([[graft.operators.ProductQuantizer.residualIndexProjection]]):
    * same content-addressed lifecycle, same `partitionBy("cell")`
    * layout, codes quantizing v − centroid[cell].
    */
  private[graft] def partitionedResCodesPath(s: SparkSession, d: String): String =
    persistedIndexPath(s, d, "ivfpqres") { dir =>
      graft.operators.ProductQuantizer
        .residualIndexProjection(intVecs(s, d), trainedCentroids(s, d),
          resCodebooks(s, d), PqSubDim)
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }

  /** The persisted-index schema (explicit so the partition column keeps
    * its written LongType instead of riding directory-value inference —
    * the probe filter then compares long-to-long and prunes directly).
    */
  private[graft] val partCodesSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType) +:
      (0 until PqM).map(m => org.apache.spark.sql.types.StructField(
        s"code_$m", org.apache.spark.sql.types.LongType)) :+
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType))

  /** q_ann_ivfpq served from the PERSISTED cell-partitioned code table —
    * identical contract and results (the oracle IS q_ann_ivfpq's), but
    * the probed-cell filter is now a PARTITION filter over the written
    * index: the scan lists only the nProbe cell directories and opens
    * no other file (ServingTiersSpec pins `selectedPartitions == nProbe`
    * on the physical scan). This is the at-rest form of the IVFADC story
    * the in-flight queries tell — build the index ONCE (one projection,
    * one partitioned write), then every probe reads |probed cells|/k of
    * the index BYTES at the listing level, which is what "query touches
    * 2/8ths of the table" has to mean at 100 TB where even a
    * filter-everything scan of the code table is terabytes.
    */
  def annIvfPqPartQ(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    val books = pqCodebooks(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(cents, qv, 2)
    val luts = graft.operators.ProductQuantizer.adcTables(qv, books, PqSubDim)
    val codes = s.read.schema(partCodesSchema)
      .parquet(partitionedCodesPath(s, d))
    graft.operators.ProductQuantizer.adcTopK(
      codes.where(col("cell").isin(probeCells: _*)), luts, 10)
  }

  /** q_ann_ivfpq_res served from a PERSISTED cell-partitioned residual
    * code table — the r17 verdict's top item: the in-flight
    * q_ann_ivfpq_res pays a corpus-linear re-encode per query (the one
    * projection recomputes every vector's cell + residual codes), which
    * the sf1 probe priced at 10.8× per 10× rows. Here the residual
    * index is built ONCE (content-addressed `partitionBy("cell")`
    * write, [[partitionedResCodesPath]]) and every probe reads exactly
    * the nProbe cell DIRECTORIES — the same listing-level cut
    * q_ann_ivfpq_part takes for the plain encoding, now at FAISS's
    * default encoding. Identical contract and results to
    * q_ann_ivfpq_res (the oracle IS its residual CTE chain);
    * ServingTiersSpec pins `selectedPartitions == nProbe` on the scan.
    */
  def annIvfPqResPartQ(s: SparkSession, d: String): DataFrame = {
    val coarse = trainedCentroids(s, d)
    val books = resCodebooks(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(coarse, qv, 2)
    val codes = s.read.schema(partCodesSchema)
      .parquet(partitionedResCodesPath(s, d))
    resAdcTopK(codes, coarse, books, qv, probeCells, 10)
  }

  /** IVFADC + exact REFINE (FAISS's `IndexRefineFlat`, Jégou et al.
    * §V.C): the compressed index proposes a top-R shortlist (R=10, ADC
    * over codes — cheap, approximate), then ONLY those R candidates are
    * re-ranked by the integer-exact distance over their raw vectors,
    * and the exact top-3 is served. The standard production composition:
    * recall@3 is bought back from the 4-byte codes at the cost of R raw
    * rows instead of N. The candidate set ships as a BROADCAST semi-join
    * back into the vector table (at 100 TB the raw table is bucketed by
    * vec_id, so the fetch is a co-located pruned probe, never a
    * shuffle); integer-exact end to end, so the oracle replays the ADC
    * chain + the exact re-rank bit-for-bit.
    */
  def annIvfPqRerankQ(s: SparkSession, d: String): DataFrame = {
    val vecs = intVecs(s, d)
    val qv = probeVec(s, d)
    val shortlist = annIvfPqQ(s, d).select(col("vec_id"))
    vecs.join(broadcast(shortlist), Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        KMeansOp.intDist(col("v"), typedLit(qv)).as("dist_scaled"))
      .orderBy(col("dist_scaled").asc, col("vec_id").asc)
      .limit(3)
  }

  /** Recall@3 of the REFINED search vs the integer-exact top-3 — the
    * monitor that sizes the refine stage's R and the probe's nProbe:
    * refine recovers EVERY exact-top-3 member the shortlist contains
    * (it re-ranks by the exact distance, so hits = |exact3 ∩
    * shortlist| ≥ the unrefined ADC top-3's hits — pinned as a theorem
    * in ServingTiersSpec), and what it cannot buy back is a neighbour
    * the nProbe cells never shortlisted. A deployment reads a low value
    * here against a high q_recall_pq as "raise nProbe", and the
    * converse as "raise R". Deterministic BIGINT ppm over the 3 slots.
    */
  def recallIvfPqRerankQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 3),
      annIvfPqRerankQ(s, d), Seq("vec_id"), 3)

  /** The refine stage at the BATCH tier — [[annIvfPqRerankQ]]'s
    * composition over a probe FRAME: the collect-free batch IVFADC
    * proposes a per-qid top-10 shortlist from the code table, the
    * ≤ Q·10-row candidate relation broadcasts back into the raw vector
    * table (joined with the probe frame for the exact distances), and a
    * qid-partitioned rank serves the exact top-3 per probe. ONE
    * corpus-scan lineage for the shortlist regardless of probe count +
    * one bounded raw fetch — the production serving stack FAISS calls
    * IndexIVFPQ + RefineFlat, at fleet scale. Integer-exact end to end;
    * the oracle replays the batch ADC chain and the exact re-rank.
    */
  def annIvfPqRerankBatchQ(s: SparkSession, d: String): DataFrame = {
    val vecs = intVecs(s, d)
    val probes = vecs.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    val shortlist = annIvfPqBatch(vecs, probes, trainedCentroids(s, d),
        pqCodebooks(s, d), nProbe = 2, topK = 10)
      .select(col("qid"), col("vec_id"))
    val cand = vecs.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(probes.select(col("qid"), col("v").as("qv"))), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        KMeansOp.intDist(col("v"), col("qv")).as("dist_scaled"))
    graft.operators.ProductQuantizer.perProbeTopK(cand, "dist_scaled", 3)
  }

  /** int8 code array under the GLOBAL symmetric scale (amax/127) — the
    * scalar-quantization (SQ8) encoding: one trained scalar (the corpus
    * max |coordinate|) instead of per-subspace codebooks; the shared
    * [[graft.operators.ProductQuantizer.sq8Code]] per element.
    */
  private[graft] def sq8Codes(vec: Column, amax: Column): Column =
    transform(vec, e => graft.operators.ProductQuantizer.sq8Code(e, amax))

  /** Scalar-quantized (SQ8) brute-force top-10 — the remaining member
    * of the FAISS encoding family (Flat → SQ8 → PQ → IVFPQ → residual):
    * 1 byte/dim instead of 4, no codebooks, distances computed directly
    * on codes. The global amax is the trained artifact (one broadcast
    * scalar row — a dataflow, not a collect); one corpus projection
    * computes each vector's integer code-space distance to the vec_id=0
    * probe and TakeOrderedAndProject keeps the 10 lowest. At 100 TB
    * this is the 4× scan cut a serving tier takes when PQ's recall loss
    * is unacceptable but raw floats don't fit the I/O budget.
    */
  def sq8TopkQ(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val g = emb.agg(
      graft.operators.ProductQuantizer.amaxExpr(col("embedding"))
        .as("amax"))
    val q = emb.where(col("vec_id") === 0L).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(g)).crossJoin(broadcast(q))
      .select(col("vec_id"),
        KMeansOp.intDist(sq8Codes(col("embedding"), col("amax")),
          sq8Codes(col("qe"), col("amax"))).as("qdist"))
      .orderBy(col("qdist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Batch SQ8 serving — [[sq8TopkQ]] over a probe FRAME (vec_ids
    * 0/1/2): the probe rows broadcast with their embeddings, ONE corpus
    * projection computes every (qid, vec) integer code-space distance
    * under the shared global scale, and a qid-partitioned rank serves
    * the top-3 per probe — the q_multi_query_topk discipline at the
    * 1-byte encoding, completing the batch tier for every declared
    * encoding (flat, PQ, IVFPQ, residual, SQ8). One corpus-scan
    * lineage regardless of probe count.
    */
  def sq8BatchQ(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val g = emb.agg(
      graft.operators.ProductQuantizer.amaxExpr(col("embedding"))
        .as("amax"))
    val probes = emb.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = emb.crossJoin(broadcast(g)).crossJoin(broadcast(probes))
      .select(col("qid"), col("vec_id"),
        KMeansOp.intDist(sq8Codes(col("embedding"), col("amax")),
          sq8Codes(col("qe"), col("amax"))).as("qdist"))
    graft.operators.ProductQuantizer.perProbeTopK(scored, "qdist", 3)
  }

  /** IVF + SQ8 — FAISS's IndexIVFScalarQuantizer (QT_8bit), the most
    * widely DEPLOYED IVF variant: the trained coarse quantizer
    * restricts the scan to the probed cells, and 1-byte-per-dim scalar
    * codes carry the distances — no codebooks, no per-subspace
    * structure. The coarse side lives in the shared scaled-integer
    * domain (same trained centroids and probe pick as every IVF query
    * here); the code side shares [[sq8TopkQ]]'s global-amax encoding,
    * so the probed-cell scan is an exact integer code-space L2 that
    * never reads raw floats at query time. ONE projection computes
    * cell and code-distance together — shuffle-free until the top-k.
    */
  def annIvfSq8Q(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    val emb = Tables.embeddings(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(cents, qv, 2)
    val g = emb.agg(
      graft.operators.ProductQuantizer.amaxExpr(col("embedding"))
        .as("amax"))
    val q = emb.where(col("vec_id") === 0L).select(col("embedding").as("qe"))
    emb.crossJoin(broadcast(g)).crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.operators.ProductQuantizer
          .nearestCid(KMeansOp.intVec(col("embedding")), cents).as("cell"),
        KMeansOp.intDist(sq8Codes(col("embedding"), col("amax")),
          sq8Codes(col("qe"), col("amax"))).as("qdist"))
      .where(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), col("qdist"))
      .orderBy(col("qdist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Recall@10 of IVF_SQ8 vs the integer-exact top-10 — folds the
    * cell-miss and scalar-quantization losses into one monitor, the
    * IVF_SQ8 row of the per-encoding recall family. BIGINT ppm.
    */
  def recallIvfSq8Q(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), annIvfSq8Q(s, d),
      Seq("vec_id"), 10)

  /** The persisted-SQ8-index schema: 1-byte-per-dim codes as an array
    * column (BIGINT here for the exact integer contract; the byte story
    * is the encoding's, not the container's), the trained global scale
    * riding IN each row (constant, so parquet RLE stores it once per
    * row group — and the artifact stays a single atomic write, no
    * side-car meta table to torn-write), and the coarse cell as the
    * partition column.
    */
  private[graft] val sq8PartSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("amax",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType)))

  /** The persisted cell-partitioned IVF_SQ8 index
    * ([[partitionedCodesPath]]'s lifecycle at the 1-byte encoding):
    * one corpus pass computes each vector's coarse cell and SQ8 code
    * array under the trained global scale, written `partitionBy(cell)`
    * so a probe reads only its cell directories.
    */
  private[graft] def sq8IndexPath(s: SparkSession, d: String): String =
    persistedIndexPath(s, d, "ivfsq8") { dir =>
      val emb = Tables.embeddings(s, d)
      val cents = trainedCentroids(s, d)
      val g = emb.agg(
        graft.operators.ProductQuantizer.amaxExpr(col("embedding"))
          .as("amax"))
      emb.crossJoin(broadcast(g))
        .select(col("vec_id"),
          sq8Codes(col("embedding"), col("amax")).as("code"),
          col("amax"),
          graft.operators.ProductQuantizer
            .nearestCid(KMeansOp.intVec(col("embedding")), cents).as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }

  /** q_ann_ivf_sq8 served from the PERSISTED cell-partitioned SQ8 index
    * — closing the same encode-at-query-time gap for IVF_SQ8 that
    * [[annIvfPqResPartQ]] closes for the residual encoding: the
    * in-flight [[annIvfSq8Q]] recomputes every vector's cell AND code
    * per query; here both are read from the content-addressed index and
    * the probed-cell predicate is answered by DIRECTORY pruning
    * (ServingTiersSpec pins `selectedPartitions == nProbe`). Only the
    * QUERY is encoded at query time — against the one-row `amax`
    * relation (a bounded limit-1 read of the index, broadcast), never a
    * corpus scan. Identical results to q_ann_ivf_sq8 (shared oracle).
    */
  def annIvfSq8PartQ(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(cents, qv, 2)
    val codes = s.read.schema(sq8PartSchema).parquet(sq8IndexPath(s, d))
    val amax1 = codes.select(col("amax")).limit(1)
    val qc = Tables.embeddings(s, d).where(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
      .crossJoin(broadcast(amax1))
      .select(sq8Codes(col("qe"), col("amax")).as("qcode"))
    codes.where(col("cell").isin(probeCells: _*))
      .crossJoin(broadcast(qc))
      .select(col("vec_id"),
        KMeansOp.intDist(col("code"), col("qcode")).as("qdist"))
      .orderBy(col("qdist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** BATCH serving over the persisted SQ8 index — the q_ann_ivfpq_batch
    * discipline at the 1-byte encoding: per-qid nProbe-nearest coarse
    * cells via the literal-argmin array (shuffle-free, centroids are
    * k·d literals), query codes built once per probe against the
    * broadcast one-row `amax` relation, the (qid, cell) relation
    * broadcast into the partitioned code table so only probed-cell
    * rows are scored, one qid-partitioned rank for the per-probe
    * top-3. ONE index-scan lineage regardless of probe count; raw
    * floats are touched only for the Q probe rows. The collected
    * probed-cell union additionally stops the file LISTING at the
    * probed directories ([[graft.operators.ProductQuantizer
    * .pinProbesWithCells]], plan-pinned in ServingTiersSpec) — the
    * one-row amax read rides the pruned scan (the scale is constant
    * across rows, so any surviving cell serves it).
    */
  def annIvfSq8BatchQ(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    // ONE pinned probe frame feeds the collected listing-prune cells
    // AND the serving relations, so they can never disagree; the cell
    // argmin is the shared probeCellArr spelling (pin + cells fused
    // into one action, r21)
    val (rawProbes, cells) = graft.operators.ProductQuantizer.pinProbesWithCells(
      Tables.embeddings(s, d)
        .where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      cents, nProbe = 2, KMeansOp.intVec(col("qe")))
    val codes = s.read.schema(sq8PartSchema).parquet(sq8IndexPath(s, d))
      .where(col("cell").isin(cells: _*))
    val amax1 = codes.select(col("amax")).limit(1)
    val probes = rawProbes.df
      .crossJoin(broadcast(amax1))
      .select(col("qid"), col("qe"), sq8Codes(col("qe"), col("amax")).as("qcode"))
    val probeCells = graft.operators.ProductQuantizer.probeCellRows(
      probes, cents, KMeansOp.intVec(col("qe")), 2, "qcode")
    graft.operators.ProductQuantizer.perProbeTopK(
      codes.join(broadcast(probeCells), Seq("cell"))
        .select(col("qid"), col("vec_id"),
          KMeansOp.intDist(col("code"), col("qcode")).as("qdist")),
      "qdist", 3)
  }

  /** Per-DIMENSION SQ8 training — FAISS's actual ScalarQuantizer
    * (QT_8bit trains a [vmin, vmax] interval PER DIMENSION; the global
    * single-scale [[sq8Codes]] is its QT_8bit_uniform cousin), which
    * matters on anisotropic embeddings: a dimension with 100× the
    * spread of another no longer burns the narrow dimension's 8 bits
    * on empty range. Codes are `floor((x − vmin_d)/Δ_d + 0.5)` with
    * Δ_d = (vmax_d − vmin_d)/255; search is ASYMMETRIC (FAISS's DC
    * convention): the corpus code is DEQUANTIZED back to
    * `vmin_d + c·Δ_d`, scaled into the shared ×10^6 integer domain,
    * and compared against the query's own scaled-integer vector — the
    * query is never quantized, so quantization error enters once, not
    * twice. The trained artifact is the 2×d scale table: one bounded
    * per-dimension min/max aggregate (posexplode → 64-row aggregate →
    * collected back to two array literals in ONE row, broadcast), a
    * dataflow, not a collect. Everything after the (deterministic)
    * double-arithmetic scale derivation is exact BIGINT, and the scale
    * expressions are written with IDENTICAL operation order in both
    * engines, so the oracle replays the whole derivation bit-for-bit.
    */
  private[graft] def sq8DimScales(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col("pos"))
      .agg(min(col("e").cast("double")).as("mn"),
        max(col("e").cast("double")).as("mx"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("a"))
      .select(transform(col("a"), x => x.getField("mn")).as("vmn"),
        transform(col("a"), x => x.getField("mx")).as("vmx"))

  /** The per-dim CODE and DECODE arrays under the trained [vmn, vmx]
    * intervals (`vmn`/`vmx` columns in scope): the shared
    * [[graft.operators.ProductQuantizer.sq8DimCode]] / `sq8DimDecode`
    * per element, so the in-flight q_sq8_dim (encode-then-decode —
    * codes are small integers, so the long round-trip is exact), the
    * persisted q_sq8_dim_part and the maintained per-dim index can
    * never drift.
    */
  private[graft] def sq8DimCode(vec: Column): Column =
    transform(vec, (e, i) => graft.operators.ProductQuantizer.sq8DimCode(
      e, element_at(col("vmn"), i + 1), element_at(col("vmx"), i + 1)))

  private[graft] def sq8DimDecode(code: Column): Column =
    transform(code, (c, i) => graft.operators.ProductQuantizer.sq8DimDecode(
      c, element_at(col("vmn"), i + 1), element_at(col("vmx"), i + 1)))

  /** Top-10 under the per-dim-trained SQ8 encoding ([[sq8DimScales]]):
    * one corpus projection dequantizes each vector's codes into the
    * shared integer domain and ranks by exact integer L2 against the
    * query's unquantized scaled vector. The recall twin
    * [[recallSq8DimQ]] is the acceptance gate: per-dim training must
    * not lose recall against the global-amax encoding (pinned ≥ in
    * ServingTiersSpec).
    */
  def sq8DimTopkQ(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = intVecs(s, d).where(col("vec_id") === 0L)
      .select(col("v").as("qv"))
    emb.crossJoin(broadcast(sq8DimScales(emb))).crossJoin(broadcast(q))
      .select(col("vec_id"),
        KMeansOp.intDist(sq8DimDecode(sq8DimCode(col("embedding"))),
          col("qv")).as("qdist"))
      .orderBy(col("qdist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** Recall@10 of the per-dim SQ8 search vs the integer-exact top-10 —
    * the monitor that justifies per-dim training: on anisotropic data
    * it must meet or beat [[recallSq8Q]] at identical scan cost.
    * Deterministic BIGINT ppm.
    */
  def recallSq8DimQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), sq8DimTopkQ(s, d),
      Seq("vec_id"), 10)

  /** The persisted per-dim-SQ8 index schema: per-dim codes plus the
    * trained 2×d scale table riding IN each row (constant → parquet RLE
    * stores it once per row group; the artifact stays one atomic
    * write), coarse cell as the partition column.
    */
  private[graft] val sq8DimPartSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)),
      org.apache.spark.sql.types.StructField("vmn",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("vmx",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType)))

  /** The persisted cell-partitioned PER-DIM SQ8 index (r18 verdict #2:
    * every other encoding graduated to a `partitionBy(cell)` index;
    * q_sq8_dim still encoded the corpus at query time): one corpus
    * pass computes each vector's coarse cell and per-dim codes under
    * the trained [vmn, vmx] scale table, written `partitionBy(cell)`
    * so a probe reads only its cell directories.
    */
  private[graft] def sq8DimIndexPath(s: SparkSession, d: String): String =
    persistedIndexPath(s, d, "sq8dim") { dir =>
      val emb = Tables.embeddings(s, d)
      val cents = trainedCentroids(s, d)
      emb.crossJoin(broadcast(sq8DimScales(emb)))
        .select(col("vec_id"),
          sq8DimCode(col("embedding")).as("code"),
          col("vmn"), col("vmx"),
          graft.operators.ProductQuantizer
            .nearestCid(KMeansOp.intVec(col("embedding")), cents).as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }

  /** IVF + per-dim SQ8 served from the PERSISTED cell-partitioned
    * index — the composition FAISS ships as
    * IndexIVFScalarQuantizer(QT_8bit) with per-dim trained intervals,
    * at rest: the probed-cell predicate is answered by DIRECTORY
    * pruning (ServingTiersSpec pins `selectedPartitions == nProbe`),
    * the scanned rows decode their persisted codes into the shared
    * integer domain (asymmetric DC — the query is never quantized, so
    * quantization error enters once), and the top-10 ranks by exact
    * BIGINT L2. Nothing of the corpus is encoded at query time; the
    * oracle replays the per-dim scale chain over the probed cells.
    */
  def sq8DimPartQ(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    val qv = probeVec(s, d)
    val probeCells = KMeansOp.nearestCells(cents, qv, 2)
    s.read.schema(sq8DimPartSchema).parquet(sq8DimIndexPath(s, d))
      .where(col("cell").isin(probeCells: _*))
      .select(col("vec_id"),
        KMeansOp.intDist(sq8DimDecode(col("code")), typedLit(qv)).as("qdist"))
      .orderBy(col("qdist").asc, col("vec_id").asc)
      .limit(10)
  }

  /** BATCH serving over the persisted per-dim SQ8 index — the
    * q_ann_ivfpq_batch discipline at this encoding: per-qid
    * nProbe-nearest coarse cells via the literal-argmin array
    * (shuffle-free), the (qid, cell) relation broadcast into the
    * partitioned index so only probed-cell rows decode and score, one
    * qid-partitioned rank for the per-probe top-3. ONE index-scan
    * lineage regardless of probe count; the probe vectors stay in the
    * scaled-integer domain end to end (asymmetric DC). The collected
    * probed-cell union additionally stops the file LISTING at the
    * probed directories ([[graft.operators.ProductQuantizer
    * .pinProbesWithCells]], plan-pinned in ServingTiersSpec).
    */
  def sq8DimBatchQ(s: SparkSession, d: String): DataFrame = {
    val cents = trainedCentroids(s, d)
    // ONE pinned probe frame feeds the collected listing-prune cells
    // AND the serving relation; the cell argmin is the shared
    // probeCellArr spelling (pin + cells fused into one action, r21)
    val (probes, cells) = graft.operators.ProductQuantizer.pinProbesWithCells(
      intVecs(s, d).where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("v").as("qv")),
      cents, nProbe = 2, col("qv"))
    val codes = s.read.schema(sq8DimPartSchema).parquet(sq8DimIndexPath(s, d))
      .where(col("cell").isin(cells: _*))
    val probeCells = graft.operators.ProductQuantizer.probeCellRows(
      probes.df, cents, col("qv"), 2, "qv")
    graft.operators.ProductQuantizer.perProbeTopK(
      codes.join(broadcast(probeCells), Seq("cell"))
        .select(col("qid"), col("vec_id"),
          KMeansOp.intDist(sq8DimDecode(col("code")), col("qv")).as("qdist")),
      "qdist", 3)
  }

  /** Recall@10 of the persisted IVF + per-dim SQ8 serving vs the
    * integer-exact top-10 — folds the cell-miss and per-dim
    * quantization losses into one monitor, completing the recall
    * family for the last encoding to graduate to a persisted tier.
    * Deterministic BIGINT ppm.
    */
  def recallSq8DimPartQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), sq8DimPartQ(s, d),
      Seq("vec_id"), 10)

  /** Recall@10 of the SQ8 search vs the integer-exact top-10 — the
    * quantization-loss monitor for the 1-byte encoding, completing the
    * per-encoding recall family (q_recall_pq watches the PQ codes,
    * q_recall_ivfpq* the composed indexes; this one prices the SQ8
    * memory/recall trade). Deterministic BIGINT ppm.
    */
  def recallSq8Q(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), sq8TopkQ(s, d),
      Seq("vec_id"), 10)

  /** Recall of the BATCH IVFADC path, aggregated over the probe SET —
    * the monitor a serving tier actually publishes (per-probe recall is
    * noise; the fleet metric is the mean): hits of the coarse-filtered
    * batch top-3 against each probe's integer-exact top-3, as one
    * BIGINT ppm over all probe·k pairs. The exact side is the standard
    * batch-exact shape (3 broadcast probe vectors against one corpus
    * scan, qid-partitioned rank).
    */
  def recallIvfPqBatchQ(s: SparkSession, d: String): DataFrame = {
    val vecs = intVecs(s, d)
    val probeDf = vecs.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = graft.operators.ProductQuantizer.perProbeTopK(
      vecs.crossJoin(broadcast(probeDf)).select(col("qid"), col("vec_id"),
        KMeansOp.intDist(col("v"), col("qv")).as("d")), "d", 3)
    recallPpm(exact, annIvfPqBatchQ(s, d), Seq("qid", "vec_id"), 9)
  }

  /** Index-quality monitoring for the PQ tier: recall@10 of the ADC
    * top-10 against the integer-exact top-10 for the same probe — the
    * compression-loss metric that sizes m and k in production (the PQ
    * twin of q_recall_ivf). Deterministic BIGINT ppm.
    */
  def recallPqQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), annPqQ(s, d),
      Seq("vec_id"), 10)

  // ---- OPQ: pre-rotation by dimension allocation (r18 verdict #6) ---

  /** OPQ dimension ALLOCATION over the corpus
    * ([[graft.operators.ProductQuantizer.opqAllocation]]), memoized
    * under the content fingerprint like every trained artifact here.
    * Returns the 0-based dim positions per subspace, in rank order.
    */
  private val opqPermCache = new Artifacts.Memo[Seq[Seq[Int]]]()
  private[graft] def opqPerm(s: SparkSession, d: String): Seq[Seq[Int]] =
    opqPermCache(d, Artifacts.snapshotKey(s, d))(
      graft.operators.ProductQuantizer.opqAllocation(intVecs(s, d), PqM))

  /** The permuted subspace vector: the subspace's allocated dims, in
    * rank order — the engine side of the oracle's `list(v[pos] ORDER BY
    * rnk)` regroup.
    */
  private def opqSubVec(v: Column, idxs: Seq[Int]): Column =
    array(idxs.map(i => element_at(v, i + 1)): _*)

  /** Per-subspace codebooks over the PERMUTED slices — the PQ fit of
    * [[pqCodebooks]] on the allocated dims (same k/iters/seed
    * conventions, so the oracle's suffixed Lloyd chains replay them).
    */
  private[graft] def opqBooks(s: SparkSession, d: String): Seq[Seq[(Long, Seq[Long])]] = {
    val perm = opqPerm(s, d)
    (0 until PqM).map { m =>
      cachedCentroids(s, d, s"opq$m")(
        KMeansOp.lloydCentroidsLocalInt(
          intVecs(s, d).select(col("vec_id"),
            opqSubVec(col("v"), perm(m)).as("v")),
          K, Iters))
    }
  }

  /** ANN by OPQ asymmetric distance: [[annPqQ]]'s ADC chain with the
    * allocation permutation applied before the subspace split — codes
    * quantize the PERMUTED vector, the query's LUTs are built from its
    * permuted subvectors (a permutation is orthogonal, so distances
    * are preserved exactly and the ADC semantics are unchanged). One
    * shuffle-free code projection + 4 map-literal lookups per row;
    * integer-exact end to end. [[recallOpqQ]] is the acceptance gate:
    * allocation must not lose recall against the contiguous split.
    */
  def annOpqQ(s: SparkSession, d: String): DataFrame = {
    val perm = opqPerm(s, d)
    val books = opqBooks(s, d)
    val vecs = intVecs(s, d)
    val qv = probeVec(s, d)
    val luts = books.zipWithIndex.map { case (book, m) =>
      val qSub = perm(m).map(qv(_))
      book.map { case (cid, c) => cid -> KMeansOp.intDistLocal(c, qSub) }.toMap
    }
    val codes = vecs.select(col("vec_id") +:
      books.zipWithIndex.map { case (book, m) =>
        graft.operators.ProductQuantizer
          .nearestCid(opqSubVec(col("v"), perm(m)), book).as(s"code_$m")
      }: _*)
    graft.operators.ProductQuantizer.adcTopK(codes, luts, 10)
  }

  /** The full OPQ permutation, subspace-major: concatenating each
    * subspace's allocated dims (rank order) gives a layout where
    * `slice(w, m·subDim + 1, subDim)` of the permuted vector IS
    * [[opqSubVec]](v, perm(m)) — so the ENTIRE existing IVFADC
    * machinery (indexProjection, adcTables/adcTopK, adcBatchServe,
    * pinProbesWithCells) serves OPQ unchanged over permuted vectors. A
    * permutation is orthogonal: L2 distances — including the coarse
    * cell argmin against equally-permuted centroids — are preserved
    * exactly, ties and all.
    */
  private[graft] def opqFlatPerm(s: SparkSession, d: String): Seq[Int] =
    opqPerm(s, d).flatten

  /** The corpus in the permuted layout: (vec_id, w). */
  private def opqVecs(s: SparkSession, d: String): DataFrame = {
    val p = opqFlatPerm(s, d)
    intVecs(s, d).select(col("vec_id"), opqSubVec(col("v"), p).as("v"))
  }

  /** The coarse centroids permuted into the OPQ layout — cell
    * assignment over (opqVecs, opqCoarse) is bit-identical to the raw
    * assignment (orthogonality), so the IVF_OPQ index's `cell` equals
    * the plain IVFADC index's and the oracle replays cells in the RAW
    * domain.
    */
  private def opqCoarse(s: SparkSession, d: String): Seq[(Long, Seq[Long])] = {
    val p = opqFlatPerm(s, d)
    trainedCentroids(s, d).map { case (cid, c) => (cid, p.map(c(_))) }
  }

  /** The persisted cell-partitioned IVF_OPQ code table — the r19
    * symmetry gap (OPQ was the only encoding served in-flight only):
    * same content-addressed `partitionBy(cell)` lifecycle as
    * [[partitionedCodesPath]], codes quantizing the PERMUTED vector
    * against the permuted-slice codebooks ([[opqBooks]], which already
    * ride the session derivation cache).
    */
  private[graft] def partitionedOpqCodesPath(s: SparkSession, d: String): String =
    persistedIndexPath(s, d, "ivfopq") { dir =>
      graft.operators.ProductQuantizer
        .indexProjection(opqVecs(s, d), opqCoarse(s, d), opqBooks(s, d),
          PqSubDim)
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
    }

  /** Single-probe IVF + OPQ over the PERSISTED cell-partitioned code
    * table — [[annIvfPqPartQ]]'s tier at the OPQ encoding: the probed
    * cells are a PARTITION filter (the listing opens exactly nProbe
    * cell directories; ServingTiersSpec pins `selectedPartitions ==
    * nProbe`), the query's LUTs are built from its permuted
    * subvectors, and the ADC sum is integer-exact end to end — the
    * oracle replays the energy ranking, the permuted Lloyd chains, the
    * raw-domain probe cells, and the ADC joins bit-for-bit.
    */
  def annOpqPartQ(s: SparkSession, d: String): DataFrame = {
    val p = opqFlatPerm(s, d)
    val coarse = opqCoarse(s, d)
    val books = opqBooks(s, d)
    val qv = probeVec(s, d)
    val qw = p.map(qv(_))
    val probeCells = KMeansOp.nearestCells(coarse, qw, 2)
    val luts = graft.operators.ProductQuantizer.adcTables(qw, books, PqSubDim)
    val codes = s.read.schema(partCodesSchema)
      .parquet(partitionedOpqCodesPath(s, d))
    graft.operators.ProductQuantizer.adcTopK(
      codes.where(col("cell").isin(probeCells: _*)), luts, 10)
  }

  /** BATCH serving over the persisted IVF_OPQ index —
    * [[annIvfPqBatchPartQ]]'s discipline at the OPQ encoding, entirely
    * through the shared machinery: ONE pinned permuted probe frame
    * feeds the collected listing-prune cells AND the serving dataflow
    * (the [[graft.operators.ProductQuantizer.PinnedProbes]] witness —
    * one checkpoint on the path), the probed-cell union stops the file
    * LISTING at the probed directories, and the broadcast (qid, cell)
    * join scopes per-qid scoring.
    */
  def annOpqBatchQ(s: SparkSession, d: String): DataFrame = {
    val coarse = opqCoarse(s, d)
    // pin + listing-prune cells in ONE action (r21 fused pin)
    val (probes, cells) = graft.operators.ProductQuantizer.pinProbesWithCells(
      opqVecs(s, d).where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("qid"), col("v")),
      coarse, nProbe = 2)
    graft.operators.ProductQuantizer.adcBatchServe(
      s.read.schema(partCodesSchema).parquet(partitionedOpqCodesPath(s, d))
        .where(col("cell").isin(cells: _*)),
      probes, coarse, opqBooks(s, d), PqSubDim, nProbe = 2, topK = 3)
  }

  /** Recall@10 of the OPQ search vs the integer-exact top-10.
    * Acceptance is TWO-sided (ServingTiersSpec): recall ≥ plain PQ's on
    * the spec corpus, and — the noise-free gate, since one probe's
    * recall@10 moves ±1 hit on any re-allocation — total integer
    * quantization DISTORTION ≤ the contiguous split's (the objective
    * OPQ actually minimizes; measured 0.9995× at sf0.001, 0.9977× at
    * sf0.01 — modest because the synthetic embeddings are near
    * isotropic, which is exactly when allocation ≈ identity).
    * Deterministic BIGINT ppm.
    */
  def recallOpqQ(s: SparkSession, d: String): DataFrame =
    recallPpm(exactTopK(intVecs(s, d), probeVec(s, d), 10), annOpqQ(s, d),
      Seq("vec_id"), 10)

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
  /** √N quantizer fit: k = ⌈√N⌉ over the dataset's embeddings, 2-round
    * integer Lloyd. k is data-dependent, but it is a pure function of
    * the snapshot (the COUNT), so the fit memoizes under the same
    * content fingerprint as the fixed-k quantizer — q_semdedup_scaled
    * and q_corpus_build_v3 share one training per session, mirroring
    * the production persisted-artifact discipline.
    */
  private[graft] def scaledCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Long])] =
    cachedCentroids(s, d, "sqrtN") {
      val emb = Tables.embeddings(s, d)
      val k = math.ceil(math.sqrt(emb.count().toDouble)).toInt
      KMeansOp.lloydCentroidsLocal(emb, "vec_id", col("embedding"), k, Iters)
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
  private[graft] def sampledCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Long])] = {
    import s.implicits._
    cachedCentroids(s, d, "sqrtNSampled") {
      val n = Tables.embeddings(s, d).count()
      val k = math.ceil(math.sqrt(n.toDouble)).toInt
      val sampleN = math.min(n, 16L * k).toInt
      // rank + collect the bounded sample ONCE (16·√N·d·8 B — 3.7 MB at
      // the 100× probe), then run the exact integer Lloyd in memory:
      // FAISS's own shape — distributed Lloyd on a set this small pays
      // S·k row materialization + a shuffle PER ROUND for work one JVM
      // does in milliseconds. The corpus-sized stages (the hash
      // ranking here, the final full assignment in the queries) stay
      // distributed.
      val sample = intVecs(s, d)
        .orderBy(((col("vec_id") * lit(2654435761L)) % lit(4294967296L)).asc,
          col("vec_id").asc)
        .limit(sampleN)
        .as[(Long, Seq[Long])].collect().toSeq
      KMeansOp.lloydCentroidsInMemory(sample, k, Iters)
    }
  }

  def semdedupScaledQ(s: SparkSession, d: String): DataFrame =
    semdedupWith(s, d, scaledCentroids(s, d))

  /** SemDeDup over the SAMPLE-trained √N quantizer
    * ([[sampledCentroids]]) — identical dedup semantics to
    * q_semdedup_scaled, with the quantizer training cost linear in N
    * instead of O(N^1.5). Same cluster granularity (~√N populations),
    * so the within-cluster pairwise term keeps the SemDeDup scale
    * shape; only the training derivation changed.
    */
  def semdedupSampledQ(s: SparkSession, d: String): DataFrame =
    semdedupWith(s, d, sampledCentroids(s, d))

  private def semdedupWith(s: SparkSession, d: String,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // ve has three consumers but stays LAZY — see semdedupQ's note:
    // the r21 materialization experiment measured 3.7x slower here
    // (parallel duplicate stages beat a serialized cap job at this
    // query's size; the corpus-build compositions keep the cap)
    val asg = KMeansOp.assignCells(intVecs(s, d), cents.toDF("cid", "c"))
      .select(col("vec_id"), col("cid").as("cluster"))
    val ve = asg.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = ve.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val b = ve.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    val drops = a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .where(VectorOps.cosine(col("ea"), col("eb")) >= 0.4)
      .select(col("id_b").as("vec_id"))
      .distinct()
    ve.select(col("vec_id"), col("cluster"))
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dropped"), lit(false)) === false)
      .toDF("vec_id", "cluster", "kept")
      .orderBy(col("vec_id").asc)
  }

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
  def semdedupCappedQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val asg = KMeansOp.assignCells(intVecs(s, d),
        trainedCentroids(s, d).toDF("cid", "c"))
      .select(col("vec_id"), col("cid").as("cluster"), col("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    val sub = asg
      .withColumn("rn", row_number().over(w))
      .selectExpr("vec_id", "cluster",
        s"CAST((rn - 1) div $SemCap AS BIGINT) AS sb")
    // ve stays LAZY despite three consumers — see semdedupQ's note on
    // the r21 materialization experiment (2x slower here)
    val ve = sub.join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val a = ve.select(col("cluster"), col("sb"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val b = ve.select(col("cluster"), col("sb"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    val drops = a.join(b, Seq("cluster", "sb"))
      .where(col("id_a") < col("id_b"))
      .where(VectorOps.cosine(col("ea"), col("eb")) >= 0.4)
      .select(col("id_b").as("vec_id"))
      .distinct()
    ve.select(col("vec_id"), col("cluster"))
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("dropped"), lit(false)) === false)
      .toDF("vec_id", "cluster", "kept")
      .orderBy(col("vec_id").asc)
  }

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

  /** The one three-batch lifecycle drive — a deterministic CDC index
    * LIFECYCLE over the dataset: insert the full corpus, delete every
    * [[cdcDeleted]] vec_id, re-insert the [[cdcResurrected]] half of
    * them, through the real
    * [[graft.streaming.IndexStream.processBatchCdc]] against the given
    * frozen quantizers, materialized once per content snapshot (the
    * same [[persistedIndexPath]] lifecycle as every persisted index
    * here, so a torn partial run is never visible under the served
    * name). ONE body shared by every encoding's fixture, so the
    * monitored lifecycles can never drift apart (the same
    * single-source rule as the predicates above).
    */
  private def cdcLifecycleWith(s: SparkSession, d: String, tag: String)
      (qz: => graft.streaming.IndexStream.Quantizers): String =
    persistedIndexPath(s, d, tag) { dir =>
      val q = qz
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      graft.streaming.IndexStream.processBatchCdc(emb, 1L, q, dir)
      graft.streaming.IndexStream.processBatchCdc(
        emb.where(cdcDeleted(col("vec_id")))
          .withColumn(graft.streaming.IndexStream.OpColumn, lit("delete")),
        2L, q, dir)
      graft.streaming.IndexStream.processBatchCdc(
        emb.where(cdcResurrected(col("vec_id"))), 3L, q, dir)
      ()
    }

  /** The plain-PQ lifecycle fixture — what [[recallCdcQ]] serves from:
    * a maintained index that has actually taken deletes and
    * resurrections, not a fresh build.
    */
  private[graft] def cdcLifecycleDir(s: SparkSession, d: String): String =
    cdcLifecycleWith(s, d, "cdclife")(pqQuantizers(s, d))

  /** The session's frozen plain-PQ quantizer handle: the fixed-k coarse
    * centroids + the PQ codebooks.
    */
  private def pqQuantizers(s: SparkSession, d: String)
      : graft.streaming.IndexStream.Quantizers =
    graft.streaming.IndexStream.Quantizers(
      trainedCentroids(s, d), pqCodebooks(s, d), PqSubDim)

  /** Recall@10 of the MAINTAINED CDC index mid-lifecycle
    * ([[cdcLifecycleDir]]: full insert → delete 10% → resurrect half)
    * against the integer-exact top-10 over the LIVE rows — the monitor
    * the batch tiers already publish ten of (q_recall_*), extended to
    * the index that takes deletes: a tombstone bug (deleted ids
    * surfacing, resurrected ids missing) moves this ppm, where the
    * static monitors stay green. Serving side is the real
    * [[graft.streaming.IndexStream.searchCommittedCdc]] (live-rows
    * probed-cell ADC scan); the exact side restricts the flat scan to
    * the same live set. Deterministic BIGINT ppm; the oracle replays
    * the IVFADC chain with the lifecycle's live-set predicate.
    */
  def recallCdcQ(s: SparkSession, d: String): DataFrame = {
    val qv = probeVec(s, d)
    val approx = graft.streaming.IndexStream.searchCommittedCdc(
      s, cdcLifecycleDir(s, d), pqQuantizers(s, d), qv, 2, 10)
    recallPpm(exactTopK(intVecs(s, d).where(cdcLive(col("vec_id"))), qv, 10),
      approx, Seq("vec_id"), 10)
  }

  /** The session's frozen OPQ quantizer handle: the permuted coarse
    * centroids + permuted-slice codebooks + the flat allocation — what
    * a maintained OPQ index freezes at build time (the
    * [[graft.streaming.IndexStream.Quantizers]] convention: all
    * artifact geometry lives in the permuted domain; vectors and
    * probes are permuted once at the stream entries).
    */
  private[graft] def opqQuantizers(s: SparkSession, d: String)
      : graft.streaming.IndexStream.Quantizers =
    graft.streaming.IndexStream.Quantizers(
      opqCoarse(s, d), opqBooks(s, d), PqSubDim,
      opqPerm = Some(opqFlatPerm(s, d)))

  /** [[cdcLifecycleDir]] at the OPQ encoding — the r19 symmetry gap's
    * streaming half ("every encoding the batch/persisted tiers serve
    * is also MAINTAINED" went stale when OPQ landed): the SAME
    * insert-all / delete / resurrect lifecycle driven through the real
    * processBatchCdc against the frozen allocation + permuted-slice
    * codebooks, serving the q_recall_cdc_opq monitor.
    */
  private[graft] def cdcLifecycleOpqDir(s: SparkSession, d: String): String =
    cdcLifecycleWith(s, d, "cdclifeopq")(opqQuantizers(s, d))

  /** Recall@10 of the maintained OPQ CDC index mid-lifecycle against
    * the integer-exact top-10 over the live set — [[recallCdcQ]] at
    * the OPQ encoding, completing the maintained-encoding family
    * again. Serving side is the real [[graft.streaming.IndexStream
    * .searchCommittedCdc]] (the handle's permutation is applied at the
    * entry; live-rows probed-cell ADC scan). Deterministic BIGINT ppm;
    * the oracle replays the allocation, the permuted Lloyd chains, and
    * the live-set predicate.
    */
  def recallCdcOpqQ(s: SparkSession, d: String): DataFrame = {
    val qv = probeVec(s, d)
    val approx = graft.streaming.IndexStream.searchCommittedCdc(
      s, cdcLifecycleOpqDir(s, d), opqQuantizers(s, d), qv, 2, 10)
    recallPpm(exactTopK(intVecs(s, d).where(cdcLive(col("vec_id"))), qv, 10),
      approx, Seq("vec_id"), 10)
  }

  /** The trained SQ8 global scale (corpus max |coordinate|) memoized
    * per dataset CONTENT — the scalar artifact the SQ8 family freezes,
    * on the [[cachedCentroids]] lifecycle (one bounded aggregate; a
    * changed snapshot retrains, an unchanged one reuses).
    */
  private val amaxCache = new Artifacts.Memo[Double]()
  private[graft] def trainedAmax(s: SparkSession, d: String): Double =
    amaxCache(d, Artifacts.snapshotKey(s, d))(Tables.embeddings(s, d)
      .agg(graft.operators.ProductQuantizer.amaxExpr(col("embedding")))
      .head().getDouble(0))

  /** The session's frozen IVF_SQ8 quantizer handle: the shared fixed-k
    * coarse centroids + the trained global scale — what a maintained
    * SQ8 index freezes at build time ([[graft.streaming.IndexStream
    * .Quantizers]] at the 1-byte encoding).
    */
  private[graft] def sq8Quantizers(s: SparkSession, d: String)
      : graft.streaming.IndexStream.Quantizers =
    graft.streaming.IndexStream.Quantizers(
      trainedCentroids(s, d), Seq.empty, PqSubDim,
      sq8Amax = Some(trainedAmax(s, d)))

  /** [[cdcLifecycleDir]] at the SQ8 encoding (r18 verdict #1: the
    * maintained index previously dispatched plain-PQ vs residual only,
    * leaving FAISS's most-deployed variant without streaming
    * maintenance): the SAME insert-all / delete / resurrect lifecycle
    * driven through the real processBatchCdc against the frozen
    * IVF_SQ8 quantizer, serving the q_recall_cdc_sq8 monitor.
    */
  private[graft] def cdcLifecycleSq8Dir(s: SparkSession, d: String): String =
    cdcLifecycleWith(s, d, "cdclifesq8")(sq8Quantizers(s, d))

  /** Recall@10 of the maintained SQ8 CDC index mid-lifecycle against
    * the integer-exact top-10 over the live set — [[recallCdcQ]] at the
    * 1-byte encoding, closing the one encoding the streaming index
    * couldn't maintain (r18 verdict #1). Serving side is the real
    * [[graft.streaming.IndexStream.searchCommittedCdcSq8]] (live-rows
    * probed-cell scalar-code scan, query encoded from its raw
    * embedding against the frozen amax). Deterministic BIGINT ppm; the
    * oracle replays the IVF_SQ8 chain with the lifecycle's live-set
    * predicate.
    */
  def recallCdcSq8Q(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qEmb = Tables.embeddings(s, d).where(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).as[Seq[Double]].head()
    val approx = graft.streaming.IndexStream.searchCommittedCdcSq8(
      s, cdcLifecycleSq8Dir(s, d), sq8Quantizers(s, d), qEmb, 2, 10)
    recallPpm(
      exactTopK(intVecs(s, d).where(cdcLive(col("vec_id"))), probeVec(s, d), 10),
      approx, Seq("vec_id"), 10)
  }

  /** The trained PER-DIM SQ8 scale tables, collected — the 2×d-double
    * artifact a maintained per-dim index freezes (the bounded
    * [[sq8DimScales]] aggregate brought driver-side: d mins + d maxes,
    * the same values the persisted tier's rows carry), memoized per
    * dataset content like [[trainedAmax]].
    */
  private val sq8DimScalesCache =
    new Artifacts.Memo[(Seq[Double], Seq[Double])]()
  private[graft] def trainedSq8DimScales(s: SparkSession, d: String)
      : (Seq[Double], Seq[Double]) =
    sq8DimScalesCache(d, Artifacts.snapshotKey(s, d)) {
      val r = sq8DimScales(Tables.embeddings(s, d)).head()
      (r.getSeq[Double](0).toSeq, r.getSeq[Double](1).toSeq)
    }

  /** The session's frozen per-dim SQ8 quantizer handle: the shared
    * fixed-k coarse centroids + the trained [vmn, vmx] interval tables
    * — what a maintained per-dim index freezes at build time
    * ([[sq8Quantizers]] at FAISS's actual QT_8bit).
    */
  private[graft] def sq8DimQuantizers(s: SparkSession, d: String)
      : graft.streaming.IndexStream.Quantizers =
    graft.streaming.IndexStream.Quantizers(
      trainedCentroids(s, d), Seq.empty, PqSubDim,
      sq8Dims = Some(trainedSq8DimScales(s, d)))

  /** [[cdcLifecycleDir]] at the PER-DIM SQ8 encoding — the last
    * encoding asymmetry in the index family: the batch tiers serve
    * per-dim codes from a persisted partitioned index
    * (q_sq8_dim_part), and with this fixture the streaming maintainer
    * takes the same insert-all / delete / resurrect lifecycle through
    * the real processBatchCdc against the frozen per-dim quantizer,
    * serving the q_recall_cdc_sq8dim monitor.
    */
  private[graft] def cdcLifecycleSq8DimDir(s: SparkSession, d: String): String =
    cdcLifecycleWith(s, d, "cdclifesq8d")(sq8DimQuantizers(s, d))

  /** Recall@10 of the maintained per-dim SQ8 CDC index mid-lifecycle
    * against the integer-exact top-10 over the live set —
    * [[recallCdcSq8Q]] at the per-dim-trained encoding, completing the
    * maintained-index recall family (plain PQ, global SQ8, per-dim
    * SQ8). Serving side is the real [[graft.streaming.IndexStream
    * .searchCommittedCdcSq8Dim]] (live-rows probed-cell ASYMMETRIC
    * decode scan — the query is never quantized, so the monitor folds
    * cell-miss, per-dim quantization, and tombstone-liveness into one
    * ppm). Deterministic BIGINT; the oracle replays the per-dim scale
    * chain with the lifecycle's live-set predicate.
    */
  def recallCdcSq8DimQ(s: SparkSession, d: String): DataFrame = {
    val qv = probeVec(s, d)
    val approx = graft.streaming.IndexStream.searchCommittedCdcSq8Dim(
      s, cdcLifecycleSq8DimDir(s, d), sq8DimQuantizers(s, d), qv, 2, 10)
    recallPpm(exactTopK(intVecs(s, d).where(cdcLive(col("vec_id"))), qv, 10),
      approx, Seq("vec_id"), 10)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans" -> kmeansQ,
    "q_semdedup" -> semdedupQ,
    "q_semdedup_scaled" -> semdedupScaledQ,
    "q_semdedup_sampled" -> semdedupSampledQ,
    "q_semdedup_capped" -> semdedupCappedQ,
    "q_ann_ivf_trained" -> annIvfTrainedQ,
    "q_recall_ivf" -> recallIvfQ,
    "q_pq_codes" -> pqCodesQ,
    "q_ann_pq" -> annPqQ,
    "q_ann_opq" -> annOpqQ,
    "q_ann_opq_part" -> annOpqPartQ,
    "q_ann_opq_batch" -> annOpqBatchQ,
    "q_recall_opq" -> recallOpqQ,
    "q_ann_ivfpq" -> annIvfPqQ,
    "q_ann_ivfpq_part" -> annIvfPqPartQ,
    "q_ann_ivfpq_res_part" -> annIvfPqResPartQ,
    "q_ann_ivfpq_rerank" -> annIvfPqRerankQ,
    "q_ann_ivfpq_rerank_batch" -> annIvfPqRerankBatchQ,
    "q_recall_ivfpq_rerank" -> recallIvfPqRerankQ,
    "q_sq8_topk" -> sq8TopkQ,
    "q_recall_sq8" -> recallSq8Q,
    "q_sq8_batch" -> sq8BatchQ,
    "q_sq8_dim" -> sq8DimTopkQ,
    "q_sq8_dim_part" -> sq8DimPartQ,
    "q_sq8_dim_batch" -> sq8DimBatchQ,
    "q_recall_sq8_dim" -> recallSq8DimQ,
    "q_recall_sq8_dim_part" -> recallSq8DimPartQ,
    "q_ann_ivf_sq8" -> annIvfSq8Q,
    "q_ann_ivf_sq8_part" -> annIvfSq8PartQ,
    "q_ann_ivf_sq8_batch" -> annIvfSq8BatchQ,
    "q_recall_ivf_sq8" -> recallIvfSq8Q,
    "q_recall_cdc" -> recallCdcQ,
    "q_recall_cdc_opq" -> recallCdcOpqQ,
    "q_recall_cdc_sq8" -> recallCdcSq8Q,
    "q_recall_cdc_sq8dim" -> recallCdcSq8DimQ,
    "q_ann_ivfpq_res" -> annIvfPqResQ,
    "q_ann_ivfpq_res_batch" -> annIvfPqResBatchQ,
    "q_ann_pq_batch" -> annPqBatchQ,
    "q_ann_ivfpq_batch" -> annIvfPqBatchQ,
    "q_ann_ivfpq_batch_part" -> annIvfPqBatchPartQ,
    "q_ann_ivfpq_res_batch_part" -> annIvfPqResBatchPartQ,
    "q_recall_ivfpq_batch" -> recallIvfPqBatchQ,
    "q_shortlist_ann" -> shortlistAnnQ,
    "q_recall_shortlist_ann" -> recallShortlistAnnQ,
    "q_recall_pq" -> recallPqQ,
    "q_recall_ivfpq" -> recallIvfPqQ,
    "q_recall_ivfpq_res" -> recallIvfPqResQ,
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
    * (cluster, dim) through an exact double, as in KMeansOp.update).
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

  /** The OPQ derivation in SQL ([[opqPerm]]/[[opqBooks]] replayed): the
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

  /** The per-dim SQ8 derivation ([[sq8DimScales]]/[[sq8DimCode]]/[[sq8DimDecode]] in
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
