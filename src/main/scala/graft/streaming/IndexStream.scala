package graft.streaming

import graft.operators.{KMeansOp, ProductQuantizer}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Continuous vector-index maintenance — the streaming story for the
  * similarity-search family (DedupStream covers near-dup text,
  * DriftStream mixture monitoring, MediaStream multimodal ingestion).
  *
  * Production vector indexes are built once and MAINTAINED: the
  * quantizers (coarse IVF centroids + PQ codebooks) are trained on a
  * corpus snapshot, FROZEN as a persisted artifact, and a change-data
  * stream of inserts and deletes is applied against them; training
  * reruns only on an explicit [[rebuildCdc]] (that staleness is what
  * [[cellHistogramCdc]] monitors — exactly how a FAISS/IVFADC
  * deployment ingests, reference tie: the reference rebuilds its flat
  * FAISS index per request, in its vectorDB.py:27-39, which cannot
  * survive a corpus that outlives one request).
  *
  * One maintenance discipline, CDC (change-data-capture). Per
  * micro-batch of (vec_id, embedding, `__op`) rows ([[processBatchCdc]];
  * a stream without the op column is all inserts):
  *  1. one shuffle-free projection computes each inserted vector's
  *     coarse cell and codes against the frozen quantizers (literal
  *     argmins, broadcast by value) — [[ProductQuantizer.indexProjection]]
  *     for plain PQ, [[ProductQuantizer.residualIndexProjection]] when
  *     the artifact's codebooks quantize v − centroid[cell] (FAISS's
  *     default residual encoding; `Quantizers.residual`), or the
  *     per-dimension scalar codes under the frozen scales when the
  *     artifact is IVF_SQ8 (`Quantizers.sq8Amax` / `sq8Dims`);
  *  2. an insert whose vec_id is LIVE before this batch (and not
  *     deleted by it) is dropped by one anti-join against the live code
  *     table (new↔existing only; the index is never re-scanned
  *     pairwise) — first write wins;
  *  3. survivors land at `codes/batch_id=N` carrying `src_batch = N`,
  *     deletes land as tombstones at `tombs/batch_id=N`, and a row is
  *     live iff no strictly later tombstone names it ([[liveCodes]]).
  *
  * Replay-idempotent on the DedupStream discipline: batch-id-keyed
  * overwrite writes, the commit marker written LAST via [[StreamState]]
  * (torn writes are never read as truth), and a replayed committed
  * batch reproduces its rows bit-for-bit (assignment against frozen
  * quantizers is deterministic, and the liveness check reads only
  * strictly-earlier state).
  *
  * Scale shape: per-batch cost tracks the batch — the projection is
  * map-side, the liveness check is one equi-join probing committed
  * state, and state is (vec_id, cell, m codes, src_batch) BIGINTs per
  * vector regardless of dimension: the 64-float embedding never enters
  * the state. Every code write — per-batch, rebuild generation,
  * compacted base — lays the rows out `partitionBy(cell)`, so the
  * MAINTAINED index IS the pruned serving artifact (the same layout the
  * batch tier persists, SemanticQ.partitionedCodesPath): search over
  * the live index ([[searchCommittedCdc]] and its SQ8/batch siblings)
  * answers its probed-cell predicate by DIRECTORY pruning at the
  * listing, never by scanning non-probed cells' files, and
  * compaction's tombstone GC preserves the partitioning (CdcIndexSpec
  * pins the pruned plan).
  */
object IndexStream {

  /** The frozen index artifact: coarse centroids + per-subspace PQ
    * codebooks (all driver-local and bounded — k·d + m·k·subDim
    * BIGINTs), as trained by KMeansOp/ProductQuantizer on the build
    * snapshot. `residual` = true means the codebooks quantize
    * v − centroid[cell] (FAISS's default IVFADC encoding,
    * [[ProductQuantizer.residualIndexProjection]]) instead of v
    * itself. `sq8Amax` = Some(a) selects the IVF_SQ8 encoding
    * (FAISS's IndexIVFScalarQuantizer QT_8bit under the global
    * symmetric scale a/127 — the batch tier's q_ann_ivf_sq8): no
    * codebooks, one 1-byte scalar code PER DIMENSION, with `a` the
    * trained corpus max |coordinate| riding the artifact exactly like
    * the codebooks do. `sq8Dims` = Some((vmn, vmx)) selects the
    * PER-DIMENSION variant (FAISS's actual QT_8bit, trained [vmin,
    * vmax] intervals per dimension — the batch tier's q_sq8_dim_part):
    * codes are floor((x − vmn_d)/Δ_d + 0.5) with Δ_d = (vmx_d −
    * vmn_d)/255, search is ASYMMETRIC (the persisted code is
    * dequantized into the shared ×10^6 integer domain; the query is
    * never quantized). Assignment and serving dispatch on the
    * encoding, and every flag persists with the generation artifact so
    * a restarted maintainer can never mix encodings.
    */
  final case class Quantizers(coarse: Seq[(Long, Seq[Long])],
      books: Seq[Seq[(Long, Seq[Long])]], subDim: Int,
      residual: Boolean = false, sq8Amax: Option[Double] = None,
      sq8Dims: Option[(Seq[Double], Seq[Double])] = None,
      opqPerm: Option[Seq[Int]] = None) {
    require(!(sq8Amax.isDefined && sq8Dims.isDefined),
      "global-amax and per-dimension SQ8 are exclusive encodings")
    // `opqPerm` = Some(p) selects the OPQ encoding (Ge et al.'s
    // dimension allocation, the permutation subgroup of the rotation
    // family — the batch tier's q_ann_opq_part): p is the FLAT
    // subspace-major permutation, and BY CONVENTION the artifact's
    // coarse centroids and codebooks live in the PERMUTED domain
    // (books trained on permuted slices; centroids permuted entry-wise
    // — a permutation preserves every L2 distance, so cell assignment
    // matches the raw domain exactly). Every vector or probe entering
    // assignment/serving is permuted at ONE choke point each, then the
    // plain-PQ machinery applies unchanged.
    require(opqPerm.isEmpty ||
      (!residual && sq8Amax.isEmpty && sq8Dims.isEmpty),
      "OPQ composes with the plain-PQ encoding only")
    opqPerm.foreach(p => require(
      p.length == coarse.head._2.size && p.sorted == p.indices,
      "opqPerm must be a permutation of ALL dimension indices — a " +
        "short permutation would silently truncate every permuted vector"))
    /** Vector dimensionality, from the coarse centroids. */
    def dim: Int = coarse.head._2.size
    /** Code-column count of this encoding's persisted state: one code
      * per PQ subspace, or one per DIMENSION for the SQ8 variants.
      */
    def m: Int =
      if (sq8Amax.isDefined || sq8Dims.isDefined) dim else books.size
  }

  /** The permuted view of a scaled-integer vector column — the one
    * Column spelling of the OPQ pre-rotation (subspace-major, so
    * `slice(w, m·subDim + 1, subDim)` is subspace m's allocated dims in
    * rank order, matching the codebooks' training slices).
    */
  private def permuteVec(v: Column, p: Seq[Int]): Column =
    array(p.map(i => element_at(v, i + 1)): _*)

  /** Driver-side mirror of [[permuteVec]] for single-probe queries. */
  private def permuteLocal(v: Seq[Long], p: Seq[Int]): Seq[Long] =
    p.map(v(_))

  /** The per-batch/per-rebuild corpus projection for this encoding —
    * takes the RAW (vec_id, embedding) rows: the PQ encodings code the
    * ×10^6 scaled-integer vector, while the SQ8 encodings code each raw
    * coordinate under the frozen scales, passed as literals to the
    * shared [[ProductQuantizer.sq8Code]] / [[ProductQuantizer.sq8DimCode]]
    * (the expressions the batch tier's persisted SQ8 index writes use,
    * so a maintained SQ8 index is bit-identical to the persisted one).
    */
  private def project(batch: DataFrame, q: Quantizers): DataFrame = {
    val vecs = batch.select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    val sq8Code: Option[(Column, Int) => Column] =
      q.sq8Amax.map(a => (e: Column, _: Int) =>
        ProductQuantizer.sq8Code(e, lit(a))).orElse(
      q.sq8Dims.map { case (vmn, vmx) => (e: Column, i: Int) =>
        ProductQuantizer.sq8DimCode(e, lit(vmn(i)), lit(vmx(i))) })
    sq8Code match {
      case Some(code) =>
        batch.select(col("vec_id") +:
          ProductQuantizer.nearestCid(
            KMeansOp.intVec(col("embedding")), q.coarse).as("cell") +:
          (0 until q.dim).map(i =>
            code(element_at(col("embedding"), i + 1), i).as(s"code_$i")): _*)
      case None if q.residual =>
        ProductQuantizer.residualIndexProjection(vecs, q.coarse, q.books, q.subDim)
      case None =>
        // OPQ = plain PQ over the permuted domain: permute each vector
        // once here (the artifact's coarse/books are already permuted)
        val w = q.opqPerm.map(p => vecs.select(col("vec_id"),
          permuteVec(col("v"), p).as("v"))).getOrElse(vecs)
        ProductQuantizer.indexProjection(w, q.coarse, q.books, q.subDim)
    }
  }

  /** The persisted code-table schema: (vec_id, cell, code_0 … code_{m−1},
    * src_batch), src_batch being the batch that wrote the row.
    */
  private[graft] def codesSchema(m: Int): StructType =
    StructType(
      StructField("vec_id", LongType) +: StructField("cell", LongType) +:
        (0 until m).map(s => StructField(s"code_$s", LongType)) :+
        StructField("src_batch", LongType))

  private[graft] val tombSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("del_batch", LongType)))

  /** The code-column count (m) of the PERSISTED state, from the newest
    * committed partition's own parquet schema — so a read-only consumer
    * (the histogram) can never apply a wrong default m and silently
    * drop code columns. None when nothing is committed yet. One
    * quantizer per state dir (mixed m is not a supported state).
    */
  private def persistedM(s: SparkSession, stateDir: String): Option[Int] = {
    val batch = StreamState.committedIds(s, stateDir).lastOption
      .map(id => s"$stateDir/codes/batch_id=$id")
    val base = StreamState.compactedIds(s, stateDir).lastOption
      .map(b => s"$stateDir/codes/base_id=$b")
    (batch.toSeq ++ base.toSeq).view.flatMap { dir =>
      scala.util.Try(
        s.read.parquet(dir).schema.fieldNames.count(_.startsWith("code_"))
      ).toOption.filter(_ > 0)
    }.headOption
  }

  // ---- CDC maintenance: inserts, deletes and re-inserts -------------
  //
  // A production index takes DELETES — FAISS's remove_ids,
  // Milvus/Lucene tombstones — and re-inserts after them. Physical
  // deletion from immutable committed partitions is compaction's
  // business; the live path appends TOMBSTONES:
  //
  //  - a delete writes (vec_id, del_batch=N) to `tombs/batch_id=N`;
  //  - a code row is LIVE iff no tombstone with del_batch > src_batch
  //    exists for its id (src_batch rides IN the row, so compaction
  //    folds both tables without losing the ordering);
  //  - an insert is blocked only by a LIVE earlier row (first-write-
  //    wins) that this batch does not itself delete — so delete+insert
  //    of a live id in one batch REPLACES it (the CDC re-key
  //    convention), and an insert after a delete RESURRECTS the id with
  //    its new codes.
  //
  // Both writes are batch-id-keyed overwrites behind the shared commit
  // marker, and the liveness check reads strictly-earlier state
  // (upTo = batchId), so a replayed committed batch recomputes its rows
  // bit-for-bit. A fresh batch re-shipping an already-live vec_id sees
  // it in earlier state and drops it; a replayed batch never reads its
  // own superseded partition.

  /** The CDC op column: rows with `__op = "delete"` are tombstones
    * (embedding ignored); anything else — including a missing column —
    * is an insert. The Merge operator's `__op` convention, reused.
    */
  val OpColumn = "__op"

  /** True when this state dir's batch 0 is a [[rebuildCdc]] generation
    * base (the `_rebuilt` flag written beside the quantizers).
    */
  private def hasRebuildBase(s: SparkSession, stateDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$stateDir/_rebuilt")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The LIVE code table as of (strictly before) `upTo`: committed
    * codes minus the rows a STRICTLY LATER tombstone kills — a
    * same-batch tombstone does not kill the same batch's insert
    * (delete-then-insert order within a batch). One anti-join on
    * (vec_id, del_batch > src_batch); tombstone state never grows past
    * the delete stream itself, and compaction resolves and drops both
    * sides (see [[compactStateCdcResolve]]).
    */
  def liveCodes(s: SparkSession, stateDir: String, m: Int,
      upTo: Long = Long.MaxValue): DataFrame = {
    val codes = StreamState.readCommitted(
      s, stateDir, "codes", codesSchema(m), upTo, partitioned = true)
    val tombs = StreamState.readCommitted(
      s, stateDir, "tombs", tombSchema, upTo)
    codes.join(tombs,
      codes("vec_id") === tombs("vec_id") &&
        tombs("del_batch") > codes("src_batch"),
      "left_anti")
  }

  /** One CDC micro-batch of (vec_id, embedding, __op) rows. Inserts are
    * assigned against the frozen quantizers; deletes append tombstones.
    * Within a batch, duplicate insert ids collapse to one deterministic
    * row (min over the (cell, codes) struct — without it a batch
    * re-shipping an id twice would write two rows and break the
    * one-live-row-per-vec_id invariant: duplicate search results, a
    * double-counted histogram) and a delete+insert pair resolves to the
    * insert (applied over the delete). Exposed for direct testing like
    * DedupStream.processBatch.
    *
    * INTRA-BATCH ORDER CONTRACT (ADVICE r17): ops within one
    * micro-batch are a SET, not a sequence — there is no ordering
    * column, so a delete and an insert for the same id in one batch
    * ALWAYS resolve delete-then-insert (the re-key convention above),
    * regardless of the order the producer emitted them. A producer
    * whose last op for an id in a batch is a DELETE (ordered-CDC /
    * Debezium semantics: insert-then-delete ⇒ dead) must not ship both
    * in one batch — split them across batches, or pre-resolve to the
    * final op before handing the batch over. This engine-side
    * convention is deliberate: resolving by arrival order would make
    * replay results depend on intra-batch row order, which Spark does
    * not preserve.
    */
  def processBatchCdc(batch: Dataset[Row], batchId: Long, q: Quantizers,
      stateDir: String, autoCompactEvery: Int = 0): Unit = {
    val s = batch.sparkSession
    // a rebuilt generation's batch 0 IS the rebuilt corpus
    // ([[rebuildCdc]]); only a maintainCdc stream started with a FRESH
    // checkpoint would ever present batchId=0 against it, and its
    // overwrite would silently drop the entire rebuilt code table.
    // Refuse loudly (ADVICE r17) — a CONTINUING stream keeps its
    // checkpoint and only ever presents ids above its own history.
    if (batchId == 0L && hasRebuildBase(s, stateDir))
      throw new IllegalStateException(
        s"$stateDir holds a rebuilt generation at batch_id=0; a CDC " +
          "stream with a fresh checkpoint (batchId=0) would overwrite " +
          "it — continue the existing checkpoint instead")
    val ops =
      if (batch.columns.contains(OpColumn)) batch
      else batch.withColumn(OpColumn, lit("insert"))
    val dels = ops.where(col(OpColumn) === "delete")
      .select(col("vec_id")).distinct()
    val ins = ops.where(coalesce(col(OpColumn), lit("insert")) =!= "delete")
      .select(col("vec_id"), col("embedding"))
    val indexed0 = project(ins, q)
    val codeCols = indexed0.columns.filter(_ != "vec_id").toSeq
    val indexed = indexed0.groupBy(col("vec_id"))
      .agg(min(struct(codeCols.map(col): _*)).as("k"))
      .select(col("vec_id") +: codeCols.map(c => col("k." + c)): _*)
    // an insert is blocked by an id that is live BEFORE this batch and
    // NOT deleted by it — so re-insert-after-delete lands, and
    // delete+insert replaces
    val blocked = liveCodes(s, stateDir, q.m, upTo = batchId)
      .select(col("vec_id"))
      .join(dels, Seq("vec_id"), "left_anti")
    indexed.join(blocked, Seq("vec_id"), "left_anti")
      .withColumn("src_batch", lit(batchId))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$stateDir/codes/batch_id=$batchId")
    dels.withColumn("del_batch", lit(batchId))
      .write.mode("overwrite").parquet(s"$stateDir/tombs/batch_id=$batchId")
    StreamState.commitMarker(s, stateDir, batchId)
    // the auto valve RESOLVES: continuous maintenance should never let
    // state size track the delete history instead of the live set
    StreamState.maybeCompact(s, stateDir, autoCompactEvery)(
      compactStateCdcResolve(s, stateDir, q.m))
  }

  /** Continuous CDC maintenance over a streaming (vec_id, embedding,
    * __op) frame against the frozen quantizers.
    */
  def maintainCdc(emb: DataFrame, q: Quantizers, stateDir: String,
      checkpointDir: String, autoCompactEvery: Int = 16): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processBatchCdc(batch, batchId, q, stateDir, autoCompactEvery)
      }
      .start()

  /** RESOLVE-at-compaction — the tombstone GC a log-structured index
    * runs at merge time (Lucene segment merges, LSM compaction): the
    * folded codes keep only rows no folded tombstone kills, and the
    * folded tombstones drop entirely. Every folded tombstone is SPENT
    * once the fold resolves: surviving folded rows outrank it by
    * construction, and every unfolded or future row carries src_batch
    * above the fold point. Replay stays exact because the newest
    * committed batch is never folded and its strictly-earlier liveness
    * view over (resolved base + unfolded partitions) equals the
    * pre-fold computation — the same rows survive either way. State
    * size now tracks the LIVE set + batches-since-compaction, not the
    * delete history. Crash contract inherited from [[StreamState
    * .compact]] (base written first, marker last, torn fold invisible).
    * The tombstone horizon is the FOLD ID the compaction itself hands
    * to the merge ([[StreamState.compactWith]]) — codes and tombs can
    * never resolve against different horizons, even if another batch
    * commits mid-compaction. `m` must match the persisted quantizer's
    * code-column count (`Quantizers.m`): a smaller m would silently
    * drop code columns from the base, which is permanent index
    * corruption.
    */
  def compactStateCdcResolve(s: SparkSession, stateDir: String,
      m: Int): Option[Long] =
    StreamState.compactWith(s, stateDir, Seq(
      ("codes", codesSchema(m), (codes: DataFrame, fold: Long) => {
        val tombs = StreamState.readCommitted(
          s, stateDir, "tombs", tombSchema, upTo = fold + 1)
        codes.join(tombs,
          codes("vec_id") === tombs("vec_id") &&
            tombs("del_batch") > codes("src_batch"),
          "left_anti")
      }),
      ("tombs", tombSchema, (t: DataFrame, _: Long) => t.limit(0))),
      partitionCols = Map("codes" -> Seq("cell")))

  // ---- Serving ------------------------------------------------------

  /** The single-probe serving tail every encoding shares: probe the
    * `nProbe` coarse cells nearest `coarseQuery` driver-side, score the
    * probed cells' LIVE rows by `dist`, and keep the k lowest (ties to
    * the lower vec_id). Returns (vec_id, `distName`).
    */
  private def probedTopK(s: SparkSession, stateDir: String, q: Quantizers,
      coarseQuery: Seq[Long], nProbe: Int, dist: Column, distName: String,
      k: Int): DataFrame = {
    val probeCells = KMeansOp.nearestCells(q.coarse, coarseQuery, nProbe)
    liveCodes(s, stateDir, q.m)
      .where(col("cell").isin(probeCells: _*))
      .select(col("vec_id"), dist.as(distName))
      .orderBy(col(distName).asc, col("vec_id").asc)
      .limit(k)
  }

  /** IVFADC search over the LIVE rows of the maintained index: probe
    * the `nProbe` coarse cells nearest the scaled-integer query, then
    * ADC top-k over the probed cells' codes — identical mechanics to the
    * batch q_ann_ivfpq, but serving from the incrementally-maintained
    * state (raw vectors are never read): deleted ids never surface,
    * re-inserted ids serve their newest codes. Returns
    * (vec_id, adc_scaled).
    */
  def searchCommittedCdc(s: SparkSession, stateDir: String, q: Quantizers,
      query: Seq[Long], nProbe: Int, k: Int): DataFrame = {
    require(q.sq8Amax.isEmpty && q.sq8Dims.isEmpty,
      "SQ8 CDC state serves through searchCommittedCdcSq8/" +
        "searchCommittedCdcSq8Dim")
    if (q.residual) {
      // residual ADC tables are per probed cell — serve the single
      // probe through the shared residual batch dataflow and strip the
      // probe bookkeeping back off
      import s.implicits._
      return searchCommittedBatchCdc(s, stateDir, q,
          Seq((0L, query)).toDF("qid", "v"), nProbe, k)
        .select(col("vec_id"), col("adc_scaled"))
    }
    // OPQ probes enter the permuted domain once, here
    val qw = q.opqPerm.map(permuteLocal(query, _)).getOrElse(query)
    probedTopK(s, stateDir, q, qw, nProbe,
      ProductQuantizer.adcDist(ProductQuantizer.adcTables(qw, q.books, q.subDim)),
      "adc_scaled", k)
  }

  /** The SQ8 query projection, driver-side: the scaled-integer vector
    * (for the coarse probe) and the per-dimension scalar codes under
    * the frozen global scale — the same floor conventions as the
    * distributed projection, applied to the one probe row.
    */
  private def sq8Query(q: Quantizers, emb: Seq[Double]): (Seq[Long], Seq[Long]) = {
    require(q.sq8Amax.isDefined,
      "this entry serves global-amax SQ8 state only — PQ/residual " +
        "handles serve through searchCommittedCdc, per-dim handles " +
        "through searchCommittedCdcSq8Dim")
    val amax = q.sq8Amax.get
    val v = emb.map(e => math.floor(e * 1000000d).toLong)
    (v, emb.map(ProductQuantizer.sq8CodeLocal(_, amax)))
  }

  /** Integer code-space squared L2 of the m persisted code COLUMNS
    * against the query code `qc(i)` per dimension — one codegen'd
    * expression, no arrays rebuilt at scan time.
    */
  private def sq8Dist(m: Int, qc: Int => Column): Column =
    (0 until m).map { i =>
      (col(s"code_$i") - qc(i)) * (col(s"code_$i") - qc(i))
    }.reduce(_ + _)

  /** IVF_SQ8 search over the LIVE rows of the maintained index: probe
    * the nProbe nearest coarse cells, then integer code-space top-k over
    * the probed cells' scalar codes — [[searchCommittedCdc]] at the
    * 1-byte-per-dim encoding. `emb` is the probe's RAW embedding (the
    * query is encoded against the frozen amax exactly as the corpus
    * was). Returns (vec_id, qdist), the q_ann_ivf_sq8 contract shape.
    */
  def searchCommittedCdcSq8(s: SparkSession, stateDir: String, q: Quantizers,
      emb: Seq[Double], nProbe: Int, k: Int): DataFrame = {
    val (v, qCode) = sq8Query(q, emb)
    probedTopK(s, stateDir, q, v, nProbe,
      sq8Dist(q.m, i => lit(qCode(i))), "qdist", k)
  }

  /** BATCH IVF_SQ8 serving over the LIVE rows of the maintained index —
    * the probe-fleet form at the 1-byte encoding
    * ([[searchCommittedBatchCdc]]'s role for the PQ encodings): `probes`
    * is any (qid, embedding) frame of RAW embeddings; per-qid
    * nProbe-nearest coarse cells come from the literal-argmin array
    * (shuffle-free), each probe's scalar codes are built in-flight
    * against the frozen amax literal, the (qid, cell, qcode) relation
    * broadcasts into the code scan so only probed-cell rows are scored,
    * and one qid-partitioned rank serves the per-probe top-k — ONE
    * state-scan lineage for any probe count, the only per-batch driver
    * work the ≤ Q·nProbe collected distinct probed cells, pushed as a
    * static partition predicate so the state table's file LISTING also
    * stops at the probed `cell=` directories
    * ([[ProductQuantizer.pinProbesWithCells]] over the same argmin the
    * join evaluates). Returns (qid, rnk, vec_id, qdist).
    */
  def searchCommittedBatchCdcSq8(s: SparkSession, stateDir: String,
      q: Quantizers, probes: DataFrame, nProbe: Int, k: Int): DataFrame = {
    require(q.sq8Amax.isDefined,
      "this entry serves SQ8 state only — a PQ/residual handle serves " +
        "through searchCommittedBatchCdc")
    // pin + collect the listing-prune cells in ONE action
    // ([[ProductQuantizer.pinProbesWithCells]], r21 — dedup on qid, pin
    // by value, cells from the same pass): the cells and the broadcast
    // probe relation read the same Q rows, and a duplicated probe row
    // can't double its candidates under the rank window
    val intVec = KMeansOp.intVec(col("embedding"))
    val (pinned, probedCells) =
      ProductQuantizer.pinProbesWithCells(probes, q.coarse, nProbe, intVec)
    val amax = lit(q.sq8Amax.get)
    val probeCells = ProductQuantizer.probeCellRows(
      pinned.df.withColumn("qcode",
        transform(col("embedding"), e => ProductQuantizer.sq8Code(e, amax))),
      q.coarse, intVec, nProbe, "qcode")
    ProductQuantizer.perProbeTopK(
      liveCodes(s, stateDir, q.m).where(col("cell").isin(probedCells: _*))
        .join(broadcast(probeCells), Seq("cell"))
        .select(col("qid"), col("vec_id"),
          sq8Dist(q.m, i => element_at(col("qcode"), i + 1)).as("qdist")),
      "qdist", k)
  }

  /** Asymmetric per-dim code-space squared L2 of the persisted code
    * COLUMNS against a literal scaled-integer query: each code decodes
    * under its dimension's frozen [vmn, vmx] interval
    * ([[ProductQuantizer.sq8DimDecode]]); the query enters exact — quantization
    * error once, never twice (FAISS's DC convention, the same
    * asymmetric discipline as the batch tier's q_sq8_dim family).
    */
  private def sq8DimDist(q: Quantizers, query: Seq[Long]): Column = {
    val (vmn, vmx) = q.sq8Dims.get
    (0 until q.dim).map { i =>
      val dv = ProductQuantizer.sq8DimDecode(
        col(s"code_$i"), lit(vmn(i)), lit(vmx(i))) - lit(query(i))
      dv * dv
    }.reduce(_ + _)
  }

  /** Per-dimension SQ8 search over the LIVE rows of the maintained
    * index — [[searchCommittedCdcSq8]] at the per-dim-trained encoding:
    * probe the nProbe nearest coarse cells, then asymmetric decoded
    * top-k over the probed cells' codes. `query` is the probe's
    * SCALED-INTEGER vector (never quantized — the asymmetric side needs
    * no encode). Returns (vec_id, qdist), the q_sq8_dim_part contract
    * shape.
    */
  def searchCommittedCdcSq8Dim(s: SparkSession, stateDir: String,
      q: Quantizers, query: Seq[Long], nProbe: Int, k: Int): DataFrame = {
    require(q.sq8Dims.isDefined,
      "this entry serves per-dimension SQ8 state only — global-amax " +
        "handles serve through searchCommittedCdcSq8")
    probedTopK(s, stateDir, q, query, nProbe, sq8DimDist(q, query), "qdist", k)
  }

  /** Batch IVFADC serving over the LIVE rows of the maintained index —
    * the q_ann_ivfpq_batch shape (per-qid coarse cell lists + per-qid
    * LUTs as broadcast relations, probed-cells-only scan, one
    * aggregation + one rank window) pointed at the
    * incrementally-maintained state instead of a freshly-encoded
    * corpus: how a serving tier answers a probe batch against the live
    * index. `probes` is any (qid, scaled-vector) FRAME — per-qid coarse
    * cells and ADC LUTs are built by executors (the shared
    * [[ProductQuantizer.adcBatchServe]] dataflow), so thousands of
    * concurrent probes never touch the driver beyond the ≤ Q·nProbe
    * collected DISTINCT probed cells, which ride back as a static
    * partition predicate so the code table's file LISTING stops at the
    * probed `cell=` directories (the broadcast join alone scopes
    * scoring, not listing — [[ProductQuantizer.pinProbesWithCells]]). A
    * row's liveness is decided per row against the (unpruned)
    * tombstone relation, never by rows in other cells, so filtering the
    * live view on `cell` pushes to the codes scan and changes nothing
    * the join would have scored. Returns (qid, rnk, vec_id, adc_scaled),
    * top-k per qid.
    */
  def searchCommittedBatchCdc(s: SparkSession, stateDir: String,
      q: Quantizers, probes: DataFrame, nProbe: Int, k: Int): DataFrame = {
    require(q.sq8Amax.isEmpty && q.sq8Dims.isEmpty,
      "SQ8 CDC state serves through searchCommittedBatchCdcSq8 or the " +
        "per-dim single-probe entries")
    // OPQ probe frames enter the permuted domain once, here
    val w = q.opqPerm.map(p => probes.select(col("qid"),
      permuteVec(col("v"), p).as("v"))).getOrElse(probes)
    // pin + cells in one action (r21); prune cells and serving read the
    // same Q rows
    val (pinned, cells) = ProductQuantizer.pinProbesWithCells(w, q.coarse, nProbe)
    val live = liveCodes(s, stateDir, q.m).drop("src_batch")
      .where(col("cell").isin(cells: _*))
    if (q.residual)
      ProductQuantizer.adcBatchServeResidual(
        live, pinned, q.coarse, q.books, q.subDim, nProbe, k)
    else
      ProductQuantizer.adcBatchServe(
        live, pinned, q.coarse, q.books, q.subDim, nProbe, k)
  }

  /** Quantizer-staleness monitor: live cell occupancy. A healthy index
    * keeps cells balanced near the training distribution; a drifting
    * ingest concentrates mass in few cells (probe recall degrades,
    * per-cell scans grow) — the operational signal to retrain and
    * [[rebuildCdc]]. One bounded aggregate over the live code table;
    * tombstoned mass is not counted, and m comes from the persisted
    * schema (0 = empty state → empty histogram), so a read-only monitor
    * needs no quantizer handle.
    */
  def cellHistogramCdc(s: SparkSession, stateDir: String): DataFrame = {
    val m = persistedM(s, stateDir).getOrElse(0)
    liveCodes(s, stateDir, m)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("cell").asc)
  }

  // ---- Rebuild flow: generations + atomic swap ----------------------
  //
  // cellHistogramCdc is the staleness SIGNAL; rebuildCdc is its
  // CONSUMER. Layout: an index ROOT holds independent StreamState
  // generations `gen=N/` (each with its own codes and tombstone tables,
  // commit markers, and the persisted quantizers that froze it), and
  // `_current/N` marker files name the active generation — written
  // LAST, so a crash anywhere in a rebuild leaves the old generation
  // serving and the half-built one invisible (the exact
  // marker-written-last discipline StreamState uses per batch, lifted
  // to whole index versions). Readers resolve max(_current) via
  // [[currentRoot]], load its [[loadQuantizers]], and never look inside
  // an unswapped generation.

  private def genDir(root: String, n: Long) = s"$root/gen=$n"

  /** The active generation's state dir, if any rebuild ever swapped. */
  def currentRoot(s: SparkSession, indexRoot: String): Option[String] =
    StreamState.markerIdsIn(s, s"$indexRoot/_current").lastOption
      .map(genDir(indexRoot, _))

  private val quantizersSchema = StructType(Seq(
    StructField("kind", org.apache.spark.sql.types.StringType),
    StructField("sub", org.apache.spark.sql.types.IntegerType),
    StructField("cid", LongType),
    StructField("c", org.apache.spark.sql.types.ArrayType(LongType)),
    StructField("sub_dim", org.apache.spark.sql.types.IntegerType)))

  /** Persist the frozen quantizers next to their generation's codes —
    * the artifact a restarted maintainer/server loads instead of
    * retraining (bounded: k + m·k rows of BIGINT centroids).
    */
  private[graft] def saveQuantizers(s: SparkSession, dir: String,
      q: Quantizers): Unit = {
    // the encoding flags ride as marker rows (kind = "residual" /
    // "sq8" / "sq8dim_*"), so pre-flag artifacts load as plain-PQ
    // without a schema migration; the sq8 global scale persists EXACTLY
    // via its IEEE-754 bits in the BIGINT cid slot, and the per-dim
    // [vmn, vmx] interval tables via their bits in the BIGINT array
    // slot (a decimal round-trip could perturb the code arithmetic's
    // last ulp)
    val meta =
      (if (q.residual)
        Seq(Row("residual", -1, 0L, Seq.empty[Long], q.subDim)) else Nil) ++
      q.opqPerm.map(p =>
        Row("opq_perm", -1, 0L, p.map(_.toLong), q.subDim)) ++
      q.sq8Amax.map(a => Row("sq8", -1,
        java.lang.Double.doubleToRawLongBits(a), Seq.empty[Long], q.subDim)) ++
      q.sq8Dims.toSeq.flatMap { case (vmn, vmx) => Seq(
        Row("sq8dim_mn", -1, 0L,
          vmn.map(java.lang.Double.doubleToRawLongBits), q.subDim),
        Row("sq8dim_mx", -1, 0L,
          vmx.map(java.lang.Double.doubleToRawLongBits), q.subDim)) }
    val rows =
      q.coarse.map { case (cid, c) => Row("coarse", -1, cid, c, q.subDim) } ++
      q.books.zipWithIndex.flatMap { case (book, m) =>
        book.map { case (cid, c) => Row("book", m, cid, c, q.subDim) }
      } ++ meta
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), quantizersSchema)
      .write.mode("overwrite").parquet(s"$dir/quantizers")
  }

  /** Load a generation's frozen quantizers. */
  def loadQuantizers(s: SparkSession, dir: String): Quantizers = {
    val rows = s.read.schema(quantizersSchema).parquet(s"$dir/quantizers")
      .collect()
    val subDim = rows.head.getInt(4)
    val coarse = rows.filter(_.getString(0) == "coarse")
      .map(r => (r.getLong(2), r.getSeq[Long](3))).sortBy(_._1).toSeq
    val bookRows = rows.filter(_.getString(0) == "book")
    val m = if (bookRows.isEmpty) 0 else bookRows.map(_.getInt(1)).max + 1
    val books = (0 until m).map { sub =>
      bookRows.filter(_.getInt(1) == sub)
        .map(r => (r.getLong(2), r.getSeq[Long](3))).sortBy(_._1).toSeq
    }
    Quantizers(coarse, books, subDim,
      residual = rows.exists(_.getString(0) == "residual"),
      opqPerm = rows.find(_.getString(0) == "opq_perm")
        .map(_.getSeq[Long](3).map(_.toInt).toSeq),
      sq8Amax = rows.find(_.getString(0) == "sq8")
        .map(r => java.lang.Double.longBitsToDouble(r.getLong(2))),
      sq8Dims = rows.find(_.getString(0) == "sq8dim_mn").map { mnRow =>
        val mxRow = rows.find(_.getString(0) == "sq8dim_mx").getOrElse(
          throw new IllegalStateException(
            "per-dim SQ8 artifact persisted vmn without vmx"))
        (mnRow.getSeq[Long](3).map(java.lang.Double.longBitsToDouble).toSeq,
          mxRow.getSeq[Long](3).map(java.lang.Double.longBitsToDouble).toSeq)
      })
  }

  /** REBUILD: retrain the quantizers on a corpus snapshot (the raw
    * vectors live in the corpus table — code-only state is by design
    * too small to retrain from), re-encode the snapshot into a FRESH
    * generation (codes carry `src_batch = 0`, an empty tombstone
    * partition rides under the same commit marker), persist the
    * quantizers beside it, and atomically swap `_current` to the new
    * generation. The old generation keeps serving until the swap
    * marker lands; a crash at any earlier point changes nothing a
    * reader can see. Returns the new quantizers.
    *
    * Training is the deterministic integer Lloyd of [[KMeansOp]] /
    * [[ProductQuantizer]], so rebuilding on an unchanged corpus is a
    * no-op in search results — the equivalence the spec pins.
    *
    * A CDC maintainer CONTINUES over the new generation —
    * delete/re-insert cycles pick up where the rebuild left off. The
    * continuing stream must keep its checkpoint (batch ids strictly
    * above 0); this is ENFORCED, not just documented: a `_rebuilt` flag
    * rides with the generation and [[processBatchCdc]] refuses a
    * fresh-checkpoint batchId=0 against it instead of letting the
    * replay overwrite the rebuilt code table. The rebuild consumes the
    * corpus snapshot, which a deployment derives from the previous
    * generation's live set plus the raw vector store.
    */
  def rebuildCdc(s: SparkSession, indexRoot: String, corpus: DataFrame,
      k: Int, iters: Int, m: Int, subDim: Int,
      residual: Boolean = false, sq8: Boolean = false,
      sq8dim: Boolean = false, opq: Boolean = false): Quantizers = {
    require(Seq(residual, sq8, sq8dim, opq).count(identity) <= 1,
      "residual, sq8, sq8dim, and opq are exclusive encodings")
    val next = StreamState.markerIdsIn(s, s"$indexRoot/_current")
      .lastOption.getOrElse(-1L) + 1L
    val dir = genDir(indexRoot, next)
    val coarse = KMeansOp.lloydCentroidsLocal(
      corpus, "vec_id", col("embedding"), k, iters)
    val vecs = corpus.select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    // an OPQ rebuild REFITS the allocation on the snapshot: rank dims
    // by the exact-BIGINT Σ|v_d| energy (ties to the lower index),
    // deal round-robin across subspaces, flatten subspace-major — the
    // same derivation as the batch tier's allocation, so a rebuild on
    // the tier's corpus reproduces its permutation exactly
    val opqPermFlat: Option[Seq[Int]] =
      if (!opq) None
      else Some {
        val en = vecs.select(posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("pos")).agg(sum(abs(col("x"))).as("e"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        val ranked = en.sortBy { case (pos, e) => (-e, pos) }.map(_._1)
        (0 until m).flatMap(sub => ranked.zipWithIndex.collect {
          case (pos, r) if r % m == sub => pos })
      }
    val books =
      if (residual) {
        // residual codebooks train on v − centroid[cell] — already-
        // integer vectors, so the fits enter Lloyd through the
        // pre-scaled door (the same derivation as the batch tier's
        // resCodebooks)
        lazy val res = ProductQuantizer.residuals(vecs, coarse)
        (0 until m).map(sub => KMeansOp.lloydCentroidsLocalInt(
          res.select(col("vec_id"),
            slice(col("r"), sub * subDim + 1, subDim).as("v")),
          k, iters))
      } else if (sq8 || sq8dim) Nil
      else if (opq) {
        // permuted-slice codebooks: subspace m trains on its allocated
        // dims in rank order (the permuted domain's contiguous slice)
        val p = opqPermFlat.get
        (0 until m).map(sub => KMeansOp.lloydCentroidsLocalInt(
          vecs.select(col("vec_id"),
            permuteVec(col("v"),
              p.slice(sub * subDim, (sub + 1) * subDim)).as("v")),
          k, iters))
      }
      else ProductQuantizer.train(
        corpus, "vec_id", col("embedding"), m, subDim, k, iters)
    // the SQ8 generations retrain their scales on the snapshot — the
    // amax / per-dim interval artifacts ride the generation exactly
    // like the codebooks (amax via the shared aggregate spelling
    // ProductQuantizer.amaxExpr; the per-dim tables are exact double
    // min/max per dimension — order-insensitive, so no spelling can
    // drift them)
    val q = Quantizers(
      // the OPQ artifact stores the PERMUTED centroids (the Quantizers
      // convention: all artifact geometry lives in the permuted domain)
      opqPermFlat.map(p => coarse.map { case (cid, c) =>
        (cid, p.map(c(_))) }).getOrElse(coarse),
      books, subDim, residual,
      sq8Amax = if (sq8) Some(
        corpus.agg(ProductQuantizer.amaxExpr(col("embedding")))
          .head().getDouble(0)) else None,
      sq8Dims = if (sq8dim) Some(trainSq8DimScales(corpus)) else None,
      opqPerm = opqPermFlat)
    project(corpus.select(col("vec_id"), col("embedding")), q)
      .withColumn("src_batch", lit(0L))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes/batch_id=0")
    s.createDataFrame(s.sparkContext.emptyRDD[Row], tombSchema)
      .write.mode("overwrite").parquet(s"$dir/tombs/batch_id=0")
    saveQuantizers(s, dir, q)
    // flag that batch 0 carries a REBUILT corpus, not a stream batch —
    // processBatchCdc refuses a fresh-checkpoint batchId=0 against it
    val flag = new org.apache.hadoop.fs.Path(s"$dir/_rebuilt")
    flag.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(flag, true).close()
    StreamState.commitMarker(s, dir, 0L)
    // the atomic reader switch: _current marker LAST
    StreamState.writeMarkerIn(s, s"$indexRoot/_current", next)
    q
  }

  /** The per-dim SQ8 interval TRAINING aggregate over a rebuild
    * snapshot: exact double min/max per dimension, collected as the
    * 2×d scale tables. min/max of doubles is order-insensitive (unlike
    * a sum, no op-order ulp risk), so this and the batch tier's
    * sq8DimScales derivation can never disagree on the same rows.
    */
  private def trainSq8DimScales(corpus: DataFrame)
      : (Seq[Double], Seq[Double]) = {
    val rows = corpus
      .select(posexplode(col("embedding")).as(Seq("pos", "e")))
      .groupBy(col("pos"))
      .agg(min(col("e").cast("double")).as("mn"),
        max(col("e").cast("double")).as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    (rows.map(_._2).toSeq, rows.map(_._3).toSeq)
  }
}
