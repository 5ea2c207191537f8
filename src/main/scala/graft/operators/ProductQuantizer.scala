package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — the FAISS IVFADC design): split
  * each d-dim vector into `m` contiguous subvectors, train an independent
  * small codebook per subspace, and store each vector as `m` small codes.
  * Queries scan the CODES with a per-subspace lookup table of
  * query→centroid distances (asymmetric distance computation, ADC) —
  * never touching the raw floats.
  *
  * Reference analogue: the reference's FAISS flat index
  * (/root/reference/vectorDB.py:12,38) holds raw float vectors; PQ is
  * what FAISS itself switches to when the corpus outgrows memory. At
  * 100 TB of raw embeddings (64 floats = 256 B/vector), the m=4 code
  * table is ~4 B/vector — a 64× smaller scan, and the ADC distance is
  * `m` BIGINT adds per row against a broadcast LUT of k·m entries.
  *
  * Everything runs in the scaled-integer domain of [[KMeansOp]] (floor
  * ×10^6 BIGINTs), so codebooks, codes, and ADC distances are exact and
  * cross-engine reproducible:
  *   - training: per subspace, the 2-round integer Lloyd of
  *     `KMeansOp.lloydCentroidsLocal` on the SLICED float arrays
  *     (slice-then-floor ≡ floor-then-slice, elementwise);
  *   - encode: nearest sub-centroid per subspace, ties to the lower
  *     centroid id — ONE projection over the corpus (the candidate set is
  *     a k-element literal array; `array_min` over (dist, cid) structs is
  *     a codegen'd map-side argmin, no join, no shuffle);
  *   - ADC: per-subspace LUT built on the DRIVER from the bounded
  *     codebook (k·m BIGINTs), shipped as a map literal; the scan is
  *     `m` `element_at` lookups + adds per row, then
  *     TakeOrderedAndProject for the top-k.
  */
object ProductQuantizer {

  /** Per-subspace codebooks: `m` independent integer-Lloyd fits over the
    * sliced embedding column. Returns one (cid, centroid) list per
    * subspace; cids are the seed vec_ids (the k lowest), exactly the
    * [[KMeansOp.lloydCentroidsLocal]] convention. Driver-held and
    * bounded: m·k·subDim BIGINTs.
    */
  def train(emb: DataFrame, idCol: String, embCol: Column,
      m: Int, subDim: Int, k: Int, iters: Int): Seq[Seq[(Long, Seq[Long])]] =
    (0 until m).map(s => trainSubspace(emb, idCol, embCol, s, subDim, k, iters))

  /** One subspace's codebook alone — callers that memoize per subspace
    * (a changed corpus retrains all of them, but a cache layer should not
    * pay m fits to fill one slot).
    */
  def trainSubspace(emb: DataFrame, idCol: String, embCol: Column,
      s: Int, subDim: Int, k: Int, iters: Int): Seq[(Long, Seq[Long])] =
    KMeansOp.lloydCentroidsLocal(
      emb.select(col(idCol), slice(embCol, s * subDim + 1, subDim).as("e")),
      idCol, col("e"), k, iters)

  /** The SQ8 global-scale TRAINING aggregate — the corpus max
    * |coordinate| as an exact double. One spelling shared by the batch
    * tier's in-flight SQ8 queries, the persisted IVF_SQ8 index build,
    * the session quantizer handle, and a rebuilt CDC generation's amax
    * refit: their bit-identity is a pinned serving contract (a
    * last-ulp drift in the scale flips floor() boundary codes), so the
    * expression must never be re-spelled inline.
    */
  def amaxExpr(emb: Column): Column =
    max(array_max(transform(emb, e => abs(e.cast("double")))))

  /** Nearest-codebook-entry argmin against a DRIVER-LOCAL codebook: min
    * over the k-element literal candidate array of (dist, cid) structs —
    * struct ordering compares dist first, then cid, so ties break to the
    * lower centroid id (the shared engine/oracle convention, identical
    * to KMeansOp.assign's (dist, cid) min but with no join and no
    * shuffle: the whole argmin is one codegen'd map-side expression).
    * Works for any bounded codebook — PQ sub-codebooks and the coarse
    * IVF quantizer alike.
    */
  def nearestCid(vec: Column, book: Seq[(Long, Seq[Long])]): Column =
    array_min(array(book.map { case (cid, c) =>
      struct(KMeansOp.intDist(vec, typedLit(c)).as("dist"),
        lit(cid).as("cid"))
    }: _*)).getField("cid")

  /** Encode scaled-integer vectors (vec_id, v) into their PQ codes:
    * (vec_id, code_0 … code_{m-1}). One narrow projection — this IS the
    * compressed index a PQ deployment persists.
    */
  def encode(vecs: DataFrame, books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int): DataFrame =
    vecs.select(col("vec_id") +:
      books.zipWithIndex.map { case (book, s) =>
        nearestCid(slice(col("v"), s * subDim + 1, subDim), book)
          .as(s"code_$s")
      }: _*)

  /** Coarse-residual projection: each vector's cell and the INTEGER
    * residual v − centroid[cell] — the space the true IVFADC (Jégou et
    * al. §IV.B) product-quantizes, so codes spend their bits on the
    * within-cell offset instead of re-encoding the cell position.
    * Exact BIGINT subtraction; the centroid lookup is a broadcast map
    * literal (bounded k entries), the whole projection shuffle-free.
    */
  def residuals(vecs: DataFrame, coarse: Seq[(Long, Seq[Long])]): DataFrame = {
    val centsMap = typedLit(coarse.toMap)
    val cell = nearestCid(col("v"), coarse)
    vecs.select(col("vec_id"), cell.as("cell"),
      zip_with(col("v"), element_at(centsMap, cell), (x, c) => x - c).as("r"))
  }

  /** The full index projection: each scaled-integer vector's coarse IVF
    * cell AND its PQ codes in ONE shuffle-free pass —
    * (vec_id, cell, code_0 … code_{m-1}). This is what an IVFADC build
    * persists, and what continuous index maintenance appends per batch.
    */
  def indexProjection(vecs: DataFrame, coarse: Seq[(Long, Seq[Long])],
      books: Seq[Seq[(Long, Seq[Long])]], subDim: Int): DataFrame =
    vecs.select(
      col("vec_id") +:
      nearestCid(col("v"), coarse).as("cell") +:
      books.zipWithIndex.map { case (book, s) =>
        nearestCid(slice(col("v"), s * subDim + 1, subDim), book)
          .as(s"code_$s")
      }: _*)

  /** ADC lookup tables for one query vector: per subspace, the integer
    * distance from the query's subvector to every codebook entry.
    * Bounded (k entries per subspace) and driver-computed — the tables
    * ship to executors as map literals.
    */
  def adcTables(query: Seq[Long], books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int): Seq[Map[Long, Long]] =
    books.zipWithIndex.map { case (book, s) =>
      val qSub = query.slice(s * subDim, (s + 1) * subDim)
      book.map { case (cid, c) => cid -> KMeansOp.intDistLocal(c, qSub) }.toMap
    }

  /** Asymmetric distance of a code row: the per-subspace LUT entries
    * of its `code_s` columns, summed.
    */
  private[graft] def adcDist(luts: Seq[Map[Long, Long]]): Column =
    luts.zipWithIndex.map { case (lut, s) =>
      element_at(typedLit(lut), col(s"code_$s"))
    }.reduce(_ + _)

  /** Approximate top-k by asymmetric distance: scan the code table,
    * sum the per-subspace LUT entries, take the k lowest (ties to the
    * lower vec_id). Output (vec_id, adc_scaled).
    */
  def adcTopK(codes: DataFrame, luts: Seq[Map[Long, Long]], k: Int): DataFrame =
    codes.select(col("vec_id"), adcDist(luts).as("adc_scaled"))
      .orderBy(col("adc_scaled").asc, col("vec_id").asc)
      .limit(k)

  // ---- The SQ8 codec, in ONE spelling ------------------------------
  //
  // Every SQ8 code and decode in the engine is one of the expressions
  // below: the batch tiers' array forms (`transform` over these, with
  // the trained scales as columns of a broadcast relation), the
  // maintained index's per-column forms (frozen scales passed as `lit`,
  // which Catalyst folds to the same doubles), and the driver-side
  // query mirror. Corpus codes, query codes and decodes must agree
  // bit-for-bit across all of them (the CdcIndexSpec parity pins), so
  // none of them may be re-spelled inline. floor(x + 0.5) mirrors
  // q_quantize_embeddings' convention (ROUND-on-double differs across
  // engines; floor does not).

  /** One coordinate's code under the GLOBAL symmetric scale amax/127
    * (FAISS's QT_8bit_uniform): floor(e / (amax/127) + 0.5), and 0 when
    * the trained amax is 0. The scale is shared by corpus and query, so
    * integer L2 over the codes is exact BIGINT and rank-equivalent to
    * the dequantized distance.
    */
  private[graft] def sq8Code(e: Column, amax: Column): Column =
    when(amax === 0.0, lit(0L))
      .otherwise(floor(e.cast("double") / (amax / lit(127.0)) + lit(0.5))
        .cast("long"))

  /** Driver-side mirror of [[sq8Code]] — identical IEEE ops. */
  private[graft] def sq8CodeLocal(e: Double, amax: Double): Long =
    if (amax == 0.0) 0L else math.floor(e / (amax / 127.0) + 0.5).toLong

  /** One coordinate's code under its dimension's trained [mn, mx]
    * interval (FAISS's QT_8bit): floor((e − mn)/Δ + 0.5) with
    * Δ = (mx − mn)/255 computed first, and 0 on a constant dimension.
    */
  private[graft] def sq8DimCode(e: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L))
      .otherwise(floor((e.cast("double") - mn) / ((mx - mn) / lit(255.0))
        + lit(0.5)).cast("long"))

  /** Dequantize one per-dim code back into the shared ×10^6 integer
    * domain: floor((mn + c·Δ)·10^6). Search over per-dim codes is
    * asymmetric (FAISS's DC convention): the corpus code decodes, the
    * query is never quantized, so quantization error enters once.
    */
  private[graft] def sq8DimDecode(c: Column, mn: Column, mx: Column): Column =
    floor((mn + c.cast("double") * ((mx - mn) / lit(255.0)))
      * lit(1000000.0)).cast("long")

  // ---- Batch serving ------------------------------------------------

  /** The sorted (dist, cid) coarse-argmin array for a probe's vector
    * column — ONE spelling of the per-qid probe-cell derivation, shared
    * by the batch serving dataflows and [[pinProbesWithCells]] (ties to
    * the lower cid, the engine/oracle convention): `slice(_, 1, nProbe)`
    * of this array IS the probe's cell list.
    */
  private[graft] def probeCellArr(coarse: Seq[(Long, Seq[Long])],
      v: Column): Column =
    array_sort(array(coarse.map { case (cid, cv) =>
      struct(KMeansOp.intDist(v, typedLit(cv)).as("dist"),
        lit(cid).as("cid"))
    }: _*))

  /** Each probe's nProbe nearest coarse cells as rows — the bounded
    * explode of [[probeCellArr]] over the probe vector `v`, shuffle-free
    * (the centroids are k·d literals). Output (qid, payload…, cell): the
    * named `payload` columns of `probes` ride along.
    */
  private[graft] def probeCellRows(probes: DataFrame,
      coarse: Seq[(Long, Seq[Long])], v: Column, nProbe: Int,
      payload: String*): DataFrame = {
    val keep = col("qid") +: payload.map(col)
    probes
      .select(keep :+ explode(slice(probeCellArr(coarse, v), 1, nProbe))
        .as("pc"): _*)
      .select(keep :+ col("pc.cid").as("cell"): _*)
  }

  /** The per-probe top-k tail every batch tier shares: rank each qid's
    * rows of `scored` by (`dist`, vec_id) — ties to the lower vec_id —
    * keep the k lowest, and return (qid, rnk, vec_id, `dist`) ordered by
    * (qid, rnk), with rnk widened to BIGINT in the output.
    */
  private[graft] def perProbeTopK(scored: DataFrame, dist: String,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col(dist).asc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        col("vec_id"), col(dist))
      .orderBy(col("qid").asc, col("rnk").asc)
  }

  /** A probe frame that [[pinProbes]] has deduplicated on qid and
    * checkpointed — the type-level witness the batch dataflows accept
    * so a caller that already pinned never pays a second checkpoint
    * job (the r19 double-pin: the committed-state batch search pinned, then
    * `adcBatchServe` unconditionally re-pinned the same frame — a
    * redundant Q-row job per batch query). The constructor is private
    * to this object, so the ONLY way to mint the witness is the one
    * pinning spelling below; holding a `PinnedProbes` IS the proof the
    * checkpoint happened.
    */
  final class PinnedProbes private[ProductQuantizer] (val df: DataFrame)

  /** Deduplicate a probe frame on qid and PIN it (one bounded exchange
    * + checkpoint over Q rows) — the ONE probe-pinning spelling every
    * batch serving consumer shares: the pinned frame feeds multiple
    * subtrees (the collected listing-prune cells, the broadcast cell
    * relation, the broadcast LUTs), and an un-pinned lineage would
    * re-execute per consumer — so a nondeterministic probe source
    * (sample, rand-ordered dedup pick, a table gaining files between
    * jobs) could disagree between them, which for the listing prune
    * means cells the join probes could be missing from the pruned
    * listing. Pinning once makes every consumer read the same Q rows.
    */
  def pinProbes(probesIn: DataFrame): PinnedProbes =
    new PinnedProbes(probesIn.dropDuplicates("qid").localCheckpoint())

  /** Dedup + pin a probe frame AND collect its DISTINCT probed cells in
    * ONE action (r21). The cells — ≤ Q·nProbe longs, algorithm-bounded
    * the way the k collected centroids are — let a serving tier over a
    * PERSISTED cell-partitioned table push a static partition predicate
    * into its file listing: the broadcast (qid, cell) join inside the
    * batch dataflows scopes which rows are SCORED per qid, but Spark
    * plants no dynamic-partition-pruning subquery for that shape
    * (verified r18), so without this predicate a batch read LISTS every
    * cell directory it will never score. One collect returns the
    * dedup'd probe rows WITH their probe-cell slices, the pinned frame
    * is rebuilt as a LocalRelation from the collected rows (pinned BY
    * VALUE — strictly stronger than the checkpoint: every consumer reads
    * literally the same rows), and the cells fall out of the extra
    * column. Evaluates the same [[probeCellArr]] expression the serving
    * joins evaluate, so the pruned listing is a superset of every
    * (qid, cell) the join touches by construction. `v` names the vector
    * column (default `v`; SQ8 callers pass the int-scaled view of their
    * raw-embedding column).
    */
  def pinProbesWithCells(probesIn: DataFrame, coarse: Seq[(Long, Seq[Long])],
      nProbe: Int, v: Column = col("v")): (PinnedProbes, Seq[Long]) = {
    val spark = probesIn.sparkSession
    val base = probesIn.dropDuplicates("qid")
    val withCells = base.withColumn("__cells",
      transform(slice(probeCellArr(coarse, v), 1, nProbe),
        p => p.getField("cid")))
    val rows = withCells.collect()
    val cellIdx = withCells.schema.fieldIndex("__cells")
    val cells = rows.iterator
      .flatMap(_.getSeq[Long](cellIdx)).toArray.distinct.sorted.toSeq
    val pinnedRows = java.util.Arrays.asList(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(
        r.toSeq.patch(cellIdx, Nil, 1))): _*)
    (new PinnedProbes(spark.createDataFrame(pinnedRows, base.schema)), cells)
  }

  /** The bounded codebook-entry relation (sub, code, c): m·k rows, the
    * broadcast side of every per-probe LUT build.
    */
  private def bookRows(s: SparkSession,
      books: Seq[Seq[(Long, Seq[Long])]]): DataFrame = {
    import s.implicits._
    (for {
      (book, sub) <- books.zipWithIndex
      (cid, c) <- book
    } yield (sub, cid, c)).toDF("sub", "code", "c")
  }

  /** The ADC scoring body both batch encodings share: melt each
    * candidate code row per subspace into (probeKeys…, vec_id, sub,
    * code), join the broadcast LUT relation on probeKeys + (sub, code),
    * sum per (qid, vec_id), keep only rows all m subspaces matched (the
    * `nsub === m` exactness filter), and rank per probe. `probeKeys` is
    * (qid) for plain PQ and (qid, cell) for the residual encoding,
    * whose LUTs are per probed cell — there the cell key doubles as the
    * probed-cell filter.
    */
  private def adcRankBatch(cand: DataFrame, luts: DataFrame,
      probeKeys: Seq[String], m: Int, topK: Int): DataFrame = {
    val codesLong = cand.select(probeKeys.map(col) :+ col("vec_id") :+
      posexplode(array((0 until m).map(i => col(s"code_$i")): _*))
        .as(Seq("sub", "code")): _*)
    val adc = codesLong
      .join(broadcast(luts), probeKeys ++ Seq("sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("adc_scaled"), count(lit(1)).as("nsub"))
      .where(col("nsub") === m)
    perProbeTopK(adc, "adc_scaled", topK)
  }

  /** Public entry for an un-pinned probe frame: dedup + pin once
    * ([[pinProbes]] — the probe frame feeds two broadcast relations,
    * cells and LUTs, so an un-pinned dedup would re-execute per
    * subtree and a nondeterministic duplicate pick could disagree
    * between them), then serve. A caller that already holds the
    * [[PinnedProbes]] witness (because it collected listing-prune
    * cells from the same frame) calls the pinned overload directly —
    * exactly one checkpoint job on every batch path.
    */
  def adcBatchServe(indexed: DataFrame, probesIn: DataFrame,
      coarse: Seq[(Long, Seq[Long])], books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int, nProbe: Int, topK: Int): DataFrame =
    adcBatchServe(indexed, pinProbes(probesIn), coarse, books, subDim,
      nProbe, topK)

  /** Batch IVFADC serving over an INDEXED code table — the whole
    * serving dataflow with BOTH sides distributed, shared by the batch
    * query tier (SemanticQ) and the committed-state serving tier
    * (IndexStream). `indexed` must carry (vec_id, cell, code_0 …);
    * the probes are any (qid, v) frame — a probe fleet is a DataFrame,
    * not a driver loop:
    *
    *  - per-qid nProbe-nearest coarse cells: [[probeCellRows]], the
    *    same literal-argmin the corpus side's [[indexProjection]] uses,
    *    generalized to argmin-n.
    *  - per-qid ADC LUTs: the probes joined against the BOUNDED
    *    codebook-entry relation (m·k rows, broadcast) with a
    *    per-subspace slice — Q·m·k LUT rows built by executors.
    *  - both probe-side relations ship as BROADCASTS; the cell join
    *    prunes the code table BEFORE the per-subspace melt, so only
    *    probed-cell rows reach the LUT join and the (qid, vec)
    *    aggregation. Exchanges stay at the aggregation + the qid rank
    *    window regardless of probe count (plan-pinned in PqSpec).
    *
    * Output (qid, rnk, vec_id, adc_scaled), top-k per qid, ordered.
    *
    * The probe frame is deduplicated on qid first (one bounded
    * exchange over Q rows): a duplicated probe row would otherwise
    * duplicate both its probe-cell rows and its LUT rows, making every
    * candidate's per-subspace join fan out and fail the `nsub === m`
    * exactness filter — zero results for that qid instead of its
    * top-k. Distinct VECTORS under one qid remain a caller error (the
    * dedup keeps one arbitrarily, as the replaced driver-side `.toMap`
    * did).
    */
  def adcBatchServe(indexed: DataFrame, pinned: PinnedProbes,
      coarse: Seq[(Long, Seq[Long])], books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int, nProbe: Int, topK: Int): DataFrame = {
    val probes = pinned.df
    val probeCells = probeCellRows(probes, coarse, col("v"), nProbe)
    val luts = probes.crossJoin(broadcast(bookRows(indexed.sparkSession, books)))
      .select(col("qid"), col("sub"), col("code"),
        KMeansOp.intDist(
          slice(col("v"), col("sub") * lit(subDim) + lit(1), lit(subDim)),
          col("c")).as("d"))
    // coarse filter FIRST: the broadcast (qid, cell) join prunes the
    // code table to probed cells before any per-subspace work
    adcRankBatch(indexed.join(broadcast(probeCells), Seq("cell")), luts,
      Seq("qid"), books.size, topK)
  }

  /** The residual-index projection a residual-IVFADC build persists:
    * (vec_id, cell, code_0 …) where the codes quantize v −
    * centroid[cell] ([[residuals]]) against the residual-trained
    * codebooks — one shuffle-free pass, the residual twin of
    * [[indexProjection]].
    */
  def residualIndexProjection(vecs: DataFrame, coarse: Seq[(Long, Seq[Long])],
      books: Seq[Seq[(Long, Seq[Long])]], subDim: Int): DataFrame = {
    val res = residuals(vecs, coarse)
    res.select(
      col("vec_id") +: col("cell") +:
      books.zipWithIndex.map { case (book, s) =>
        nearestCid(slice(col("r"), s * subDim + 1, subDim), book)
          .as(s"code_$s")
      }: _*)
  }

  /** Batch serving over the RESIDUAL index — [[adcBatchServe]] for
    * FAISS's default encoding, where the ADC tables are PER PROBED
    * CELL (the query's residual differs per cell, Jégou et al. §IV.B).
    * All probe-side relations are dataflows:
    *
    *  - per-qid nProbe-nearest cells exactly as [[adcBatchServe]];
    *  - per-(qid, cell) query residuals: the probe-cell relation
    *    carrying the probe vector, with the cell centroid looked up in
    *    a bounded broadcast map literal — `rv = v − centroid[cell]` is
    *    one zip_with projection;
    *  - per-(qid, cell) LUTs: the residual rows against the broadcast
    *    codebook-entry relation — Q·nProbe·m·k rows, executor-built.
    *
    * The scan joins the LUT on (qid, CELL, sub, code) — the cell key
    * doubles as the probed-cell filter, the same trick the
    * single-probe q_ann_ivfpq_res plays with its chained-when LUTs.
    * Exchanges stay at the aggregation + the qid rank window.
    *
    * Probes are deduplicated on qid first, for the same fan-out
    * exactness reason as [[adcBatchServe]]; the DataFrame entry pins
    * once and delegates, the [[PinnedProbes]] overload serves a frame
    * the caller already pinned (no second checkpoint job).
    */
  def adcBatchServeResidual(indexed: DataFrame, probesIn: DataFrame,
      coarse: Seq[(Long, Seq[Long])], books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int, nProbe: Int, topK: Int): DataFrame =
    adcBatchServeResidual(indexed, pinProbes(probesIn), coarse, books,
      subDim, nProbe, topK)

  def adcBatchServeResidual(indexed: DataFrame, pinned: PinnedProbes,
      coarse: Seq[(Long, Seq[Long])], books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int, nProbe: Int, topK: Int): DataFrame = {
    val probeCells = probeCellRows(pinned.df, coarse, col("v"), nProbe, "v")
    val centsMap = typedLit(coarse.toMap)
    val qres = probeCells.select(col("qid"), col("cell"),
      zip_with(col("v"), element_at(centsMap, col("cell")),
        (x, c) => x - c).as("rv"))
    val luts = qres.crossJoin(broadcast(bookRows(indexed.sparkSession, books)))
      .select(col("qid"), col("cell"), col("sub"), col("code"),
        KMeansOp.intDist(
          slice(col("rv"), col("sub") * lit(subDim) + lit(1), lit(subDim)),
          col("c")).as("d"))
    val cand = indexed.join(
      broadcast(probeCells.select(col("qid"), col("cell"))), Seq("cell"))
    adcRankBatch(cand, luts, Seq("qid", "cell"), books.size, topK)
  }
}
