package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
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
  *   - training: one bounded collect of the scaled vectors
  *     (`KMeansOp.points`), then per subspace the 2-round integer Lloyd
  *     of `KMeansOp.lloydCentroidsInMemory` on driver-side slices
  *     (floor-then-slice ≡ slice-then-floor, elementwise);
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

  /** Per-subspace codebooks: the scaled embeddings collected once,
    * then `m` independent integer-Lloyd fits over their subspace slices
    * ([[fitSubspaces]]). Returns one (cid, centroid) list per subspace;
    * cids are the seed vec_ids (the k lowest), exactly the
    * [[KMeansOp.lloydCentroidsLocal]] convention. Driver-held and
    * bounded: m·k·subDim BIGINTs.
    */
  def train(emb: DataFrame, idCol: String, embCol: Column,
      m: Int, subDim: Int, k: Int, iters: Int): Seq[Seq[(Long, Seq[Long])]] =
    fitSubspaces(KMeansOp.points(emb.select(col(idCol).as("vec_id"),
      KMeansOp.intVec(embCol).as("v"))), m, subDim, k, iters)

  /** `m` integer-Lloyd fits over collected points, subspace s being
    * dims [s·subDim, (s+1)·subDim) of each row. */
  private[operators] def fitSubspaces(pts: KMeansOp.Points, m: Int, subDim: Int,
      k: Int, iters: Int): Seq[Seq[(Long, Seq[Long])]] =
    (0 until m).map(s => KMeansOp.lloydCentroidsInMemory(
      pts.map(_.slice(s * subDim, (s + 1) * subDim)), k, iters))

  /** The SQ8 global-scale TRAINING aggregate — the corpus max
    * |coordinate| as an exact double, [[Encoding.train]]'s one spelling:
    * a last-ulp drift in the scale flips floor() boundary codes.
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
    * (vec_id, code_0 … code_{m-1}). One narrow projection.
    */
  def encode(vecs: DataFrame, books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int): DataFrame =
    vecs.select(col("vec_id") +: codeCols(col("v"), books, subDim): _*)

  /** The m code columns of vector column `v`: per subspace, the
    * nearest codebook entry of its slice.
    */
  private[graft] def codeCols(v: Column, books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int): Seq[Column] =
    books.zipWithIndex.map { case (book, s) =>
      nearestCid(slice(v, s * subDim + 1, subDim), book).as(s"code_$s")
    }

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

  /** ADC lookup tables for one query vector: per subspace, the integer
    * distance from the query's subvector to every codebook entry.
    * Bounded (k entries per subspace) and driver-computed — the tables
    * ship to executors as map literals.
    */
  def adcTables(query: Seq[Long], books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int): Seq[Map[Long, Long]] =
    books.zipWithIndex.map { case (book, s) =>
      val qSub = query.slice(s * subDim, (s + 1) * subDim).toArray
      book.map { case (cid, c) => cid -> KMeansOp.intDistLocal(c.toArray, qSub) }.toMap
    }

  /** Asymmetric distance of a code row: the per-subspace LUT entries
    * of its `code_s` columns, summed.
    */
  private[graft] def adcDist(luts: Seq[Map[Long, Long]]): Column =
    luts.zipWithIndex.map { case (lut, s) =>
      element_at(typedLit(lut), col(s"code_$s"))
    }.reduce(_ + _)

  // ---- The SQ8 codec, in ONE spelling ------------------------------
  //
  // Every SQ8 code and decode in the engine is one of the expressions
  // below: per code column under frozen scales passed as `lit` (the
  // corpus projection and the per-dim decode, [[Quantizers]]), the
  // `transform` form for a batch probe frame's query codes, and the
  // driver-side query mirror. Corpus codes, query codes and decodes
  // must agree bit-for-bit across all of them (the CdcIndexSpec parity
  // pins), so none of them may be re-spelled inline. floor(x + 0.5)
  // mirrors q_quantize_embeddings' convention (ROUND-on-double differs
  // across engines; floor does not).

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

  /** Driver-side mirror of [[sq8DimDecode]] — identical IEEE ops. */
  private[graft] def sq8DimDecodeLocal(c: Long, mn: Double, mx: Double): Long =
    math.floor((mn + c.toDouble * ((mx - mn) / 255.0)) * 1000000.0).toLong

  // ---- Batch serving ------------------------------------------------

  /** The sorted (dist, cid) coarse-argmin array for a probe's vector
    * column — ONE spelling of the per-qid probe-cell derivation, shared
    * by the batch scorers and [[pinProbesWithCells]] (ties to
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

  /** A probe frame deduplicated on qid and pinned — the type-level
    * witness the batch scorers accept, so every consumer of the frame
    * (the collected listing-prune cells, the broadcast cell relation,
    * the broadcast LUTs) reads the same Q rows and none pays a second
    * pin. Only [[pinProbesWithCells]] mints one in the engine.
    */
  final class PinnedProbes private[operators] (val df: DataFrame)

  /** Dedup + pin a probe frame AND collect its DISTINCT probed cells in
    * ONE action. The cells — ≤ Q·nProbe longs, algorithm-bounded the way
    * the k collected centroids are — let a serving tier over a
    * PERSISTED cell-partitioned table push a static partition predicate
    * into its file listing: the broadcast (qid, cell) join inside the
    * batch scorers scopes which rows are SCORED per qid, but Spark
    * plants no dynamic-partition-pruning subquery for that shape, so
    * without this predicate a batch read LISTS every cell directory it
    * will never score. One collect returns the dedup'd probe rows WITH
    * their probe-cell slices; the pinned frame is rebuilt as a
    * LocalRelation from those rows (pinned BY VALUE: every consumer
    * reads literally the same rows, so a nondeterministic probe source
    * cannot disagree between them), and the cells fall out of the extra
    * column. It evaluates the same [[probeCellArr]] expression the
    * serving joins evaluate, so the pruned listing is a superset of
    * every (qid, cell) the join touches. The qid dedup matters for
    * exactness: a duplicated probe row would fan out its cell and LUT
    * rows and fail the `nsub === m` filter. `v` names the vector column.
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

  /** The per-probe ADC LUT relation: each (qid, `keys`…, v) probe row
    * against the BOUNDED codebook-entry relation (m·k rows, broadcast),
    * giving (qid, keys…, sub, code, d) with d the integer distance of
    * the probe's subspace slice to that entry — built by executors,
    * never on the driver.
    */
  private[graft] def lutRows(probes: DataFrame, books: Seq[Seq[(Long, Seq[Long])]],
      subDim: Int, keys: String*): DataFrame = {
    val s = probes.sparkSession
    import s.implicits._
    val entries = (for {
      (book, sub) <- books.zipWithIndex
      (cid, c) <- book
    } yield (sub, cid, c)).toDF("sub", "code", "c")
    probes.crossJoin(broadcast(entries))
      .select((col("qid") +: keys.map(col)) ++ Seq(col("sub"), col("code"),
        KMeansOp.intDist(
          slice(col("v"), col("sub") * lit(subDim) + lit(1), lit(subDim)),
          col("c")).as("d")): _*)
  }

  /** The ADC scoring body of the batch PQ scorers: melt each candidate
    * code row per subspace into (probeKeys…, vec_id, sub, code), join
    * the broadcast LUT relation on probeKeys + (sub, code), sum per
    * (qid, vec_id), keep only rows all m subspaces matched (the
    * `nsub === m` exactness filter), and rank per probe. Exchanges stay
    * at the aggregation + the qid rank window regardless of probe count.
    */
  private[graft] def adcRankBatch(cand: DataFrame, luts: DataFrame,
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
}
