package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The ANN encoding core. A trained [[Quantizers]] (frozen coarse
  * centroids + one [[Encoding]]) owns the four steps every IVF tier is
  * made of, each spelled once:
  *  - [[Encoding.train]]: fit the encoding on a corpus snapshot (the
  *    batch tiers' memoized quantizers and a CDC rebuild both call it);
  *  - [[Quantizers.project]]: raw (vec_id, embedding) rows to the one
  *    index layout (vec_id, cell, code_0 … code_{m−1}), which in-flight
  *    scans read directly, persisted tiers write `partitionBy(cell)`,
  *    and CDC maintenance appends per batch;
  *  - a literal single-probe distance and a batch scorer over code rows;
  *  - [[Quantizers.serve]]: top-k for one probe or a probe frame over
  *    any layout DataFrame — in-flight projection, persisted dir, or
  *    maintained live state alike.
  * Everything is exact BIGINT arithmetic after the double-valued scale
  * training, so the DuckDB oracles replay every tier bit-for-bit.
  */
sealed trait Encoding

object Encoding {

  /** An untrained encoding family — what [[train]] fits; `name` keys
    * its memoized and persisted artifacts.
    */
  sealed abstract class Kind(val name: String)

  /** Plain PQ (Jégou et al.): per-subspace codebooks quantize v. */
  case object Pq extends Kind("pq") with Encoding

  /** Residual PQ (FAISS's default IVFADC): the codebooks quantize
    * v − centroid[cell], so a probe's ADC tables are per probed cell.
    */
  case object ResidualPq extends Kind("pqres") with Encoding

  /** OPQ as a dimension allocation (Ge et al.'s permutation subgroup):
    * `perm` is the flat subspace-major permutation, and the coarse
    * centroids and codebooks live in the PERMUTED domain. A permutation
    * preserves every L2 distance, so cells equal the raw domain's.
    */
  final case class Opq(perm: Seq[Int]) extends Encoding
  object Opq extends Kind("opq")

  /** SQ8 under the global symmetric scale amax/127 (QT_8bit_uniform):
    * one code per dimension, symmetric code-space distance. Probes must
    * carry their RAW embedding, since the query is coded like the corpus.
    */
  final case class Sq8(amax: Double) extends Encoding
  object Sq8 extends Kind("sq8")

  /** SQ8 with a trained [vmn, vmx] interval per dimension (QT_8bit):
    * asymmetric search, the corpus code decodes into the ×10^6 integer
    * domain and the query is never quantized.
    */
  final case class Sq8Dim(vmn: Seq[Double], vmx: Seq[Double]) extends Encoding
  object Sq8Dim extends Kind("sq8dim")

  /** A raw embedding's scaled-integer vector: the driver mirror of
    * [[KMeansOp.intVec]] (floor(e·10^6), identical IEEE ops).
    */
  def scaled(emb: Seq[Double]): Seq[Long] =
    emb.map(e => math.floor(e * 1000000d).toLong)

  /** The permuted view of a vector column: the dims of `p`, in order. */
  private[operators] def permute(v: Column, p: Seq[Int]): Column =
    array(p.map(i => element_at(v, i + 1)): _*)

  /** The read schema of a persisted layout dir written
    * `partitionBy(cell)`: explicit, so `cell` keeps its written LongType
    * and the probe predicate prunes the listing long-to-long.
    */
  def layoutSchema(m: Int): StructType =
    StructType(StructField("vec_id", LongType) +:
      (0 until m).map(i => StructField(s"code_$i", LongType)) :+
      StructField("cell", LongType))

  /** OPQ's dimension permutation — the pre-rotation step of Optimized
    * Product Quantization (Ge et al., CVPR 2013): PQ's distortion drops
    * when per-subspace variance is balanced, so OPQ applies an
    * orthogonal transform before the subspace split. Here the transform
    * is restricted to the PERMUTATION subgroup of the rotation family
    * (the paper's parametric "eigenvalue allocation", with the identity
    * eigenbasis) so both engines replay it EXACTLY: over the collected
    * scaled-integer training set, rank dimensions by the exact-BIGINT
    * first-absolute-moment energy Σ_rows |v_d| (ties to the lower
    * dimension index — overflow-safe to ~10^12 rows at the ×10^6
    * scale), deal them round-robin across `m` subspaces so no subspace
    * gets every high-energy dimension, and concatenate each subspace's
    * dims in rank order. Under ANSI the abs and the sum throw on Long
    * overflow, as Spark's `sum(abs(x))` does; without it both wrap.
    */
  private[graft] def opqPermutation(pts: KMeansOp.Points, m: Int): Seq[Int] = {
    val exact = SQLConf.get.ansiEnabled
    val energy = new Array[Long](if (pts.size == 0) 0 else pts.rows(0).length)
    pts.rows.foreach { v =>
      var i = 0
      while (i < energy.length) {
        energy(i) =
          if (exact) Math.addExact(energy(i), Math.absExact(v(i)))
          else energy(i) + math.abs(v(i))
        i += 1
      }
    }
    val ranked = energy.indices.sortBy(i => (-energy(i), i))
    (0 until m).flatMap(sub =>
      ranked.zipWithIndex.collect { case (pos, r) if r % m == sub => pos })
  }

  /** Fit `kind` on the (vec_id, embedding) `corpus` against the frozen
    * `coarse` centroids: m subspace codebooks of k entries (`iters`
    * integer Lloyd rounds) for the PQ family, the scale(s) for SQ8. A
    * PQ-family fit collects its integer training set once
    * ([[KMeansOp.points]]: the vectors, or their coarse residuals for
    * residual PQ) and slices (OPQ: permutes, then slices) on the driver.
    */
  def train(kind: Kind, corpus: DataFrame, coarse: Seq[(Long, Seq[Long])],
      k: Int, iters: Int, m: Int, subDim: Int): Quantizers = {
    lazy val vecs = corpus.select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    def fit(pts: KMeansOp.Points) =
      ProductQuantizer.fitSubspaces(pts, m, subDim, k, iters)
    kind match {
      case Pq => Quantizers(coarse, ProductQuantizer.train(
        corpus, "vec_id", col("embedding"), m, subDim, k, iters), subDim)
      case ResidualPq => Quantizers(coarse, fit(KMeansOp.points(
        ProductQuantizer.residuals(vecs, coarse).select(col("vec_id"), col("r").as("v")))),
        subDim, ResidualPq)
      case Opq =>
        val pts = KMeansOp.points(vecs)
        val p = opqPermutation(pts, m)
        val pa = p.toArray
        Quantizers(coarse.map { case (cid, c) => (cid, p.map(c(_))) },
          fit(pts.map(v => pa.map(i => v(i)))), subDim, Opq(p))
      case Sq8 => Quantizers(coarse, Nil, subDim, Sq8(
        corpus.agg(ProductQuantizer.amaxExpr(col("embedding"))).head().getDouble(0)))
      case Sq8Dim =>
        // exact double min/max per dimension: order-insensitive, so no
        // aggregation order can drift the trained intervals
        val rows = corpus.select(posexplode(col("embedding")).as(Seq("pos", "e")))
          .groupBy(col("pos"))
          .agg(min(col("e").cast("double")), max(col("e").cast("double")))
          .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        Quantizers(coarse, Nil, subDim, Sq8Dim(rows.map(_._2), rows.map(_._3)))
    }
  }
}

/** A frozen index artifact: coarse centroids (k·d BIGINTs), per-subspace
  * codebooks (empty for SQ8), the subspace width, and the [[Encoding]].
  * Every combination it can hold is a servable index.
  */
final case class Quantizers(coarse: Seq[(Long, Seq[Long])],
    books: Seq[Seq[(Long, Seq[Long])]], subDim: Int,
    encoding: Encoding = Encoding.Pq) {
  import Encoding._

  encoding match {
    case Opq(p) => require(p.length == dim && p.sorted == p.indices,
      "an OPQ perm must be a permutation of ALL dimension indices — a " +
        "short permutation would silently truncate every permuted vector")
    case _ =>
  }

  /** Vector dimensionality, from the coarse centroids. */
  def dim: Int = coarse.head._2.size

  /** Code columns per row: one per PQ subspace, one per dimension for SQ8. */
  def m: Int = encoding match {
    case Sq8(_) | Sq8Dim(_, _) => dim
    case _ => books.size
  }

  /** The served distance column: ADC for the PQ family, code-space L2
    * for SQ8.
    */
  def distName: String = encoding match {
    case Sq8(_) | Sq8Dim(_, _) => "qdist"
    case _ => "adc_scaled"
  }

  /** The same quantizers with ONE all-zero coarse cell: flat (non-IVF)
    * search is IVF with every row in cell 0, served at nProbe = 1.
    */
  def flat: Quantizers = copy(coarse = Seq(0L -> Seq.fill(dim)(0L)))

  /** Raw (vec_id, embedding) rows → the layout (vec_id, cell, code_0 …
    * code_{m−1}): one shuffle-free projection, every argmin a
    * literal-codebook min with ties to the lower id.
    */
  def project(emb: DataFrame): DataFrame = {
    val vecs = emb.select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))
    // one code per dimension of the raw coordinates, under the frozen
    // scale(s) passed as literals to the shared codec
    def scalarCodes(code: (Column, Int) => Column) = emb.select(col("vec_id") +:
      ProductQuantizer.nearestCid(KMeansOp.intVec(col("embedding")), coarse).as("cell") +:
      (0 until dim).map(i => code(element_at(col("embedding"), i + 1), i)
        .as(s"code_$i")): _*)
    encoding match {
      case Sq8(amax) => scalarCodes((e, _) => ProductQuantizer.sq8Code(e, lit(amax)))
      case Sq8Dim(vmn, vmx) => scalarCodes((e, i) =>
        ProductQuantizer.sq8DimCode(e, lit(vmn(i)), lit(vmx(i))))
      case ResidualPq =>
        ProductQuantizer.residuals(vecs, coarse).select(col("vec_id") +: col("cell") +:
          ProductQuantizer.codeCols(col("r"), books, subDim): _*)
      case _ =>
        val w = encoding match {
          case Opq(p) => vecs.select(col("vec_id"), permute(col("v"), p).as("v"))
          case _ => vecs
        }
        w.select(col("vec_id") +: ProductQuantizer.nearestCid(col("v"), coarse).as("cell") +:
          ProductQuantizer.codeCols(col("v"), books, subDim): _*)
    }
  }

  /** Top-k of one probe (its raw embedding) over `layout`: the nProbe
    * cells nearest the probe, their rows scored by the literal
    * single-probe distance, ties to the lower vec_id. Output
    * (vec_id, [[distName]]).
    */
  def serve(layout: DataFrame, probe: Seq[Double], nProbe: Int, k: Int): DataFrame = {
    val (cells, t) = localProbe(probe, nProbe)
    val dist = encoding match {
      case Sq8(_) | Sq8Dim(_, _) => codeDist(i => lit(t(i)))
      case ResidualPq =>
        // the query residual differs per probed cell: one LUT set per
        // cell, chosen per row by a chained `when` on its cell
        val lut = residualLuts(t, cells, _ - _)
        books.indices.map { i =>
          def at(c: Long) = element_at(typedLit(lut(c)(i)), col(s"code_$i"))
          cells.tail.foldLeft(when(col("cell") === cells.head, at(cells.head))) {
            (acc, c) => acc.when(col("cell") === c, at(c))
          }
        }.reduce(_ + _)
      case _ => ProductQuantizer.adcDist(ProductQuantizer.adcTables(t.toSeq, books, subDim))
    }
    layout.where(col("cell").isin(cells: _*))
      .select(col("vec_id"), dist.as(distName))
      .orderBy(col(distName).asc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-probe top-k of a probe FRAME over `layout`: (qid, v) scaled
    * vectors — (qid, embedding) raw ones for [[Encoding.Sq8]], see
    * [[probes]]. The frame is deduplicated on qid and pinned by value in
    * the one action that also collects its distinct probed cells
    * ([[ProductQuantizer.pinProbesWithCells]]); those cells prune the
    * layout's file LISTING when it is a partitioned dir, and the batch
    * scorer's broadcast (qid, cell) join scopes per-probe scoring.
    * Output (qid, rnk, vec_id, [[distName]]).
    */
  def serve(layout: DataFrame, probes: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val w = encoding match {
      case Opq(p) => probes.select(col("qid"), permute(col("v"), p).as("v"))
      case _ => probes
    }
    val (pinned, cells) = ProductQuantizer.pinProbesWithCells(w, coarse, nProbe, probeVec)
    scoreBatch(layout.where(col("cell").isin(cells: _*)), pinned, nProbe, k)
  }

  /** The probe frame of raw (vec_id, embedding) rows in this encoding's
    * convention: (qid, v), or (qid, embedding) for [[Encoding.Sq8]].
    */
  def probes(emb: DataFrame): DataFrame = encoding match {
    case Sq8(_) => emb.select(col("vec_id").as("qid"), col("embedding"))
    case _ => emb.select(col("vec_id").as("qid"),
      KMeansOp.intVec(col("embedding")).as("v"))
  }

  /** A probe frame's scaled-integer vector column. */
  private def probeVec: Column = encoding match {
    case Sq8(_) => KMeansOp.intVec(col("embedding"))
    case _ => col("v")
  }

  /** The batch scorer over candidate code rows `cand` (vec_id, cell,
    * codes…) for a pinned probe frame. Per-qid probed cells are the
    * literal-argmin rows of [[ProductQuantizer.probeCellRows]], joined
    * as a broadcast before any per-row work. The PQ family then melts
    * the codes per subspace against a broadcast per-probe LUT relation
    * (per (probe, cell) for residual PQ, whose cell key doubles as the
    * probed-cell filter); SQ8 scores the code columns directly. The
    * tail is [[ProductQuantizer.perProbeTopK]].
    */
  private[graft] def scoreBatch(cand: DataFrame, pinned: ProductQuantizer.PinnedProbes,
      nProbe: Int, k: Int): DataFrame = {
    val pq = ProductQuantizer
    encoding match {
      case Sq8(_) | Sq8Dim(_, _) =>
        val (probes, q) = encoding match {
          case Sq8(amax) => (pinned.df.withColumn("qcode", transform(col("embedding"),
            e => pq.sq8Code(e, lit(amax)))), "qcode")
          case _ => (pinned.df, "v")
        }
        val probeCells = pq.probeCellRows(probes, coarse, probeVec, nProbe, q)
        pq.perProbeTopK(cand.join(broadcast(probeCells), Seq("cell"))
          .select(col("qid"), col("vec_id"),
            codeDist(i => element_at(col(q), i + 1)).as("qdist")), "qdist", k)
      case ResidualPq =>
        val probeCells = pq.probeCellRows(pinned.df, coarse, col("v"), nProbe, "v")
        val qres = probeCells.select(col("qid"), col("cell"),
          zip_with(col("v"), element_at(typedLit(coarse.toMap), col("cell")),
            (x, c) => x - c).as("v"))
        pq.adcRankBatch(
          cand.join(broadcast(probeCells.select(col("qid"), col("cell"))), Seq("cell")),
          pq.lutRows(qres, books, subDim, "cell"), Seq("qid", "cell"), m, k)
      case _ =>
        val probeCells = pq.probeCellRows(pinned.df, coarse, col("v"), nProbe)
        // coarse filter FIRST: the broadcast (qid, cell) join prunes the
        // code rows to probed cells before any per-subspace work
        pq.adcRankBatch(cand.join(broadcast(probeCells), Seq("cell")),
          pq.lutRows(pinned.df, books, subDim), Seq("qid"), m, k)
    }
  }

  // ---- The serves' arithmetic on the driver -------------------------
  //
  // A caller that holds code rows on the driver (the CDC index's live
  // generation, graft.streaming.IndexStream) scores them with the
  // serves' own steps: the probe cells of KMeansOp.nearestCells, the
  // LUTs of ProductQuantizer.adcTables and the SQ8 code distances, each
  // under the ANSI mode of the call — Math.*Exact exactly where Spark's
  // `+`, `-`, `*` and `sum` throw.

  /** One probe of the single serve, on the driver: its nProbe cells
    * and the query terms its rows' codes are compared against — the
    * scaled vector (OPQ: permuted), or global SQ8's query codes.
    */
  private[graft] def localProbe(probe: Seq[Double], nProbe: Int): (Seq[Long], Array[Long]) = {
    val v = Encoding.scaled(probe)
    val w = encoding match { case Opq(p) => p.map(v(_)); case _ => v }
    val cells = KMeansOp.nearestCells(coarse, w, nProbe)
    val terms = encoding match {
      case Sq8(amax) => (0 until m).map(i => ProductQuantizer.sq8CodeLocal(probe(i), amax))
      case _ => w
    }
    (cells, terms.toArray)
  }

  /** The batch serve's per-probe inputs as columns of a probe frame
    * ([[probes]]): qid, the vector its cells are picked by (`v`) and
    * the query terms (`t`) — global SQ8's query codes, else `v`.
    */
  private[graft] def probeTerms(probes: DataFrame): DataFrame = encoding match {
    case Sq8(amax) => probes.select(col("qid"), probeVec.as("v"), transform(col("embedding"),
      e => ProductQuantizer.sq8Code(e, lit(amax))).as("t"))
    case Opq(p) => probes.select(col("qid"), permute(col("v"), p).as("v"),
      permute(col("v"), p).as("t"))
    case _ => probes.select(col("qid"), col("v"), col("v").as("t"))
  }

  /** The serves' distance of a row in each probed cell for query terms
    * `t`: a function of the m codes at `codes(off)` …, computed as the
    * single serve (`batch` false) or the batch serve computes it — they
    * differ in residual PQ's query residual, a driver subtraction in
    * the one and an ANSI-checked `zip_with` in the other. A code with no
    * LUT entry, where the Spark serves read NULL, throws
    * NoSuchElementException.
    */
  private[graft] def localDist(t: Array[Long], cells: Seq[Long],
      batch: Boolean): Map[Long, (Array[Long], Int) => Long] = {
    val exact = SQLConf.get.ansiEnabled
    def add(a: Long, b: Long) = if (exact) Math.addExact(a, b) else a + b
    def sub(a: Long, b: Long) = if (exact) Math.subtractExact(a, b) else a - b
    def adc(luts: Seq[Map[Long, Long]]): (Array[Long], Int) => Long = {
      val keys = luts.map(_.keys.toArray.sorted).toArray
      val vals = luts.zip(keys).map { case (l, ks) => ks.map(l) }.toArray
      (codes, off) => {
        var s = 0L; var i = 0
        while (i < keys.length) {
          val j = java.util.Arrays.binarySearch(keys(i), codes(off + i))
          if (j < 0) throw new NoSuchElementException(s"code ${codes(off + i)} has no LUT entry")
          s = if (i == 0) vals(i)(j) else add(s, vals(i)(j))
          i += 1
        }
        s
      }
    }
    def sq(decode: (Int, Long) => Long): (Array[Long], Int) => Long = (codes, off) => {
      var s = 0L; var i = 0
      while (i < m) {
        val d = sub(decode(i, codes(off + i)), t(i))
        val dd = if (exact) Math.multiplyExact(d, d) else d * d
        s = if (i == 0) dd else add(s, dd)
        i += 1
      }
      s
    }
    encoding match {
      case Sq8(_) =>
        val f = sq((_, c) => c)
        cells.map(_ -> f).toMap
      case Sq8Dim(vmn, vmx) =>
        val (mn, mx) = (vmn.toArray, vmx.toArray)
        val f = sq((i, c) => ProductQuantizer.sq8DimDecodeLocal(c, mn(i), mx(i)))
        cells.map(_ -> f).toMap
      case ResidualPq =>
        residualLuts(t, cells, if (batch) sub else _ - _).map { case (c, l) => c -> adc(l) }
      case _ =>
        val f = adc(ProductQuantizer.adcTables(t.toSeq, books, subDim))
        cells.map(_ -> f).toMap
    }
  }

  /** Residual PQ's LUTs for query terms `t`, one set per probed cell:
    * the tables of the query residual `sub(t(i), centroid(i))`.
    */
  private def residualLuts(t: Array[Long], cells: Seq[Long],
      sub: (Long, Long) => Long): Map[Long, Seq[Map[Long, Long]]] = {
    val cents = coarse.toMap
    cells.map(c => c -> ProductQuantizer.adcTables(
      t.toSeq.zip(cents(c)).map { case (x, cc) => sub(x, cc) }, books, subDim)).toMap
  }

  /** Squared L2 of the m SQ8 code COLUMNS against query terms `q(i)`:
    * symmetric over codes for [[Encoding.Sq8]]; for [[Encoding.Sq8Dim]]
    * each code first decodes under its dimension's interval and `q` is
    * the unquantized scaled query.
    */
  private def codeDist(q: Int => Column): Column =
    (0 until m).map { i =>
      val c = encoding match {
        case Sq8Dim(vmn, vmx) =>
          ProductQuantizer.sq8DimDecode(col(s"code_$i"), lit(vmn(i)), lit(vmx(i)))
        case _ => col(s"code_$i")
      }
      (c - q(i)) * (c - q(i))
    }.reduce(_ + _)
}
