package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Lloyd k-means over an embedding column in scaled-integer arithmetic —
  * the clustering primitive a SemDeDup-style semantic-dedup pipeline runs
  * first (cluster the corpus, then prune near-identical vectors inside
  * each cluster instead of all-pairs over the corpus).
  *
  * Reference analogue: the reference's only vector structure is a flat
  * FAISS index (/root/reference/vectorDB.py:12,38 — no clustering, no IVF
  * training); k-means is the capability that turns that flat scan into a
  * trained coarse quantizer at 100 TB, and SURVEY §2.3 commits the engine
  * to the scale path the reference lacks.
  *
  * Determinism contract (the whole point of the integer design): every
  * quantity compared or stored is exact.
  *   - input vectors are scaled once: v_d = floor(x_d · 10^6) as BIGINT
  *     (float widens to double exactly; ×10^6 and floor are identical
  *     IEEE ops in Spark and DuckDB);
  *   - distances are BIGINT sums of squared BIGINT diffs (|v_d| ≤ ~10^7
  *     ⇒ per-dim square ≤ 10^14, ×64 dims ≪ 2^63 — no overflow);
  *   - centroid updates divide exactly once per (cluster, dim):
  *     c_d = floor(double(Σ v_d) / n). Σ v_d ≤ 10^7·|cluster| stays well
  *     under 2^53, so the double quotient and its floor are bit-identical
  *     cross-engine;
  *   - assignment ties break on the lower centroid id.
  *
  * Overflow follows Spark's ANSI mode, read from `SQLConf` when a fit or
  * a driver-side distance runs (as [[intDist]]'s expression reads it when
  * built): with ANSI on, a Long overflow in a distance or a per-(cluster,
  * dim) sum throws ArithmeticException; with ANSI off it wraps.
  *
  * Scale shape: training is FAISS's (Johnson, Douze & Jégou,
  * "Billion-scale similarity search with GPUs"): one bounded collect of
  * the training set, then every Lloyd round in memory on the driver. The
  * collect holds at most 2^18 vectors (128 MiB of BIGINTs at 64 dims)
  * and throws past that bound; a larger corpus trains on a bounded
  * sample (the sampled √N quantizer, SemanticQ.sampledCentroids). The
  * corpus-sized step stays distributed: [[assign]]/[[assignCells]]
  * broadcast the k·d centroid integers to every task (a map-side argmin
  * over a BOUNDED k, no shuffle of the corpus).
  */
object KMeansOp {

  /** The most vectors one fit collects: 2^18, ≤ 128 MiB at 64 dims. */
  private val MaxTrainRows = 1 << 18

  /** floor(x·10^6) per element, BIGINT — the shared integer scale. */
  def intVec(emb: Column): Column =
    graft.functions.VectorFoldExpression.intVec(emb)

  /** Integer squared L2 between two equal-length BIGINT array columns.
    * Compiled native (r21): the previous HOF spelling
    * (`aggregate(zip_with(a,b,(x,y)⇒(x−y)²), 0L, acc+v)`) ran
    * interpreted per element on the hottest loop of the integer-ANN
    * tier — IntVectorSpec pins bit-equality between the two forms,
    * null/length edges included.
    */
  def intDist(a: Column, b: Column): Column =
    graft.functions.VectorFoldExpression.intSquaredL2(a, b)

  /** Nearest-centroid assignment: one row per vector with its winning
    * (cluster id, integer distance). `vecs` must have (vec_id, v);
    * `cents` must have (cid, c). k is bounded ⇒ the crossJoin is an
    * explicit broadcast (map-side argmin, no shuffle of `vecs`); the
    * argmin itself is a partial-aggregable min over a (dist, cid, v)
    * struct — (dist, cid) is unique per group, so the trailing v rides
    * along without influencing the order.
    */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(intDist(col("v"), col("c")).as("dist"),
          col("cid"), col("v")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"),
        col("m.dist").as("dist"), col("m.v").as("v"))

  /** [[assign]] for callers that need only the CLUSTER (and its
    * distance), not the vector back: the argmin struct carries just
    * (dist, cid), so the N·k candidate rows flowing through the
    * aggregate are 16 B each instead of hauling a copy of the d-dim
    * vector per candidate — at k = ⌈√N⌉ that payload was the dominant
    * cost of the full-corpus assignment (N·k·d·8 B of transient array
    * churn). Same (dist, cid) tie-break, identical cluster decisions.
    */
  def assignCells(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(intDist(col("v"), col("c")).as("dist"), col("cid")).as("cand"))
      .groupBy(col("vec_id"))
      .agg(min(col("cand")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))

  /** A training set on the driver: vec_ids ascending, each with its
    * integer vector as a primitive row of one shared length.
    */
  private[graft] final case class Points(ids: Array[Long], rows: Array[Array[Long]]) {
    def size: Int = ids.length

    /** The same points with every row mapped (a subspace slice, a
      * permutation). */
    def map(f: Array[Long] => Array[Long]): Points = Points(ids, rows.map(f))
  }

  /** The one read of a fit's training set: the (vec_id, v BIGINT array)
    * rows of `vecs` through one bounded collect. Past 2^18 rows it
    * throws; a null vec_id, vector or element, or a vector whose length
    * differs from the lowest id's, throws IllegalArgumentException
    * naming the vec_id.
    */
  private[graft] def points(vecs: DataFrame): Points = {
    val rows = Iterate.collectBounded(
      vecs.select(col("vec_id").cast("long"), col("v")), MaxTrainRows)(
      s"k-means trains on the driver over at most $MaxTrainRows vectors; " +
        "fit a larger corpus on a bounded sample, as the sampled √N " +
        "quantizer (SemanticQ.sampledCentroids) does")
    val pts = rows.map { r =>
      require(!r.isNullAt(0), "k-means input has a null vec_id")
      val id = r.getLong(0)
      require(!r.isNullAt(1), s"k-means input vec_id=$id has a null vector")
      id -> r.getSeq[java.lang.Long](1).iterator.map { x =>
        require(x != null, s"k-means input vec_id=$id has a null element")
        x.longValue
      }.toArray
    }.sortBy(_._1)
    pts.foreach { case (id, v) =>
      require(v.length == pts(0)._2.length, s"k-means input vec_id=$id has " +
        s"${v.length} dims, vec_id=${pts(0)._1} has ${pts(0)._2.length}")
    }
    Points(pts.map(_._1), pts.map(_._2))
  }

  /** The trained centroids, as driver-local values — the coarse
    * quantizer an IVF index keeps after training: [[points]] over the
    * scaled embeddings, then [[lloydCentroidsInMemory]].
    */
  def lloydCentroidsLocal(emb: DataFrame, idCol: String, embCol: Column,
      k: Int, iters: Int): Seq[(Long, Seq[Long])] =
    lloydCentroidsInMemory(
      points(emb.select(col(idCol).as("vec_id"), intVec(embCol).as("v"))), k, iters)

  /** Integer squared L2 between two driver-local vectors of one length,
    * under Spark's ANSI mode at the call: a Long overflow throws
    * ArithmeticException with ANSI on and wraps with it off.
    */
  def intDistLocal(a: Array[Long], b: Array[Long]): Long =
    intDistLocal(a, b, SQLConf.get.ansiEnabled)

  /** [[intDistLocal]] with the ANSI mode read once by the caller. */
  private def intDistLocal(a: Array[Long], b: Array[Long], exact: Boolean): Long = {
    require(a.length == b.length,
      s"integer distance over vectors of ${a.length} and ${b.length} dims")
    var s = 0L; var i = 0
    while (i < a.length) {
      if (exact) {
        val d = Math.subtractExact(a(i), b(i))
        s = Math.addExact(s, Math.multiplyExact(d, d))
      } else {
        val d = a(i) - b(i)
        s += d * d
      }
      i += 1
    }
    s
  }

  /** The `n` nearest coarse cells to a driver-local query vector —
    * THE probe-cell selection convention, in one place: order by
    * (distance, cid) ascending, ties to the LOWER cid (the shared
    * engine/oracle contract every IVF query and the DuckDB `rn <= n`
    * chains encode). Bounded: |cents| entries, driver-side.
    */
  def nearestCells(cents: Seq[(Long, Seq[Long])], query: Seq[Long],
      n: Int): Seq[Long] = {
    val q = query.toArray
    cents.map { case (cid, c) => (cid, intDistLocal(c.toArray, q)) }
      .sortBy { case (cid, d) => (d, cid) }
      .take(n).map(_._1)
  }

  /** The one integer Lloyd loop, over a collected training set: seeds
    * are the k lowest ids; each round assigns every point to its
    * nearest centroid (ties to the lower cid) and replaces each
    * centroid by the floor of the exact-double per-dim mean of its
    * members; clusters that lose every member disappear. The DuckDB
    * oracle chains (SemanticQ.lloydSql*) replay it unchanged. Returns
    * (cid, centroid) ascending by cid.
    */
  private[graft] def lloydCentroidsInMemory(pts: Points, k: Int,
      iters: Int): Seq[(Long, Seq[Long])] = {
    require(pts.size >= k,
      s"k-means needs k=$k seed vectors but the input has only ${pts.size}")
    val exact = SQLConf.get.ansiEnabled
    var cids = pts.ids.take(k)
    var cents = pts.rows.take(k)
    for (_ <- 1 to iters) {
      val sums = cents.map(c => new Array[Long](c.length))
      val counts = new Array[Int](cents.length)
      pts.rows.foreach { v =>
        // cents ascend by cid, so a strict < keeps the lower cid on ties
        var best = -1; var bestDist = 0L; var j = 0
        while (j < cents.length) {
          val d = intDistLocal(v, cents(j), exact)
          if (best < 0 || d < bestDist) { best = j; bestDist = d }
          j += 1
        }
        if (best >= 0) {
          counts(best) += 1
          val s = sums(best); var i = 0
          while (i < s.length) {
            s(i) = if (exact) Math.addExact(s(i), v(i)) else s(i) + v(i)
            i += 1
          }
        }
      }
      val kept = cents.indices.filter(counts(_) > 0)
      cids = kept.map(cids).toArray
      cents = kept.map(j => sums(j).map(s => math.floor(s.toDouble / counts(j)).toLong)).toArray
    }
    cids.toSeq.zip(cents.map(_.toSeq))
  }
}
