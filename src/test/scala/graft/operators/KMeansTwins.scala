package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference spelling the specs check [[KMeansOp]]'s one in-memory
  * Lloyd loop against: the distributed round loop, where each round is
  * a broadcast [[KMeansOp.assign]], a posexplode → (cid, pos) update
  * shuffle and a driver collect of the new centroids. Same contract:
  * seeds are the k lowest vec_ids, ties go to the lower cid, each
  * centroid is the floor of the exact-double per-dim mean, and clusters
  * that lose every member disappear.
  */
object KMeansTwins {
  type Book = Seq[(Long, Seq[Long])]

  /** Recompute centroids from an assignment (cid, v): per (cluster,
    * dim) exact integer mean, floor-divided through an exact double.
    * Emits (cid, c).
    */
  def update(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .withColumn("cv", floor(col("sx").cast("double") / col("n")).cast("long"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("arr"))
      .select(col("cid"), transform(col("arr"), s => s.getField("cv")).as("c"))

  /** The distributed Lloyd loop over already-scaled (vec_id, v BIGINT
    * array) rows: `iters` assign → update rounds, the centroids
    * collected to the driver between rounds.
    */
  def lloydCentroidsLocalInt(vecs: DataFrame, k: Int, iters: Int): Book = {
    val spark = vecs.sparkSession
    import spark.implicits._
    var cents = vecs.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("c"))
      .as[(Long, Seq[Long])].collect().toSeq
    require(cents.size == k,
      s"k-means needs k=$k seed vectors but the input has only ${cents.size}")
    for (_ <- 1 to iters)
      cents = update(KMeansOp.assign(vecs, cents.toDF("cid", "c")))
        .select(col("cid"), col("c"))
        .as[(Long, Seq[Long])].collect().toSeq
    cents
  }

  /** OPQ's dimension allocation as a Spark aggregate, the reference for
    * [[Encoding.train]]'s driver-side ranking: over scaled-integer
    * `(vec_id, v)` rows, rank dimensions by the
    * exact-BIGINT first-absolute-moment energy Σ_rows |v_d| (ties to
    * the lower dimension index — overflow-safe to ~10^12 rows at the
    * ×10^6 scale), then deal them round-robin across `m` subspaces,
    * so no subspace gets every high-energy dimension. One corpus
    * aggregate (d rows). Returns each subspace's 0-based dims in rank
    * order.
    */
  def opqAllocation(vecs: DataFrame, m: Int): Seq[Seq[Int]] = {
    val ranked = vecs.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(sum(abs(col("x"))).as("e"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      .sortBy { case (pos, e) => (-e, pos) }.map(_._1)
    (0 until m).map(sub =>
      ranked.zipWithIndex.collect { case (pos, r) if r % m == sub => pos })
  }

  /** The PQ-family codebooks of [[Encoding.train]], fitted by the
    * distributed loop over Spark-side subvectors: plain PQ slices the
    * scaled vectors, residual PQ their coarse residuals, OPQ the
    * permuted vectors. Returns the books and, for OPQ, the permutation.
    */
  def trainBooks(kind: Encoding.Kind, corpus: DataFrame, coarse: Book,
      k: Int, iters: Int, m: Int, subDim: Int): (Seq[Book], Option[Seq[Int]]) = {
    val vecs = corpus.select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))
    def fit(rows: DataFrame, sub: Int => Column) = (0 until m).map(i =>
      lloydCentroidsLocalInt(rows.select(col("vec_id"), sub(i).as("v")), k, iters))
    def sliced(c: String)(i: Int) = slice(col(c), i * subDim + 1, subDim)
    kind match {
      case Encoding.Pq => (fit(vecs, sliced("v")), None)
      case Encoding.ResidualPq =>
        (fit(ProductQuantizer.residuals(vecs, coarse), sliced("r")), None)
      case Encoding.Opq =>
        val p = opqAllocation(vecs, m).flatten
        (fit(vecs, i => Encoding.permute(col("v"), p.slice(i * subDim, (i + 1) * subDim))),
          Some(p))
      case other => throw new IllegalArgumentException(s"no codebooks for $other")
    }
  }
}
