package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance (MMR) rerank — the diversification pass a
  * vector-serving pipeline runs AFTER candidate generation: greedily pick
  * k items maximizing `rel − λ·max_sim(item, already-picked)`, trading
  * relevance against redundancy (Carbonell & Goldstein 1998).
  *
  * Scale shape: candidate generation is the distributed part (top-N scan
  * / IVF probe); MMR itself is O(k·N²) on N ≤ a few hundred candidates
  * PER QUERY, so the greedy runs on the driver over one bounded collect
  * of the candidates and their pairwise sims (at most [[RowBound]] rows
  * each, the discipline of [[KMeansOp.points]] and [[BpeTrainer]]) and
  * throws past the bound. The batch form (`mmrSelectBatch`) serves any
  * number of query ids in that one collect; the single-query
  * `mmrSelect` is the batch form with one constant qid.
  */
object Rerank {

  /** The most candidate rows, and the most sim rows, the greedy reads. */
  private[graft] val RowBound = 1 << 18

  /** Batched MMR over many queries at once. `cand`: (qid, id, rel) — each
    * query id's candidate list, one row per (qid, id). `sims`:
    * (qid, ia, ib, sim) — pairwise similarity within each qid's
    * candidates. Returns (qid, pick 1..k, id, rel, mmr); the first
    * pick's mmr equals its rel (no penalty yet). Contract (the
    * distributed k-round loop in the test twins is the reference,
    * pinned bit-for-bit by RerankSpec):
    *   - round 1 argmax over ALL candidates by (rel desc, id asc);
    *   - rounds 2..k: eligibility = NOT selected AND at least one sim
    *     row against the selected set, msim = max(sim) under Spark's
    *     double total order, mmr = rel − λ·msim, argmax by
    *     (mmr desc, id asc);
    *   - a qid with fewer eligible candidates than k stops contributing
    *     rows once exhausted;
    *   - output schema: (qid, pick non-null BIGINT, id, rel, mmr
    *     nullable DOUBLE).
    * rel/sim must be DOUBLE, and are expected pre-rounded by the caller
    * if cross-engine determinism matters.
    */
  def mmrSelectBatch(cand: DataFrame, sims: DataFrame, k: Int,
      lambda: Double): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val c = cand.select(col("qid"), col("id"), col("rel"))
    val p = sims.select(col("qid"), col("ia"), col("ib"), col("sim"))
    require(c.schema("rel").dataType == DoubleType,
      "mmrSelectBatch: rel must be DOUBLE")
    require(p.schema("sim").dataType == DoubleType,
      "mmrSelectBatch: sim must be DOUBLE")
    val idOrd = sparkOrd(c.schema("id").dataType)
    val cRows = Iterate.collectBounded(c, RowBound)(
      s"mmrSelectBatch: more than $RowBound candidate rows exceed the " +
        "driver-local bound")
    val sRows = Iterate.collectBounded(p, RowBound)(
      s"mmrSelectBatch: more than $RowBound sim rows exceed the " +
        "driver-local bound")
    cRows.foreach(r => require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
      "mmrSelectBatch: null qid/id/rel"))
    // the greedy below folds candidates per (qid, id) through `.toMap`
    require(cRows.map(r => (r.get(0), r.get(1))).distinct.length == cRows.length,
      "mmrSelectBatch: duplicate (qid, id) candidates")
    sRows.foreach(r => require(!r.isNullAt(3), "mmrSelectBatch: null sim"))
    def maxD(a: Double, b: Double): Double =
      if (java.lang.Double.compare(a, b) >= 0) a else b
    // duplicate (qid, ia, ib) rows fold through max, like the aggregate did
    val simMap = scala.collection.mutable.Map.empty[(Any, Any, Any), Double]
    sRows.foreach { r =>
      val key = (r.get(0), r.get(1), r.get(2))
      simMap(key) = simMap.get(key).fold(r.getDouble(3))(maxD(_, r.getDouble(3)))
    }
    // (qid, id, rel) in encounter order; argmax a: (score desc, id asc)
    def argmax(xs: Seq[(Any, Double)]): Any =
      xs.reduceLeft { (a, b) =>
        val cmp = java.lang.Double.compare(a._2, b._2)
        if (cmp > 0) a else if (cmp < 0) b
        else if (idOrd.compare(a._1, b._1) <= 0) a else b
      }._1
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    cRows.groupBy(_.get(0)).foreach { case (qid, qRows) =>
      val rel = qRows.map(r => r.get(1) -> r.getDouble(2)).toMap
      val selected = scala.collection.mutable.ArrayBuffer.empty[Any]
      val firstId = argmax(qRows.map(r => r.get(1) -> r.getDouble(2)))
      selected += firstId
      out += Row(qid, 1L, firstId, rel(firstId), rel(firstId))
      var exhausted = false
      for (i <- 2 to k if !exhausted) {
        val scored = qRows.iterator.map(_.get(1))
          .filterNot(selected.contains)
          .flatMap { ia =>
            val msims = selected.flatMap(b => simMap.get((qid, ia, b)))
            if (msims.isEmpty) None
            else Some(ia -> (rel(ia) - lambda * msims.reduceLeft(maxD)))
          }.toSeq
        if (scored.isEmpty) exhausted = true
        else {
          val id = argmax(scored)
          selected += id
          out += Row(qid, i.toLong, id, rel(id),
            scored.find(_._1 == id).get._2)
        }
      }
    }
    val cs = c.schema
    val outSchema = StructType(Seq(
      cs("qid"),
      StructField("pick", LongType, nullable = false),
      cs("id"), cs("rel"),
      StructField("mmr", DoubleType, nullable = true)))
    cand.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.toSeq: _*), outSchema)
  }

  /** Spark's total order for an argmax tie-break column, applied to the
    * EXTERNAL (collected-Row) value: doubles via `java.lang.Double.compare`
    * (NaN greatest, -0.0 < 0.0 — exactly Spark's DoubleType sort
    * order), strings via UTF8String binary order.
    */
  private def sparkOrd(dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Ordering.by((x: Any) => x.asInstanceOf[Long])
      case IntegerType => Ordering.by((x: Any) => x.asInstanceOf[Int])
      case DoubleType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int = java.lang.Double.compare(
          a.asInstanceOf[Double], b.asInstanceOf[Double])
      }
      case StringType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
      }
      case other => throw new IllegalArgumentException(
        s"mmrSelectBatch: unsupported tie-break column type $other")
    }
  }

  /** Single-query MMR: `cand`: (id, rel); `sims`: (ia, ib, sim) pairwise
    * similarity over the candidate ids. Returns (pick 1..k, id, rel,
    * mmr). Delegates to `mmrSelectBatch` with one constant query id.
    */
  def mmrSelect(cand: DataFrame, sims: DataFrame, k: Int,
      lambda: Double): DataFrame =
    mmrSelectBatch(
      cand.select(lit(0L).as("qid"), col("id"), col("rel")),
      sims.select(lit(0L).as("qid"), col("ia"), col("ib"), col("sim")),
      k, lambda)
      .select(col("pick"), col("id"), col("rel"), col("mmr"))
}
