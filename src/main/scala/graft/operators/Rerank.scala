package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance (MMR) rerank — the diversification pass a
  * vector-serving pipeline runs AFTER candidate generation: greedily pick
  * k items maximizing `rel − λ·max_sim(item, already-picked)`, trading
  * relevance against redundancy (Carbonell & Goldstein 1998).
  *
  * Scale shape: candidate generation is the distributed part (top-N scan
  * / IVF probe); MMR itself is O(k·N²) on N ≤ a few hundred candidates
  * PER QUERY. The batch form (`mmrSelectBatch`) is the real serving
  * shape: every greedy round is ONE dataflow job whose argmax is a
  * per-query-id window `row_number`, so k rounds serve an arbitrary
  * number of concurrent queries — round count never depends on the
  * probe-set size, and each round shuffles on the compact (qid, id) key.
  * The single-query `mmrSelect` is the batch form with one constant qid.
  */
object Rerank {

  /** Batched MMR over many queries at once. `cand`: (qid, id, rel) — each
    * query id's candidate list. `sims`: (qid, ia, ib, sim) — complete
    * pairwise similarity within each qid's candidates. Returns
    * (qid, pick 1..k, id, rel, mmr); the first pick's mmr equals its rel
    * (no penalty yet). Ties at every per-qid argmax break on ascending
    * id; rel/sim are expected pre-rounded by the caller if cross-engine
    * determinism matters. A qid with fewer than k candidates simply stops
    * contributing rows once exhausted.
    *
    * `boundedDeltas = Some(n)`: the ALGORITHM bounds every relation in
    * the greedy loop — the candidate list, the pairwise sims
    * (≤ nQids·N², the dominant term for n), and each round's
    * one-row-per-qid delta — so the whole greedy runs driver-side
    * ([[mmrSelectLocal]]): ONE bounded collect of cand + sims instead
    * of k rounds of plan + schedule + collect that the per-relation
    * [[Iterate.boundedLocal]] caps used to pay, the identical
    * arithmetic, one LocalRelation out, zero executor-cached blocks,
    * loudly guarded by n. Large fan-out batches keep the default
    * checkpoint caps, where these relations stay distributed.
    */
  def mmrSelectBatch(cand: DataFrame, sims: DataFrame, k: Int,
      lambda: Double, checkpointDir: Option[String] = None,
      boundedDeltas: Option[Int] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // r21: under boundedDeltas EVERY relation in the greedy loop was
    // already collected to the driver each round (boundedLocal caps) —
    // k rounds of plan + schedule + collect for ≤ n rows. Run the greedy
    // itself driver-side instead: one collect of cand + sims (the same
    // n-bound, loudly guarded), the identical arithmetic (same IEEE-754
    // op order: rel − λ·msim; same max; same (mmr desc, id asc)
    // tie-break; same INNER-join eligibility — a candidate with no sim
    // row against the selected set is ineligible), one LocalRelation
    // out. RerankSpec pins bit-equality against the distributed loop.
    boundedDeltas match {
      case Some(n) => return mmrSelectLocal(cand, sims, k, lambda, n)
      case None =>
    }
    val ck: DataFrame => DataFrame = Iterate.cap(checkpointDir)
    val c = ck(cand.select(col("qid"), col("id"), col("rel")))
    val p = ck(sims)
    val w1 = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("id").asc)
    val first = ck(c.withColumn("rn", row_number().over(w1))
      .where(col("rn") === 1)
      .select(col("qid"), lit(1L).as("pick"), col("id"), col("rel"),
        col("rel").as("mmr")))
    // Each round materializes only its DELTA (one row per qid); the
    // running selection is a lazy union of the already-checkpointed
    // deltas, so lineage stays flat without re-materializing a growing
    // relation every round (round 5's slowest query was exactly that
    // re-checkpoint overhead).
    val picks = scala.collection.mutable.ListBuffer(first)
    for (i <- 2 to k) {
      val selected = picks.reduce(_ unionAll _)
      val maxSim = p
        .join(selected.select(col("qid"), col("id").as("ib")), Seq("qid", "ib"))
        .groupBy(col("qid"), col("ia")).agg(max(col("sim")).as("msim"))
        .withColumnRenamed("ia", "id")
      val wi = Window.partitionBy(col("qid"))
        .orderBy(col("mmr").desc, col("id").asc)
      val next = c
        .join(selected.select(col("qid"), col("id")), Seq("qid", "id"), "left_anti")
        .join(maxSim, Seq("qid", "id"))
        .select(col("qid"), col("id"), col("rel"),
          (col("rel") - lit(lambda) * col("msim")).as("mmr"))
        .withColumn("rn", row_number().over(wi))
        .where(col("rn") === 1)
        .select(col("qid"), lit(i.toLong).as("pick"), col("id"), col("rel"),
          col("mmr"))
      picks += ck(next)
    }
    picks.reduce(_ unionAll _)
  }

  /** Spark's total order for an argmax tie-break column, applied to the
    * EXTERNAL (collected-Row) value: doubles via `java.lang.Double.compare`
    * (NaN greatest, -0.0 < 0.0 — exactly the DoubleType sort order the
    * distributed `row_number` used), strings via UTF8String binary order.
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
        s"mmrSelectLocal: unsupported tie-break column type $other")
    }
  }

  /** Driver-local twin of the `boundedDeltas` greedy loop: one bounded
    * collect of cand + sims, the identical greedy recurrence, one
    * LocalRelation out. Faithfulness contract (RerankSpec pins
    * bit-equality against the distributed loop on randomized fixtures):
    *   - round 1 argmax over ALL candidates by (rel desc, id asc);
    *   - rounds 2..k: eligibility = NOT selected AND at least one sim
    *     row against the selected set (the INNER join), msim = max(sim)
    *     under Spark's double total order, mmr = rel − λ·msim in the
    *     same IEEE-754 op order, argmax by (mmr desc, id asc);
    *   - output schema matches the distributed union: (qid, pick
    *     non-null BIGINT, id, rel, mmr nullable DOUBLE).
    * The `n` require is the [[Iterate.boundedLocal]] loudness contract —
    * it bounds BOTH collected relations (sims, ≤ nQids·N², dominates),
    * and a violated bound must fail, never silently pull a large
    * relation to the driver.
    */
  private def mmrSelectLocal(cand: DataFrame, sims: DataFrame, k: Int,
      lambda: Double, n: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val c = cand.select(col("qid"), col("id"), col("rel"))
    val p = sims.select(col("qid"), col("ia"), col("ib"), col("sim"))
    require(c.schema("rel").dataType == DoubleType,
      "mmrSelectLocal: rel must be DOUBLE")
    require(p.schema("sim").dataType == DoubleType,
      "mmrSelectLocal: sim must be DOUBLE")
    val idOrd = sparkOrd(c.schema("id").dataType)
    val cRows = Iterate.collectBounded(c, n)(
      s"mmrSelectLocal: more than $n candidate rows exceed the declared " +
        "bound — this path is for algorithm-bounded sets only")
    val sRows = Iterate.collectBounded(p, n)(
      s"mmrSelectLocal: more than $n sim rows exceed the declared " +
        "bound — this path is for algorithm-bounded sets only")
    cRows.foreach(r => require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
      "mmrSelectLocal: null qid/id/rel"))
    // the greedy below folds candidates per (qid, id) through `.toMap`,
    // while the distributed loop keeps every row
    require(cRows.map(r => (r.get(0), r.get(1))).distinct.length == cRows.length,
      "mmrSelectLocal: duplicate (qid, id) candidates")
    sRows.foreach(r => require(!r.isNullAt(3), "mmrSelectLocal: null sim"))
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

  /** Single-query MMR: `cand`: (id, rel); `sims`: (ia, ib, sim) complete
    * pairwise similarity over the candidate ids. Returns
    * (pick 1..k, id, rel, mmr). Delegates to `mmrSelectBatch` with one
    * constant query id.
    */
  def mmrSelect(cand: DataFrame, sims: DataFrame, k: Int,
      lambda: Double, boundedDeltas: Option[Int] = None): DataFrame =
    mmrSelectBatch(
      cand.select(lit(0L).as("qid"), col("id"), col("rel")),
      sims.select(lit(0L).as("qid"), col("ia"), col("ib"), col("sim")),
      k, lambda, boundedDeltas = boundedDeltas)
      .select(col("pick"), col("id"), col("rel"), col("mmr"))
}
