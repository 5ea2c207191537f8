package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference spellings the specs check the driver-local iterative
  * operators against: the distributed round loops, each round one
  * dataflow job whose relation is materialized through [[Iterate.cap]]
  * (`checkpointDir = None`: executor-local; `Some(dir)`: reliable
  * checkpoints under `dir`).
  *   - [[mmrSelectBatch]]: k MMR rounds, each argmax a per-qid window
  *     `row_number` — [[Rerank.mmrSelectBatch]]'s contract;
  *   - [[pageRank]]: the integer Pregel dataflow —
  *     [[PageRank.runBoundedLocal]]'s recurrence;
  *   - [[components]]: min-label propagation to a fixpoint — the
  *     components [[ConnectedComponents.assignAdaptive]] resolves.
  */
object IterativeTwins {

  /** Batched MMR as k distributed rounds. `cand`: (qid, id, rel);
    * `sims`: (qid, ia, ib, sim). Returns (qid, pick 1..k, id, rel, mmr).
    * Each round materializes only its DELTA (one row per qid); the
    * running selection is a lazy union of the capped deltas.
    */
  def mmrSelectBatch(cand: DataFrame, sims: DataFrame, k: Int,
      lambda: Double, checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val ck: DataFrame => DataFrame = Iterate.cap(checkpointDir)
    val c = ck(cand.select(col("qid"), col("id"), col("rel")))
    val p = ck(sims)
    val w1 = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("id").asc)
    val first = ck(c.withColumn("rn", row_number().over(w1))
      .where(col("rn") === 1)
      .select(col("qid"), lit(1L).as("pick"), col("id"), col("rel"),
        col("rel").as("mmr")))
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

  /** Integer PageRank as the distributed Pregel dataflow. `vertices`:
    * one `node` column; `edges`: (src, dst, w BIGINT). Per iteration:
    * contributions ranks ⋈ edges on src, c = (r·w) div out_w(src);
    * inflow groupBy dst, SUM(c); update vertex spine LEFT JOIN inflow,
    * r' = teleport + (85·inflow) div 100. Returns (node, rank_scaled).
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iterations: Int,
      scale: Long = 1000000000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val ck = Iterate.cap(checkpointDir) _
    val n = vertices.count()
    require(n > 0, "empty vertex set")
    val base = scale / n              // floor, positive operands
    val teleport = 15L * base / 100L  // (0.15 · base) floored
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val ew = ck(edges.join(outw, Seq("src")))
    var ranks = vertices.select(col("node"), lit(base).as("r"))
    for (_ <- 1 to iterations) {
      val inflow = ranks.join(ew, col("node") === col("src"))
        .selectExpr("dst", "(r * w) div ow AS c")
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .withColumnRenamed("dst", "node")
      ranks = ck(vertices.select(col("node"))
        .join(inflow, Seq("node"), "left")
        .selectExpr("node", s"$teleport + (85 * coalesce(s, 0)) div 100 AS r"))
    }
    ranks.select(col("node"), col("r").as("rank_scaled"))
  }

  /** Every node labelled with its component's minimum id by min-label
    * propagation ([[ConnectedComponents.propagate]]). `nodes`: one `id`
    * column; `edges`: (id_a, id_b), undirected, non-null. Returns
    * (id, cluster_id), one row per node; throws IllegalStateException
    * when the labels still change after `maxRounds` rounds.
    */
  def components(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val (labels, converged, _) =
      ConnectedComponents.propagate(nodes, edges, maxRounds, checkpointDir)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxRounds rounds")
    labels
  }
}
