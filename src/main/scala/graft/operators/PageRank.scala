package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank in pure BIGINT arithmetic — rank mass is carried as
  * integers scaled by `scale`, every division is a floor div, so the
  * result is bit-identical on any engine / any partitioning (no float
  * accumulation order anywhere). The price is the usual integer-PageRank
  * simplifications: flooring loses sub-unit mass and dangling-node mass
  * leaks (both deterministic, both standard for rank-as-integer
  * formulations).
  *
  * Distributed shape per iteration (the classic Pregel dataflow, as two
  * key-shuffled aggregates — no driver-side per-vertex work):
  *   contributions: ranks ⋈ edges on src (shuffle on src),
  *     c = (r·w) div out_w(src);
  *   inflow: groupBy dst, SUM(c) (map-side combined);
  *   update: vertex spine LEFT JOIN inflow, r' = teleport + (85·inflow) div 100.
  * Each round is materialized via Iterate.cap, capping the lineage at
  * O(1) instead of O(iterations) — pass `checkpointDir` for reliable
  * checkpoint storage on a real cluster (default executor-local).
  *
  * Overflow bound: r ≤ scale and intermediate r·w must stay under 2^63,
  * so require scale · max_edge_weight < 9.2e18 (at the default 10^12
  * scale: edge weights up to ~9·10^6).
  */
object PageRank {

  /** `vertices`: one `node` column (the complete vertex set — vertices
    * with no in-edges keep teleport-only rank). `edges`: (src, dst, w
    * BIGINT) — multi-edges should be pre-aggregated. Returns (node,
    * rank_scaled) where rank_scaled ≈ rank · scale, damping 0.85.
    */
  def run(vertices: DataFrame, edges: DataFrame, iterations: Int,
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

  /** Driver-local twin of [[run]] for ALGORITHM-BOUNDED graphs (r21):
    * the same integer recurrence, iterated over the collected edge
    * list — bit-identical output by construction (every operation is
    * the same positive-operand BIGINT floor arithmetic, and the only
    * aggregation is an overflow-free Long sum, order-independent;
    * PageRankSpec pins equality against [[run]] on randomized graphs).
    *
    * Why it exists: each distributed round is 2 joins + 1 aggregate +
    * a lineage-cap materialization job — pure fixed overhead when the
    * vertex set is bounded by the SCHEMA rather than the corpus (the
    * 25-nation trade graph keeps 25 nodes at 100 TB; the data-scale
    * work is the edge DERIVATION, which happens before this is
    * called). Guarded by `maxNodes` with the [[Iterate.boundedLocal]]
    * loudness contract: a violated bound must fail, never silently
    * collect a large graph — deep/unbounded graphs stay on [[run]].
    */
  def runBoundedLocal(vertices: DataFrame, edges: DataFrame,
      iterations: Int, maxNodes: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val vRows = vertices.select(col("node")).collect()
    require(vRows.length <= maxNodes,
      s"runBoundedLocal: ${vRows.length} vertices exceed the declared " +
        s"bound $maxNodes — this path is for schema-bounded graphs only")
    require(vRows.nonEmpty, "empty vertex set")
    val vs = vRows.map(_.get(0))
    // ranks are keyed by node here, while [[run]] joins the edges once
    // per vertex ROW: a duplicated node would count its outflow twice
    // there and once here
    require(vs.distinct.length == vs.length,
      "runBoundedLocal: duplicate node ids in the vertex set")
    val es = edges.select(col("src"), col("dst"), col("w")).collect()
      .map(r => (r.get(0), r.get(1), r.getLong(2)))
    require(es.length <= maxNodes * maxNodes,
      s"runBoundedLocal: ${es.length} edges exceed the pre-aggregated " +
        s"bound $maxNodes² — aggregate multi-edges first")
    val n = vs.length
    val base = scale / n
    val teleport = 15L * base / 100L
    val ow = es.groupBy(_._1).map { case (s0, g) => s0 -> g.map(_._3).sum }
    var r: Map[Any, Long] = vs.map(v => (v: Any) -> base).toMap
    for (_ <- 1 to iterations) {
      val inflow = scala.collection.mutable.Map.empty[Any, Long]
        .withDefaultValue(0L)
      es.foreach { case (s0, d0, w) =>
        // inner-join semantics of the dataflow: an edge whose src is
        // outside the vertex spine contributes nothing
        r.get(s0).foreach(rs => inflow(d0) += rs * w / ow(s0))
      }
      r = vs.map(v => (v: Any) -> (teleport + 85L * inflow(v) / 100L)).toMap
    }
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      vertices.select(col("node")).schema.fields.head,
      org.apache.spark.sql.types.StructField("rank_scaled",
        org.apache.spark.sql.types.LongType, nullable = false)))
    vertices.sparkSession.createDataFrame(
      java.util.Arrays.asList(vs.map(v =>
        org.apache.spark.sql.Row(v, r(v))): _*), outSchema)
  }
}
