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
  * Per iteration: c = (r·w) div out_w(src) along every edge, inflow =
  * Σ c per dst, r' = teleport + (85·inflow) div 100 over the vertex
  * spine. The graphs served here are schema-bounded, so the recurrence
  * runs on the driver ([[runBoundedLocal]]); the distributed Pregel
  * dataflow (two key-shuffled aggregates per round) is its reference
  * twin in the test tree.
  *
  * Overflow bound: r ≤ scale and intermediate r·w must stay under 2^63,
  * so require scale · max_edge_weight < 9.2e18 (at the default 10^12
  * scale: edge weights up to ~9·10^6).
  */
object PageRank {

  /** PageRank of a bounded graph on the driver. `vertices`: one `node`
    * column (the complete vertex set, distinct — vertices with no
    * in-edges keep teleport-only rank). `edges`: (src, dst, w BIGINT),
    * multi-edges pre-aggregated; an edge whose src is outside the
    * vertex set contributes nothing. Returns (node, rank_scaled) where
    * rank_scaled ≈ rank · scale, damping 0.85.
    *
    * One bounded collect of each relation, then the integer recurrence
    * over the collected edge list — bit-identical to the distributed
    * dataflow twin (every operation is the same positive-operand BIGINT
    * floor arithmetic, and the only aggregation is a Long sum,
    * order-independent); like Spark's BIGINT arithmetic it throws on
    * overflow under ANSI and wraps without it. PageRankSpec pins both.
    *
    * Why on the driver: each distributed round is 2 joins + 1 aggregate
    * + a lineage-cap materialization job — pure fixed overhead when the
    * vertex set is bounded by the SCHEMA rather than the corpus (the
    * 25-nation trade graph keeps 25 nodes at 100 TB; the data-scale
    * work is the edge DERIVATION, which happens before this is
    * called). Guarded by `maxNodes` with the [[Iterate.boundedLocal]]
    * loudness contract: a violated bound must fail, never silently
    * collect a large graph.
    */
  def runBoundedLocal(vertices: DataFrame, edges: DataFrame,
      iterations: Int, maxNodes: Int,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    val vRows = Iterate.collectBounded(vertices.select(col("node")), maxNodes)(
      s"runBoundedLocal: more than $maxNodes vertices exceed the declared " +
        "bound — this path is for schema-bounded graphs only")
    require(vRows.nonEmpty, "empty vertex set")
    val vs = vRows.map(_.get(0))
    // ranks are keyed by node here, while the dataflow joins the edges
    // once per vertex ROW: a duplicated node would count its outflow
    // twice there and once here
    require(vs.distinct.length == vs.length,
      "runBoundedLocal: duplicate node ids in the vertex set")
    val es = Iterate.collectBounded(edges.select(col("src"), col("dst"), col("w")),
        maxNodes.toLong * maxNodes)(
        s"runBoundedLocal: more than $maxNodes² edges exceed the " +
          "pre-aggregated bound — aggregate multi-edges first")
      .map(r => (r.get(0), r.get(1), r.getLong(2)))
    // the dataflow's BIGINT arithmetic throws on overflow under ANSI
    // and wraps without it; the twin does the same
    val ansi = vertices.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    def add(a: Long, b: Long) = if (ansi) Math.addExact(a, b) else a + b
    def mul(a: Long, b: Long) = if (ansi) Math.multiplyExact(a, b) else a * b
    val n = vs.length
    val base = scale / n
    val teleport = 15L * base / 100L
    val ow = es.groupBy(_._1).map { case (s0, g) => s0 -> g.map(_._3).reduce(add) }
    var r: Map[Any, Long] = vs.map(v => (v: Any) -> base).toMap
    for (_ <- 1 to iterations) {
      val inflow = scala.collection.mutable.Map.empty[Any, Long]
        .withDefaultValue(0L)
      es.foreach { case (s0, d0, w) =>
        // inner-join semantics of the dataflow: an edge whose src is
        // outside the vertex spine contributes nothing
        r.get(s0).foreach(rs => inflow(d0) = add(inflow(d0), mul(rs, w) / ow(s0)))
      }
      r = vs.map(v => (v: Any) -> add(teleport, mul(85L, inflow(v)) / 100L)).toMap
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
