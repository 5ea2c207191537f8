package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Distributed connected components over an undirected edge list — the
  * missing step between near-dup PAIR detection (Dedup.*) and actual
  * deduplication: pairs form a graph, a dedup group is a connected
  * component, and the keep-row is the component's canonical (minimum) id.
  *
  * Algorithm: minimum-label propagation (the same scheme as GraphX /
  * Pregel connectedComponents). Every node starts labeled with its own
  * id; each round every node takes the min of its own label and its
  * neighbors' labels; fixpoint = components labeled by their min id.
  *
  * Scale shape (the 100 TB question):
  *  - each round is ONE equi-join of the edge list against the label
  *    relation (shuffle on node id) plus ONE groupBy(node) min — both
  *    partial-aggregated map-side; nothing is ever collected to the
  *    driver, and the driver-side `while` loops over ROUNDS, not rows;
  *  - rounds needed = graph diameter. Near-dup graphs are extremely
  *    shallow — LSH/banding candidates form near-cliques within blocks,
  *    so diameter is small and bounded in practice (3–5 observed). For
  *    adversarial long-chain graphs the alternating large-star/small-star
  *    scheme (Kiveris et al., "Connected Components in MapReduce and
  *    Beyond", SoCC'14) drops rounds to O(log n); the loop below is the
  *    drop-in site for it;
  *  - every round materializes the label relation (Iterate.cap):
  *    iterative plans otherwise nest the full lineage once per round and
  *    Catalyst re-optimizes/re-executes an exponentially growing tree.
  *    Pass `checkpointDir` to use reliable `checkpoint` storage on a
  *    real cluster; the default is executor-local.
  *
  * Convergence is detected with a `limit(1)` existence probe on changed
  * labels (short-circuits; no full count); past `maxRounds` the
  * alternating-star escalation takes over, and it THROWS at its own
  * bound rather than silently returning a partially-merged labeling.
  *
  * A request-sized graph pays none of those rounds: [[assignAdaptive]]
  * collects the induced edges once and runs union-find on the driver
  * when they fit its bound, the bounded-local discipline of
  * [[Iterate.collectWithin]]. Plain min-label propagation to a fixpoint
  * is the reference twin in the test tree.
  */
object ConnectedComponents {

  /** The most induced edges [[assignAdaptive]] resolves on the driver. */
  private[graft] val LocalEdgeBound = 1 << 18

  /** Adaptive resolution — the production default. Components are those
    * of the subgraph INDUCED by `nodes`: an edge with an endpoint outside
    * `nodes` is never followed, by either path below.
    *
    * Small graphs resolve on the driver: the induced edges are collected
    * once through [[Iterate.collectWithin]] (at most [[LocalEdgeBound]]
    * rows, read through `limit(bound + 1)`), union-find links each pair
    * of roots to the smaller one, and the result is
    * `nodes ⟕ broadcast(labels)` with `coalesce(root, id)` — one row per
    * input node row, duplicates included, and no Spark job per round.
    * Ids are integral.
    *
    * Past the bound the induced edges resolve distributed
    * ([[assignAdaptiveDistributed]]), which reads them from the cache the
    * bounded collect filled (the sf1 canon_ids build computed its
    * 300k-edge relation twice without it).
    */
  def assignAdaptive(nodes: DataFrame, edges: DataFrame,
                     quickRounds: Int = 6, maxRounds: Int = 60,
                     checkpointDir: Option[String] = None): DataFrame = {
    val ids = nodes.select(col("id"))
    // cached so that a graph past the bound does not compute its edges
    // twice: the distributed body reads the partitions the collect scanned
    val induced = edges
      .join(ids.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(ids.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .persist()
    try Iterate.collectWithin(induced, LocalEdgeBound) match {
      case None => assignAdaptiveDistributed(nodes, induced, quickRounds, maxRounds, checkpointDir)
      case Some(rows) =>
        val parent = mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (c != r) { val next = parent(c); parent(c) = r; c = next }
          r
        }
        for (e <- rows) {
          val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val spark = nodes.sparkSession
        import spark.implicits._
        // roots are absent: coalesce(root, id) labels them, as it does
        // every node no induced edge touches
        val labels = parent.keys.toSeq.map(k => (k, find(k))).toDF("id", "root")
        ids.join(broadcast(labels), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("root"), col("id")).cast(ids.schema("id").dataType).as("cluster_id"))
    } finally induced.unpersist()
  }

  /** The distributed body of [[assignAdaptive]]: a few rounds of
    * min-label propagation first (2 cheap jobs per round; near-dup
    * graphs are near-cliques and mostly converge in 2–5), escalating to
    * the alternating-star algorithm only when the graph is actually
    * deep. The quick rounds are never wasted: on escalation the graph
    * is CONTRACTED by the partial labels (each label-equivalence class
    * — typically a whole near-clique — collapses to one node), the
    * star phase runs on the condensed label graph, and the final
    * labeling is the composition. Partial min-labels are minima of a
    * node subset of each component, so the condensed component minimum
    * IS the original component minimum — composition preserves the
    * min-id contract.
    */
  private[graft] def assignAdaptiveDistributed(nodes: DataFrame, edges: DataFrame,
      quickRounds: Int = 6, maxRounds: Int = 60,
      checkpointDir: Option[String] = None): DataFrame = {
    val (labels, converged, _) = propagate(nodes, edges, quickRounds, checkpointDir)
    if (converged) labels
    else {
      val la = labels.select(col("id").as("id_a"), col("cluster_id").as("l_a"))
      val lb = labels.select(col("id").as("id_b"), col("cluster_id").as("l_b"))
      val contracted = edges.join(la, Seq("id_a")).join(lb, Seq("id_b"))
        .where(col("l_a") =!= col("l_b"))
        .select(col("l_a").as("id_a"), col("l_b").as("id_b"))
      val labelNodes = labels.select(col("cluster_id").as("id")).distinct()
      val roots = assignAlternatingStar(labelNodes, contracted, maxRounds, checkpointDir)
        .select(col("id").as("cluster_id"), col("cluster_id").as("root"))
      labels.join(roots, Seq("cluster_id"))
        .select(col("id"), col("root").as("cluster_id"))
    }
  }

  /** Min-label propagation core: `(labels, true, rounds)` at fixpoint,
    * or `(partial labels, false, maxRounds)` if still changing after
    * `maxRounds` — partial labels are valid min-so-far labels (every
    * node's label is the min id of some subset of its component) and
    * feed the adaptive path's graph contraction. The round count is
    * diagnostic surface (package-private): probe tooling reads it to
    * adjudicate whether a CC wall-clock drift is iteration growth
    * (diameter tracking corpus size — benign, each round stays linear)
    * or per-round cost growth (an edge-build regression).
    */
  private[graft] def propagate(nodes: DataFrame, edges: DataFrame, maxRounds: Int,
                        checkpointDir: Option[String]): (DataFrame, Boolean, Int) = {
    val ck = Iterate.cap(checkpointDir) _
    // Symmetrize once: propagation below only follows src -> dst.
    val adj = ck(edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst"))))

    var labels = ck(nodes.select(col("id"), col("id").as("cluster_id")))
    var round = 0
    while (round < maxRounds) {
      // Min label among each node's in-neighbors (absent for isolated nodes).
      val nbrMin = adj
        .join(labels.select(col("id").as("src"), col("cluster_id").as("nl")), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("nl")).as("nbr_min"))
      // Carry the previous label through the checkpoint so convergence
      // detection is a scan of the materialized relation, not another
      // join against the prior round.
      val next = ck(labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("cluster_id"),
          col("cluster_id").as("prev")))
      val changed = next.where(col("cluster_id") =!= col("prev")).limit(1).count()
      labels = next.select(col("id"), col("cluster_id"))
      if (changed == 0L) return (labels, true, round + 1)
      round += 1
    }
    (labels, false, round)
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * deep-graph path: converges in O(log n) rounds regardless of
    * diameter, where min-label propagation needs diameter rounds.
    *
    * Each half-round is one aggregation (per-node minimum over the
    * symmetric neighborhood — never a collect_list) plus one join
    * emitting the rewired edges:
    *   - large-star(u): every neighbor v > u re-points to
    *     m = min(N(u) ∪ {u});
    *   - small-star(u): every neighbor v ≤ u, and u itself, re-point
    *     to m.
    * The edge multiset shrinks toward stars centered on component
    * minima; convergence = the canonical edge set stops changing
    * (checked with an except-probe on the checkpointed relations, not a
    * full driver-side compare).
    */
  def assignAlternatingStar(nodes: DataFrame, edges: DataFrame,
                            maxRounds: Int = 60,
                            checkpointDir: Option[String] = None): DataFrame = {
    val ck = Iterate.cap(checkpointDir) _
    def canon(e: DataFrame): DataFrame =
      e.where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst"))
        .distinct()

    def minOverNbrs(sym: DataFrame): DataFrame =
      sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))

    var e = ck(canon(edges.select(col("id_a").as("src"), col("id_b").as("dst"))))
    // carried across rounds: |e| is last round's |eS|, so the fixpoint
    // probe pays ONE count per round, not two
    var eCount = e.count()
    var round = 0
    var done = eCount == 0L
    while (!done && round < maxRounds) {
      val sym = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      // large-star: (v, m(u)) for v ∈ N(u), v > u
      val large = sym.where(col("v") > col("u"))
        .join(minOverNbrs(sym), Seq("u"))
        .select(col("v").as("src"), col("m").as("dst"))
      val eL = ck(canon(large))
      val symL = eL.select(col("src").as("u"), col("dst").as("v"))
        .union(eL.select(col("dst").as("u"), col("src").as("v")))
      // small-star: (v, m(u)) for v ∈ N(u) ∪ {u}, v ≤ u — the self case
      // is one row per u straight from the aggregate
      val smallMin = minOverNbrs(symL)
      val small = symL.where(col("v") < col("u"))
        .join(smallMin, Seq("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(smallMin.select(col("u").as("src"), col("m").as("dst")))
      val eS = ck(canon(small))
      // fixpoint: same canonical edge set as the previous round. Both
      // sides are distinct (canon), so equal counts + one empty except
      // suffice — the common non-converged round pays one cheap count
      // over a checkpointed RDD instead of exceptAll shuffles.
      val eSCount = eS.count()
      done = eCount == eSCount && eS.exceptAll(e).isEmpty
      e = eS
      eCount = eSCount
      round += 1
    }
    if (!done && round >= maxRounds)
      throw new IllegalStateException(
        s"alternating-star did not converge in $maxRounds rounds")
    // At the fixpoint the graph is stars centered on component minima;
    // in canonical (src < dst) form that is (root, leaf). Singletons are
    // nodes without edges.
    val rootOf = e.select(col("src").as("cluster_id"), col("dst").as("id"))
    nodes.select(col("id"))
      .join(rootOf, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }
}
