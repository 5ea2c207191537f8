package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FormattedMode}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regressions: SCALE.md's claims about scan pushdown,
  * broadcast dimensions, top-k compilation, and salted-join shape are
  * pinned here so an optimizer-hostile refactor (a UDF slipping into a
  * filter, a lost hint, an accidental global window) fails the suite
  * instead of silently degrading the 100 TB story.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("document scan pushes predicates and prunes columns") {
    val plan = formatted(graft.queries.Text.queries("q_doc_scan_filter")(spark, TestSpark.sf0001))
    assert(plan.contains("PushedFilters"), "no pushed filters on the parquet scan")
    assert(plan.contains("EqualTo(lang,en)") || plan.contains("EqualTo(lang, en)"),
      s"lang filter not pushed:\n${plan.take(2000)}")
    assert(!plan.contains("text"), "text column should be pruned from the scan")
  }

  test("geo join broadcasts both dimension tables") {
    val plan = formatted(graft.queries.Relational.queries("q_join_geo")(spark, TestSpark.sf0001))
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      "nation/region should both broadcast")
  }

  test("interval_agg: both sides partial-aggregate before one broadcast " +
    "day join — no pair relation, no range/nested-loop join anywhere") {
    val plan = formatted(graft.queries.Temporal.queries("q_interval_agg")(spark, TestSpark.sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "bounded per-day interval aggregate must broadcast into the point side")
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      "the aggregate form must never fall back to a pair-enumerating join")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      "both inputs need partial+final aggregates (map-side combine)")
  }

  test("global top-n compiles to TakeOrderedAndProject (no global sort)") {
    val plan = formatted(graft.queries.Relational.queries("q_topn_global")(spark, TestSpark.sf0001))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("salted join stays a shuffled hash join on the salted key") {
    val plan = formatted(graft.queries.Stats.queries("q_salted_join")(spark, TestSpark.sf0001))
    assert(plan.contains("ShuffledHashJoin"), "salt demo must not broadcast")
    assert(plan.contains("salt"), "join key must include the salt column")
  }

  test("pack_sequences runs its data window hash-partitioned by part") {
    val plan = formatted(graft.queries.Analysis.queries("q_pack_sequences")(spark, TestSpark.sf0001))
    assert(plan.contains("hashpartitioning(part"),
      "per-partition cumsum window must partition by part, not run globally")
  }

  test("Q18: one lineitem aggregate, qualifying keys reach the joins, top-100 via TakeOrdered") {
    val plan = formatted(graft.queries.Tpch.queries("q_tpch_q18")(spark, TestSpark.sf0001))
    assert("(?s)HashAggregate.*l_orderkey".r.findFirstIn(plan).isDefined,
      "lineitem must aggregate on l_orderkey")
    assert(plan.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
    // the HAVING filter must run on the aggregate, before the joins fan out
    assert("(?s)Filter.*sum_qty_d".r.findFirstIn(plan).isDefined ||
      plan.contains("(sum(l_quantity"), "threshold filter missing from the aggregate side")
  }

  test("Q20: semi-join keeps the supplier dim lean and the nation dim broadcasts") {
    val plan = formatted(graft.queries.Tpch.queries("q_tpch_q20")(spark, TestSpark.sf0001))
    assert(plan.contains("LeftSemi"), "supplier filter must stay a semi-join")
    assert(plan.contains("BroadcastExchange"), "nation dim should broadcast")
  }

  test("Q6: all three predicates push to the lineitem scan; no join, no wide shuffle") {
    val plan = formatted(graft.queries.Tpch.queries("q_tpch_q6")(spark, TestSpark.sf0001))
    assert(plan.contains("PushedFilters"), "scan must carry pushed filters")
    assert("GreaterThanOrEqual\\(l_discount".r.findFirstIn(plan).isDefined,
      s"discount band not pushed:\n${plan.take(2000)}")
    assert("LessThan\\(l_quantity".r.findFirstIn(plan).isDefined, "quantity cap not pushed")
    assert(!plan.contains("Join"), "Q6 is scan+agg only")
  }

  test("Q19: each side's projection of the disjunction reaches its parquet scan") {
    val plan = formatted(graft.queries.Tpch.queries("q_tpch_q19")(spark, TestSpark.sf0001))
    // The Or(...) trees appear ONLY in scan PushedFilters (a join condition
    // prints as && / ||), so these can't be satisfied vacuously.
    assert(plan.contains("Or(Or(And(EqualTo(p_brand,Brand#12)"),
      "part-side (brand,size) disjunction not pushed to the part scan")
    assert(plan.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      "lineitem-side quantity disjunction not pushed to the fact scan")
  }

  test("Q22: scalar threshold joins as a broadcast nested loop; inactivity stays an anti-join") {
    val plan = formatted(graft.queries.Tpch.queries("q_tpch_q22")(spark, TestSpark.sf0001))
    // BNLJ is the specific one-row-broadcast shape; the generic
    // BroadcastExchange check would be satisfied by the anti-join's own
    // broadcast and could not detect a lost hint.
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "one-row avg must join as a broadcast nested loop, not shuffle/cartesian")
    assert(plan.contains("LeftAnti"), "no-recent-orders must be an anti-join")
  }

  test("anomaly flags: moments broadcast back into the fact; no whole-fact window") {
    val plan = formatted(graft.queries.Stats.queries("q_anomaly_zscore")(spark, TestSpark.sf0001))
    assert(plan.contains("BroadcastExchange"), "per-type moments must broadcast")
    assert(!plan.contains("Window"), "flagging must not run as a whole-fact window")
  }

  test("union evolution: drift union aggregates with a map-side partial, one shuffle") {
    val plan = formatted(graft.queries.Relational.queries("q_union_evolution")(spark, TestSpark.sf0001))
    assert(plan.contains("Union"), "feeds must combine as a Union, not a join")
    assert("partial_(sum|count)".r.findFirstIn(plan).isDefined,
      "aggregate must keep its map-side partial below the union")
  }

  test("heavy hitters: candidates broadcast into a semi-join; no vocabulary-wide shuffle before it") {
    val plan = formatted(graft.queries.Analysis.queries("q_heavy_hitters")(spark, TestSpark.sf0001))
    assert(plan.contains("LeftSemi"), "exact pass must semi-join the candidate set")
    assert(plan.contains("BroadcastExchange"), "candidate set must broadcast")
  }

  test("approx sketches: one aggregate pass, map-side partials, single shuffle") {
    val plan = formatted(graft.queries.Advanced.queries("q_approx_distinct")(spark, TestSpark.sf0001))
    assert("partial_(approx_count_distinct|count)".r.findFirstIn(plan).isDefined,
      "sketch aggregate must keep its map-side partial")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      "error-bound columns must not add shuffles beyond the one aggregate")
  }

  test("LSH top-k self-assertion: exact top-k and recall broadcast; no cartesian blowup") {
    val plan = formatted(graft.queries.Advanced.queries("q_lsh_brp_topk")(spark, TestSpark.sf0001))
    assert(plan.contains("BroadcastExchange"),
      "the 10-row exact top-k / recall aggregate must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "recall attach must be a broadcast nested loop, not a cartesian shuffle")
  }

  test("incremental LSH: band-key equi-joins only; no existing-side self-join") {
    val plan = formatted(graft.queries.Analysis.queries("q_lsh_incremental")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "candidates must come from the band-key equi-join")
  }

  test("containment dedup: block equi-join with the intersect above the aggregate barrier") {
    val plan = formatted(graft.queries.Analysis.queries("q_containment_dedup")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct"),
      "pairs must come from the block equi-join, not a cross product")
    assert(plan.contains("sorted_intersect_count"),
      "verification must use the native merge-scan intersect")
  }

  test("bigram LM: aggregates before the probe join; no occurrence-grain re-join") {
    val plan = formatted(graft.queries.Retrieval.queries("q_bigram_lm")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    // the probe joins the per-(doc,bigram) multiplicity relation against
    // the SESSION-CACHED score table — the query's plan must consume the
    // cached derivation, not rebuild the corpus counts
    assert(plan.contains("In-memory table graft_bigram_score") ||
        plan.contains("InMemoryTableScan"),
      s"q_bigram_lm must consume the cached score table:\n$plan")
  }

  test("bigram LM: Zipf-head w1 join is adaptive + AQE-skew-eligible") {
    // the skew story for the 100 TB claim: the hot w1 key ("the") is
    // handled by AQE skew-join splitting at runtime, which requires (a)
    // adaptive execution with skew handling ON in the session, and (b)
    // the w1 join staying a shuffle equi-join (skew splitting does not
    // apply to broadcast/nested-loop shapes; those would also be wrong
    // at vocab scale)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "AQE must be on (session default) for the skew-join path")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
      "AQE skew-join handling must be on")
    // pin on the OPERATOR (bigramLmScore): the declared query consumes
    // the session-cached score table, so the w1-grain join lives in the
    // cached derivation's build, not the per-query plan
    def operatorPlan() = formatted(graft.queries.Retrieval.bigramLmScore(
      Tables.documents(spark, TestSpark.sf0001), "doc_id", org.apache.spark.sql.functions.col("text")))
    val plan = operatorPlan()
    assert(plan.contains("AdaptiveSparkPlan"),
      "bigram LM must execute under an adaptive plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "every join must stay an equi-join for skew splitting to apply")
    // At sf0.001 Catalyst rightly BROADCASTS the tiny cx aggregate — the
    // skew story only engages at corpus scale, where the unigram table
    // exceeds any broadcast threshold. Pin THAT shape by disabling
    // auto-broadcast (the stats regime of the 100 TB case): the w1-grain
    // join must degrade to a skew-splittable SHUFFLE equi-join
    // partitioned on w1 alone — never a nested loop, and no broadcast
    // hint hard-wired into the query that would pin the small-scale plan
    // at any size.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = operatorPlan()
      assert("SortMergeJoin|ShuffledHashJoin".r.findFirstIn(big).isDefined,
        "w1-grain join must be a shuffle join when broadcast is unavailable")
      assert("hashpartitioning\\(w1#\\d+, \\d+\\)".r.findFirstIn(big).isDefined,
        "an exchange must hash-partition on w1 ALONE (the cxy ⋈ cx grain)")
      assert(!big.contains("CartesianProduct") && !big.contains("BroadcastNestedLoop"),
        "no-broadcast regime must not fall back to a nested loop")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("tpch q2: part filter prunes lineitem before the distinct; min is a window") {
    val plan = formatted(graft.queries.Tpch.queries("q_tpch_q2")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "no nested-loop fallback anywhere in q2")
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      "nation and region dims should broadcast")
    // r20: the (p_size, p_type) filter reaches the part scan and its keys
    // semi-join the lineitem projection BELOW the distinct's exchange
    assert(plan.contains("EqualTo(p_size,15)"),
      "part filter must push to the part scan")
    assert("(?s)HashAggregate.*BroadcastHashJoin LeftSemi".r.findFirstIn(plan).isDefined,
      "filtered partkeys must prune the pair stream before the distinct")
    // and the per-part minimum is one window, not a groupBy + join-back
    assert(plan.contains("Window"), "min_bal must come from a partkey window")
  }

  test("tpch q21: only-late-supplier logic is one orderkey window, never a loop") {
    val plan = formatted(graft.queries.Tpch.queries("q_tpch_q21")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "no nested-loop fallback anywhere in q21")
    // r20: both quantified predicates (EXISTS another supplier / NOT
    // EXISTS another late one) are counts over the SAME order partition —
    // one window, and the pair relation is consumed exactly once (no
    // checkpointed self-semi/anti-join re-shuffles)
    assert("(?s)Window.*hashpartitioning\\(l_orderkey".r.findFirstIn(plan).isDefined,
      "the order-local counts must be one window partitioned by orderkey")
    assert(!plan.contains("LeftSemi") && !plan.contains("LeftAnti") &&
      !plan.contains("ExistingRDD"),
      "the pair relation must not be checkpointed and re-joined to itself")
  }

  test("knn graph: cell blocking is an equi-join — no cartesian; the only " +
    "nested loop is the bounded-centroid broadcast of ivfAssign") {
    val plan = formatted(graft.queries.Analysis.queries("q_knn_graph")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct"),
      "candidate pairs must come from the equi-join on cell, never all-pairs")
    // the assign step's crossJoin(broadcast(centroids)) is the SAME
    // allowed shape as q_kmeans (map-side argmin over bounded k); the
    // corpus-vs-corpus pair join itself must be the cell equi-join
    assert("SortMergeJoin Inner|ShuffledHashJoin Inner".r.findFirstIn(plan).isDefined,
      "the self-join must be a hash/merge equi-join on cell")
    assert(plan.contains("Window"), "per-vector top-k must be one ranking window")
  }

  test("hard negatives: probe set broadcasts; ranking partitions on qid") {
    val plan = formatted(graft.queries.VectorQ.queries("q_hard_negatives")(spark, TestSpark.sf0001))
    // the deliberate tiny-probe crossJoin(broadcast(...)) is the ONE
    // nested-loop allowed here; the corpus side must not shuffle for it
    assert(plan.contains("BroadcastExchange"), "probes must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "a non-broadcast cartesian means the probe hint was lost")
    assert("hashpartitioning\\(qid#\\d+".r.findFirstIn(plan).isDefined,
      "top-k window must partition by qid, not run globally")
  }

  test("source drift: probe join runs at vocab grain on w; no cartesian") {
    val plan = formatted(graft.queries.Retrieval.queries("q_source_drift")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct"),
      "only broadcast scalar joins are allowed (totals), never a cartesian")
    assert("hashpartitioning\\(w#\\d+".r.findFirstIn(plan).isDefined,
      "the per-word probe join must hash-partition on w")
  }

  test("repeated spans: gram-hash equi-join, no cartesian, island window above it") {
    val plan = formatted(graft.queries.Retrieval.queries("q_repeated_spans")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "candidate generation must be the positioned-gram equi-join, never all-pairs")
    assert(plan.contains("Window"), "maximal runs come from one island window, not iteration")
  }

  test("bm25: top-k never global-sorts; postings filter precedes the explode") {
    val plan = formatted(graft.queries.Retrieval.queries("q_bm25_topk")(spark, TestSpark.sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      "ranked retrieval must be top-k (TakeOrderedAndProject), not a full Sort")
    assert(!plan.contains("CartesianProduct"),
      "only the single-row totals broadcast is allowed, never a cartesian")
    // the in-row vocabulary filter must run inside the generator input, so
    // the exploded stream carries query postings only — the explain detail
    // shows the explode's input as filter(split(...)), never a post-explode
    // Filter over the full token stream
    assert("explode.*filter\\(split".r.findFirstIn(plan).isDefined,
      "the vocabulary filter must sit inside the explode input (in-row), not above it")
  }

  test("kmeans: centroids broadcast (bounded k); corpus never cartesians with itself") {
    val plan = formatted(graft.queries.SemanticQ.queries("q_kmeans")(spark, TestSpark.sf0001))
    // every assign round is crossJoin(broadcast(centroids)) — a
    // BroadcastNestedLoopJoin over k rows, i.e. a map-side argmin. A
    // CartesianProduct would mean a centroid table lost its hint and the
    // corpus is shuffling against itself.
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "assign must be a broadcast nested loop over the bounded centroid set")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian anywhere")
  }

  test("semdedup: pairwise stage is an equi-join on cluster, not all-pairs") {
    val plan = formatted(graft.queries.SemanticQ.queries("q_semdedup")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct"),
      "within-cluster pairs must come from an equi-join on the cluster key")
    assert("hashpartitioning\\(cluster#\\d+".r.findFirstIn(plan).isDefined ||
      "SortMergeJoin.*cluster|ShuffledHashJoin.*cluster".r.findFirstIn(plan).isDefined ||
      "BroadcastHashJoin".r.findFirstIn(plan).isDefined,
      "the candidate join must key on cluster")
  }

  test("phrase search: postings filter precedes the join; join keys on (doc, position)") {
    val plan = formatted(graft.queries.Retrieval.queries("q_phrase_search")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "adjacency must be the (doc, pos+1) equi-join, never all-pairs")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findFirstIn(plan).isDefined,
      "postings adjacency must be a hash/merge equi-join")
  }

  test("scd2 history: one shuffle on the entity key serves both window stages") {
    val plan = formatted(graft.queries.Temporal.queries("q_scd2_history")(spark, TestSpark.sf0001))
    // the lag change-filter and the lead close share (partition, order),
    // and the filter preserves both — a second hashpartitioning exchange
    // on user_id would mean the sort-reuse contract broke
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      "expected exactly one user_id shuffle feeding both Window stages")
    assert("Window".r.findAllIn(plan).size >= 2, "lag and lead stages expected")
  }

  test("recall eval: both rankings are top-k, never global sorts") {
    val plan = formatted(graft.queries.SemanticQ.queries("q_recall_ivf")(spark, TestSpark.sf0001))
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      "exact baseline and IVF side must both be per-partition top-k")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian")
  }

  test("corpus build v2: semdedup assignment materializes once, prune joins on cluster, no cartesian") {
    val plan = formatted(graft.queries.Clustering.queries("q_corpus_build_v2")(spark, TestSpark.sf0001))
    // r21: the k-way argmin assignment subtree runs ONCE at the shared-
    // subtree cap (so the final plan consumes its ExistingRDD on both
    // pair sides instead of re-planning the BroadcastNestedLoopJoin
    // argmin per side — OPTIMIZATION_r21.md §9)
    assert(plan.contains("Scan ExistingRDD"),
      "assignment+payload relation must be the materialized shared subtree")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "the bounded-k argmin must not be re-planned per pair side")
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian anywhere")
    assert("(?s)Join.*cluster".r.findFirstIn(plan).isDefined,
      "pairwise cosine stage must equi-join on the cluster key")
  }

  /** The SemDeDup pair stage's bucket-key equi-join in `plan`: one join
    * whose keys are exactly `key` on both sides. */
  private def bucketJoin(plan: String, key: Seq[String]): Boolean = {
    val keys = key.map(k => s"$k#\\d+L?").mkString(", ")
    s"Left keys \\[${key.size}\\]: \\[$keys\\]\\s+Right keys \\[${key.size}\\]: \\[$keys\\]"
      .r.findFirstIn(plan).isDefined
  }

  /** The ExistingRDDs `plan` scans, by RDD id. */
  private def existingRdds(plan: String): Set[String] =
    "(?s)Scan ExistingRDD.*?Arguments: [^\\n]*?(\\w+RDD\\[\\d+\\])".r
      .findAllMatchIn(plan).map(_.group(1)).toSet

  test("semdedup_capped: the pairwise stage is one equi-join on (cluster, sb), " +
    "not all-pairs") {
    val plan = formatted(graft.queries.SemanticQ.queries("q_semdedup_capped")(spark, TestSpark.sf0001))
    assert(!plan.contains("CartesianProduct"),
      "within-bucket pairs must come from an equi-join on the bucket key")
    assert(bucketJoin(plan, Seq("cluster", "sb")),
      s"the candidate join must key on (cluster, sb):\n$plan")
  }

  test("corpus build v3 / capped: one shared SemDeDup materialization, prune " +
    "joins on the bucket key, no cartesian") {
    for ((name, key) <- Seq("q_corpus_build_v3" -> Seq("cluster"),
        "q_corpus_build_capped" -> Seq("cluster", "sb"))) {
      val plan = formatted(graft.queries.Clustering.queries(name)(spark, TestSpark.sf0001))
      assert(existingRdds(plan).size == 1,
        s"$name: both pair sides must read the one pinned relation:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name: the bounded-k argmin must not be re-planned per pair side")
      assert(!plan.contains("CartesianProduct"), s"$name: no unbroadcast cartesian anywhere")
      assert(bucketJoin(plan, key), s"$name: the prune must equi-join on $key:\n$plan")
    }
  }

  test("per-group top-k family compiles to WindowGroupLimit (map-side rank limit)") {
    // rank-then-filter per group must stay the partial WindowGroupLimit
    // shape — each map task keeps at most k rows per group BEFORE the
    // window shuffle — not a full per-group sort of every scored row. A
    // refactor that hides the rank filter from the optimizer (e.g. a
    // filter on a derived column) silently re-sorts the corpus at scale.
    for ((name, q) <- Seq(
        "q_hard_negatives" -> graft.queries.VectorQ.queries("q_hard_negatives"),
        "q_multi_query_topk" -> graft.queries.VectorQ.queries("q_multi_query_topk"),
        "q_knn_graph" -> graft.queries.Analysis.queries("q_knn_graph"))) {
      val plan = formatted(q(spark, TestSpark.sf0001))
      assert(plan.contains("WindowGroupLimit"),
        s"$name lost its WindowGroupLimit (per-group rank now fully sorts)")
    }
  }

  test("typed TopK aggregator keeps its map-side partial heap (no window sort)") {
    // q_topk_per_label is the same family through the typed Aggregator:
    // the bound comes from a partial_ TopK before the group exchange, so
    // the shuffle carries at most k rows per (task, label) — assert the
    // partial stage exists and no Window/global-sort crept in
    val plan = formatted(graft.queries.Typed.queries("q_topk_per_label")(spark, TestSpark.sf0001))
    assert("partial_\\(graft\\.functions\\.TopK".r.findFirstIn(plan).isDefined,
      "TopK must partial-aggregate map-side before the exchange")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      "partial + final aggregate pair expected")
    assert(!plan.contains("WindowGroupLimit") && !" Window ".r.findFirstIn(plan).isDefined,
      "typed path must not fall back to a window rank")
  }

  test("bloom prune: orders scan is pre-filtered before the exact semi-join") {
    val plan = formatted(graft.queries.Relational.queries("q_bloom_prune")(spark, TestSpark.sf0001))
    // the UDF pre-filter must sit BELOW the semi-join (scan side), and the
    // exact join stays a semi-join so bloom false positives are removed
    assert(plan.contains("LeftSemi"), "exactness comes from the left-semi join")
    // the sketch probe renders as a UDF inside a Filter over o_custkey,
    // below the join (scan side) — not above the aggregate
    assert("UDF\\(knownnotnull\\(o_custkey".r.findFirstIn(plan).isDefined,
      "bloom pre-filter must sit in a Filter on the orders scan side")
  }
}
