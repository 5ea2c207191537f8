package graft.operators

import graft.functions.VectorOps
import graft.operators.TextAnalysis._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, each designed for
  * the 100 TB shape:
  *
  *  - exact: one shuffle on a 128-bit content hash — never compares text;
  *  - item-set Jaccard: pairwise only *within blocks* (cheap blocking key),
  *    never a global cross join;
  *  - MinHash+LSH: shingle → seeded-minhash signature → band buckets →
  *    bucket-equijoin for candidates → exact Jaccard verify. Candidate
  *    generation is an equi-join on band keys (shuffle on key, no n²);
  *  - SimHash: one 60-bit fingerprint per doc (TextAnalysis.simhash), near
  *    dups = small hamming distance;
  *  - embedding cosine: near-dup pairs above a cosine threshold within
  *    blocks (the MLlib LSH path for unblocked scale lives in AnnSearch);
  *  - SemDeDup: the cosine pair stage within k-means cells (or capped
  *    runs of them), dropping the higher id of each near-dup pair.
  *
  * All hashes derive from md5, so every operator here is reproducible in
  * the DuckDB oracle bit-for-bit. Item sets (unigram tokens, n-gram
  * shingles) are passed as array columns — see TextAnalysis.tokens /
  * TextAnalysis.shingles.
  */
object Dedup {

  /** Score-then-filter barrier. A naive `join → withColumn(score) →
    * filter(score ≥ t)` lets Catalyst push the threshold predicate into
    * the join *condition*, where the expensive set/vector expression is
    * re-evaluated once per reference (observed: 3× array_intersect per
    * candidate pair, interpreted, outside codegen). Computing the score as
    * an aggregate over the (unique) pair key fixes this structurally:
    * predicates on aggregate outputs cannot be pushed below the Aggregate,
    * the score is evaluated exactly once per pair in the map-side partial
    * aggregate, and only (id_a, id_b, score) ever shuffles. At 100 TB the
    * same shape holds — candidate generation stays a cheap equi-join, the
    * scoring pass is one map-side evaluation.
    */
  private def scorePairs(pairs: DataFrame, score: Column, outName: String,
                         threshold: Double): DataFrame =
    pairs.groupBy(col("id_a"), col("id_b"))
      .agg(min(score).as(outName))
      .where(col(outName) >= threshold)
      .select(col("id_a"), col("id_b"), col(outName))

  /** Exact duplicate groups by content hash; canonical row = min id. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Jaccard similarity of two already-distinct item arrays. Note: `a`/`b`
    * appear once per reference in the expression tree — callers on hot
    * paths should materialize the intersection size first (see
    * jaccardFromSizes) so codegen doesn't recompute array_intersect.
    */
  def jaccard(a: Column, b: Column): Column =
    jaccardFromSizes(size(array_intersect(a, b)), size(a), size(b))

  /** Jaccard from precomputed |A∩B|, |A|, |B| (each evaluated once). */
  def jaccardFromSizes(inter: Column, na: Column, nb: Column): Column = {
    val i = inter.cast("double")
    val union = (na + nb).cast("double") - i
    when(union === 0.0, 0.0).otherwise(i / union)
  }

  /** Near-dup pairs (id_a < id_b) with item-set Jaccard >= threshold,
    * restricted to pairs sharing `blockCol` — blocking keeps this an
    * equi-join (block key = shuffle key at scale).
    * `items` maps the input row to its distinct item array. Item sizes are
    * computed per row before the join; the per-pair work is exactly one
    * array_intersect. Generic over element type — prefer
    * `jaccardPairsHashed` on hot paths (sorted-merge native intersect).
    */
  def jaccardPairs(df: DataFrame, idCol: String, blockCol: String,
                   items: Column, threshold: Double): DataFrame =
    jaccardPairsImpl(df, idCol, blockCol, items, threshold,
      (a, b) => size(array_intersect(a, b)))

  /** jaccardPairs over md5-hashed distinct item arrays (array<bigint>):
    * arrays are sorted once per row and each pair's intersection count is
    * a native merge scan (SortedIntersectCount) — no per-pair hash-set
    * allocation. Jaccard values equal the string-set form modulo md5
    * collisions, which the oracle mirrors by hashing identically.
    *
    * Candidate generation is PREFIX FILTERING (SSJoin/PPJoin), not raw
    * block pairing: with items in a global sort order, any pair with
    * Jaccard >= t must share at least one element among each side's first
    * (n - ceil(t·n) + 1) elements, so candidates come from an equi-join on
    * (block, prefix-element). Candidate count is bounded by per-element
    * frequency within the prefix — a single huge block no longer
    * enumerates O(block²) pairs. Output is identical to exhaustive
    * block pairing (the prefix theorem guarantees recall; verification is
    * exact).
    */
  def jaccardPairsHashed(df: DataFrame, idCol: String, blockCol: String,
                         hashedItems: Column, threshold: Double): DataFrame =
    jaccardPairsHashedFromSets(
      df.select(col(blockCol).as("block"), col(idCol).as("id"),
        array_sort(hashedItems).as("items")), threshold)

  /** jaccardPairsHashed over a prebuilt `(block, id, items sorted-asc)`
    * relation — callers that reuse the token-hash pass across queries
    * (the persisted-signature-table pattern, like `Dedup.hashedSets` for
    * minhash) materialize it once and feed it here.
    */
  def jaccardPairsHashedFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    val toks = sets.withColumn("n", size(col("items")))
    val cand = jaccardCandidatesHashed(toks, threshold)
    scorePairs(
      cand
        .join(toks.select(col("id").as("id_a"), col("items").as("items_a"),
          col("n").as("n_a")), Seq("id_a"))
        .join(toks.select(col("id").as("id_b"), col("items").as("items_b"),
          col("n").as("n_b")), Seq("id_b")),
      jaccardFromSizes(
        graft.functions.SortedIntersectCount(col("items_a"), col("items_b")),
        col("n_a"), col("n_b")),
      "jaccard", threshold)
  }

  /** Edges sufficient for the SAME connected components as
    * `jaccardPairsHashedFromSets(sets, threshold)` — with identical
    * item SETS contracted first. Docs whose distinct-item arrays are
    * equal have Jaccard 1 ≥ any threshold, so they always share a
    * component: each set keeps one representative (min id), the
    * pairwise stage runs over DISTINCT (block, items) rows only, and
    * every non-representative contributes one star edge to its
    * representative. Components (and thus min-id cluster labels) are
    * EXACTLY those of the full pair relation: star edges are a
    * spanning subgraph of each same-set clique, and any cross-set edge
    * (a,b) is witnessed by (rep_a, rep_b) since Jaccard is set-level.
    *
    * This is the quadratic-clique valve the sf1 scale probe demanded:
    * on a corpus where a constant FRACTION of docs share saturated
    * token sets (bounded vocabulary — boilerplate-heavy web crawls),
    * the full pair relation grows ∝ N² while distinct sets stay
    * ~constant, so contraction turns the CC edge input from O(N²) to
    * O(D² + N) with D = distinct sets.
    *
    * Contraction runs UNCONDITIONALLY. A global distinct-ratio gate was
    * tried and measured WRONG at sf1: D/N = 0.824 looks high-entropy,
    * but the duplicate sets concentrate exactly in the saturated
    * quasi-clique core, so skipping contraction cost 209 s where
    * contracting took 56 s (pair candidates scale with the SQUARE of
    * clique membership, which global D/N does not see). The small-SF
    * premium is one wide-key groupBy + join (~1 s at sf0.1, recorded
    * in BENCH_MEDIANS_r10) — the insurance price for never hitting the
    * quadratic cliff.
    */
  def componentEdgesBySet(sets: DataFrame, threshold: Double): DataFrame = {
    // EMPTY item sets are excluded from contraction: two empty sets have
    // Jaccard 0 (union = 0 — see jaccardFromSizes) so the full pair
    // relation keeps them as singletons, and grouping them under
    // (block, []) would wrongly star-connect them. They generate no
    // prefix candidates either (empty prefix), so dropping them here
    // changes nothing downstream: they simply stay edge-less singletons.
    val nonEmpty = sets.where(size(col("items")) > 0)
    val reps = nonEmpty.groupBy(col("block"), col("items"))
      .agg(min(col("id")).as("rep"))
    val repPairs = jaccardPairsHashedFromSets(
        reps.select(col("block"), col("rep").as("id"), col("items")), threshold)
      .select(col("id_a"), col("id_b"))
    val starEdges = nonEmpty.join(reps, Seq("block", "items"))
      .where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    repPairs.unionAll(starEdges)
  }

  /** Prefix-filter candidate pairs over a (block, id, items sorted-asc, n)
    * relation: explode each row's length-(n - ceil(t·n) + 1) prefix and
    * equi-join on (block, element), with the size-compatibility predicate
    * (jaccard >= t ⇒ min(n_a,n_b) >= t·max(n_a,n_b)) pruning inside the
    * join. Exposed package-private so tests can assert the candidate
    * count stays bounded on pathological blocks.
    */
  private[graft] def jaccardCandidatesHashed(toks: DataFrame, threshold: Double): DataFrame = {
    val prefLen = greatest(
      (col("n") - ceil(col("n") * threshold) + 1).cast("int"), lit(1))
    val pref = toks.select(col("block"), col("id"), col("n"),
      explode(slice(col("items"), lit(1), prefLen)).as("item"))
    val a = pref.select(col("block"), col("item"), col("id").as("id_a"), col("n").as("n_a"))
    val b = pref.select(col("block"), col("item"), col("id").as("id_b"), col("n").as("n_b"))
    a.join(b, Seq("block", "item"))
      .where(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")).cast("double") >=
          greatest(col("n_a"), col("n_b")).cast("double") * threshold)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Shared skeleton: block self-join with the set-similarity size filter
    * (jaccard >= t implies min(|A|,|B|) >= t·max — |A∩B| <= min and
    * |A∪B| >= max; cheap int predicate inside the join, pruning pairs
    * before any intersection runs), then score above the Aggregate
    * barrier. `intersectCount` supplies the per-pair |A∩B| expression.
    */
  private def jaccardPairsImpl(df: DataFrame, idCol: String, blockCol: String,
                               items: Column, threshold: Double,
                               intersectCount: (Column, Column) => Column): DataFrame = {
    val toks = df.select(col(blockCol).as("block"), col(idCol).as("id"),
      items.as("items")).withColumn("n", size(col("items")))
    val a = toks.select(col("block"), col("id").as("id_a"),
      col("items").as("items_a"), col("n").as("n_a"))
    val b = toks.select(col("block"), col("id").as("id_b"),
      col("items").as("items_b"), col("n").as("n_b"))
    val sizeCompatible =
      least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")).cast("double") * threshold
    scorePairs(
      a.join(b, Seq("block"))
        .where(col("id_a") < col("id_b") && sizeCompatible),
      jaccardFromSizes(intersectCount(col("items_a"), col("items_b")),
        col("n_a"), col("n_b")),
      "jaccard", threshold)
  }

  /** Fixed affine constants for the minhash family (< 2^31 so the affine
    * products stay under 2^61 — no 64-bit overflow in either engine;
    * DuckDB BIGINT overflow throws rather than wrapping). Single source of
    * truth: the oracle SQL embeds these same values as list literals.
    */
  val minhashA: Seq[Long] = Seq.tabulate(16)(i => ((2654435761L * (2 * i + 1)) & 0x7FFFFFFFL) | 1L)
  val minhashB: Seq[Long] = Seq.tabulate(16)(i => ((2246822519L * (2 * i + 2)) & 0x7FFFFFFFL) | 1L)

  /** Minhash signature over a distinct item array: one md5 per item, then
    * per-seed affine transforms of the 60-bit hash split into 30-bit
    * halves — h_i = A(i)·lo + B(i)·hi + i, signature(i) = min over items.
    * This is the standard one-base-hash k-permutation construction: it
    * avoids k md5 evaluations per item (the dominant cost at corpus
    * scale) while staying bit-reproducible in the DuckDB oracle.
    */
  def minhashSignature(items: Column, nHashes: Int): Column =
    minhashSignatureFromHashes(transform(items, t => md5Hash60(t)), nHashes)

  /** Signature from a precomputed 60-bit hash array (native single-pass
    * expression — see MinhashSignature; bit-identical to the HOF form).
    */
  def minhashSignatureFromHashes(hashes: Column, nHashes: Int): Column = {
    require(nHashes <= minhashA.size, s"at most ${minhashA.size} hashes supported")
    graft.functions.MinhashSignature(hashes, nHashes, minhashA, minhashB)
  }

  /** LSH band key for band b: md5 of "b:" + the band's signature slice.
    * Docs sharing any band key become candidate pairs.
    */
  def bandKey(sig: Column, band: Column, rowsPerBand: Int): Column =
    md5(concat(band.cast("string"), lit(":"),
      concat_ws(",", transform(
        slice(sig, band * rowsPerBand + 1, lit(rowsPerBand)),
        x => x.cast("string")))).cast("binary"))

  /** The hashed item-set relation `(id, hsorted)` that feeds MinHash+LSH:
    * one md5 per distinct item, sorted ascending. Only the sorted hash
    * array is kept — the item strings are consumed by the md5 pass, and
    * the minhash signature (min over affine transforms) is
    * order-insensitive, so one array serves both the signature and the
    * sorted-merge verification.
    *
    * This relation feeds three plan branches downstream (banding + both
    * sides of the verify join), so hot-path callers should materialize it
    * — `hashedSets(...).persist()` or a cached temp view — and pass it to
    * `minhashNearDupFromSets`. At production scale this is the persisted
    * signature table; its lifecycle belongs to the caller (this object
    * holds no state).
    */
  def hashedSets(df: DataFrame, idCol: String, items: Column): DataFrame =
    df.select(col(idCol).as("id"),
      array_sort(transform(items, t => TextAnalysis.md5Hash60(t))).as("hsorted"))

  /** MinHash+LSH near-dup pairs: signature → band buckets → bucket
    * equi-join (distinct id pairs) → exact Jaccard verification.
    * nHashes = bands * rowsPerBand. The candidate join shuffles on the
    * band key only; item arrays are joined back for verification.
    * Convenience form — builds the hashed-set relation inline and
    * materializes it once (localCheckpoint) for the three consuming plan
    * branches; callers with a longer-lived signature table should cache
    * `hashedSets` themselves and use `minhashNearDupFromSets`.
    */
  def minhashNearDup(df: DataFrame, idCol: String, items: Column,
                     bands: Int, rowsPerBand: Int, threshold: Double): DataFrame =
    // localCheckpoint materializes the hashed-set relation once for the
    // three plan branches (banding + both verify sides) without
    // process-global cache state — the RDD is GC-cleaned when the plan
    // is dropped. Callers with a longer-lived signature table use
    // minhashNearDupFromSets over their own cached relation.
    minhashNearDupFromSets(hashedSets(df, idCol, items).localCheckpoint(),
      bands, rowsPerBand, threshold)

  /** MinHash+LSH over a prebuilt `(id, hsorted)` relation (see
    * `hashedSets`). Caching/persistence of `sets` is the caller's.
    */
  def minhashNearDupFromSets(sets: DataFrame,
                             bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val banded = bandTable(sets, bands, rowsPerBand)
    val cand = banded.select(col("bkey"), col("id").as("id_a"))
      .join(banded.select(col("bkey"), col("id").as("id_b")), Seq("bkey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // Verification runs on the sorted hash arrays (native merge-scan
    // intersect) — counts equal the item-set form, collisions mirrored by
    // the oracle's identical md5 hashing.
    scorePairs(
      cand
        .join(sets.select(col("id").as("id_a"), col("hsorted").as("items_a")), Seq("id_a"))
        .join(sets.select(col("id").as("id_b"), col("hsorted").as("items_b")), Seq("id_b")),
      jaccardFromSizes(
        graft.functions.SortedIntersectCount(col("items_a"), col("items_b")),
        size(col("items_a")), size(col("items_b"))),
      "jaccard", threshold)
  }

  /** The banded LSH key relation `(id, bkey)` for a `(id, hsorted)`
    * signature relation — at production scale this is PERSISTED next to
    * the signature table and only ever appended to (one batch's worth
    * of signature work per batch).
    */
  def bandTable(sets: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sets
      // An EMPTY item set has no minhash (all-null signature) and
      // Jaccard 0 with everything — including other empty sets — so it
      // must produce no band rows at all. Without this filter every
      // empty-set doc shares the same degenerate band keys and the
      // bucket-union components (q_dup_clusters_lsh, corpus_build_lsh)
      // would systematically merge all sub-shingle-length docs into one
      // cluster; the exact path already pins empty sets as singletons
      // (componentEdgesBySet), and the DuckDB twin's NULL band keys
      // drop out of its equi-join — this keeps all three aligned.
      .where(size(col("hsorted")) > 0)
      .select(col("id"),
        minhashSignatureFromHashes(col("hsorted"), bands * rowsPerBand).as("sig"))
      .select(col("id"), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("id"), bandKey(col("sig"), col("band"), rowsPerBand).as("bkey"))

  /** Incremental MinHash+LSH: near-dup pairs where at least one side is
    * from the NEW batch — the continuous-ingestion shape. Per-batch
    * signature/band work is the BATCH's: the new batch is banded once
    * (checkpointed — it feeds two joins), and the existing corpus
    * contributes through `existingBanded`, the persisted band table
    * (when absent it is derived here, which costs one corpus pass —
    * fine for tests, not the production path). Candidates are
    * new↔new plus new↔existing; existing↔existing pairs are never
    * enumerated. Re-ingested ids supersede their existing rows (the
    * new version wins — one anti-join), so ids are effectively
    * disjoint and the output convention matches the full form
    * (id_a < id_b, exact Jaccard verify):
    *   incremental(new, existing) ≡ full(existing ∪ new) ∖ full(existing)
    * for disjoint ids — asserted in DedupSpec.
    */
  def minhashNearDupIncremental(newSets: DataFrame, existingSets: DataFrame,
                                bands: Int, rowsPerBand: Int, threshold: Double,
                                existingBanded: Option[DataFrame] = None): DataFrame = {
    // new version of a re-ingested id supersedes the existing row
    val existing = existingSets.join(newSets.select(col("id")), Seq("id"), "left_anti")
    val bandedNew = bandTable(newSets, bands, rowsPerBand).localCheckpoint()
    val bandedExisting = existingBanded.getOrElse(bandTable(existing, bands, rowsPerBand))
      // superseded ids must not surface from a stale persisted band table
      .join(newSets.select(col("id")), Seq("id"), "left_anti")
    val cand = bandedNew.select(col("bkey"), col("id").as("id_n"))
      .join(bandedNew.select(col("bkey"), col("id").as("id_o"))
          .union(bandedExisting.select(col("bkey"), col("id").as("id_o"))),
        Seq("bkey"))
      .where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"))
      .distinct()
    val all = existing.union(newSets)
    scorePairs(
      cand
        .join(all.select(col("id").as("id_a"), col("hsorted").as("items_a")), Seq("id_a"))
        .join(all.select(col("id").as("id_b"), col("hsorted").as("items_b")), Seq("id_b")),
      jaccardFromSizes(
        graft.functions.SortedIntersectCount(col("items_a"), col("items_b")),
        size(col("items_a")), size(col("items_b"))),
      "jaccard", threshold)
  }

  /** Embedding near-dup pairs: cosine >= threshold within blocks, over
    * [[normedPairs]] (norms once per vector, one dot product per pair).
    */
  def cosinePairs(df: DataFrame, idCol: String, embCol: String,
                  blockCol: String, threshold: Double): DataFrame =
    scorePairs(normedPairs(df, idCol, embCol, Seq(blockCol)), normedCosine,
      "cos", threshold)

  /** The candidate pairs of [[cosinePairs]] and [[semDedup]]: rows of
    * `df` that agree on every `keyCols` column (one equi-join on them),
    * with `id_a < id_b` and each side's vector (`v_a`, `v_b`) and L2 norm
    * (`nrm_a`, `nrm_b`). The norms are computed once per vector before
    * the join (O(n·d)), so the per-pair work is a single dot product
    * (O(pairs·d)) — at scale the norm column ships with the shuffle
    * instead of being recomputed per candidate pair.
    */
  private def normedPairs(df: DataFrame, idCol: String, embCol: String,
                          keyCols: Seq[String]): DataFrame = {
    val key = keyCols.map(col)
    val v = df.select(key ++ Seq(col(idCol).as("id"), col(embCol).as("v")): _*)
      .withColumn("nrm", VectorOps.l2Norm(col("v")))
    def side(t: String) = v.select(key ++ Seq(col("id").as(s"id_$t"),
      col("v").as(s"v_$t"), col("nrm").as(s"nrm_$t")): _*)
    side("a").join(side("b"), keyCols).where(col("id_a") < col("id_b"))
  }

  /** The cosine of a [[normedPairs]] row: 0 when either norm is 0, the
    * value of `VectorOps.cosine` otherwise. */
  private val normedCosine: Column =
    when(col("nrm_a") * col("nrm_b") === 0.0, 0.0)
      .otherwise(VectorOps.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))

  /** SemDeDup (Abbas et al. 2023), the one spelling: assign the
    * `(vec_id, v)` scaled-integer `vecs` to their nearest of `cents`
    * (one map-side broadcast argmin), optionally chunk each cell into
    * runs of at most `cap` members by (distance-to-centroid, vec_id)
    * rank, attach the `(vec_id, embedding)` `payload`, and drop every
    * vector with cosine ≥ 0.4 to a lower vec_id in its bucket — the
    * [[normedPairs]] equi-join on the bucket key, so the pairwise work
    * is Σ|bucket|², never N² (≤ N·cap under a cap). Returns the dropped
    * `vec_id`s.
    *
    * `pin` materializes the assigned + payload relation once
    * ([[Iterate.cap]]) for both pair sides. The corpus builds pin: their
    * duplicate argmin subtrees compete with the rest of the pipeline
    * for the same cores, and the cap measured faster there (r21;
    * capping only the narrow assignment measured worse — the unsized
    * ExistingRDD demotes the payload re-attach from a broadcast to a
    * sort-merge join). The standalone q_semdedup* queries stay lazy:
    * there the duplicate subtrees run as independent parallel stages on
    * idle cores, and a cap serializes an extra job ahead of them
    * (1.6–3.7× slower, r21).
    */
  def semDedup(vecs: DataFrame, payload: DataFrame, cents: Seq[(Long, Seq[Long])],
               cap: Option[Int], pin: Boolean): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val asg = KMeansOp.assignCells(vecs, cents.toDF("cid", "c"))
      .select(col("vec_id"), col("cid").as("cluster"), col("dist"))
    val (buckets, key) = cap match {
      case None => (asg.drop("dist"), Seq("cluster"))
      case Some(c) =>
        val rank = Window.partitionBy(col("cluster"))
          .orderBy(col("dist").asc, col("vec_id").asc)
        (asg.withColumn("rn", row_number().over(rank))
          .selectExpr("vec_id", "cluster", s"CAST((rn - 1) div $c AS BIGINT) AS sb"),
          Seq("cluster", "sb"))
    }
    val ve = buckets.join(payload.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    // the drops need no score, so the threshold filters inside the join
    // and no pair-keyed aggregate runs: cosinePairs' scorePairs barrier
    // (one more shuffle of every candidate pair) measured 1.28x slower
    // on q_semdedup_scaled at sf0.1
    normedPairs(if (pin) Iterate.cap(Iterate.envDir)(ve) else ve,
        "vec_id", "embedding", key)
      .where(normedCosine >= 0.4)
      .select(col("id_b").as("vec_id"))
      .distinct()
  }
}
