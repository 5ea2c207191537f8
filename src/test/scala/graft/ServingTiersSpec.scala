package graft

import graft.operators.KMeansOp
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-17 serving tiers over the declared queries: the
  * cell-partitioned persisted index (partition pruning at the listing),
  * the IVFADC + exact-refine composition, and the SQ8 scalar-quantized
  * scan — each pinned against an independent driver-side replay and,
  * where the point IS the physical plan, against the plan itself.
  */
class ServingTiersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def fileScans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case f: FileSourceScanExec => f }.toSeq
  }

  private def intVecsLocal(): Map[Long, Seq[Long]] =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  private def idist(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("q_ann_ivfpq_part: the persisted index scan prunes to the probed " +
    "cell directories and serves the flat query's exact top-10") {
    val df = queries.SemanticQ.queries("q_ann_ivfpq_part")(spark, d)
    val scans = fileScans(df)
    assert(scans.nonEmpty, "expected a parquet scan over the persisted index")
    val scan = scans.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell")),
      s"probe-cell predicate must be a PARTITION filter:\n${scan.toString}")
    // nProbe = 2: the listing itself must stop at the two probed cells
    assert(scan.selectedPartitions.partitionCount == 2,
      s"scan listed ${scan.selectedPartitions.partitionCount} partitions, " +
        "expected exactly the 2 probed cells")
    // ... out of the K = 8 cell directories the write laid down
    val base = queries.SemanticQ.partitionedCodesPath(spark, d)
    val cellDirs = new java.io.File(base).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs == 8, s"expected 8 cell= directories, found $cellDirs")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val flat = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == flat, "partitioned-index serving diverged from q_ann_ivfpq")
  }

  test("q_ann_ivfpq_rerank: exact re-rank of the ADC shortlist, " +
    "candidates broadcast back into the vector table") {
    val vecs = intVecsLocal()
    val qv = vecs(0L)
    val shortlist = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d)
      .collect().map(_.getLong(0)).toSet
    val expect = shortlist.toSeq
      .map(id => (id, idist(vecs(id), qv)))
      .sortBy { case (id, dd) => (dd, id) }.take(3)
    val df = queries.SemanticQ.queries("q_ann_ivfpq_rerank")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"the R-candidate fetch must be a broadcast semi-join:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, "refined top-3 diverged from the scalar replay")
  }

  test("q_recall_ivfpq_rerank: ppm recomputed from the two sides") {
    val vecs = intVecsLocal()
    val qv = vecs(0L)
    val exact3 = vecs.toSeq.map { case (id, v) => (id, idist(v, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(3).map(_._1).toSet
    val refined = queries.SemanticQ.queries("q_ann_ivfpq_rerank")(spark, d)
      .collect().map(_.getLong(0)).toSet
    val hits = exact3.count(refined.contains)
    val row = queries.SemanticQ.queries("q_recall_ivfpq_rerank")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 3L)
    // the refine theorem: refined top-3 is the exact-best of the
    // shortlist, so every exact-top-3 member the shortlist CONTAINS is
    // recovered — hits(refined) = |exact3 ∩ shortlist| ≥ hits(plain
    // ADC top-3). What refine cannot buy back is a candidate the
    // nProbe=2 probe never shortlisted (here 2 of 3 — the R/nProbe
    // trade this monitor exists to surface).
    val shortlist = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d)
      .collect().map(_.getLong(0)).toSet
    assert(hits == exact3.count(shortlist.contains),
      "refine failed to recover a shortlisted exact-top-3 member")
    val adc3 = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d)
      .collect().take(3).map(_.getLong(0)).toSet
    assert(hits >= exact3.count(adc3.contains),
      "refined recall fell below the unrefined ADC top-3's")
  }

  test("q_ann_ivfpq_rerank_batch: per-qid exact re-rank of the batch " +
    "shortlist matches a scalar replay over the served shortlist") {
    val vecs = intVecsLocal()
    // the declared batch query serves topK=3; rebuild the topK=10
    // shortlist through the same private dataflow the rerank composes
    val vdf = Tables.embeddings(spark, d).select(col("vec_id"),
      graft.operators.KMeansOp.intVec(col("embedding")).as("v"))
    val probes = vdf.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    val shortlist = queries.SemanticQ.annIvfPqBatch(vdf, probes,
        queries.SemanticQ.trainedCentroids(spark, d),
        queries.SemanticQ.pqCodebooks(spark, d), nProbe = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val expect = Seq(0L, 1L, 2L).flatMap { qid =>
      shortlist.filter(_._1 == qid)
        .map { case (_, id) => (id, idist(vecs(id), vecs(qid))) }
        .sortBy { case (id, dd) => (dd, id) }.take(3).zipWithIndex
        .map { case ((id, dd), i) => (qid, (i + 1).toLong, id, dd) }
    }
    val df = queries.SemanticQ.queries("q_ann_ivfpq_rerank_batch")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"shortlist and probe relations must broadcast into the fetch:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 4,
      s"batch refine added shuffles beyond the ADC agg + rank windows:\n$plan")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect, "batch refine diverged from the scalar replay")
    // qid 0's refined head must equal the single-probe refine
    val single = queries.SemanticQ.queries("q_ann_ivfpq_rerank")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.filter(_._1 == 0L).map(r => (r._3, r._4)) == single)
  }

  test("q_sq8_topk: global-scale int8 codes and code-space distances " +
    "match an independent scalar replay") {
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val amax = emb.valuesIterator.flatMap(_.iterator).map(e => math.abs(e.toDouble)).max
    def codes(v: Seq[Float]): Seq[Long] =
      v.map(e => if (amax == 0.0) 0L
        else math.floor(e.toDouble / (amax / 127.0) + 0.5).toLong)
    val all = emb.map { case (id, v) => id -> codes(v) }
    assert(all.valuesIterator.flatMap(_.iterator).forall(c => c >= -127L && c <= 127L),
      "codes must fit int8")
    val qc = all(0L)
    val expect = all.toSeq
      .map { case (id, cv) => (id, idist(cv, qc)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10)
    val got = queries.SemanticQ.queries("q_sq8_topk")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, "SQ8 top-10 diverged from the scalar replay")
  }

  test("q_sq8_batch: per-qid SQ8 top-3 matches a scalar replay; head " +
    "agrees with the single-probe query") {
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val amax = emb.valuesIterator.flatMap(_.iterator)
      .map(e => math.abs(e.toDouble)).max
    def codes(v: Seq[Float]): Seq[Long] =
      v.map(e => if (amax == 0.0) 0L
        else math.floor(e.toDouble / (amax / 127.0) + 0.5).toLong)
    val all = emb.map { case (id, v) => id -> codes(v) }
    val expect = Seq(0L, 1L, 2L).flatMap { qid =>
      all.toSeq.map { case (id, cv) => (id, idist(cv, all(qid))) }
        .sortBy { case (id, dd) => (dd, id) }.take(3).zipWithIndex
        .map { case ((id, dd), i) => (qid, (i + 1).toLong, id, dd) }
    }
    val got = queries.SemanticQ.queries("q_sq8_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect, "batch SQ8 diverged from the scalar replay")
    val single = queries.SemanticQ.queries("q_sq8_topk")(spark, d)
      .collect().take(3).map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.filter(_._1 == 0L).map(r => (r._3, r._4)) == single)
  }

  test("q_ann_ivf_sq8: probed-cell SQ8 scan matches a scalar replay " +
    "over cells and codes") {
    val ivecs = intVecsLocal()
    val qv = ivecs(0L)
    val cents = queries.SemanticQ.trainedCentroids(spark, d)
    val probed = KMeansOp.nearestCells(cents, qv, 2).toSet
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val amax = emb.valuesIterator.flatMap(_.iterator)
      .map(e => math.abs(e.toDouble)).max
    def codes(v: Seq[Float]): Seq[Long] =
      v.map(e => if (amax == 0.0) 0L
        else math.floor(e.toDouble / (amax / 127.0) + 0.5).toLong)
    val qc = codes(emb(0L))
    val expect = ivecs.toSeq
      .filter { case (id, v) => probed.contains(KMeansOp.nearestCells(cents, v, 1).head) }
      .map { case (id, _) => (id, idist(codes(emb(id)), qc)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10)
    val got = queries.SemanticQ.queries("q_ann_ivf_sq8")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, "IVF_SQ8 top-10 diverged from the scalar replay")
    // the monitor agrees with a recount
    val exact10 = ivecs.toSeq.map { case (id, v) => (id, idist(v, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val hits = exact10.count(got.map(_._1).toSet.contains)
    val row = queries.SemanticQ.queries("q_recall_ivf_sq8")(spark, d).head()
    assert(row.getLong(0) == hits.toLong &&
      row.getLong(1) == hits.toLong * 1000000L / 10L)
  }

  test("q_ann_ivfpq_res_part: the persisted RESIDUAL index scan prunes " +
    "to the probed cell directories and matches the in-flight query") {
    val df = queries.SemanticQ.queries("q_ann_ivfpq_res_part")(spark, d)
    val scans = fileScans(df).filter(
      _.partitionFilters.exists(_.references.exists(_.name == "cell")))
    assert(scans.nonEmpty,
      "probe-cell predicate must be a PARTITION filter on the index scan")
    assert(scans.head.selectedPartitions.partitionCount == 2,
      s"scan listed ${scans.head.selectedPartitions.partitionCount} " +
        "partitions, expected exactly the 2 probed cells")
    val base = queries.SemanticQ.partitionedResCodesPath(spark, d)
    val cellDirs = new java.io.File(base).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs == 8, s"expected 8 cell= directories, found $cellDirs")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val flight = queries.SemanticQ.queries("q_ann_ivfpq_res")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == flight,
      "partitioned residual serving diverged from q_ann_ivfpq_res")
  }

  test("q_ann_ivf_sq8_part: the persisted SQ8 index scan prunes to the " +
    "probed cells; only the one-row amax read escapes the pruning") {
    val df = queries.SemanticQ.queries("q_ann_ivf_sq8_part")(spark, d)
    val scans = fileScans(df).filter(
      _.partitionFilters.exists(_.references.exists(_.name == "cell")))
    assert(scans.nonEmpty,
      "probe-cell predicate must be a PARTITION filter on the index scan")
    assert(scans.head.selectedPartitions.partitionCount == 2,
      s"scan listed ${scans.head.selectedPartitions.partitionCount} " +
        "partitions, expected exactly the 2 probed cells")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val flight = queries.SemanticQ.queries("q_ann_ivf_sq8")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == flight,
      "partitioned SQ8 serving diverged from q_ann_ivf_sq8")
  }

  test("q_ann_ivf_sq8_batch: per-qid probed-cell SQ8 top-3 matches a " +
    "scalar replay; qid 0 head agrees with the single-probe tier") {
    val ivecs = intVecsLocal()
    val cents = queries.SemanticQ.trainedCentroids(spark, d)
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val amax = emb.valuesIterator.flatMap(_.iterator)
      .map(e => math.abs(e.toDouble)).max
    def codes(v: Seq[Float]): Seq[Long] =
      v.map(e => if (amax == 0.0) 0L
        else math.floor(e.toDouble / (amax / 127.0) + 0.5).toLong)
    val expect = Seq(0L, 1L, 2L).flatMap { qid =>
      val probed = KMeansOp.nearestCells(cents, ivecs(qid), 2).toSet
      val qc = codes(emb(qid))
      ivecs.toSeq
        .filter { case (_, v) => probed.contains(KMeansOp.nearestCells(cents, v, 1).head) }
        .map { case (id, _) => (id, idist(codes(emb(id)), qc)) }
        .sortBy { case (id, dd) => (dd, id) }.take(3).zipWithIndex
        .map { case ((id, dd), i) => (qid, (i + 1).toLong, id, dd) }
    }
    val got = queries.SemanticQ.queries("q_ann_ivf_sq8_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect, "batch IVF_SQ8 diverged from the scalar replay")
    val single = queries.SemanticQ.queries("q_ann_ivf_sq8")(spark, d)
      .collect().take(3).map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.filter(_._1 == 0L).map(r => (r._3, r._4)) == single)
  }

  test("q_ann_opq: the allocation permutation is the energy snake-free " +
    "round-robin deal, codes match a scalar replay, and OPQ beats plain " +
    "PQ on both recall (this corpus) and total distortion (the paper's " +
    "objective)") {
    val ivecs = intVecsLocal()
    // the permutation: rank dims by exact Σ|v_d|, deal round-robin
    val dims = ivecs.head._2.indices
    val energy = dims.map(i => ivecs.valuesIterator.map(v => math.abs(v(i))).sum)
    val ranked = dims.sortBy(i => (-energy(i), i))
    val perm = (0 until 4).map(sub =>
      ranked.zipWithIndex.collect { case (pos, r) if r % 4 == sub => pos })
    assert(queries.SemanticQ.opqPerm(spark, d) == perm,
      "allocation diverged from the scalar energy ranking")
    // every dim lands in exactly one subspace (it IS a permutation)
    assert(perm.flatten.sorted == dims, "allocation must be a permutation")
    // scalar replay of the ADC top-10 over the permuted subspaces
    val books = queries.SemanticQ.opqBooks(spark, d)
    def subVec(v: Seq[Long], m: Int): Seq[Long] = perm(m).map(v(_))
    def code(v: Seq[Long], m: Int): Long =
      books(m).map { case (cid, c) => (idist(c, subVec(v, m)), cid) }.min._2
    val qv = ivecs(0L)
    val luts = (0 until 4).map(m =>
      books(m).map { case (cid, c) => cid -> idist(c, subVec(qv, m)) }.toMap)
    val expect = ivecs.toSeq
      .map { case (id, v) =>
        (id, (0 until 4).map(m => luts(m)(code(v, m))).sum) }
      .sortBy { case (id, dd) => (dd, id) }.take(10)
    val got = queries.SemanticQ.queries("q_ann_opq")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, "OPQ ADC diverged from the scalar replay")
    // acceptance gate 1: recall ≥ plain PQ's on this corpus
    val rOpq = queries.SemanticQ.queries("q_recall_opq")(spark, d)
      .head().getLong(1)
    val rPq = queries.SemanticQ.queries("q_recall_pq")(spark, d)
      .head().getLong(1)
    assert(rOpq >= rPq,
      s"OPQ recall $rOpq ppm fell below plain PQ's $rPq ppm")
    // acceptance gate 2 (noise-free — the objective OPQ minimizes):
    // total integer quantization distortion must not exceed the
    // contiguous split's. NOTE: the bound is corpus-specific, not a
    // theorem — the round-robin deal of |v_d|-energy-ranked dims is a
    // heuristic, and on this NEAR-ISOTROPIC corpus the two splits are
    // nearly equivalent (measured 0.9995×/0.9977× at sf0.001/sf0.01),
    // so a regenerated or rescaled dataset could flip the raw
    // inequality with no code defect. Gate with a 1% tolerance here;
    // the ANISOTROPIC fixture test below pins the material margin on
    // the case the operator exists for.
    val pqBooks = queries.SemanticQ.pqCodebooks(spark, d)
    def pqSub(v: Seq[Long], m: Int): Seq[Long] = v.slice(m * 16, m * 16 + 16)
    val dOpq = ivecs.valuesIterator.map(v => (0 until 4).map(m =>
      books(m).map { case (_, c) => idist(c, subVec(v, m)) }.min).sum).sum
    val dPq = ivecs.valuesIterator.map(v => (0 until 4).map(m =>
      pqBooks(m).map { case (_, c) => idist(c, pqSub(v, m)) }.min).sum).sum
    assert(dOpq <= dPq + dPq / 100,
      s"OPQ total distortion $dOpq exceeds the contiguous split's $dPq " +
        "beyond the isotropic-corpus tolerance")
  }

  test("OPQ on an ANISOTROPIC corpus: the allocation's distortion is " +
    "MATERIALLY below the contiguous split's (the case OPQ exists for)") {
    // Deterministic fixture: 512 vectors × 64 dims with per-dimension
    // scales spanning 100× (geometric decay 1.0 → 0.01, monotone in
    // dim index). The contiguous split then loads subspace 0 with
    // every high-energy dimension — k=8 centroids must quantize 16
    // effective dimensions — while the energy-ranked round-robin deal
    // gives each subspace 4 high-energy dims and 12 near-zero ones,
    // which 8 centroids quantize far better (Ge et al.'s eigenvalue
    // allocation argument, in its permutation form). Values come from
    // a seeded integer mix, not Math.random (replayable).
    val n = 512
    val dims = 64
    def mix(a: Long, b: Long): Long = {
      var h = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL
      h ^= (h >>> 33); h *= 0xFF51AFD7ED558CCDL; h ^= (h >>> 33); h
    }
    def scaleOf(j: Int): Double = math.pow(10.0, -2.0 * j / (dims - 1))
    val rows = (0 until n).map { i =>
      (i.toLong, (0 until dims).map { j =>
        val u = (math.floorMod(mix(i.toLong, j.toLong), 2001L) - 1000L) / 1000.0
        (u * scaleOf(j)).toFloat
      })
    }
    import spark.implicits._
    val corpus = rows.toDF("vec_id", "embedding")
    val subDim = dims / 4
    // the OPQ fit (allocation + permuted-slice books) via the rebuild
    // trainer — the same derivation the tiers and the CDC maintainer
    // share; the contiguous fit via the plain PQ trainer
    val root = java.nio.file.Files
      .createTempDirectory("graft_opq_aniso").toString
    val q = graft.streaming.IndexStream.rebuildCdc(spark, root, corpus,
      k = 8, iters = 2, m = 4, subDim = subDim, opq = true)
    val perm = q.opqPerm.get
    val pqBooks = graft.operators.ProductQuantizer.train(
      corpus, "vec_id", col("embedding"), 4, subDim, 8, 2)
    // the deal is balanced: each subspace gets exactly 4 of the 16
    // highest-scale dims (the empirical Σ|v_d| ranking tracks the
    // monotone scales up to sampling noise between adjacent dims),
    // where the contiguous split gives subspace 0 all 16
    (0 until 4).foreach { m =>
      val hi = perm.slice(m * subDim, (m + 1) * subDim).count(_ < 16)
      assert(hi == 4,
        s"subspace $m got $hi of the 16 high-energy dims, expected 4")
    }
    val ivecs = rows.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 1e6).toLong).toSeq }.toMap
    def pv(v: Seq[Long], m: Int): Seq[Long] =
      perm.slice(m * subDim, (m + 1) * subDim).map(v(_))
    def cSub(v: Seq[Long], m: Int): Seq[Long] =
      v.slice(m * subDim, (m + 1) * subDim)
    val dOpq = ivecs.valuesIterator.map(v => (0 until 4).map(m =>
      q.books(m).map { case (_, c) => idist(c, pv(v, m)) }.min).sum).sum
    val dPq = ivecs.valuesIterator.map(v => (0 until 4).map(m =>
      pqBooks(m).map { case (_, c) => idist(c, cSub(v, m)) }.min).sum).sum
    // the material margin: allocation must cut total distortion by
    // >20% where the contiguous split concentrates the energy
    assert(dOpq * 5 <= dPq * 4,
      s"anisotropic OPQ distortion $dOpq is not materially below the " +
        s"contiguous split's $dPq (ratio ${dOpq.toDouble / dPq})")
  }

  test("q_ann_opq_part: the persisted IVF_OPQ scan prunes to the probed " +
    "cells, matches a scalar replay, and the batch tier's qid-0 head " +
    "agrees") {
    val df = queries.SemanticQ.queries("q_ann_opq_part")(spark, d)
    val scans = fileScans(df).filter(
      _.partitionFilters.exists(_.references.exists(_.name == "cell")))
    assert(scans.nonEmpty,
      "probe-cell predicate must be a PARTITION filter on the index scan")
    assert(scans.head.selectedPartitions.partitionCount == 2,
      s"scan listed ${scans.head.selectedPartitions.partitionCount} " +
        "partitions, expected exactly the 2 probed cells")
    // ... out of the K = 8 cell directories the write laid down — the
    // permuted index has the SAME cell layout as the raw-domain one
    // (orthogonality preserves the coarse argmin, ties included)
    val base = queries.SemanticQ.partitionedOpqCodesPath(spark, d)
    val cellDirs = new java.io.File(base).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs == 8, s"expected 8 cell= directories, found $cellDirs")
    // scalar replay: probed cells in the RAW domain (a permutation
    // preserves the coarse argmin), ADC over the permuted subspaces
    val ivecs = intVecsLocal()
    val cents = queries.SemanticQ.trainedCentroids(spark, d)
    val perm = queries.SemanticQ.opqPerm(spark, d)
    val books = queries.SemanticQ.opqBooks(spark, d)
    def subVec(v: Seq[Long], m: Int): Seq[Long] = perm(m).map(v(_))
    def code(v: Seq[Long], m: Int): Long =
      books(m).map { case (cid, c) => (idist(c, subVec(v, m)), cid) }.min._2
    val qv = ivecs(0L)
    val luts = books.indices.map(m =>
      books(m).map { case (cid, c) => cid -> idist(c, subVec(qv, m)) }.toMap)
    val probed = KMeansOp.nearestCells(cents, qv, 2).toSet
    val expect = ivecs.toSeq
      .filter { case (_, v) =>
        probed.contains(KMeansOp.nearestCells(cents, v, 1).head) }
      .map { case (id, v) =>
        (id, books.indices.map(m => luts(m)(code(v, m))).sum) }
      .sortBy { case (id, dd) => (dd, id) }.take(10)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, "IVF_OPQ partitioned serving diverged from replay")
    // the batch tier serves the same head for qid 0
    val batch = queries.SemanticQ.queries("q_ann_opq_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(batch.filter(_._1 == 0L).map(r => (r._3, r._4)) == got.take(3))
  }

  test("q_sq8_dim_part: the persisted per-dim index scan prunes to the " +
    "probed cells, decoded codes match a scalar replay, and the batch " +
    "tier's qid-0 head agrees") {
    val df = queries.SemanticQ.queries("q_sq8_dim_part")(spark, d)
    val scans = fileScans(df).filter(
      _.partitionFilters.exists(_.references.exists(_.name == "cell")))
    assert(scans.nonEmpty,
      "probe-cell predicate must be a PARTITION filter on the index scan")
    assert(scans.head.selectedPartitions.partitionCount == 2,
      s"scan listed ${scans.head.selectedPartitions.partitionCount} " +
        "partitions, expected exactly the 2 probed cells")
    // scalar replay: per-dim codes → dequantized ints → probed-cell top-10
    val ivecs = intVecsLocal()
    val cents = queries.SemanticQ.trainedCentroids(spark, d)
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val dims = emb.head._2.indices
    val mn = dims.map(i => emb.valuesIterator.map(_(i).toDouble).min)
    val mx = dims.map(i => emb.valuesIterator.map(_(i).toDouble).max)
    def dequant(v: Seq[Float]): Seq[Long] = dims.map { i =>
      val delta = (mx(i) - mn(i)) / 255.0
      val c = if (mx(i) == mn(i)) 0.0
        else math.floor((v(i).toDouble - mn(i)) / delta + 0.5)
      math.floor((mn(i) + c * delta) * 1000000.0).toLong
    }
    val probed = KMeansOp.nearestCells(cents, ivecs(0L), 2).toSet
    val expect = ivecs.toSeq
      .filter { case (_, v) =>
        probed.contains(KMeansOp.nearestCells(cents, v, 1).head) }
      .map { case (id, _) => (id, idist(dequant(emb(id)), ivecs(0L))) }
      .sortBy { case (id, dd) => (dd, id) }.take(10)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, "per-dim partitioned serving diverged from replay")
    // the batch tier serves the same head for qid 0
    val batch = queries.SemanticQ.queries("q_sq8_dim_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(batch.filter(_._1 == 0L).map(r => (r._3, r._4)) == got.take(3))
    // the recall monitor recomputes from the two sides
    val exact10 = ivecs.toSeq
      .map { case (id, v) => (id, idist(v, ivecs(0L))) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val hits = exact10.count(got.map(_._1).toSet.contains)
    val row = queries.SemanticQ.queries("q_recall_sq8_dim_part")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 10L)
  }

  test("batch part tiers: persisted-table batch serving equals the " +
    "in-flight batch queries and scans the index, not a re-encode") {
    def rows(k: String) = queries.SemanticQ.queries(k)(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows("q_ann_ivfpq_batch_part") == rows("q_ann_ivfpq_batch"),
      "partitioned batch serving diverged from q_ann_ivfpq_batch")
    assert(rows("q_ann_ivfpq_res_batch_part") == rows("q_ann_ivfpq_res_batch"),
      "partitioned residual batch serving diverged from q_ann_ivfpq_res_batch")
    def scansIndex(k: String, tag: String): Boolean =
      fileScans(queries.SemanticQ.queries(k)(spark, d)).exists(
        _.relation.location.rootPaths.exists(_.toString.contains(tag)))
    assert(scansIndex("q_ann_ivfpq_batch_part", "graft_idx_ivfpq_"),
      "plain batch part tier must scan the persisted ivfpq index")
    assert(scansIndex("q_ann_ivfpq_res_batch_part", "graft_idx_ivfpqres_"),
      "residual batch part tier must scan the persisted residual index")
  }

  test("q_sq8_dim: per-dim scales match a scalar replay; recall meets " +
    "or beats the global-amax encoding") {
    val ivecs = intVecsLocal()
    val qv = ivecs(0L)
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val dim = emb(0L).length
    val mn = (0 until dim).map(i => emb.valuesIterator.map(_(i).toDouble).min)
    val mx = (0 until dim).map(i => emb.valuesIterator.map(_(i).toDouble).max)
    def dequant(v: Seq[Float]): Seq[Long] =
      v.zipWithIndex.map { case (e, i) =>
        val delta = (mx(i) - mn(i)) / 255.0
        val c = if (mx(i) == mn(i)) 0.0
          else math.floor((e.toDouble - mn(i)) / delta + 0.5)
        math.floor((mn(i) + c * delta) * 1000000.0).toLong
      }
    val expect = emb.toSeq
      .map { case (id, v) => (id, idist(dequant(v), qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10)
    val got = queries.SemanticQ.queries("q_sq8_dim")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, "per-dim SQ8 top-10 diverged from the scalar replay")
    // the acceptance gate for per-dim training: recall ≥ the global
    // single-scale encoding's on the same corpus (FAISS's motivation
    // for training per-dim intervals)
    val rDim = queries.SemanticQ.queries("q_recall_sq8_dim")(spark, d)
      .head().getLong(1)
    val rGlobal = queries.SemanticQ.queries("q_recall_sq8")(spark, d)
      .head().getLong(1)
    assert(rDim >= rGlobal,
      s"per-dim SQ8 recall $rDim fell below the global encoding's $rGlobal")
  }

  test("q_recall_sq8: ppm recomputed from the exact and SQ8 sides") {
    val vecs = intVecsLocal()
    val qv = vecs(0L)
    val exact10 = vecs.toSeq.map { case (id, v) => (id, idist(v, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val sq8 = queries.SemanticQ.queries("q_sq8_topk")(spark, d)
      .collect().map(_.getLong(0)).toSet
    val hits = exact10.count(sq8.contains)
    val row = queries.SemanticQ.queries("q_recall_sq8")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 10L)
    // 1 byte/dim keeps ≥ 8/10 of the exact neighbours on this corpus —
    // the floor a deployment would alert on
    assert(row.getLong(0) >= 8L, s"SQ8 recall dropped to ${row.getLong(0)}/10")
  }

  test("batch persisted tiers: the index LISTING prunes to the union of " +
    "probed cells; results identical to the in-flight twins") {
    val ivecs = intVecsLocal()
    val cents = queries.SemanticQ.trainedCentroids(spark, d)
    // the independent replay of the cells pinProbesWithCells collects:
    // per-qid 2-nearest cells for the declared probe batch (vec_ids
    // 0/1/2), unioned
    val expectCells = Seq(0L, 1L, 2L)
      .flatMap(q => KMeansOp.nearestCells(cents, ivecs(q), 2))
      .distinct.size
    val tiers = Seq(
      "q_ann_ivfpq_batch_part" -> Some("q_ann_ivfpq_batch"),
      "q_ann_ivfpq_res_batch_part" -> Some("q_ann_ivfpq_res_batch"),
      "q_ann_ivf_sq8_batch" -> None,
      "q_sq8_dim_batch" -> None,
      // OPQ probes cells in the permuted domain; a permutation
      // preserves every distance, so the raw-domain replay above
      // counts the same cells
      "q_ann_opq_batch" -> None)
    for ((part, twin) <- tiers) {
      val df = queries.SemanticQ.queries(part)(spark, d)
      val scans = fileScans(df).filter(
        _.partitionFilters.exists(_.references.exists(_.name == "cell")))
      assert(scans.nonEmpty,
        s"$part: the probed-cell predicate must be a PARTITION filter " +
          "on the index scan")
      // every cell-filtered scan (the SQ8 tier also reads its one-row
      // amax off the pruned table) must stop its listing at the union
      // of probed cells, not the full directory set
      scans.foreach { scan =>
        assert(scan.selectedPartitions.partitionCount == expectCells,
          s"$part listed ${scan.selectedPartitions.partitionCount} " +
            s"partitions, expected the $expectCells distinct probed cells")
      }
      twin.foreach { t =>
        val got = df.collect().map(_.toSeq).toSeq
        val want = queries.SemanticQ.queries(t)(spark, d)
          .collect().map(_.toSeq).toSeq
        assert(got == want, s"$part diverged from $t")
      }
    }
  }
}
