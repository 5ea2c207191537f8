package graft

import graft.operators.{KMeansOp, ProductQuantizer}
import graft.streaming.{IndexStream, StreamState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CDC maintenance of the vector index: deletes tombstone, re-inserts
  * resurrect with their new codes, delete+insert replaces in one batch,
  * a pure-insert CDC stream equals the batch tier, replay of a committed
  * batch is idempotent, torn writes are invisible, and compaction folds
  * both tables without changing a single search result.
  */
class CdcIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = TestSpark.sf0001

  private def quantizers: IndexStream.Quantizers =
    IndexStream.Quantizers(
      queries.SemanticQ.trainedCentroids(spark, d),
      queries.SemanticQ.pqCodebooks(spark, d),
      subDim = 16)

  private def fullRows: Seq[(Long, Seq[Float])] =
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)

  private def cdcDf(rs: Seq[(Long, Seq[Float], String)]): DataFrame =
    rs.toDF("vec_id", "embedding", "__op")

  private def intVecOf(e: Seq[Float]): Seq[Long] =
    e.map(x => math.floor(x.toDouble * 1e6).toLong)

  /** The lifecycle live-set predicate, from the ONE shared constant set
    * (ADVICE r18) — the scalar twin of SemanticQ.cdcLive.
    */
  private def liveId(id: Long): Boolean =
    !(id % queries.SemanticQ.CdcDeleteMod == queries.SemanticQ.CdcResidue &&
      id % queries.SemanticQ.CdcResurrectMod != queries.SemanticQ.CdcResidue)

  /** (vec_id, cell, codes) of the live rows, sorted. */
  private def liveRows(stateDir: String): Seq[(Long, Long, Seq[Long])] =
    IndexStream.liveCodes(spark, stateDir, 4)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        Seq(r.getAs[Long]("code_0"), r.getAs[Long]("code_1"),
          r.getAs[Long]("code_2"), r.getAs[Long]("code_3"))))
      .toSeq.sortBy(_._1)

  /** Identity fold of both CDC tables: each row keeps its src_batch /
    * del_batch, so the folded base preserves the liveness ordering
    * bit-for-bit. The reference twin of
    * [[IndexStream.compactStateCdcResolve]]: serving identical results
    * through both pins that resolve-at-compaction is an optimisation,
    * not a semantic.
    */
  private def compactStateCdc(stateDir: String, m: Int): Option[Long] =
    StreamState.compact(spark, stateDir, Seq(
      ("codes", IndexStream.codesSchema(m), (df: DataFrame) => df),
      ("tombs", IndexStream.tombSchema, (df: DataFrame) => df)),
      partitionCols = Map("codes" -> Seq("cell")))

  /** The active generation of an index root and its persisted
    * quantizers — what a restarted server loads before it searches.
    */
  private def current(root: String): (String, IndexStream.Quantizers) = {
    val gen = IndexStream.currentRoot(spark, root).get
    (gen, IndexStream.loadQuantizers(spark, gen))
  }

  /** Single-probe PQ/OPQ serving from an index root's active generation. */
  private def searchActive(root: String, qv: Seq[Long]): DataFrame = {
    val (gen, q) = current(root)
    IndexStream.searchCommittedCdc(spark, gen, q, qv, 2, 10)
  }

  /** The one-shot projection of (id, embedding) pairs through `q`. */
  private def projected(q: IndexStream.Quantizers,
      rs: Seq[(Long, Seq[Float])]): Seq[(Long, Long, Seq[Long])] =
    ProductQuantizer.indexProjection(
        rs.toDF("vec_id", "embedding").select(col("vec_id"),
          KMeansOp.intVec(col("embedding")).as("v")),
        q.coarse, q.books, q.subDim)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toSeq.sortBy(_._1)

  test("delete tombstones, re-insert resurrects with new codes, " +
    "delete+insert replaces, compaction and replay change nothing") {
    val q = quantizers
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_state").toString
    val rows = fullRows
    val byId = rows.toMap

    // batch 0: insert every id < 400
    IndexStream.processBatchCdc(
      cdcDf(rows.filter(_._1 < 400L).map(r => (r._1, r._2, "insert"))),
      0L, q, stateDir)
    // batch 1: delete 0/1/2, insert the rest of the corpus
    IndexStream.processBatchCdc(
      cdcDf(rows.filter(_._1 >= 400L).map(r => (r._1, r._2, "insert")) ++
        Seq(0L, 1L, 2L).map(id => (id, Seq.empty[Float], "delete"))),
      1L, q, stateDir)

    val live1 = liveRows(stateDir).map(_._1).toSet
    assert(!live1.contains(0L) && !live1.contains(1L) && !live1.contains(2L))
    assert(live1.contains(3L) && live1.contains(399L) && live1.contains(400L))
    // serving: vec 0's own embedding can no longer find vec 0
    val qv0 = intVecOf(byId(0L))
    val served1 = IndexStream.searchCommittedCdc(spark, stateDir, q, qv0,
        nProbe = 2, k = 10).collect().map(_.getLong(0)).toSeq
    assert(!served1.contains(0L), "deleted id surfaced in search")
    // the histogram counts live rows only
    val histN = IndexStream.cellHistogramCdc(spark, stateDir)
      .collect().map(_.getAs[Long]("n")).sum
    assert(histN == rows.length - 3)

    // batch 2: re-insert 0 under vec 450's embedding (resurrection with
    // NEW codes), delete+insert live id 10 under vec 451's embedding
    // (one-batch replace), delete 399, and re-ship live id 20 unchanged
    // (must stay first-write-wins blocked)
    IndexStream.processBatchCdc(
      cdcDf(Seq(
        (0L, byId(450L), "insert"),
        (10L, Seq.empty[Float], "delete"),
        (10L, byId(451L), "insert"),
        (399L, Seq.empty[Float], "delete"),
        (20L, byId(20L), "insert"))),
      2L, q, stateDir)

    val live2 = liveRows(stateDir)
    val live2Ids = live2.map(_._1).toSet
    assert(live2Ids.contains(0L) && !live2Ids.contains(399L))
    val codesOf = live2.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(codesOf(0L) == projected(q, Seq((0L, byId(450L))))
      .map(r => (r._2, r._3)).head, "resurrected id must carry NEW codes")
    assert(codesOf(10L) == projected(q, Seq((10L, byId(451L))))
      .map(r => (r._2, r._3)).head, "delete+insert must replace the codes")
    assert(codesOf(20L) == projected(q, Seq((20L, byId(20L))))
      .map(r => (r._2, r._3)).head)
    // exactly one LIVE row per id
    assert(live2.map(_._1).distinct.size == live2.size)

    // torn write: unmarked partitions are invisible garbage
    liveRows(stateDir) // force nothing pending
    cdcDf(Seq((9999L, byId(0L), "insert")))
      .select(col("vec_id"), lit(0L).as("cell"),
        lit(0L).as("code_0"), lit(0L).as("code_1"),
        lit(0L).as("code_2"), lit(0L).as("code_3"),
        lit(99L).as("src_batch"))
      .write.mode("overwrite").parquet(s"$stateDir/codes/batch_id=99")
    assert(liveRows(stateDir) == live2, "unmarked partition was read")

    // replay of committed batch 2 recomputes the same state
    val servedBefore = IndexStream.searchCommittedCdc(spark, stateDir, q,
        qv0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    IndexStream.processBatchCdc(
      cdcDf(Seq(
        (0L, byId(450L), "insert"),
        (10L, Seq.empty[Float], "delete"),
        (10L, byId(451L), "insert"),
        (399L, Seq.empty[Float], "delete"),
        (20L, byId(20L), "insert"))),
      2L, q, stateDir)
    assert(liveRows(stateDir) == live2, "replay diverged")

    // compaction folds codes AND tombs under one marker, liveness intact
    val base = compactStateCdc(stateDir, 4)
    assert(base.nonEmpty)
    assert(liveRows(stateDir) == live2, "compaction changed liveness")
    val servedAfter = IndexStream.searchCommittedCdc(spark, stateDir, q,
        qv0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(servedAfter == servedBefore, "compaction changed search results")
  }

  test("a pure-insert CDC stream equals the batch tier: the same codes " +
    "as the one-shot indexProjection and the same ranked rows as " +
    "q_ann_ivfpq_batch") {
    val q = quantizers
    val rows = fullRows
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_pure").toString
    val waves = Seq(rows.filter(_._1 < 300L), rows.filter(_._1 >= 300L))
    waves.zipWithIndex.foreach { case (w, i) =>
      IndexStream.processBatchCdc(
        cdcDf(w.map(r => (r._1, r._2, "insert"))), i.toLong, q, stateDir)
    }
    assert(liveRows(stateDir) == projected(q, rows),
      "pure-insert CDC codes diverged from the one-shot projection")
    // batch serving parity over a probe frame: the declared batch tier
    // serves vec 0/1/2 as its probes at nProbe 2, top 3
    val probes = rows.filter(_._1 < 3L)
      .map { case (id, e) => (id, intVecOf(e)) }.toDF("qid", "v")
    val served = IndexStream.searchCommittedBatchCdc(spark, stateDir, q,
        probes, 2, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val declared = queries.SemanticQ.queries("q_ann_ivfpq_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(served.nonEmpty && served == declared,
      "pure-insert CDC batch serving diverged from q_ann_ivfpq_batch")
  }

  test("RESIDUAL CDC: delete excluded from the residual batch serving " +
    "path") {
    val base = quantizers
    val q = IndexStream.Quantizers(base.coarse,
      queries.SemanticQ.resCodebooks(spark, d), base.subDim, residual = true)
    val rows = fullRows
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_res").toString
    IndexStream.processBatchCdc(
      cdcDf(rows.map(r => (r._1, r._2, "insert"))), 0L, q, stateDir)
    val qv = intVecOf(rows.head._2)
    val before = IndexStream.searchCommittedCdc(spark, stateDir, q, qv, 2, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(before.nonEmpty)
    val victim = before.head
    IndexStream.processBatchCdc(
      cdcDf(Seq((victim, Seq.empty[Float], "delete"))), 1L, q, stateDir)
    val after = IndexStream.searchCommittedCdc(spark, stateDir, q, qv, 2, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(victim), "deleted id surfaced in residual serving")
    assert(after == before.filterNot(_ == victim).take(10) ||
      after.size == 10, "top-10 must refill from the remaining candidates")
  }

  test("resolve-at-compaction drops dead rows and spent tombstones " +
    "without changing liveness, search, or future delete cycles") {
    val q = quantizers
    val rows = fullRows
    val byId = rows.toMap
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_resolve").toString
    val tombSchema = org.apache.spark.sql.types.StructType(
      Seq("vec_id", "del_batch").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType)))
    val cdcSchema = org.apache.spark.sql.types.StructType(
      Seq("vec_id", "cell", "code_0", "code_1", "code_2", "code_3",
        "src_batch").map(n => org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.LongType)))
    // 0: insert all; 1: delete five; 2: resurrect one; 3: unrelated
    // newest batch, so every tombstone sits BELOW the fold point
    IndexStream.processBatchCdc(
      cdcDf(rows.map(r => (r._1, r._2, "insert"))), 0L, q, stateDir)
    IndexStream.processBatchCdc(
      cdcDf((0L to 4L).map(id => (id, Seq.empty[Float], "delete"))),
      1L, q, stateDir)
    IndexStream.processBatchCdc(
      cdcDf(Seq((0L, byId(450L), "insert"))), 2L, q, stateDir)
    IndexStream.processBatchCdc(
      cdcDf(Seq((9000L, byId(451L), "insert"))), 3L, q, stateDir)

    val qv0 = intVecOf(byId(0L))
    val liveBefore = liveRows(stateDir)
    val servedBefore = IndexStream.searchCommittedCdc(spark, stateDir, q,
        qv0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val base = IndexStream.compactStateCdcResolve(spark, stateDir, 4)
    assert(base.nonEmpty)
    assert(liveRows(stateDir) == liveBefore, "resolve changed liveness")
    val servedAfter = IndexStream.searchCommittedCdc(spark, stateDir, q,
        qv0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(servedAfter == servedBefore, "resolve changed search results")
    // physically GONE: zero tombstones anywhere, zero dead code rows —
    // total persisted rows equal the live set
    assert(StreamState.readCommitted(spark, stateDir, "tombs", tombSchema)
      .count() == 0L, "spent tombstones survived the resolve")
    assert(StreamState.readCommitted(spark, stateDir, "codes", cdcSchema,
        partitioned = true)
      .count() == liveBefore.size.toLong, "dead rows survived the resolve")

    // the lifecycle continues over the resolved base
    IndexStream.processBatchCdc(
      cdcDf(Seq((3L, Seq.empty[Float], "delete"))), 4L, q, stateDir)
    val live4 = liveRows(stateDir).map(_._1).toSet
    assert(!live4.contains(3L) && live4.contains(0L))
  }

  test("rebuildCdc: a rebuilt generation continues the CDC lifecycle — " +
    "deletes land, a restarted server resolves the swap and the flag") {
    val rows = fullRows
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_root").toString
    val corpus = rows.toDF("vec_id", "embedding")
    val q = IndexStream.rebuildCdc(spark, root, corpus,
      k = 8, iters = 2, m = 4, subDim = 16)
    val gen = IndexStream.currentRoot(spark, root).get
    // the rebuilt generation serves every row live
    assert(IndexStream.liveCodes(spark, gen, 4).count() == rows.length.toLong)
    val qv = intVecOf(rows.head._2)
    val before = searchActive(root, qv)
      .collect().map(_.getLong(0)).toSeq
    assert(before.nonEmpty && before.contains(0L))
    // CDC continues on the generation (same-checkpoint discipline:
    // batch ids strictly above the rebuild's 0)
    IndexStream.processBatchCdc(
      cdcDf(Seq((0L, Seq.empty[Float], "delete"))), 1L, q, gen)
    val after = searchActive(root, qv)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(0L), "deleted id served from rebuilt generation")
    // a fresh server loads the persisted quantizers and agrees
    val loaded = IndexStream.loadQuantizers(spark, gen)
    assert(loaded.coarse.sortBy(_._1).map { case (c, v) => (c, v.toSeq) } ==
      q.coarse.sortBy(_._1).map { case (c, v) => (c, v.toSeq) } &&
      loaded.residual == q.residual)
    // a second rebuild swaps atomically; the old deletes are consumed
    // by rebuilding from the new corpus snapshot (here: corpus minus 0)
    IndexStream.rebuildCdc(spark, root,
      rows.filter(_._1 != 0L).toDF("vec_id", "embedding"),
      k = 8, iters = 2, m = 4, subDim = 16)
    val after2 = searchActive(root, qv)
      .collect().map(_.getLong(0)).toSeq
    assert(!after2.contains(0L))
    assert(IndexStream.currentRoot(spark, root).get != gen)
  }

  test("rebuildCdc guard: a fresh-checkpoint stream (batchId=0) against " +
    "a rebuilt generation is refused instead of overwriting the rebuild") {
    val rows = fullRows
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_guard").toString
    val q = IndexStream.rebuildCdc(spark, root,
      rows.toDF("vec_id", "embedding"), k = 8, iters = 2, m = 4, subDim = 16)
    val gen = IndexStream.currentRoot(spark, root).get
    val before = IndexStream.liveCodes(spark, gen, 4).count()
    val ex = intercept[IllegalStateException] {
      IndexStream.processBatchCdc(
        cdcDf(Seq((0L, Seq.empty[Float], "delete"))), 0L, q, gen)
    }
    assert(ex.getMessage.contains("fresh checkpoint"))
    // the rebuilt code table is untouched, and a CONTINUING stream
    // (ids above the rebuild's 0) still lands normally
    assert(IndexStream.liveCodes(spark, gen, 4).count() == before)
    IndexStream.processBatchCdc(
      cdcDf(Seq((0L, Seq.empty[Float], "delete"))), 1L, q, gen)
    assert(IndexStream.liveCodes(spark, gen, 4).count() == before - 1)
  }

  test("q_recall_cdc: the mid-lifecycle monitor (insert all, delete 10%, " +
    "resurrect half) matches a scalar recount over the live set") {
    val rows = fullRows
    val vecs = rows.map { case (id, e) => id -> intVecOf(e).toArray }.toMap
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qv = vecs(0L)
    val live = rows.map(_._1).filter(liveId)
    assert(live.size < rows.size, "the lifecycle's deletes must bite")
    val exact10 = live.map(id => (id, dist(vecs(id), qv)))
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    // the served side, straight from the maintained state dir
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d)
    val served = IndexStream.searchCommittedCdc(spark, dir, quantizers,
      qv.toSeq, 2, 10).collect().map(_.getLong(0)).toSeq
    assert(served.toSet.subsetOf(live.toSet),
      "CDC serving surfaced a deleted (non-resurrected) id")
    val hits = exact10.count(served.toSet.contains)
    val row = queries.SemanticQ.queries("q_recall_cdc")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 10L)
    // resurrected ids are genuinely live in the monitored index
    val allLive = IndexStream.liveCodes(spark, dir, 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(allLive == live.toSet,
      "lifecycle live set diverged from the delete/resurrect spec")
  }

  test("cell-partitioned maintained state: searchCommittedCdc answers " +
    "the probe by DIRECTORY pruning over the cell= layout") {
    val q = quantizers
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d)
    // the layout itself: every committed codes batch is laid out by cell
    val b1 = new java.io.File(s"$dir/codes/batch_id=1")
    assert(b1.listFiles().exists(_.getName.startsWith("cell=")),
      "committed codes batches must be partitionBy(cell) directories")
    val qv = intVecOf(fullRows.head._2)
    val probed = KMeansOp.nearestCells(q.coarse, qv, 2).toSet
    val df = IndexStream.searchCommittedCdc(spark, dir, q, qv, 2, 10)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val codeScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.exists(_.references.exists(_.name == "cell")) => f
    }
    assert(codeScans.nonEmpty,
      s"probe-cell predicate must be a PARTITION filter on the state scan:\n$plan")
    val listedCells = codeScans.head.selectedPartitions
      .filePartitionIterator.map(_.values.getLong(0)).toSet
    assert(listedCells == probed,
      s"listing opened cells $listedCells, expected exactly the probed $probed")
    // and the results still match the flat-scan contract (the monitor
    // query's oracle pins the values; here: deleted ids stay invisible)
    val served = df.collect().map(_.getLong(0)).toSet
    assert(served.forall(liveId))
  }

  test("cell-partitioned maintained state: searchCommittedBatchCdc prunes " +
    "every codes-batch LISTING to (a subset of) the fleet's probed-cell " +
    "union, and serves live rows only") {
    val q = quantizers
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d)
    val vecs = fullRows.map { case (id, e) => id -> intVecOf(e) }.toMap
    val qids = Seq(0L, 1L, 2L)
    val expected = qids
      .flatMap(id => KMeansOp.nearestCells(q.coarse, vecs(id), 2)).toSet
    val probesDf = qids.map(id => (id, vecs(id))).toDF("qid", "v")
    val df = IndexStream.searchCommittedBatchCdc(spark, dir, q, probesDf, 2, 3)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val codeScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.partitionFilters.exists(_.references.exists(_.name == "cell")) => f
    }
    assert(codeScans.nonEmpty,
      s"probed-cell predicate must be a PARTITION filter on the state scans:\n$plan")
    // each committed batch dir holds only the cells its rows landed in,
    // so per-scan listings are SUBSETS of the probed union — never more
    codeScans.foreach { scan =>
      val listed = scan.selectedPartitions
        .filePartitionIterator.map(_.values.getLong(0)).toSet
      assert(listed.subsetOf(expected),
        s"listing opened cells $listed outside the probed union $expected")
    }
    val served = df.collect().map(_.getLong(2)).toSeq
    assert(served.nonEmpty && served.forall(liveId),
      "batch CDC serving surfaced a deleted (non-resurrected) id")
  }

  test("maintainCdc: the streaming wrapper drives the same per-batch " +
    "mechanics") {
    implicit val sqlCtx = spark.sqlContext
    val q = quantizers
    val rows = fullRows
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_stream").toString
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_stream_ck").toString
    val mem = MemoryStream[(Long, Seq[Float], String)]
    val sq = IndexStream.maintainCdc(
      mem.toDF().toDF("vec_id", "embedding", "__op"), q, stateDir, ckDir)
    try {
      mem.addData(rows.filter(_._1 < 100L).map(r => (r._1, r._2, "insert")): _*)
      sq.processAllAvailable()
      mem.addData((0L, Seq.empty[Float], "delete"))
      sq.processAllAvailable()
    } finally sq.stop()
    val live = liveRows(stateDir).map(_._1).toSet
    assert(!live.contains(0L) && live.contains(1L) && live.size == 99)
  }

  // ---- SQ8 maintenance (r18 verdict #1): the 1-byte encoding the CDC
  // index previously could not maintain ------------------------------

  test("SQ8 CDC: a pure-insert stream through processBatchCdc serves " +
    "BIT-IDENTICAL results to the persisted batch IVF_SQ8 index") {
    val q = queries.SemanticQ.sq8Quantizers(spark, d)
    assert(q.m == q.dim, "SQ8 codes one scalar per dimension")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8_pure").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    val qEmb = fullRows.head._2.map(_.toDouble)
    val served = IndexStream.searchCommittedCdcSq8(
        spark, stateDir, q, qEmb, nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchTier = queries.SemanticQ.queries("q_ann_ivf_sq8_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batchTier,
      "maintained SQ8 serving diverged from the persisted batch index")
  }

  test("SQ8 CDC lifecycle: deletes tombstone, resurrection carries new " +
    "codes, and q_recall_cdc_sq8 matches a scalar recount over the live " +
    "set") {
    val q = queries.SemanticQ.sq8Quantizers(spark, d)
    val amax = q.sq8Amax.get
    val rows = fullRows
    val vecs = rows.map { case (id, e) => id -> intVecOf(e).toArray }.toMap
    def code(e: Seq[Float]): Seq[Long] = e.map(x =>
      if (amax == 0.0) 0L
      else math.floor(x.toDouble / (amax / 127.0) + 0.5).toLong)
    def cdist(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val live = rows.filter(r => liveId(r._1))
    assert(live.size < rows.size, "the lifecycle's deletes must bite")
    val dir = queries.SemanticQ.cdcLifecycleSq8Dir(spark, d)
    // served side: probed-cell scalar-code scan over the live rows
    val qEmb = rows.head._2.map(_.toDouble)
    val served = IndexStream.searchCommittedCdcSq8(
        spark, dir, q, qEmb, 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served.map(_._1).forall(liveId),
      "SQ8 CDC serving surfaced a deleted (non-resurrected) id")
    // scalar replay: probe cells by scaled-int distance, then code-space
    // top-10 among live ∩ probed
    val qv = vecs(0L).toSeq
    val probed = KMeansOp.nearestCells(q.coarse, qv, 2).toSet
    val qCode = code(rows.head._2)
    val expect = live
      .map { case (id, e) =>
        val cell = q.coarse.map { case (cid, c) =>
          (cid, KMeansOp.intDistLocal(c, vecs(id).toSeq)) }
          .minBy { case (cid, dd) => (dd, cid) }._1
        (id, cell, cdist(code(e), qCode))
      }
      .filter(r => probed.contains(r._2))
      .sortBy { case (id, _, dd) => (dd, id) }
      .take(10).map(r => (r._1, r._3))
    assert(served == expect, "SQ8 CDC serving diverged from scalar replay")
    // the monitor row
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact10 = live.map { case (id, _) => (id, dist(vecs(id), vecs(0L))) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val hits = exact10.count(served.map(_._1).toSet.contains)
    val row = queries.SemanticQ.queries("q_recall_cdc_sq8")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 10L)
  }

  test("SQ8 batch CDC serving: pure-insert state serves bit-identical " +
    "rows to q_ann_ivf_sq8_batch; post-lifecycle batch serving is " +
    "live-only") {
    val q = queries.SemanticQ.sq8Quantizers(spark, d)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8_batch").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    val probes = Tables.embeddings(spark, d)
      .where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IndexStream.searchCommittedBatchCdcSq8(
        spark, stateDir, q, probes, nProbe = 2, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = queries.SemanticQ.queries("q_ann_ivf_sq8_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want,
      "maintained SQ8 batch serving diverged from the persisted batch tier")
    val lifecycle = queries.SemanticQ.cdcLifecycleSq8Dir(spark, d)
    val served = IndexStream.searchCommittedBatchCdcSq8(
        spark, lifecycle, q, probes, nProbe = 2, k = 10)
      .collect().map(_.getLong(2)).toSeq
    assert(served.forall(liveId),
      "SQ8 batch CDC serving surfaced a deleted (non-resurrected) id")
  }

  test("SQ8 rebuildCdc: the generation freezes the snapshot's amax, a " +
    "restarted server serves via searchCurrentCdcSq8 identically to the " +
    "persisted batch index, and the CDC lifecycle continues over the " +
    "rebuilt base") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8_rebuild").toString
    val q = IndexStream.rebuildCdc(spark, root,
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      k = 8, iters = 2, m = 4, subDim = 16, sq8 = true)
    assert(q.sq8Amax.isDefined && q.books.isEmpty)
    val gen = IndexStream.currentRoot(spark, root).get
    val loaded = IndexStream.loadQuantizers(spark, gen)
    assert(java.lang.Double.doubleToRawLongBits(loaded.sq8Amax.get) ==
      java.lang.Double.doubleToRawLongBits(q.sq8Amax.get))
    // rebuilt-corpus serving == the persisted batch IVF_SQ8 index
    val qEmb = fullRows.head._2.map(_.toDouble)
    def servedSq8() = {
      val (g, lq) = current(root)
      IndexStream.searchCommittedCdcSq8(spark, g, lq, qEmb, 2, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val served = servedSq8()
    val batchTier = queries.SemanticQ.queries("q_ann_ivf_sq8_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batchTier,
      "rebuilt SQ8 generation diverged from the persisted batch index")
    // the lifecycle CONTINUES: a delete lands against the rebuilt base
    // (batch ids strictly above the rebuild's 0, enforced by _rebuilt)
    IndexStream.processBatchCdc(
      cdcDf(Seq((served.head._1, Seq.empty[Float], "delete"))), 1L, q, gen)
    val after = servedSq8().map(_._1)
    assert(!after.contains(served.head._1),
      "delete against the rebuilt SQ8 generation did not land")
  }

  test("SQ8 quantizer artifact round-trips through save/loadQuantizers " +
    "with the global scale bit-exact, and the PQ search entries refuse " +
    "an SQ8 handle") {
    val q = queries.SemanticQ.sq8Quantizers(spark, d)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq8_artifact").toString
    IndexStream.saveQuantizers(spark, dir, q)
    val loaded = IndexStream.loadQuantizers(spark, dir)
    assert(loaded.sq8Amax.isDefined)
    assert(java.lang.Double.doubleToRawLongBits(loaded.sq8Amax.get) ==
      java.lang.Double.doubleToRawLongBits(q.sq8Amax.get),
      "the frozen scale must round-trip bit-exact")
    // loadQuantizers returns the centroids cid-sorted; every consumer
    // is order-independent (argmin over (dist, cid))
    assert(loaded.coarse.sortBy(_._1) == q.coarse.sortBy(_._1) &&
      loaded.books.isEmpty)
    // misuse guard: the scaled-integer-query entries cannot serve SQ8
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8_guard").toString
    IndexStream.processBatchCdc(
      cdcDf(fullRows.take(5).map(r => (r._1, r._2, "insert"))),
      0L, q, stateDir)
    intercept[IllegalArgumentException] {
      IndexStream.searchCommittedCdc(spark, stateDir, q,
        intVecOf(fullRows.head._2), 2, 10)
    }
  }

  // ---- Per-dim SQ8 maintenance: the last encoding asymmetry — the
  // batch tiers serve per-dim codes from a persisted index
  // (q_sq8_dim_part) while the maintainer could not take them --------

  test("per-dim SQ8 CDC: a pure-insert stream through processBatchCdc " +
    "serves BIT-IDENTICAL results to the persisted q_sq8_dim_part index") {
    val q = queries.SemanticQ.sq8DimQuantizers(spark, d)
    assert(q.m == q.dim, "per-dim SQ8 codes one scalar per dimension")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8dim_pure").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    val qv = intVecOf(fullRows.head._2)
    val served = IndexStream.searchCommittedCdcSq8Dim(
        spark, stateDir, q, qv, nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchTier = queries.SemanticQ.queries("q_sq8_dim_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batchTier,
      "maintained per-dim SQ8 serving diverged from the persisted index")
  }

  test("per-dim SQ8 CDC lifecycle: deletes tombstone, and " +
    "q_recall_cdc_sq8dim matches a scalar recount over the live set") {
    val q = queries.SemanticQ.sq8DimQuantizers(spark, d)
    val (vmn, vmx) = q.sq8Dims.get
    val rows = fullRows
    val vecs = rows.map { case (id, e) => id -> intVecOf(e).toArray }.toMap
    // the driver-side IEEE mirror of the encode-then-decode chain
    def dimDequant(e: Seq[Float]): Seq[Long] = e.zipWithIndex.map {
      case (x, i) =>
        val mn = vmn(i); val mx = vmx(i)
        val delta = (mx - mn) / 255.0
        val c = if (mx == mn) 0L
          else math.floor((x.toDouble - mn) / delta + 0.5).toLong
        math.floor((mn + c.toDouble * delta) * 1000000.0).toLong
    }
    def adist(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val live = rows.filter(r => liveId(r._1))
    assert(live.size < rows.size, "the lifecycle's deletes must bite")
    val dir = queries.SemanticQ.cdcLifecycleSq8DimDir(spark, d)
    val qv = vecs(0L).toSeq
    val served = IndexStream.searchCommittedCdcSq8Dim(
        spark, dir, q, qv, 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served.map(_._1).forall(liveId),
      "per-dim SQ8 CDC serving surfaced a deleted (non-resurrected) id")
    // scalar replay: probe cells by scaled-int distance, then asymmetric
    // decoded top-10 among live ∩ probed
    val probed = KMeansOp.nearestCells(q.coarse, qv, 2).toSet
    val expect = live
      .map { case (id, e) =>
        val cell = q.coarse.map { case (cid, c) =>
          (cid, KMeansOp.intDistLocal(c, vecs(id).toSeq)) }
          .minBy { case (cid, dd) => (dd, cid) }._1
        (id, cell, adist(dimDequant(e), qv))
      }
      .filter(r => probed.contains(r._2))
      .sortBy { case (id, _, dd) => (dd, id) }
      .take(10).map(r => (r._1, r._3))
    assert(served == expect,
      "per-dim SQ8 CDC serving diverged from the scalar replay")
    // the monitor row
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact10 = live.map { case (id, _) => (id, dist(vecs(id), vecs(0L))) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val hits = exact10.count(served.map(_._1).toSet.contains)
    val row = queries.SemanticQ.queries("q_recall_cdc_sq8dim")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 10L)
  }

  test("per-dim SQ8 quantizer artifact round-trips with both interval " +
    "tables bit-exact, and the other encodings' entries refuse the handle") {
    val q = queries.SemanticQ.sq8DimQuantizers(spark, d)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq8dim_artifact").toString
    IndexStream.saveQuantizers(spark, dir, q)
    val loaded = IndexStream.loadQuantizers(spark, dir)
    assert(loaded.sq8Dims.isDefined && loaded.sq8Amax.isEmpty)
    val (lmn, lmx) = loaded.sq8Dims.get
    val (qmn, qmx) = q.sq8Dims.get
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(lmn) == bits(qmn) && bits(lmx) == bits(qmx),
      "the frozen interval tables must round-trip bit-exact")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8dim_guard").toString
    IndexStream.processBatchCdc(
      cdcDf(fullRows.take(5).map(r => (r._1, r._2, "insert"))),
      0L, q, stateDir)
    // the PQ scaled-integer entry and the global-amax entry both refuse
    intercept[IllegalArgumentException] {
      IndexStream.searchCommittedCdc(spark, stateDir, q,
        intVecOf(fullRows.head._2), 2, 10)
    }
    intercept[IllegalArgumentException] {
      IndexStream.searchCommittedCdcSq8(spark, stateDir, q,
        fullRows.head._2.map(_.toDouble), 2, 10)
    }
  }

  test("per-dim SQ8 rebuildCdc: the generation freezes the snapshot's " +
    "interval tables, a restarted server serves via " +
    "searchCurrentCdcSq8Dim identically to the persisted index, and the " +
    "CDC lifecycle continues over the rebuilt base") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8dim_rebuild").toString
    val q = IndexStream.rebuildCdc(spark, root,
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      k = 8, iters = 2, m = 4, subDim = 16, sq8dim = true)
    assert(q.sq8Dims.isDefined && q.sq8Amax.isEmpty && q.books.isEmpty)
    val gen = IndexStream.currentRoot(spark, root).get
    val loaded = IndexStream.loadQuantizers(spark, gen)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(loaded.sq8Dims.get._1) == bits(q.sq8Dims.get._1) &&
      bits(loaded.sq8Dims.get._2) == bits(q.sq8Dims.get._2))
    // the rebuilt generation's scale refit saw the same rows the batch
    // tier trained on (min/max is order-insensitive), so a restarted
    // server serves the persisted q_sq8_dim_part results bit-for-bit
    val qv = intVecOf(fullRows.head._2)
    def servedSq8Dim() = {
      val (g, lq) = current(root)
      IndexStream.searchCommittedCdcSq8Dim(spark, g, lq, qv, 2, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val served = servedSq8Dim()
    val batchTier = queries.SemanticQ.queries("q_sq8_dim_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batchTier,
      "rebuilt per-dim SQ8 generation diverged from the persisted index")
    // the lifecycle CONTINUES: a delete lands against the rebuilt base
    IndexStream.processBatchCdc(
      cdcDf(Seq((served.head._1, Seq.empty[Float], "delete"))), 1L, q, gen)
    val after = servedSq8Dim().map(_._1)
    assert(!after.contains(served.head._1),
      "delete against the rebuilt per-dim SQ8 generation did not land")
  }

  // ---- OPQ maintenance: the r19 symmetry gap — the persisted/batch
  // tiers serve the allocation-permuted encoding (q_ann_opq_part)
  // while the maintainer could not take it -----------------------------

  test("OPQ CDC: a pure-insert stream through processBatchCdc serves " +
    "BIT-IDENTICAL results to the persisted q_ann_opq_part index, " +
    "single-probe and batch") {
    val q = queries.SemanticQ.opqQuantizers(spark, d)
    assert(q.opqPerm.isDefined && q.books.nonEmpty)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_opq_pure").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    // single probe: the entry permutes the RAW-domain query itself
    val qv = intVecOf(fullRows.head._2)
    val served = IndexStream.searchCommittedCdc(
        spark, stateDir, q, qv, nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val partTier = queries.SemanticQ.queries("q_ann_opq_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == partTier,
      "maintained OPQ serving diverged from the persisted part tier")
    // batch probes: RAW-domain (qid, v) frame, permuted at the entry
    val probes = Tables.embeddings(spark, d)
      .where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"),
        KMeansOp.intVec(col("embedding")).as("v"))
    val got = IndexStream.searchCommittedBatchCdc(
        spark, stateDir, q, probes, nProbe = 2, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = queries.SemanticQ.queries("q_ann_opq_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want,
      "maintained OPQ batch serving diverged from the persisted batch tier")
  }

  test("OPQ CDC lifecycle: deletes tombstone, serving is live-only, and " +
    "q_recall_cdc_opq matches a scalar recount over the live set") {
    val q = queries.SemanticQ.opqQuantizers(spark, d)
    val perm = q.opqPerm.get
    val rows = fullRows
    val vecs = rows.map { case (id, e) => id -> intVecOf(e) }.toMap
    val live = rows.filter(r => liveId(r._1))
    assert(live.size < rows.size, "the lifecycle's deletes must bite")
    val dir = queries.SemanticQ.cdcLifecycleOpqDir(spark, d)
    val qv = vecs(0L)
    val served = IndexStream.searchCommittedCdc(spark, dir, q, qv, 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served.map(_._1).forall(liveId),
      "OPQ CDC serving surfaced a deleted (non-resurrected) id")
    // scalar replay in the permuted domain (the artifact convention)
    def pv(v: Seq[Long]): Seq[Long] = perm.map(v(_))
    def idist(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qw = pv(qv)
    val probed = KMeansOp.nearestCells(q.coarse, qw, 2).toSet
    def sub(v: Seq[Long], m: Int): Seq[Long] =
      v.slice(m * q.subDim, (m + 1) * q.subDim)
    def code(w: Seq[Long], m: Int): Long =
      q.books(m).map { case (cid, c) => (idist(c, sub(w, m)), cid) }.min._2
    val luts = q.books.indices.map(m =>
      q.books(m).map { case (cid, c) => cid -> idist(c, sub(qw, m)) }.toMap)
    val expect = live
      .map { case (id, _) =>
        val w = pv(vecs(id))
        val cell = q.coarse.map { case (cid, c) =>
          (cid, idist(c, w)) }.minBy { case (cid, dd) => (dd, cid) }._1
        (id, cell, q.books.indices.map(m => luts(m)(code(w, m))).sum)
      }
      .filter(r => probed.contains(r._2))
      .sortBy { case (id, _, dd) => (dd, id) }
      .take(10).map(r => (r._1, r._3))
    assert(served == expect, "OPQ CDC serving diverged from scalar replay")
    // the monitor row
    val exact10 = live.map { case (id, _) => (id, idist(vecs(id), qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val hits = exact10.count(served.map(_._1).toSet.contains)
    val row = queries.SemanticQ.queries("q_recall_cdc_opq")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 10L)
  }

  test("OPQ rebuildCdc: the generation refits the allocation on the " +
    "snapshot, a restarted server serves via searchCurrentCdc " +
    "identically to the persisted part tier, and the lifecycle " +
    "continues over the rebuilt base") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_opq_rebuild").toString
    val q = IndexStream.rebuildCdc(spark, root,
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      k = 8, iters = 2, m = 4, subDim = 16, opq = true)
    // the refit reproduces the batch tier's allocation (same corpus,
    // same exact-BIGINT energy ranking)
    assert(q.opqPerm.get == queries.SemanticQ.opqFlatPerm(spark, d),
      "rebuild's allocation refit diverged from the tier's derivation")
    val gen = IndexStream.currentRoot(spark, root).get
    val loaded = IndexStream.loadQuantizers(spark, gen)
    assert(loaded.opqPerm == q.opqPerm,
      "the allocation must round-trip through the persisted artifact")
    assert(loaded.coarse.sortBy(_._1) == q.coarse.sortBy(_._1))
    val qv = intVecOf(fullRows.head._2)
    val served = searchActive(root, qv)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val partTier = queries.SemanticQ.queries("q_ann_opq_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == partTier,
      "rebuilt OPQ generation diverged from the persisted part tier")
    // the lifecycle CONTINUES: a delete lands against the rebuilt base
    IndexStream.processBatchCdc(
      cdcDf(Seq((served.head._1, Seq.empty[Float], "delete"))), 1L, q, gen)
    val after = searchActive(root, qv)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(served.head._1),
      "delete against the rebuilt OPQ generation did not land")
  }

  test("OPQ quantizer artifact: the permutation round-trips through " +
    "save/loadQuantizers, and a non-permutation is refused") {
    val q = queries.SemanticQ.opqQuantizers(spark, d)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_opq_artifact").toString
    IndexStream.saveQuantizers(spark, dir, q)
    val loaded = IndexStream.loadQuantizers(spark, dir)
    assert(loaded.opqPerm == q.opqPerm)
    // loadQuantizers returns cid-sorted entries; every consumer is
    // order-independent (argmin over (dist, cid))
    assert(loaded.coarse.sortBy(_._1) == q.coarse.sortBy(_._1) &&
      loaded.books.map(_.sortBy(_._1)) == q.books.map(_.sortBy(_._1)))
    intercept[IllegalArgumentException] {
      IndexStream.Quantizers(q.coarse, q.books, q.subDim,
        opqPerm = Some(Seq(0, 0, 1)))
    }
    intercept[IllegalArgumentException] {
      IndexStream.Quantizers(q.coarse, q.books, q.subDim,
        residual = true, opqPerm = q.opqPerm)
    }
    // OPQ composes with plain PQ only — both SQ8 variants refuse too
    intercept[IllegalArgumentException] {
      IndexStream.Quantizers(q.coarse, Seq.empty, q.subDim,
        sq8Amax = Some(1.0), opqPerm = q.opqPerm)
    }
    intercept[IllegalArgumentException] {
      IndexStream.Quantizers(q.coarse, Seq.empty, q.subDim,
        sq8Dims = Some((Seq.fill(64)(0.0), Seq.fill(64)(1.0))),
        opqPerm = q.opqPerm)
    }
  }
}
