package graft

import graft.operators.{Encoding, KMeansOp}
import graft.streaming.{IndexStream, StreamState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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
    queries.SemanticQ.quantizers(spark, d, Encoding.Pq)

  private def fullRows: Seq[(Long, Seq[Float])] =
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)

  private def cdcDf(rs: Seq[(Long, Seq[Float], String)]): DataFrame =
    rs.toDF("vec_id", "embedding", "__op")

  private def intVecOf(e: Seq[Float]): Seq[Long] =
    e.map(x => math.floor(x.toDouble * 1e6).toLong)

  /** A probe's raw embedding, as the single-probe entry takes it. */
  private def embOf(e: Seq[Float]): Seq[Double] = e.map(_.toDouble)

  /** The trained parameters of each parameterized encoding. */
  private def amaxOf(q: IndexStream.Quantizers): Double =
    q.encoding.asInstanceOf[Encoding.Sq8].amax
  private def dimsOf(q: IndexStream.Quantizers): (Seq[Double], Seq[Double]) = {
    val e = q.encoding.asInstanceOf[Encoding.Sq8Dim]
    (e.vmn, e.vmx)
  }
  private def permOf(q: IndexStream.Quantizers): Seq[Int] =
    q.encoding.asInstanceOf[Encoding.Opq].perm

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
    StreamState.compact(spark, stateDir, Seq(codesOf(m), TombsTable))

  /** The CDC tables as a writer outside IndexStream declares them. */
  private def codesOf(m: Int) =
    StreamState.Table("codes", IndexStream.codesSchema(m), partitionBy = Seq("cell"))
  private val TombsTable = StreamState.Table("tombs", IndexStream.tombSchema)

  /** Batch `b` of m = 4 state committed OUTSIDE IndexStream (so outside
    * its driver-held generation): `ins` projected through `q`, `dels`
    * tombstoned.
    */
  private def commitOutside(q: IndexStream.Quantizers, dir: String, b: Long,
      ins: Seq[(Long, Seq[Float])], dels: Seq[Long] = Nil): Unit =
    StreamState.commit(spark, dir, b, 0)(
      codesOf(4) -> q.project(ins.toDF("vec_id", "embedding")).withColumn("src_batch", lit(b)),
      TombsTable -> dels.map((_, b)).toDF("vec_id", "del_batch"))

  /** (vec_id, distance) rows of a single-probe serve. */
  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The driver-held serve and the Spark serve over the live layout. */
  private def heldAndSpark(q: IndexStream.Quantizers, dir: String,
      probe: Seq[Double]): (Seq[(Long, Long)], Seq[(Long, Long)]) =
    (pairsOf(IndexStream.searchCommittedCdc(spark, dir, q, probe, 2, 10)),
      pairsOf(q.serve(IndexStream.liveLayout(spark, dir, q), probe, 2, 10)))

  private def reloadsOf(body: => Any): Long = {
    val r0 = IndexStream.reloads.get
    body
    IndexStream.reloads.get - r0
  }

  /** The active generation of an index root and its persisted
    * quantizers — what a restarted server loads before it searches.
    */
  private def current(root: String): (String, IndexStream.Quantizers) = {
    val gen = IndexStream.currentRoot(spark, root).get
    (gen, IndexStream.loadQuantizers(spark, gen))
  }

  /** Single-probe PQ/OPQ serving from an index root's active generation. */
  private def searchActive(root: String, probe: Seq[Double]): DataFrame = {
    val (gen, q) = current(root)
    IndexStream.searchCommittedCdc(spark, gen, q, probe, 2, 10)
  }

  /** The one-shot projection of (id, embedding) pairs through `q`. */
  private def projected(q: IndexStream.Quantizers,
      rs: Seq[(Long, Seq[Float])]): Seq[(Long, Long, Seq[Long])] =
    q.project(rs.toDF("vec_id", "embedding"))
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
    val qe0 = embOf(byId(0L))
    val served1 = IndexStream.searchCommittedCdc(spark, stateDir, q, qe0,
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
        qe0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
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
        qe0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.ResidualPq)
    val rows = fullRows
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_res").toString
    IndexStream.processBatchCdc(
      cdcDf(rows.map(r => (r._1, r._2, "insert"))), 0L, q, stateDir)
    val qe = embOf(rows.head._2)
    val before = IndexStream.searchCommittedCdc(spark, stateDir, q, qe, 2, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(before.nonEmpty)
    val victim = before.head
    IndexStream.processBatchCdc(
      cdcDf(Seq((victim, Seq.empty[Float], "delete"))), 1L, q, stateDir)
    val after = IndexStream.searchCommittedCdc(spark, stateDir, q, qe, 2, 10)
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

    val qe0 = embOf(byId(0L))
    val liveBefore = liveRows(stateDir)
    val servedBefore = IndexStream.searchCommittedCdc(spark, stateDir, q,
        qe0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val base = IndexStream.compactStateCdcResolve(spark, stateDir, 4)
    assert(base.nonEmpty)
    assert(liveRows(stateDir) == liveBefore, "resolve changed liveness")
    val servedAfter = IndexStream.searchCommittedCdc(spark, stateDir, q,
        qe0, 2, 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(servedAfter == servedBefore, "resolve changed search results")
    // physically GONE: zero tombstones anywhere, zero dead code rows —
    // total persisted rows equal the live set
    assert(StreamState.read(spark, stateDir, StreamState.Table("tombs", tombSchema))
      .count() == 0L, "spent tombstones survived the resolve")
    assert(StreamState.read(spark, stateDir,
        StreamState.Table("codes", cdcSchema, partitionBy = Seq("cell")))
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
    val qe = embOf(rows.head._2)
    val before = searchActive(root, qe)
      .collect().map(_.getLong(0)).toSeq
    assert(before.nonEmpty && before.contains(0L))
    // CDC continues on the generation (same-checkpoint discipline:
    // batch ids strictly above the rebuild's 0)
    IndexStream.processBatchCdc(
      cdcDf(Seq((0L, Seq.empty[Float], "delete"))), 1L, q, gen)
    val after = searchActive(root, qe)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(0L), "deleted id served from rebuilt generation")
    // a fresh server loads the persisted quantizers and agrees
    val loaded = IndexStream.loadQuantizers(spark, gen)
    assert(loaded.coarse.sortBy(_._1).map { case (c, v) => (c, v.toSeq) } ==
      q.coarse.sortBy(_._1).map { case (c, v) => (c, v.toSeq) } &&
      loaded.encoding == q.encoding)
    // a second rebuild swaps atomically; the old deletes are consumed
    // by rebuilding from the new corpus snapshot (here: corpus minus 0)
    IndexStream.rebuildCdc(spark, root,
      rows.filter(_._1 != 0L).toDF("vec_id", "embedding"),
      k = 8, iters = 2, m = 4, subDim = 16)
    val after2 = searchActive(root, qe)
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
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d, Encoding.Pq)
    val served = IndexStream.searchCommittedCdc(spark, dir, quantizers,
      embOf(rows.head._2), 2, 10).collect().map(_.getLong(0)).toSeq
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

  test("cell-partitioned maintained state: the past-bound serve answers " +
    "the probe by DIRECTORY pruning over the cell= layout") {
    val q = quantizers
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d, Encoding.Pq)
    // the layout itself: every committed codes batch is laid out by cell
    val b1 = new java.io.File(s"$dir/codes/batch_id=1")
    assert(b1.listFiles().exists(_.getName.startsWith("cell=")),
      "committed codes batches must be partitionBy(cell) directories")
    val qv = intVecOf(fullRows.head._2)
    val probed = KMeansOp.nearestCells(q.coarse, qv, 2).toSet
    // the serve a generation past the driver's row bound runs
    val df = q.serve(IndexStream.liveLayout(spark, dir, q), embOf(fullRows.head._2), 2, 10)
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

  test("cell-partitioned maintained state: the past-bound batch serve " +
    "prunes every codes-batch LISTING to (a subset of) the fleet's " +
    "probed-cell union, and serves live rows only") {
    val q = quantizers
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d, Encoding.Pq)
    val vecs = fullRows.map { case (id, e) => id -> intVecOf(e) }.toMap
    val qids = Seq(0L, 1L, 2L)
    val expected = qids
      .flatMap(id => KMeansOp.nearestCells(q.coarse, vecs(id), 2)).toSet
    val probesDf = qids.map(id => (id, vecs(id))).toDF("qid", "v")
    val df = q.serve(IndexStream.liveLayout(spark, dir, q), probesDf, 2, 3)
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

  // ---- The driver-held live generation: a cache of committed state --

  test("driver-held generation: a commit made outside it is served after " +
    "exactly one reload") {
    val q = quantizers
    val rows = fullRows
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_outside").toString
    IndexStream.processBatchCdc(
      cdcDf(rows.filter(_._1 < 300L).map(r => (r._1, r._2, "insert"))), 0L, q, dir)
    val probe = embOf(rows.head._2)
    val (before, _) = heldAndSpark(q, dir, probe)
    assert(before.map(_._1).contains(0L))
    commitOutside(q, dir, 1L, rows.filter(_._1 >= 300L), dels = Seq(0L))
    var first, second = Seq.empty[(Long, Long)]
    assert(reloadsOf {
      first = heldAndSpark(q, dir, probe)._1
      second = heldAndSpark(q, dir, probe)._1
    } == 1)
    assert(first == second && first == heldAndSpark(q, dir, probe)._2)
    assert(!first.map(_._1).contains(0L), "the outside tombstone was not served")
    assert(first.exists(_._1 >= 300L), "the outside inserts were not served")
  }

  test("driver-held generation: a dir deleted and rebuilt at the same path " +
    "with the same batch ids serves its new rows") {
    val q = quantizers
    val rows = fullRows
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_rebuilt").toString
    IndexStream.processBatchCdc(
      cdcDf(rows.filter(_._1 < 200L).map(r => (r._1, r._2, "insert"))), 0L, q, dir)
    IndexStream.processBatchCdc(
      cdcDf(rows.filter(r => r._1 >= 200L && r._1 < 300L).map(r => (r._1, r._2, "insert"))),
      1L, q, dir)
    val probe = embOf(rows.head._2)
    val (before, _) = heldAndSpark(q, dir, probe)
    assert(before.map(_._1).contains(0L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    commitOutside(q, dir, 0L, rows.filter(r => r._1 >= 200L && r._1 < 350L))
    commitOutside(q, dir, 1L, rows.filter(_._1 >= 350L))
    val (after, spark_) = heldAndSpark(q, dir, probe)
    assert(after == spark_)
    assert(after.nonEmpty && after.forall(_._1 >= 200L), s"stale rows served: $after")
  }

  test("driver-held generation: a replayed newest batch rewrites " +
    "byte-identical parquet") {
    val q = quantizers
    val rows = fullRows
    val byId = rows.toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_replay").toString
    IndexStream.processBatchCdc(
      cdcDf(rows.filter(_._1 < 300L).map(r => (r._1, r._2, "insert"))), 0L, q, dir)
    // inserts, deletes, a blocked re-ship, a delete+insert replace and
    // an id shipped twice
    val batch1 = cdcDf(rows.filter(_._1 >= 300L).map(r => (r._1, r._2, "insert")) ++
      Seq((0L, Seq.empty[Float], "delete"), (1L, Seq.empty[Float], "delete"),
        (1L, byId(451L), "insert"), (2L, byId(2L), "insert"),
        (460L, byId(461L), "insert")))
    IndexStream.processBatchCdc(batch1, 1L, q, dir)
    /** (dir relative to the state dir, md5 of the bytes) of every file
      * batch 1 wrote; file names carry a per-write id, so they are left
      * out. */
    def written: Seq[(String, String)] = Seq("codes", "tombs").flatMap { t =>
      val root = java.nio.file.Paths.get(dir)
      val st = java.nio.file.Files.walk(root.resolve(s"$t/batch_id=1"))
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
        root.relativize(f.getParent).toString ->
          org.apache.commons.codec.digest.DigestUtils.md5Hex(java.nio.file.Files.readAllBytes(f))
      }.toList finally st.close()
    }.sorted
    val first = written
    val (served, _) = heldAndSpark(q, dir, embOf(byId(1L)))
    assert(first.exists(_._1.contains("cell=")))
    // the replay reloads the generation strictly before its own batch
    assert(reloadsOf(IndexStream.processBatchCdc(batch1, 1L, q, dir)) == 1)
    assert(written == first, "the replay rewrote different parquet")
    val (again, spark_) = heldAndSpark(q, dir, embOf(byId(1L)))
    assert(again == served && again == spark_)
  }

  test("driver-held generation: commit+compact+search cycles with no " +
    "outside writer start no search job and no reload") {
    val q = quantizers
    val rows = fullRows
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc_cycles").toString
    IndexStream.processBatchCdc(
      cdcDf(rows.filter(_._1 < 300L).map(r => (r._1, r._2, "insert"))), 0L, q, dir)
    // a LocalRelation probe frame: collecting it starts no job
    val probes = rows.take(4).map { case (id, e) => (id, intVecOf(e)) }.toDF("qid", "v")
    val probe = embOf(rows(5)._2)
    var searchJobs = 0
    val reloaded = reloadsOf {
      for (b <- 1L to 4L) {
        val ins = rows.filter(r => r._1 >= 300L + 40L * (b - 1) && r._1 < 300L + 40L * b)
        // odd batches compact through the commit's own valve, even ones
        // through the explicit resolve
        IndexStream.processBatchCdc(cdcDf(ins.map(r => (r._1, r._2, "insert")) :+
            ((b, Seq.empty[Float], "delete"))), b, q, dir,
          autoCompactEvery = if (b % 2 == 1) 1 else 0)
        if (b % 2 == 0) assert(IndexStream.compactStateCdcResolve(spark, dir, q.m).nonEmpty)
        var batch = Array.empty[org.apache.spark.sql.Row]
        var single = Seq.empty[(Long, Long)]
        searchJobs += TestSpark.jobs {
          batch = IndexStream.searchCommittedBatchCdc(spark, dir, q, probes, 2, 10).collect()
          single = pairsOf(IndexStream.searchCommittedCdc(spark, dir, q, probe, 2, 10))
        }
        assert(batch.toSeq ==
          q.serve(IndexStream.liveLayout(spark, dir, q), probes, 2, 10).collect().toSeq)
        assert(single == pairsOf(q.serve(IndexStream.liveLayout(spark, dir, q), probe, 2, 10)))
        assert(!batch.map(_.getLong(2)).contains(b), s"deleted id $b served")
      }
    }
    assert(StreamState.compactedIds(spark, dir).nonEmpty)
    assert(searchJobs == 0, s"$searchJobs search jobs")
    assert(reloaded == 0, s"$reloaded reloads")
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8)
    assert(q.m == q.dim, "SQ8 codes one scalar per dimension")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8_pure").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    val qEmb = fullRows.head._2.map(_.toDouble)
    val served = IndexStream.searchCommittedCdc(
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8)
    val amax = amaxOf(q)
    val rows = fullRows
    val vecs = rows.map { case (id, e) => id -> intVecOf(e).toArray }.toMap
    def code(e: Seq[Float]): Seq[Long] = e.map(x =>
      if (amax == 0.0) 0L
      else math.floor(x.toDouble / (amax / 127.0) + 0.5).toLong)
    def cdist(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val live = rows.filter(r => liveId(r._1))
    assert(live.size < rows.size, "the lifecycle's deletes must bite")
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d, Encoding.Sq8)
    // served side: probed-cell scalar-code scan over the live rows
    val qEmb = rows.head._2.map(_.toDouble)
    val served = IndexStream.searchCommittedCdc(
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
          (cid, KMeansOp.intDistLocal(c.toArray, vecs(id))) }
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8_batch").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    val probes = Tables.embeddings(spark, d)
      .where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding"))
    val got = IndexStream.searchCommittedBatchCdc(
        spark, stateDir, q, probes, nProbe = 2, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = queries.SemanticQ.queries("q_ann_ivf_sq8_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want,
      "maintained SQ8 batch serving diverged from the persisted batch tier")
    val lifecycle = queries.SemanticQ.cdcLifecycleDir(spark, d, Encoding.Sq8)
    val served = IndexStream.searchCommittedBatchCdc(
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
      k = 8, iters = 2, m = 4, subDim = 16, encoding = Encoding.Sq8)
    assert(q.encoding.isInstanceOf[Encoding.Sq8] && q.books.isEmpty)
    val gen = IndexStream.currentRoot(spark, root).get
    val loaded = IndexStream.loadQuantizers(spark, gen)
    assert(java.lang.Double.doubleToRawLongBits(amaxOf(loaded)) ==
      java.lang.Double.doubleToRawLongBits(amaxOf(q)))
    // rebuilt-corpus serving == the persisted batch IVF_SQ8 index
    val qEmb = fullRows.head._2.map(_.toDouble)
    def servedSq8() = {
      val (g, lq) = current(root)
      IndexStream.searchCommittedCdc(spark, g, lq, qEmb, 2, 10)
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq8_artifact").toString
    IndexStream.saveQuantizers(spark, dir, q)
    val loaded = IndexStream.loadQuantizers(spark, dir)
    assert(java.lang.Double.doubleToRawLongBits(amaxOf(loaded)) ==
      java.lang.Double.doubleToRawLongBits(amaxOf(q)),
      "the frozen scale must round-trip bit-exact")
    // loadQuantizers returns the centroids cid-sorted; every consumer
    // is order-independent (argmin over (dist, cid))
    assert(loaded.coarse.sortBy(_._1) == q.coarse.sortBy(_._1) &&
      loaded.books.isEmpty)
  }

  // ---- Per-dim SQ8 maintenance: the last encoding asymmetry — the
  // batch tiers serve per-dim codes from a persisted index
  // (q_sq8_dim_part) while the maintainer could not take them --------

  test("per-dim SQ8 CDC: a pure-insert stream through processBatchCdc " +
    "serves BIT-IDENTICAL results to the persisted q_sq8_dim_part index") {
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8Dim)
    assert(q.m == q.dim, "per-dim SQ8 codes one scalar per dimension")
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8dim_pure").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    val served = IndexStream.searchCommittedCdc(
        spark, stateDir, q, embOf(fullRows.head._2), nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batchTier = queries.SemanticQ.queries("q_sq8_dim_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batchTier,
      "maintained per-dim SQ8 serving diverged from the persisted index")
  }

  test("per-dim SQ8 CDC lifecycle: deletes tombstone, and " +
    "q_recall_cdc_sq8dim matches a scalar recount over the live set") {
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8Dim)
    val (vmn, vmx) = dimsOf(q)
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
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d, Encoding.Sq8Dim)
    val qv = vecs(0L).toSeq
    val served = IndexStream.searchCommittedCdc(
        spark, dir, q, embOf(rows.head._2), 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served.map(_._1).forall(liveId),
      "per-dim SQ8 CDC serving surfaced a deleted (non-resurrected) id")
    // scalar replay: probe cells by scaled-int distance, then asymmetric
    // decoded top-10 among live ∩ probed
    val probed = KMeansOp.nearestCells(q.coarse, qv, 2).toSet
    val expect = live
      .map { case (id, e) =>
        val cell = q.coarse.map { case (cid, c) =>
          (cid, KMeansOp.intDistLocal(c.toArray, vecs(id))) }
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8Dim)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sq8dim_artifact").toString
    IndexStream.saveQuantizers(spark, dir, q)
    val loaded = IndexStream.loadQuantizers(spark, dir)
    val (lmn, lmx) = dimsOf(loaded)
    val (qmn, qmx) = dimsOf(q)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(lmn) == bits(qmn) && bits(lmx) == bits(qmx),
      "the frozen interval tables must round-trip bit-exact")
  }

  test("per-dim SQ8 rebuildCdc: the generation freezes the snapshot's " +
    "interval tables, a restarted server serves via " +
    "searchCurrentCdcSq8Dim identically to the persisted index, and the " +
    "CDC lifecycle continues over the rebuilt base") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cdc_sq8dim_rebuild").toString
    val q = IndexStream.rebuildCdc(spark, root,
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      k = 8, iters = 2, m = 4, subDim = 16, encoding = Encoding.Sq8Dim)
    assert(q.encoding.isInstanceOf[Encoding.Sq8Dim] && q.books.isEmpty)
    val gen = IndexStream.currentRoot(spark, root).get
    val loaded = IndexStream.loadQuantizers(spark, gen)
    def bits(xs: Seq[Double]) = xs.map(java.lang.Double.doubleToRawLongBits)
    assert(bits(dimsOf(loaded)._1) == bits(dimsOf(q)._1) &&
      bits(dimsOf(loaded)._2) == bits(dimsOf(q)._2))
    // the rebuilt generation's scale refit saw the same rows the batch
    // tier trained on (min/max is order-insensitive), so a restarted
    // server serves the persisted q_sq8_dim_part results bit-for-bit
    val qe = embOf(fullRows.head._2)
    def servedSq8Dim() = {
      val (g, lq) = current(root)
      IndexStream.searchCommittedCdc(spark, g, lq, qe, 2, 10)
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Opq)
    assert(q.encoding.isInstanceOf[Encoding.Opq] && q.books.nonEmpty)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_opq_pure").toString
    IndexStream.processBatchCdc(
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      0L, q, stateDir)
    // single probe: the entry permutes the RAW-domain query itself
    val served = IndexStream.searchCommittedCdc(
        spark, stateDir, q, embOf(fullRows.head._2), nProbe = 2, k = 10)
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
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Opq)
    val perm = permOf(q)
    val rows = fullRows
    val vecs = rows.map { case (id, e) => id -> intVecOf(e) }.toMap
    val live = rows.filter(r => liveId(r._1))
    assert(live.size < rows.size, "the lifecycle's deletes must bite")
    val dir = queries.SemanticQ.cdcLifecycleDir(spark, d, Encoding.Opq)
    val qv = vecs(0L)
    val served = IndexStream.searchCommittedCdc(spark, dir, q,
        embOf(rows.head._2), 2, 10)
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
      k = 8, iters = 2, m = 4, subDim = 16, encoding = Encoding.Opq)
    // the refit reproduces the batch tier's allocation (same corpus,
    // same exact-BIGINT energy ranking)
    assert(permOf(q) ==
      permOf(queries.SemanticQ.quantizers(spark, d, Encoding.Opq)),
      "rebuild's allocation refit diverged from the tier's derivation")
    val gen = IndexStream.currentRoot(spark, root).get
    val loaded = IndexStream.loadQuantizers(spark, gen)
    assert(loaded.encoding == q.encoding,
      "the allocation must round-trip through the persisted artifact")
    assert(loaded.coarse.sortBy(_._1) == q.coarse.sortBy(_._1))
    val qe = embOf(fullRows.head._2)
    val served = searchActive(root, qe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val partTier = queries.SemanticQ.queries("q_ann_opq_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == partTier,
      "rebuilt OPQ generation diverged from the persisted part tier")
    // the lifecycle CONTINUES: a delete lands against the rebuilt base
    IndexStream.processBatchCdc(
      cdcDf(Seq((served.head._1, Seq.empty[Float], "delete"))), 1L, q, gen)
    val after = searchActive(root, qe)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(served.head._1),
      "delete against the rebuilt OPQ generation did not land")
  }

  test("OPQ quantizer artifact: the permutation round-trips through " +
    "save/loadQuantizers, and a non-permutation is refused") {
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Opq)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_opq_artifact").toString
    IndexStream.saveQuantizers(spark, dir, q)
    val loaded = IndexStream.loadQuantizers(spark, dir)
    assert(loaded.encoding == q.encoding)
    // loadQuantizers returns cid-sorted entries; every consumer is
    // order-independent (argmin over (dist, cid))
    assert(loaded.coarse.sortBy(_._1) == q.coarse.sortBy(_._1) &&
      loaded.books.map(_.sortBy(_._1)) == q.books.map(_.sortBy(_._1)))
    intercept[IllegalArgumentException] {
      IndexStream.Quantizers(q.coarse, q.books, q.subDim,
        Encoding.Opq(Seq(0, 0, 1)))
    }
  }

  test("a rebuilt generation compacts: its quantizers dir is not a state " +
    "table, and the resolving fold keeps the live rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_cdc_gencompact").toString
    val corpus = (0L until 8L).map { i =>
      val c = if (i < 4) 0f else 100f
      (i, Seq(c + i, c, c + 1f, c - i))
    }.toDF("vec_id", "embedding")
    IndexStream.rebuildCdc(spark, root, corpus, 2, 2, 2, 2)
    val gen = IndexStream.currentRoot(spark, root).get
    val q = IndexStream.loadQuantizers(spark, gen)
    IndexStream.processBatchCdc(cdcDf(Seq((3L, Seq.empty[Float], "delete"))), 1L, q, gen)
    IndexStream.processBatchCdc(
      cdcDf(Seq((20L, Seq(1f, 0f, 1f, 0f), "insert"))), 2L, q, gen)
    def live = IndexStream.liveCodes(spark, gen, q.m).collect().map(_.toString).sorted.toSeq
    val before = live
    assert(IndexStream.compactStateCdcResolve(spark, gen, q.m) == Some(1L))
    assert(live == before)
    assert(!before.exists(_.startsWith("[3,")) && before.exists(_.startsWith("[20,")))
  }
}
