package graft

import graft.operators.Encoding
import graft.streaming.{IndexStream, StreamState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous index maintenance through the CDC entries, fed streams
  * with no deletes: cumulative live codes across micro-batches (with a
  * cross-batch duplicate id and a restart) equal the one-shot index
  * build; search over the maintained state equals the batch
  * q_ann_ivfpq; replay overwrites instead of appending; torn state
  * writes are never read; compaction preserves the index; rebuilt
  * generations swap atomically.
  */
class IndexStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = TestSpark.sf0001

  private def quantizers: IndexStream.Quantizers =
    queries.SemanticQ.quantizers(spark, d, Encoding.Pq)

  private def fullRows: Seq[(Long, Seq[Float])] =
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)

  private def intVecOf(e: Seq[Float]): Seq[Long] =
    e.map(x => math.floor(x.toDouble * 1e6).toLong)

  /** A probe's raw embedding, as the single-probe entry takes it. */
  private def embOf(e: Seq[Float]): Seq[Double] = e.map(_.toDouble)

  /** (vec_id, cell, codes) of the live rows of an m = 4 state, sorted. */
  private def committedCodes(stateDir: String): Seq[(Long, Long, Seq[Long])] =
    IndexStream.liveCodes(spark, stateDir, 4)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        Seq(r.getAs[Long]("code_0"), r.getAs[Long]("code_1"),
          r.getAs[Long]("code_2"), r.getAs[Long]("code_3"))))
      .toSeq.sortBy(_._1)

  /** A torn write: a codes partition with no commit marker. */
  private def tornWrite(stateDir: String, vecId: Long, batchId: Long): Unit =
    Seq((vecId, 0L, 0L, 0L, 0L, 0L, batchId))
      .toDF("vec_id", "cell", "code_0", "code_1", "code_2", "code_3",
        "src_batch")
      .write.mode("overwrite").parquet(s"$stateDir/codes/batch_id=$batchId")

  /** Single-probe PQ serving from an index root's ACTIVE generation,
    * as a restarted server does it: resolve `_current`, load the
    * persisted quantizers, search.
    */
  private def searchActive(root: String, probe: Seq[Double]): Seq[(Long, Long)] = {
    val gen = IndexStream.currentRoot(spark, root).get
    IndexStream.searchCommittedCdc(spark, gen,
        IndexStream.loadQuantizers(spark, gen), probe, nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("maintenance across batches + restart equals the one-shot build; " +
    "search over committed state equals batch IVFADC") {
    implicit val sqlCtx = spark.sqlContext
    val q = quantizers
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ix_state").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ix_ck").toString
    val rows = fullRows
    // three waves; wave 3 re-ships vec 0 and 1 (already live from wave
    // 1 — first write wins, so the liveness anti-join must drop them)
    val waves = Seq(
      rows.filter(_._1 < 150L),
      rows.filter(r => r._1 >= 150L && r._1 < 320L),
      rows.filter(_._1 >= 320L) ++ rows.take(2))
    val mem = MemoryStream[(Long, Seq[Float])]
    def runWave(w: Seq[(Long, Seq[Float])]): Unit = {
      // fresh query per wave = kill/restart between waves; the stream
      // carries no op column, so every row is an insert
      val sq = IndexStream.maintainCdc(
        mem.toDF().toDF("vec_id", "embedding"), q, stateDir, ckDir)
      try { mem.addData(w: _*); sq.processAllAvailable() } finally sq.stop()
    }
    waves.foreach(runWave)

    val got = committedCodes(stateDir)
    assert(got.map(_._1) == rows.map(_._1), "one row per vec_id, no dups")
    // one-shot build twin
    val expect = q.project(Tables.embeddings(spark, d))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toSeq.sortBy(_._1)
    assert(got == expect)

    // serving parity: committed-state search == the batch q_ann_ivfpq
    val qe = embOf(rows.head._2)
    val served = IndexStream.searchCommittedCdc(spark, stateDir, q, qe,
        nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batch)

    // occupancy monitor covers every indexed vector exactly once
    val hist = IndexStream.cellHistogramCdc(spark, stateDir).collect()
    assert(hist.map(_.getAs[Long]("n")).sum == rows.length)

    // BATCH serving from the same committed state equals the declared
    // coarse-filtered batch query (q_ann_ivfpq_batch) probe for probe
    val probes = rows.filter(_._1 < 3L)
      .map { case (id, e) => (id, intVecOf(e)) }.toDF("qid", "v")
    val servedBatch = IndexStream.searchCommittedBatchCdc(
        spark, stateDir, q, probes, nProbe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val declaredBatch = queries.SemanticQ.queries("q_ann_ivfpq_batch")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(servedBatch == declaredBatch,
      "batch serving from maintained state diverged from the batch query")

    // the reference's bulk-shortlist contract served from the MAINTAINED
    // index: score-project the committed-state ADC top-5 — must equal
    // the declared q_shortlist_ann row for row (the headline route off
    // the continuously-maintained compressed index, not a fresh build)
    val servedShortlist = IndexStream.searchCommittedCdc(spark, stateDir, q, qe,
        nProbe = 2, k = 5)
      .select(
        concat(lit("vec_"), lpad(col("vec_id").cast("string"), 6, "0"))
          .as("file_name"),
        round(lit(10.0) / (lit(1.0) +
          col("adc_scaled").cast("double") / lit(1e12)), 2).as("score"),
        concat(lit("doc "), col("vec_id").cast("string")).as("content"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
    val declaredShortlist = queries.SemanticQ.queries("q_shortlist_ann")(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
    assert(servedShortlist == declaredShortlist,
      "shortlist over the maintained index diverged from q_shortlist_ann")

    // replay of a committed batch: deterministic overwrite, not append
    IndexStream.processBatchCdc(
      waves(1).toDF("vec_id", "embedding"), 1L, q, stateDir)
    assert(committedCodes(stateDir) == expect, "replay changed the index")

    // torn write: an uncommitted partial partition is invisible
    tornWrite(stateDir, 99999L, 77L)
    assert(committedCodes(stateDir) == expect, "torn write was read as truth")

    // compaction folds committed batches and preserves the index
    val folded = IndexStream.compactStateCdcResolve(spark, stateDir, q.m)
    assert(folded.nonEmpty)
    assert(committedCodes(stateDir) == expect, "compaction changed the index")
    val served2 = IndexStream.searchCommittedCdc(spark, stateDir, q, qe, 2, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served2 == batch, "post-compaction search diverged")
  }

  test("committed-state batch serving over a probe FRAME keeps the " +
    "exchange bound: probe side adds no shuffles at 200 probes") {
    val q = quantizers
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ix_plan").toString
    IndexStream.processBatchCdc(
      fullRows.toDF("vec_id", "embedding"), 0L, q, stateDir)
    val probes = (0 until 200).map { i =>
      val base = fullRows((i * 7) % fullRows.length)._2
      (20000L + i,
        base.map(x => math.floor(x.toDouble * 1e6).toLong + ((i % 13) - 6)))
    }.toDF("qid", "v")
    val df = IndexStream.searchCommittedBatchCdc(spark, stateDir, q, probes,
      nProbe = 2, k = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"probe-cell list and LUT relation must both broadcast:\n$plan")
    // the bounded probe-frame qid-dedup is checkpointed before the
    // serving plan, so exchanges stay at the (qid, vec) ADC
    // aggregation + the qid rank window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"probe-side work added shuffles over the committed state:\n$plan")
    // and it actually serves: 3 ranked rows per probe
    val got = df.collect()
    assert(got.length == 600)
    assert(got.map(_.getLong(0)).distinct.length == 200)
  }

  test("an empty micro-batch commits cleanly and changes nothing") {
    val q = quantizers
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ix_empty").toString
    IndexStream.processBatchCdc(
      fullRows.take(5).toDF("vec_id", "embedding"), 0L, q, stateDir)
    val before = committedCodes(stateDir)
    IndexStream.processBatchCdc(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), 1L, q, stateDir)
    assert(StreamState.committedIds(spark, stateDir) == Seq(0L, 1L),
      "empty batch must still commit its marker")
    assert(committedCodes(stateDir) == before)
    val served = IndexStream.searchCommittedCdc(spark, stateDir, q,
      embOf(fullRows.head._2), 2, 10)
    assert(served.count() <= 10) // scan over state incl. the empty partition works
  }

  test("duplicate vec_ids WITHIN one micro-batch collapse to one row") {
    val q = quantizers
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ix_dup").toString
    val five = fullRows.take(5)
    // vec 2 shipped twice in the same batch (identical embedding) and
    // vec 3 twice with DIFFERENT embeddings — both must yield exactly
    // one committed row, the different-embedding case deterministically
    val mutated = five(3).copy(_2 = five(3)._2.map(_ + 1.0f))
    IndexStream.processBatchCdc(
      (five :+ five(2) :+ mutated).toDF("vec_id", "embedding"), 0L, q, stateDir)
    val got = committedCodes(stateDir)
    assert(got.map(_._1) == five.map(_._1), "one row per vec_id")
    // deterministic pick: min over the (cell, codes) tuple of the two
    // candidate encodings for vec 3
    val cands = q.project(Seq(five(3), mutated).toDF("vec_id", "embedding"))
      .collect()
      .map(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .min(Ordering.Implicits.seqOrdering[Seq, Long])
    val row3 = got.find(_._1 == five(3)._1).get
    assert((row3._2 +: row3._3) == cands)
  }

  test("m != 4 state: compaction keeps all its code columns and the " +
    "histogram derives m from the persisted state") {
    // a 2-subspace quantizer over dim-4 embeddings: subDim 2, m = 2
    val coarse = Seq(0L -> Seq(0L, 0L, 0L, 0L), 1L -> Seq(1000000L, 1000000L, 1000000L, 1000000L))
    val books = Seq(
      Seq(0L -> Seq(0L, 0L), 1L -> Seq(1000000L, 1000000L)),
      Seq(0L -> Seq(0L, 0L), 1L -> Seq(1000000L, 1000000L)))
    val q = IndexStream.Quantizers(coarse, books, subDim = 2)
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ix_m2").toString
    val rows = (0L until 8L).map(i =>
      (i, Seq.fill(4)(if (i % 2 == 0) 0.0f else 1.0f)))
    IndexStream.processBatchCdc(rows.take(4).toDF("vec_id", "embedding"), 0L, q, stateDir)
    IndexStream.processBatchCdc(rows.drop(4).toDF("vec_id", "embedding"), 1L, q, stateDir)
    def state() = IndexStream.liveCodes(spark, stateDir, q.m)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("code_0"), r.getAs[Long]("code_1")))
      .sortBy(_._1).toSeq
    def hist() = IndexStream.cellHistogramCdc(spark, stateDir).collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n"))).toSeq
    val before = state()
    val histBefore = hist()
    assert(histBefore.map(_._2).sum == rows.length)
    // the fold must keep the quantizer's m=2 schema — a wrong m would
    // rewrite the base with phantom null code_2/code_3 columns
    assert(IndexStream.compactStateCdcResolve(spark, stateDir, q.m).nonEmpty)
    assert(state() == before, "compaction changed the m=2 index")
    val baseDir = s"$stateDir/codes/base_id=" +
      StreamState.compactedIds(spark, stateDir).last
    // cell rides as the partition directory, so inference appends it
    // last — the m-derivation contract is the FIELD SET
    assert(spark.read.parquet(baseDir).schema.fieldNames.toSet ==
      Set("vec_id", "cell", "code_0", "code_1", "src_batch"),
      "compacted base schema must match the persisted m")
    // the no-handle monitor still reads m = 2 over base + batch
    assert(hist() == histBefore)
  }

  test("rebuild: retrain on the corpus snapshot, persist quantizers, " +
    "atomic swap; search before/after equals the batch IVFADC") {
    val root = java.nio.file.Files.createTempDirectory("graft_ix_root").toString
    val corpus = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val q1 = IndexStream.rebuildCdc(spark, root, corpus,
      k = 8, iters = 2, m = 4, subDim = 16)
    val qe = embOf(fullRows.head._2)
    val batch = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // same training budget as the declared query → identical quantizers
    // (deterministic integer Lloyd) → identical search
    assert(searchActive(root, qe) == batch)
    // the persisted artifact round-trips (a restarted server loads it)
    val gen0 = IndexStream.currentRoot(spark, root).get
    assert(gen0.endsWith("gen=0"))
    // entry ORDER inside a codebook is meaningless (argmin ties break
    // on cid VALUE), and loadQuantizers normalizes to cid order —
    // compare the normalized forms
    def norm(q: IndexStream.Quantizers) = IndexStream.Quantizers(
      q.coarse.sortBy(_._1), q.books.map(_.sortBy(_._1)), q.subDim)
    assert(norm(IndexStream.loadQuantizers(spark, gen0)) == norm(q1))
    // rebuild on the unchanged corpus: a NEW generation, same answers
    IndexStream.rebuildCdc(spark, root, corpus, 8, 2, 4, 16)
    assert(IndexStream.currentRoot(spark, root).get.endsWith("gen=1"))
    assert(searchActive(root, qe) == batch,
      "rebuild on an unchanged corpus changed results")
    // torn rebuild: a generation directory WITHOUT the _current marker
    // is invisible, even with its own internal commit marker
    StreamState.commit(spark, s"$root/gen=99", 0L, autoCompactEvery = 0)(
      StreamState.Table("codes", IndexStream.codesSchema(4)) ->
        Seq((424242L, 0L, 0L, 0L, 0L, 0L, 0L)).toDF("vec_id", "cell",
          "code_0", "code_1", "code_2", "code_3", "src_batch"))
    assert(IndexStream.currentRoot(spark, root).get.endsWith("gen=1"),
      "an unswapped generation must not become current")
    assert(searchActive(root, qe) == batch, "torn rebuild leaked into serving")
  }

  test("drift → histogram signal → rebuild rebalances the cells") {
    val root = java.nio.file.Files.createTempDirectory("graft_ix_drift").toString
    // corpus A: a line near the origin; gen 0 trains on A alone
    val aRows = (0L until 8L).map(i => (i, Seq(i * 0.1f, 0f, 0f, 0f)))
    val bRows = (100L until 108L).map(i => (i, Seq(100f, 100f, 100f, 100f)))
    IndexStream.rebuildCdc(spark, root,
      aRows.toDF("vec_id", "embedding"), k = 2, iters = 2, m = 2, subDim = 2)
    val gen0 = IndexStream.currentRoot(spark, root).get
    // drifted ingest: every new vector lands in ONE stale cell (batch 1
    // continues the rebuilt generation's batch 0)
    IndexStream.processBatchCdc(bRows.toDF("vec_id", "embedding"), 1L,
      IndexStream.loadQuantizers(spark, gen0), gen0)
    val hist1 = IndexStream.cellHistogramCdc(spark, gen0).collect()
      .map(_.getAs[Long]("n"))
    assert(hist1.sum == 16L)
    assert(hist1.max >= 9L, s"drifted ingest should concentrate: ${hist1.toSeq}")
    // the consumer: retrain on the full corpus, swap, occupancy rebalances
    IndexStream.rebuildCdc(spark, root,
      (aRows ++ bRows).toDF("vec_id", "embedding"), 2, 2, 2, 2)
    val gen1 = IndexStream.currentRoot(spark, root).get
    assert(gen1.endsWith("gen=1"))
    val hist2 = IndexStream.cellHistogramCdc(spark, gen1).collect()
      .map(_.getAs[Long]("n")).sorted.toSeq
    assert(hist2 == Seq(8L, 8L),
      s"rebuild should separate the drifted mass into its own cell: $hist2")
  }

  test("indexBatch plan: the per-batch projection does not shuffle") {
    val q = quantizers
    val plan = q.project(Tables.embeddings(spark, d))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"index projection shuffled:\n$plan")
  }

  private def resQuantizers: IndexStream.Quantizers =
    queries.SemanticQ.quantizers(spark, d, Encoding.ResidualPq)

  test("RESIDUAL maintenance across batches + restart equals the " +
    "one-shot residual build; committed serving equals the declared " +
    "residual queries; torn writes unread; compaction preserves it") {
    implicit val sqlCtx = spark.sqlContext
    val q = resQuantizers
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ixr_state").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ixr_ck").toString
    val rows = fullRows
    // two waves with a kill/restart between them; wave 2 re-ships vec 0
    // and 1 (already live from wave 1 — the anti-join must drop them)
    val waves = Seq(
      rows.filter(_._1 < 200L),
      rows.filter(_._1 >= 200L) ++ rows.take(2))
    val mem = MemoryStream[(Long, Seq[Float])]
    def runWave(w: Seq[(Long, Seq[Float])]): Unit = {
      val sq = IndexStream.maintainCdc(
        mem.toDF().toDF("vec_id", "embedding"), q, stateDir, ckDir)
      try { mem.addData(w: _*); sq.processAllAvailable() } finally sq.stop()
    }
    waves.foreach(runWave)
    val got = committedCodes(stateDir)
    assert(got.map(_._1) == rows.map(_._1), "one row per vec_id, no dups")
    // one-shot residual build twin
    val expect = q.project(Tables.embeddings(spark, d))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toSeq.sortBy(_._1)
    assert(got == expect, "streamed residual index diverges from the one-shot build")
    // single-probe serving == the declared residual search
    def servedSingle() = IndexStream.searchCommittedCdc(spark, stateDir, q,
        embOf(rows.head._2),
        nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val declared = queries.SemanticQ.queries("q_ann_ivfpq_res")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(servedSingle() == declared)
    // batch serving over the committed residual state == the declared
    // residual batch query, probe for probe
    val probes = rows.filter(_._1 < 3L)
      .map { case (id, e) => (id, intVecOf(e)) }.toDF("qid", "v")
    def servedBatch() = IndexStream.searchCommittedBatchCdc(
        spark, stateDir, q, probes, nProbe = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val declaredBatch = queries.SemanticQ.queries("q_ann_ivfpq_res_batch")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(servedBatch() == declaredBatch)
    // a torn write (partition without its commit marker) is never read
    tornWrite(stateDir, 999999L, 99L)
    assert(committedCodes(stateDir) == got, "torn write leaked into reads")
    assert(servedBatch() == declaredBatch)
    // compaction folds the residual state without changing decisions
    assert(IndexStream.compactStateCdcResolve(spark, stateDir, q.m).nonEmpty)
    assert(committedCodes(stateDir).filter(_._1 != 999999L) == got)
    assert(servedSingle() == declared)
  }

  test("residual rebuild persists the encoding flag: a restarted server " +
    "loads the artifact and serves the declared residual results") {
    val root = java.nio.file.Files.createTempDirectory("graft_ixr_root").toString
    val corpus = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    val q = IndexStream.rebuildCdc(spark, root, corpus,
      k = 8, iters = 2, m = 4, subDim = 16, encoding = Encoding.ResidualPq)
    assert(q.encoding == Encoding.ResidualPq)
    val dir = IndexStream.currentRoot(spark, root).get
    val loaded = IndexStream.loadQuantizers(spark, dir)
    assert(loaded.encoding == Encoding.ResidualPq,
      "the residual encoding must survive the artifact roundtrip")
    // loadQuantizers returns cid-sorted entries; compare as sets
    assert(loaded.coarse.sortBy(_._1) == q.coarse.sortBy(_._1))
    assert(loaded.books.map(_.sortBy(_._1)) == q.books.map(_.sortBy(_._1)))
    val declared = queries.SemanticQ.queries("q_ann_ivfpq_res")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(searchActive(root, embOf(fullRows.head._2)) == declared,
      "a residual rebuildCdc generation must reproduce q_ann_ivfpq_res")
  }

  test("SQ8 maintenance across batches: overlapping inserts serve " +
    "bit-identical single-probe AND batch results to the persisted " +
    "IVF_SQ8 tiers") {
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Sq8)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_ix_sq8").toString
    val emb = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
    // two batches with an overlapping id range — the liveness anti-join
    // must keep the FIRST write (frozen quantizers: codes identical
    // either way, so liveness is the only thing at stake)
    IndexStream.processBatchCdc(emb.where(col("vec_id") < 100L), 0L, q, stateDir)
    IndexStream.processBatchCdc(emb.where(col("vec_id") >= 50L), 1L, q, stateDir)
    assert(IndexStream.liveCodes(spark, stateDir, q.m)
      .where(col("vec_id").between(50L, 99L))
      .select(col("src_batch")).distinct().collect().map(_.getLong(0)).toSeq ==
      Seq(0L), "an overlapping insert displaced the first write")
    val qEmb = fullRows.head._2.map(_.toDouble)
    val single = IndexStream.searchCommittedCdc(
        spark, stateDir, q, qEmb, nProbe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val part = queries.SemanticQ.queries("q_ann_ivf_sq8_part")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(single == part,
      "SQ8 single-probe serving diverged from q_ann_ivf_sq8_part")
    val probes = Tables.embeddings(spark, d)
      .where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("embedding"))
    val batch = IndexStream.searchCommittedBatchCdc(
        spark, stateDir, q, probes, nProbe = 2, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val declared = queries.SemanticQ.queries("q_ann_ivf_sq8_batch")(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(batch == declared,
      "SQ8 batch serving diverged from q_ann_ivf_sq8_batch")
  }
}
