package graft

import graft.operators.{Dedup, TextAnalysis => TA}
import graft.streaming.{DedupStream, DriftStream}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Commit-gated state compaction (StreamState.compact): folding all but
  * the newest committed batch into one base partition changes NOTHING a
  * consumer can observe — drift scores and dedup keep-decisions stay
  * row-identical to an uncompacted twin across further batches and
  * replays — while the state read shrinks to base + newest. A compactor
  * killed mid-write (base directories half-written, marker absent) is
  * invisible, and the next compaction overwrites its orphan.
  */
class StreamStateCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_compact_$tag").toString

  // ---- drift monitor ------------------------------------------------

  private val driftWaves: Seq[Seq[(Long, String, String)]] = Seq(
    Seq((1L, "a b c a", "web"), (2L, "c d a b", "web")),
    Seq((3L, "a b c d", "web"), (4L, "zz qq zz", "alien")),
    Seq((5L, "a b zz d", "web"), (6L, "zz qq pp", "alien")),
    Seq((7L, "c c d a", "web"), (8L, "rr qq zz", "alien")),
    Seq((9L, "a zz c d", "web"), (10L, "pp rr tt", "alien")),
    Seq((11L, "b b a d", "web"), (12L, "tt uu zz", "alien")))

  private def driftRows(outDir: String, batchId: Long): Set[(String, Long, Long)] =
    spark.read.parquet(s"$outDir/batch_id=$batchId")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("drift: compacting mid-stream (twice, with a torn attempt between) " +
    "keeps every batch's output row-identical to the uncompacted twin") {
    val (plainState, plainOut) = (tmp("dp_state"), tmp("dp_out"))
    val (compState, compOut) = (tmp("dc_state"), tmp("dc_out"))
    def runBoth(batchId: Long): Unit = {
      val df = driftWaves(batchId.toInt).toDF("doc_id", "text", "source")
      DriftStream.processBatch(df, batchId, plainState, plainOut)
      DriftStream.processBatch(df, batchId, compState, compOut)
      assert(driftRows(compOut, batchId) == driftRows(plainOut, batchId),
        s"batch $batchId diverged from the uncompacted twin")
    }
    runBoth(0L); runBoth(1L); runBoth(2L)
    // first compaction folds batches {0,1} (newest, 2, is preserved)
    assert(DriftStream.compactState(spark, compState) == Some(1L))
    runBoth(3L)
    // compactor killed mid-write: a wrong base lands at the NEXT target
    // id with NO marker — readers must never see it
    Seq(("poison", 999L)).toDF("w", "c_w")
      .write.mode("overwrite").parquet(s"$compState/counts/base_id=3")
    runBoth(4L)
    // second compaction folds base 1 + batches {2,3}, OVERWRITING the orphan
    assert(DriftStream.compactState(spark, compState) == Some(3L))
    runBoth(5L)
    // replay of the NEWEST committed batch against the compacted state:
    // the base preserves exactly the partitions its upTo exclusion needs,
    // so the re-run is byte-idempotent
    val before = driftRows(compOut, 5L)
    DriftStream.processBatch(driftWaves(5).toDF("doc_id", "text", "source"),
      5L, compState, compOut)
    assert(driftRows(compOut, 5L) == before,
      "replay after compaction changed a committed batch's output")
    // layout: exactly one base, only post-compaction batch partitions and
    // markers survive
    assert(streaming.StreamState.compactedIds(spark, compState) == Seq(3L))
    assert(streaming.StreamState.committedIds(spark, compState) == Seq(4L, 5L))
    val leaves = new java.io.File(s"$compState/counts").listFiles()
      .map(_.getName).toSet
    assert(leaves == Set("base_id=3", "batch_id=4", "batch_id=5"), s"leaves $leaves")
    // the base is re-aggregated to vocab grain: one row per distinct word
    // of batches 0..3
    val base = spark.read.parquet(s"$compState/counts/base_id=3")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(base.map(_._1).distinct.length == base.length, "base not at vocab grain")
    val twinWords = driftWaves.take(4).flatten
      .flatMap(_._2.split(" ")).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(base.toMap == twinWords, "base counts != words of batches 0..3")
  }

  test("a compaction that commits BETWEEN the reader's two listings loses " +
    "nothing: committed-first ordering folds the raced batches into the base") {
    val stateDir = tmp("race_state")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c_w",
        org.apache.spark.sql.types.LongType)))
    val counts = streaming.StreamState.Table("counts", schema,
      (df, _) => df.groupBy("w").agg(sum("c_w").as("c_w")))
    (0L to 3L).foreach { b =>
      streaming.StreamState.commit(spark, stateDir, b, autoCompactEvery = 0)(
        counts -> Seq((s"w$b", b + 1)).toDF("w", "c_w"))
    }
    // The reader lists committed = {0,1,2,3}; the hook then runs a full
    // compaction (base 2 appears, batch dirs 0..2 and their markers are
    // DELETED) before the reader lists the compacted floor. The old
    // (floor-first) ordering would have floor = none and batches {3}
    // only — batches 0..2 silently gone. Committed-first must read
    // base 2 + batch 3 = every row.
    val got = streaming.StreamState.readWith(
      spark, stateDir, counts, Long.MaxValue,
      () => assert(streaming.StreamState.compact(spark, stateDir,
        Seq(counts)) == Some(2L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("w0" -> 1L, "w1" -> 2L, "w2" -> 3L, "w3" -> 4L),
      s"concurrent compaction dropped state: $got")
  }

  test("auto-compaction (N=2) over 6 batches: output row-identical to the " +
    "uncompacted twin, reads stay O(base + ≤N batches), no manual compact") {
    val (plainState, plainOut) = (tmp("ap_state"), tmp("ap_out"))
    val (autoState, autoOut) = (tmp("aa_state"), tmp("aa_out"))
    for (b <- 0L to 5L) {
      val df = driftWaves(b.toInt).toDF("doc_id", "text", "source")
      DriftStream.processBatch(df, b, plainState, plainOut)
      DriftStream.processBatch(df, b, autoState, autoOut, autoCompactEvery = 2)
      assert(driftRows(autoOut, b) == driftRows(plainOut, b),
        s"auto-compacted batch $b diverged from the uncompacted twin")
      // the policy bound holds CONTINUOUSLY, not just at the end
      assert(streaming.StreamState.committedIds(spark, autoState).size <= 2,
        s"batch $b: committed markers exceeded the N=2 policy bound")
    }
    // 6 batches under N=2 must have compacted at least twice (one base,
    // prior bases superseded), with only the recent batches left loose
    assert(streaming.StreamState.compactedIds(spark, autoState).size == 1)
    val leaves = new java.io.File(s"$autoState/counts").listFiles()
      .map(_.getName).filter(n => n.startsWith("base_id") || n.startsWith("batch_id"))
    assert(leaves.count(_.startsWith("base_id")) == 1, s"leaves: ${leaves.toSeq}")
    assert(leaves.count(_.startsWith("batch_id")) <= 2, s"leaves: ${leaves.toSeq}")
    // the twin kept every batch directory — the thing the policy prevents
    assert(streaming.StreamState.committedIds(spark, plainState).size == 6)
  }

  test("auto-compaction at the DEFAULT policy (N=16) over 50 batches (>3N): " +
    "reads stay O(base + ≤16 batches), state exact, zero manual compacts") {
    val (stateDir, outDir) = (tmp("d16_state"), tmp("d16_out"))
    val expected = scala.collection.mutable.Map.empty[String, Long]
    for (b <- 0L until 50L) {
      // two docs per batch; word w<b> is unique to its batch, 'a' recurs
      val rows = Seq((b * 2, s"w$b a common", "web"), (b * 2 + 1, "a b", "s2"))
      rows.foreach { case (_, text, _) =>
        text.split(" ").filter(_.nonEmpty)
          .foreach(w => expected(w) = expected.getOrElse(w, 0L) + 1L)
      }
      DriftStream.processBatch(rows.toDF("doc_id", "text", "source"),
        b, stateDir, outDir, autoCompactEvery = 16)
      // the policy bound holds CONTINUOUSLY: committed markers never
      // exceed N after any batch returns
      val nCommitted = streaming.StreamState.committedIds(spark, stateDir).size
      assert(nCommitted <= 16, s"batch $b: $nCommitted committed markers > 16")
    }
    // 50 batches under N=16 compacted repeatedly; exactly one live base
    // survives (superseded bases are cleaned), loose batch dirs ≤ N+1
    assert(streaming.StreamState.compactedIds(spark, stateDir).size == 1)
    val leaves = new java.io.File(s"$stateDir/counts").listFiles().map(_.getName)
      .filter(n => n.startsWith("base_id") || n.startsWith("batch_id"))
    assert(leaves.count(_.startsWith("base_id")) == 1, s"leaves: ${leaves.toSeq}")
    assert(leaves.count(_.startsWith("batch_id")) <= 17, s"leaves: ${leaves.toSeq}")
    // and the committed state still sums to EXACTLY the 50 batches' counts
    val got = streaming.StreamState.read(spark, stateDir,
        streaming.StreamState.Table("counts", org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("w",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("c_w",
            org.apache.spark.sql.types.LongType)))))
      .groupBy(col("w")).agg(sum(col("c_w")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected.toMap, "compacted state diverged from true counts")
  }

  test("dedup auto-compaction (N=1): keep-decisions equal the batch twin; " +
    "both state tables stay folded") {
    val (stateDir, outDir) = (tmp("ad_state"), tmp("ad_out"))
    for (b <- 0L to 3L)
      DedupStream.processBatch(dedupWaves(b.toInt).toDF("doc_id", "text"),
        b, stateDir, outDir, bands = 8, rowsPerBand = 2, threshold = 0.9,
        autoCompactEvery = 1)
    val kept = (0 to 3).flatMap(b =>
      spark.read.parquet(s"$outDir/batch_id=$b").select("doc_id")
        .collect().map(_.getLong(0)))
    val all = dedupWaves.flatten.toDF("doc_id", "text")
    val droppedTwin = Dedup.minhashNearDup(all, "doc_id",
        array_distinct(TA.tokens(col("text"))), bands = 8, rowsPerBand = 2,
        threshold = 0.9)
      .select(col("id_b")).distinct().collect().map(_.getLong(0)).toSet
    assert(kept.toSet == dedupWaves.flatten.map(_._1).toSet -- droppedTwin,
      "auto-compacted dedup stream diverged from the batch twin")
    assert(streaming.StreamState.committedIds(spark, stateDir).size <= 1)
    for (t <- Seq("sets", "bands")) {
      val leaves = new java.io.File(s"$stateDir/$t").listFiles().map(_.getName)
      assert(leaves.count(_.startsWith("base_id")) == 1, s"$t leaves: ${leaves.toSeq}")
    }
  }

  test("drift: nothing to fold is a no-op, not an error") {
    val (stateDir, outDir) = (tmp("dn_state"), tmp("dn_out"))
    assert(DriftStream.compactState(spark, stateDir).isEmpty) // empty state
    DriftStream.processBatch(
      driftWaves(0).toDF("doc_id", "text", "source"), 0L, stateDir, outDir)
    // a single committed batch is the newest — nothing below it to fold
    assert(DriftStream.compactState(spark, stateDir).isEmpty)
  }

  test("compact refuses a table list that misses a sibling table " +
    "(markers are shared — partial compaction would orphan it)") {
    val (stateDir, outDir) = (tmp("dg_state"), tmp("dg_out"))
    DriftStream.processBatch(
      driftWaves(0).toDF("doc_id", "text", "source"), 0L, stateDir, outDir)
    DriftStream.processBatch(
      driftWaves(1).toDF("doc_id", "text", "source"), 1L, stateDir, outDir)
    // a second table appears under the same root, gated by the same markers
    Seq((1L, "x")).toDF("id", "v")
      .write.parquet(s"$stateDir/extra/batch_id=0")
    val e = intercept[IllegalArgumentException] {
      DriftStream.compactState(spark, stateDir)
    }
    assert(e.getMessage.contains("extra"))
  }

  test("alert monitor's nested state root coexists with count compaction") {
    val (stateDir, outDir) = (tmp("da_state"), tmp("da_out"))
    val alertDir = tmp("da_alerts")
    val baseline = Seq(("web", 100_000L)).toDF("source", "base_ppm")
    (0L to 2L).foreach(i => DriftStream.processAlertBatch(
      driftWaves(i.toInt).toDF("doc_id", "text", "source"), i, stateDir,
      outDir, alertDir, baseline))
    // counts compaction must NOT flag the nested alerts root (its own
    // markers gate it), and each root compacts independently
    assert(DriftStream.compactState(spark, stateDir) == Some(1L))
    assert(DriftStream.compactAlertState(spark, stateDir) == Some(1L))
    // the alerting stream keeps working against both compacted roots,
    // and the latest-per-source state survived the alert-state fold
    DriftStream.processAlertBatch(
      driftWaves(3).toDF("doc_id", "text", "source"), 3L, stateDir,
      outDir, alertDir, baseline)
    val got = spark.read.parquet(s"$alertDir/batch_id=3")
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(got.keySet == Set("web", "alien"))
  }

  // ---- dedup ingest (two tables under one marker) --------------------

  private def text(base: String): String =
    (1 to 20).map(i => s"$base$i").mkString(" ")
  private def variant(base: String): String =
    ((1 to 19).map(i => s"$base$i") :+ s"${base}sub").mkString(" ")

  private val dedupWaves: Seq[Seq[(Long, String)]] = Seq(
    Seq((1L, text("alpha")), (2L, variant("alpha")), (3L, text("beta"))),
    Seq((4L, text("alpha")), (5L, text("gamma")), (6L, variant("gamma"))),
    Seq((7L, variant("alpha")), (8L, text("delta"))),
    Seq((9L, text("beta")), (10L, text("eps"))))

  test("dedup: keep-decisions across compaction + torn compactor + replay " +
    "equal the batch twin over all rows seen") {
    val (stateDir, outDir) = (tmp("dd_state"), tmp("dd_out"))
    def run(batchId: Long): Unit =
      DedupStream.processBatch(dedupWaves(batchId.toInt).toDF("doc_id", "text"),
        batchId, stateDir, outDir, bands = 8, rowsPerBand = 2, threshold = 0.9)
    run(0L); run(1L)
    // compactor killed after writing ONE of the two tables (an empty sets
    // base, no bands base, no marker): if a reader trusted it, alpha
    // would vanish from the state and doc 7 below would be kept
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.read.parquet(s"$stateDir/sets/batch_id=0").schema)
      .write.mode("overwrite").parquet(s"$stateDir/sets/base_id=1")
    run(2L)
    val kept2 = spark.read.parquet(s"$outDir/batch_id=2").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(8L), s"torn compaction leaked into the state read: $kept2")
    // real compaction folds batches {0,1} into base 1 for BOTH tables
    assert(DedupStream.compactState(spark, stateDir) == Some(1L))
    assert(new java.io.File(s"$stateDir/sets").listFiles().map(_.getName).toSet
      == Set("base_id=1", "batch_id=2"))
    assert(new java.io.File(s"$stateDir/bands").listFiles().map(_.getName).toSet
      == Set("base_id=1", "batch_id=2"))
    run(3L)
    run(3L) // crash-after-commit replay against the compacted state
    val kept = (0 to 3).flatMap(b =>
      spark.read.parquet(s"$outDir/batch_id=$b").select("doc_id")
        .collect().map(_.getLong(0))).toSeq
    assert(kept.length == kept.distinct.length, "replay appended duplicates")
    val all = dedupWaves.flatten.toDF("doc_id", "text")
    val droppedTwin = Dedup.minhashNearDup(all, "doc_id",
        array_distinct(TA.tokens(col("text"))), bands = 8, rowsPerBand = 2,
        threshold = 0.9)
      .select(col("id_b")).distinct().collect().map(_.getLong(0)).toSet
    assert(kept.toSet == dedupWaves.flatten.map(_._1).toSet -- droppedTwin,
      "compacted stream diverged from the batch twin")
  }
}
