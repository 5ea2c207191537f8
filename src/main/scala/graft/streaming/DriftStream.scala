package graft.streaming

import graft.queries.Retrieval
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous data-mixture drift monitoring — the streaming form of
  * `q_source_drift`: each micro-batch of (doc_id, text, source)
  * documents is scored per source against the distribution of EVERYTHING
  * ingested before it (L1 ppm distance, `Retrieval.l1DriftPpm`), then
  * folded into the reference. The monitor fires exactly when a corpus
  * pipeline needs it to: a new crawl whose vocabulary the corpus has
  * never seen scores near the 2M ppm ceiling on arrival; a steady
  * source's batches settle toward 0 as the reference absorbs them. The
  * very first batch scores each source by its own total mass (~1M ppm,
  * the "everything is new" floor) rather than dividing by an empty
  * reference.
  *
  * State = word counts at vocab grain, partitioned by batch
  * (`stateDir/counts/batch_id=N`, append-only, summed at read) behind
  * the same commit-marker gate as DedupStream — a torn write from a
  * crash mid-batch is invisible on restart. Replay determinism needs
  * one extra rule the dedup stream doesn't: a replayed batch must score
  * against the reference AS OF its first run, so reads exclude the
  * batch's OWN committed partition (`upTo = batchId`) — re-running a
  * committed batch reproduces byte-identical output and state.
  *
  * Scale: per-batch cost tracks the batch (one tokenize collapsing
  * map-side to (source, word) grain) plus the committed reference at
  * VOCAB grain — the corpus's documents are never re-read, and the
  * commit's auto-compaction valve re-aggregates the count partitions to
  * vocab grain.
  */
object DriftStream {

  /** Word counts at vocab grain; the merge is the sum a reference read
    * computes, so compaction folds batches without changing a score.
    */
  private val Counts = StreamState.Table("counts", StructType(Seq(
      StructField("w", StringType), StructField("c_w", LongType))),
    (df, _) => df.groupBy(col("w")).agg(sum(col("c_w")).as("c_w")))

  /** Reference word counts visible to batch `batchId`: all committed
    * batches strictly before it, summed to (w, c_w).
    */
  private def referenceCounts(s: SparkSession, stateDir: String,
      batchId: Long): DataFrame =
    Counts.merge(StreamState.read(s, stateDir, Counts, upTo = batchId), batchId)

  /** One micro-batch: score `batch` per source against the pre-batch
    * reference, write (source, n_tokens, l1_ppm) to `outDir/batch_id=N`
    * and commit the batch's word counts to the state (both
    * overwrite-by-batch-id). `autoCompactEvery > 0` compacts once more
    * than that many committed batches have accumulated since the last
    * base — reads stay O(base + ≤N batches) with no manual compaction
    * call, same crash contract (StreamState.commit). Exposed for direct
    * testing.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, stateDir: String,
      outDir: String, autoCompactEvery: Int = 0): Unit =
    driftStep(batch, batchId, stateDir, outDir, autoCompactEvery)

  /** [[processBatch]]'s drift step, returning the written scores. */
  private def driftStep(batch: Dataset[Row], batchId: Long, stateDir: String,
      outDir: String, autoCompactEvery: Int): DataFrame = {
    val s = batch.sparkSession
    val sw = Retrieval.sourceWordCounts(
        batch.select(col("source"), col("text")))
      .localCheckpoint() // feeds the drift score and the state fold
    val scores = Retrieval.l1DriftPpm(sw, referenceCounts(s, stateDir, batchId))
      .orderBy(col("source").asc)
      .localCheckpoint() // feeds the score sink and any alert decision
    Sinks.writeBatchIdempotent(scores, batchId, outDir)
    StreamState.commit(s, stateDir, batchId, autoCompactEvery)(
      Counts -> Counts.merge(sw.select(col("w"), col("c_sw").as("c_w")), batchId))
    scores
  }

  // ---- thresholded alert surface -----------------------------------

  /** Per-source alert decisions stamped with their batch; the merge
    * keeps the latest decision per source (what a read of the state
    * reduces to).
    */
  private val AlertState = StreamState.Table("state", StructType(Seq(
      StructField("source", StringType), StructField("alerting",
        org.apache.spark.sql.types.BooleanType), StructField("b", LongType))),
    (df, _) => df.groupBy(col("source"))
      .agg(max_by(col("alerting"), col("b")).as("alerting"), max(col("b")).as("b"))
      .select(col("source"), col("alerting"), col("b")))

  private def alertRoot(stateDir: String) = s"$stateDir/alerts"

  /** Hysteresis alert decision for ONE batch of drift scores
    * (source, n_tokens, l1_ppm): a source ENTERS alert when its score
    * reaches `base_ppm + enterPpm`, and LEAVES only when it falls below
    * `base_ppm + exitPpm` (exit < enter — the band between holds the
    * previous state, so a score oscillating around one threshold cannot
    * flap the signal). `baseline` is the per-source expected drift
    * (source, base_ppm) — a tiny dimension, broadcast; sources without a
    * baseline use 0 (a NEW source is pure drift, which is exactly when
    * the 2M-ppm new-crawl signal should fire). `prevAlerting` is the
    * previous decision per source (source, alerting). Pure function —
    * the batch and streaming forms share it, so they cannot diverge.
    */
  def alertDecide(scores: DataFrame, baseline: DataFrame,
      prevAlerting: DataFrame, enterPpm: Long, exitPpm: Long): DataFrame = {
    require(exitPpm <= enterPpm, s"hysteresis needs exit ($exitPpm) <= enter ($enterPpm)")
    scores
      .join(broadcast(baseline.select(col("source"), col("base_ppm"))),
        Seq("source"), "left")
      .join(broadcast(prevAlerting.select(col("source"), col("alerting").as("was"))),
        Seq("source"), "left")
      .withColumn("base", coalesce(col("base_ppm"), lit(0L)))
      .select(col("source"), col("n_tokens"), col("l1_ppm"),
        when(col("l1_ppm") >= col("base") + lit(enterPpm), lit(true))
          .when(col("l1_ppm") < col("base") + lit(exitPpm), lit(false))
          .otherwise(coalesce(col("was"), lit(false))).as("alerting"))
  }

  /** One micro-batch of the ALERTING monitor: the drift step of
    * [[processBatch]] plus the hysteresis decision against the latest
    * committed alert state per source visible to `batchId` (a source
    * keeps its state until it reappears), written to
    * `alertDir/batch_id=N` as (source, n_tokens, l1_ppm, alerting) — the
    * boolean a pipeline gates on. Alert state lives under its own
    * commit-gated root (`stateDir/alerts`), replays excluded via `upTo`
    * — the same effectively-once discipline as the count state, torn
    * writes invisible — and each root compacts on its own
    * committed-batch count.
    */
  def processAlertBatch(batch: Dataset[Row], batchId: Long, stateDir: String,
      outDir: String, alertDir: String, baseline: DataFrame,
      enterPpm: Long = 500_000L, exitPpm: Long = 300_000L,
      autoCompactEvery: Int = 0): Unit = {
    val s = batch.sparkSession
    val scores = driftStep(batch, batchId, stateDir, outDir, autoCompactEvery)
    val prev = AlertState.merge(
      StreamState.read(s, alertRoot(stateDir), AlertState, upTo = batchId), batchId)
    val decided = alertDecide(scores, baseline, prev, enterPpm, exitPpm)
      .orderBy(col("source").asc)
      .localCheckpoint()
    Sinks.writeBatchIdempotent(decided, batchId, alertDir)
    StreamState.commit(s, alertRoot(stateDir), batchId, autoCompactEvery)(
      AlertState -> decided.select(col("source"), col("alerting"), lit(batchId).as("b")))
  }

  /** Start the alerting monitor: [[driftMonitor]] plus the per-source
    * hysteresis boolean at `alertDir`.
    */
  def alertMonitor(docs: DataFrame, stateDir: String, outDir: String,
      alertDir: String, checkpointDir: String, baseline: DataFrame,
      enterPpm: Long = 500_000L, exitPpm: Long = 300_000L,
      autoCompactEvery: Int = 16): StreamingQuery =
    Sinks.foreachBatch(docs, checkpointDir)(processAlertBatch(_, _, stateDir,
      outDir, alertDir, baseline, enterPpm, exitPpm, autoCompactEvery))

  /** Compact the alert-state root (latest decision per source survives;
    * the count state compacts separately via [[compactState]]).
    */
  def compactAlertState(s: SparkSession, stateDir: String): Option[Long] =
    StreamState.compact(s, alertRoot(stateDir), Seq(AlertState))

  /** Compact the monitor's committed word-count state: fold all but the
    * newest committed batch into one base partition, RE-AGGREGATED to
    * vocab grain — exactly the sum `referenceCounts` computes at read, so
    * every subsequent score is unchanged while the reference read drops
    * from O(batches × vocab) rows to O(vocab) + the newest batch. Safe to
    * run between (or concurrent with) batches: the commit-gate protocol
    * makes a killed compaction invisible (see StreamState.compact).
    */
  def compactState(s: SparkSession, stateDir: String): Option[Long] =
    StreamState.compact(s, stateDir, Seq(Counts))

  /** Start the monitor over a streaming (doc_id, text, source) frame.
    * Readers see per-batch drift scores as one partitioned parquet table
    * at `outDir`.
    *
    * `autoCompactEvery` defaults to 16 on the long-running entry points
    * ([[driftMonitor]], [[alertMonitor]]): reference reads stay
    * O(base + ≤16 batch dirs) for the life of the stream with zero
    * operator intervention, under the same crash contract
    * (StreamState.commit). 0 disables; the per-batch primitives
    * ([[processBatch]], [[processAlertBatch]]) keep 0 for test isolation.
    */
  def driftMonitor(docs: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String, autoCompactEvery: Int = 16): StreamingQuery =
    Sinks.foreachBatch(docs, checkpointDir)(
      processBatch(_, _, stateDir, outDir, autoCompactEvery))
}
