package graft.streaming

import graft.operators.{Dedup, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Continuous near-dup-gated ingestion — the streaming form of the
  * incremental MinHash+LSH dedup (`Dedup.minhashNearDupIncremental`):
  * each micro-batch of (doc_id, text) documents is shingled and
  * minhashed ONCE, probed against the PERSISTED signature + band tables
  * (new↔new and new↔existing candidates only — the existing corpus is
  * never re-paired against itself), and only novel documents reach the
  * corpus output; the state tables grow by exactly the kept rows.
  *
  * Contract: ids are monotone across arrivals (an ingestion sequence
  * number) — the drop rule "a doc is a duplicate iff it near-dups an
  * EARLIER doc" is then exactly "id appears as the pair's id_b", which
  * makes the stream's cumulative output equal the batch twin over all
  * rows seen (asserted in DedupStreamSpec):
  *   kept ≡ all ∖ { id_b | (id_a, id_b) ∈ minhashNearDup(all) }
  *
  * Replay-idempotent by construction: every write (corpus, signatures,
  * bands) is keyed by batch id and overwrites its own directory, a
  * per-batch COMMIT MARKER (written after all three directories land)
  * gates what restarts may read — a torn state write from a crash
  * mid-batch is never read as truth, only overwritten by the replay —
  * and a replayed committed batch's ids are superseded out of the state
  * read by the incremental operator's anti-joins, so re-executing a
  * batch after a crash reproduces the same kept set and overwrites the
  * same partitions — effectively-once on top of at-least-once.
  *
  * Scale shape: per-batch cost tracks the BATCH (one signature pass +
  * band equi-joins against the persisted band table, shuffling on band
  * keys); the corpus-sized relations are only ever probed through
  * equi-joins, never scanned pairwise. State lives in plain parquet
  * next to the checkpoint — at production scale, a lake table with the
  * same append discipline.
  */
object DedupStream {

  private val Sets = StreamState.Table("sets", StructType(Seq(
    StructField("id", LongType), StructField("hsorted", ArrayType(LongType)))))
  private val Bands = StreamState.Table("bands", StructType(Seq(
    StructField("id", LongType), StructField("bkey", StringType))))

  /** One micro-batch: gate `batch` against the persisted state under
    * `stateDir`, append kept docs to `outDir/batch_id=N` and commit kept
    * signatures/bands to the state tables (all overwrite-by-batch-id).
    * State reads take ALL committed batches: a replayed batch's own
    * earlier rows are superseded by the incremental operator's
    * anti-joins, not by exclusion — and a damaged COMMITTED partition
    * aborts the scan, so state can never silently disable dedup.
    * Exposed for direct testing, like `Sinks.writeBatchIdempotent`.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, stateDir: String,
      outDir: String, bands: Int, rowsPerBand: Int, threshold: Double,
      autoCompactEvery: Int = 0): Unit = {
    val s = batch.sparkSession
    val newSets = Dedup.hashedSets(
        batch.select(col("doc_id"), col("text")), "doc_id",
        array_distinct(TA.tokens(col("text"))))
      .localCheckpoint() // feeds the band table and both verify sides
    val pairs = Dedup.minhashNearDupIncremental(newSets,
      StreamState.read(s, stateDir, Sets), bands, rowsPerBand, threshold,
      existingBanded = Some(StreamState.read(s, stateDir, Bands)))
    // monotone ids: id_b is always the later arrival, so dropping every
    // id_b implements "duplicate of an earlier doc"
    val dropped = pairs.select(col("id_b").as("id")).distinct()
    val keptSets = newSets.join(dropped, Seq("id"), "left_anti").localCheckpoint()
    Sinks.writeBatchIdempotent(batch.join(
      dropped.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti"),
      batchId, outDir)
    // both tables fold under one marker once more than
    // `autoCompactEvery` committed batches accumulate
    StreamState.commit(s, stateDir, batchId, autoCompactEvery)(
      Sets -> keptSets, Bands -> Dedup.bandTable(keptSets, bands, rowsPerBand))
  }

  /** Compact the committed signature + band state: both tables fold
    * under ONE marker (a reader never sees sets compacted but bands not).
    * The merge is identity — rows are keyed by doc id and each id lives
    * in exactly one committed partition (a replayed batch overwrites its
    * own) — so the fold is pure concatenation into one directory; what
    * shrinks is the per-read directory/file enumeration and open cost,
    * which otherwise grows with every batch forever.
    */
  def compactState(s: SparkSession, stateDir: String): Option[Long] =
    StreamState.compact(s, stateDir, Seq(Sets, Bands))

  /** Start the ingestion stream over a streaming (doc_id, text, ...)
    * frame. Readers see the growing corpus as one partitioned parquet
    * table at `outDir`.
    *
    * `autoCompactEvery` defaults to 16 on this long-running entry point:
    * state reads stay O(base + ≤16 batch dirs) forever with zero
    * operator intervention (StreamState.commit's valve — a killed
    * compaction is invisible). 0 disables; the per-batch primitive
    * [[processBatch]] keeps 0 as its default for test isolation.
    */
  def nearDupIngest(docs: DataFrame, stateDir: String, outDir: String,
      checkpointDir: String, bands: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.9, autoCompactEvery: Int = 16): StreamingQuery =
    Sinks.foreachBatch(docs, checkpointDir)(processBatch(_, _, stateDir,
      outDir, bands, rowsPerBand, threshold, autoCompactEvery))
}
