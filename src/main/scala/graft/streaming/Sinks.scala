package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Micro-batch sink patterns. Structured Streaming's parquet sink is
  * append-only; production pipelines that need reprocessing-safe output
  * use `foreachBatch` with an overwrite keyed by the batch id: a batch
  * REPLAYED after a failure (same checkpointed batchId) overwrites its
  * own directory instead of appending duplicates — effectively-once
  * output on top of at-least-once execution.
  */
object Sinks {

  /** The per-batch writer, exposed for direct testing: idempotent by
    * construction — writing the same (batch, batchId) twice leaves one
    * copy.
    */
  def writeBatchIdempotent(batch: Dataset[Row], batchId: Long, outDir: String): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** Start a stream that hands each micro-batch and its checkpointed
    * batch id to `process` — the one stream start of the streaming
    * operators.
    */
  def foreachBatch(df: DataFrame, checkpointDir: String)
      (process: (Dataset[Row], Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(process)
      .start()

  /** Start a stream writing each micro-batch to `outDir/batch_id=N`.
    * Readers see the whole result as one partitioned parquet table
    * (`spark.read.parquet(outDir)` with `batch_id` as a partition
    * column).
    */
  def idempotentParquet(df: DataFrame, outDir: String,
                        checkpointDir: String): StreamingQuery =
    foreachBatch(df, checkpointDir)(writeBatchIdempotent(_, _, outDir))
}
