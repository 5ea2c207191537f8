package graft.streaming

import graft.sources.Multimodal
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Continuous multimodal ingestion — the streaming form of the
  * q_media_curate front half, completing the media family's streaming
  * story (every other north-star family already has one: DedupStream
  * for near-dup text, DriftStream for mixture monitoring). Each
  * micro-batch of canonical media rows (media_id, modality, bytes,
  * meta) is:
  *
  *  1. header-parsed to typed metadata (the [[Multimodal]] parsers —
  *     REAL container parsing, same stages as the batch query);
  *  2. hygiene-gated: rows whose bytes fail their container parse, or
  *     whose extension dispatched to no modality, go to a quarantine
  *     output `rejectDir/batch_id=N` (with a `reason` column) instead
  *     of silently vanishing — a curation stream must account for
  *     every input;
  *  3. exact-dedup'd on content digest, first within the batch (keep
  *     the lowest media_id per digest — ids are a monotone ingestion
  *     sequence, same contract as DedupStream) and then against the
  *     PERSISTED digest table (anti-join: new↔new and new↔existing
  *     only — the existing corpus is never re-scanned);
  *  4. appended to the corpus at `outDir/batch_id=N`; kept digests
  *     append to the state table.
  *
  * Replay-idempotent on the DedupStream discipline: every write is
  * keyed by batch id and overwrites its own directory, the per-batch
  * COMMIT MARKER (written last, via [[StreamState]]) gates what
  * restarts may read, and a replayed committed batch reproduces the
  * same kept set (its own state rows are superseded by overwrite, its
  * dedup decisions by the anti-join against STRICTLY EARLIER committed
  * batches being deterministic).
  *
  * Scale shape: per-batch cost tracks the BATCH — one narrow parse
  * pass, one digest per row, one digest-keyed anti-join probing the
  * committed state (equi-join, never pairwise). State is (digest,
  * media_id) pairs in plain parquet — 48 B/row regardless of blob
  * size — folded by [[StreamState.commit]]'s valve so reads stay
  * O(base + few batch dirs) forever.
  */
object MediaStream {

  /** Each digest's first keeper lives in exactly one committed
    * partition (a replayed batch overwrites its own), so the merge is
    * identity.
    */
  private val Digests = StreamState.Table("digests", StructType(Seq(
    StructField("digest", StringType), StructField("media_id", LongType))))

  /** A `binaryFile` FILE STREAM over `dir`. The file stream source
    * requires an explicit schema; binaryFile's is fixed by the format.
    */
  private def binaryFileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("binaryFile").schema(StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      StructField("length", LongType),
      StructField("content", org.apache.spark.sql.types.BinaryType)))).load(dir)

  /** One micro-batch of canonical media rows (the [[Multimodal]]
    * schema). Exposed for direct testing like DedupStream.processBatch.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, stateDir: String,
      outDir: String, rejectDir: String, autoCompactEvery: Int = 0): Unit = {
    // parsed once, feeds quarantine + gate
    val ann = Multimodal.annotate(batch.toDF()).localCheckpoint()
    Sinks.writeBatchIdempotent(quarantineRows(ann), batchId, rejectDir)
    dedupAndAppend(ann.filter(isWellFormed), batch.select(col("media_id")),
      batchId, stateDir, outDir, autoCompactEvery)
  }

  private def isWellFormed =
    col("modality") =!= "unknown" && col("format").isNotNull

  /** The quarantine rows, with the reason a pipeline operator triages
    * by.
    */
  private def quarantineRows(ann: DataFrame): DataFrame = ann
    .filter(col("modality") === "unknown" || col("format").isNull)
    .select(col("media_id"), col("modality"),
      when(col("modality") === "unknown", "unmapped_extension")
        .otherwise("container_parse_failed").as("reason"))

  /** The dedup-and-append back half over gate survivors whose `bytes`
    * column carries FULL blobs (the digest and the corpus row are
    * whole-blob by definition). `batchIds` = this batch's media_ids,
    * for the replay-supersede anti-join.
    */
  private def dedupAndAppend(wellFormed: DataFrame, batchIds: DataFrame,
      batchId: Long, stateDir: String, outDir: String,
      autoCompactEvery: Int): Unit = {
    val s = wellFormed.sparkSession
    // within-batch exact dedup: monotone ids, keep the earliest
    val firstInBatch = wellFormed
      .withColumn("digest", md5(col("bytes")))
      .groupBy(col("digest"))
      .agg(min_by(
        struct(wellFormed.columns.map(col): _*), col("media_id")).as("keep"))
      .select(col("digest"), col("keep.*"))
    // cross-batch: drop digests an EARLIER committed batch already kept.
    // A replayed committed batch finds its OWN digests in the state —
    // supersede those by media_id (this batch's rows re-claim their
    // digests) so replay reproduces the original kept set instead of
    // dropping everything; the DedupStream anti-join discipline.
    val existing = StreamState.read(s, stateDir, Digests)
      .join(batchIds, Seq("media_id"), "left_anti")
    val novel = firstInBatch
      .join(existing.select(col("digest")), Seq("digest"), "left_anti")
      .localCheckpoint() // one computation feeds corpus + state writes
    Sinks.writeBatchIdempotent(novel, batchId, outDir)
    StreamState.commit(s, stateDir, batchId, autoCompactEvery)(
      Digests -> novel.select(col("digest"), col("media_id")))
  }

  /** HEAD-GATED ingestion batch — the two-phase shape of
    * [[processBatch]] for a discovery batch of (path, length) rows
    * (no blob bytes shipped by the source at all):
    *
    *  1. phase 1 reads only the first `headBytes` of each discovered
    *     file ([[Multimodal.withHeadBytes]]), decides each row's
    *     metadata from it ([[Multimodal.decideHeadTail]]) and runs the
    *     quarantine gate on that — a 4 GiB junk blob costs 64 KiB to
    *     reject;
    *  2. phase 2 re-reads ONLY gate survivors in full
    *     ([[Multimodal.withSurvivorBytes]]) for the whole-blob stages:
    *     content-digest dedup and the corpus append.
    *
    * Same commit discipline, same state/corpus/quarantine layout, same
    * replay idempotence as [[processBatch]] (all phases are
    * deterministic functions of the discovered file set). Per-batch
    * blob I/O is head-capped discovery + bounded tail reads for the
    * head-undecidable rows + survivor bytes, instead of the full-read
    * source's every-blob materialization — the streaming mirror of
    * q_media_curate_head. Quarantine rows are decided on bounded
    * windows wherever that is exact (front-loaded metadata from the
    * head; trailing-moov MP4 / Opus duration / provably-absent `ftyp`
    * from head+tail); only window-undecidable rows pay a full read to
    * be decided.
    */
  def processBatchHead(paths: Dataset[Row], batchId: Long, stateDir: String,
      outDir: String, rejectDir: String, headBytes: Int = 65536,
      autoCompactEvery: Int = 0, tailBytes: Int = 65536): Unit = {
    val decided = Multimodal.decideHeadTail(
      Multimodal.annotate(Multimodal.toCanonical(Multimodal.withHeadBytes(
        paths.select(col("path"), col("length")), "path", headBytes), "bytes")),
      headBytes, tailBytes)
    Sinks.writeBatchIdempotent(quarantineRows(decided), batchId, rejectDir)
    dedupAndAppend(Multimodal.withSurvivorBytes(decided.filter(isWellFormed)),
      paths.select(xxhash64(col("path")).as("media_id")), batchId,
      stateDir, outDir, autoCompactEvery)
  }

  /** Fold the committed digest state under one marker. */
  def compactState(s: SparkSession, stateDir: String): Option[Long] =
    StreamState.compact(s, stateDir, Seq(Digests))

  /** Start the ingestion stream over a streaming canonical media frame
    * (e.g. a file-source stream wrapped by [[Multimodal]]'s schema, or
    * a MemoryStream in tests). Readers see the growing deduplicated
    * corpus as one partitioned parquet table at `outDir` and the
    * quarantine at `rejectDir`.
    */
  def dedupIngest(media: DataFrame, stateDir: String, outDir: String,
      rejectDir: String, checkpointDir: String,
      autoCompactEvery: Int = 16): StreamingQuery =
    Sinks.foreachBatch(media, checkpointDir)(
      processBatch(_, _, stateDir, outDir, rejectDir, autoCompactEvery))

  /** Watch a directory for newly arriving blob files (Spark's
    * `binaryFile` FILE STREAM source — exactly-once file discovery via
    * the checkpoint's file log) and run the full ingestion over each
    * discovery batch. media_id = xxhash64(path): content-stable, and
    * the monotone-arrival dedup contract holds per digest because a
    * given digest's FIRST arrival commits before later ones are probed
    * against state (same-batch ties break by id, deterministically).
    *
    * This is the single-phase form: every arriving blob is fully
    * materialized by the source before the gates run. Prefer
    * [[watchDirectoryHead]] in production — survivors must be fully
    * read for the digest and the corpus append either way, but
    * REJECTED blobs should only ever cost a head read.
    */
  def watchDirectory(spark: SparkSession, dir: String, stateDir: String,
      outDir: String, rejectDir: String, checkpointDir: String,
      autoCompactEvery: Int = 16): StreamingQuery =
    dedupIngest(Multimodal.toCanonical(binaryFileStream(spark, dir)), stateDir, outDir,
      rejectDir, checkpointDir, autoCompactEvery)

  /** HEAD-GATED [[watchDirectory]]: the file stream source ships only
    * (path, length) — `binaryFile`'s reader materializes a column only
    * when it is required, so dropping `content` from the projection
    * keeps blob bytes out of the source entirely — and each discovery
    * batch runs [[processBatchHead]]: gates on bounded head reads, full
    * reads deferred to gate survivors. This replaces the full-read
    * source the r14 brief flagged: the old note that "files must be
    * hashed anyway" only holds for SURVIVORS — quarantined blobs (junk
    * extensions, corrupt containers) were paying a full read to be
    * dropped.
    */
  def watchDirectoryHead(spark: SparkSession, dir: String, stateDir: String,
      outDir: String, rejectDir: String, checkpointDir: String,
      headBytes: Int = 65536, autoCompactEvery: Int = 16,
      tailBytes: Int = 65536): StreamingQuery =
    Sinks.foreachBatch(binaryFileStream(spark, dir).select(col("path"), col("length")),
      checkpointDir)(processBatchHead(_, _, stateDir, outDir, rejectDir,
        headBytes, autoCompactEvery, tailBytes))
}
