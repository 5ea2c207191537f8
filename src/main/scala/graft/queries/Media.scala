package graft.queries

import graft.sources.{MediaCorpus, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checked multimodal ingest (SURVEY §2 "multimodal columns"
  * north star): binaryFile-scan the generated [[MediaCorpus]] (real
  * PNG/JPEG/GIF/BMP/WEBP images, WAV/FLAC/Opus audio, an MP4), dispatch
  * modality on extension, parse each container's REAL header metadata
  * — image dimensions, audio rate/channels/duration, video duration —
  * and project one typed row per file. The DuckDB oracle recomputes the
  * same rows from the corpus's expected-metadata contract, so any
  * parser or dispatch regression fails the correctness gate, not just
  * a unit spec.
  *
  * Reference analogue: the binary upload loaders at
  * `/root/reference/utils.py:11-19`, extended to media containers.
  */
object Media {

  /** q_media_ingest: (file_name, kind, format, width, height,
    * sample_rate, channels, duration_ms), NULL where the modality has
    * no such field. Header-only parsing — no pixel/sample decode — so
    * at scale this is one narrow pass over the first bytes of each
    * blob, embarrassingly parallel across files.
    */
  def mediaIngest(s: SparkSession, d: String): DataFrame =
    ingestRows(Multimodal.fromBinaryFiles(s, MediaCorpus.ensure()))

  /** q_media_ingest_head: the SAME typed-metadata contract as
    * q_media_ingest, but scanned through the `binary-head` DSv2 source
    * ([[Multimodal.fromBinaryFilesHead]]) — each file contributes only
    * its first 64 KiB, not the full blob. Oracled against the identical
    * contract rows: head-truncated bytes must parse to the same
    * metadata, which is the whole point of the head scan (container
    * headers live in the first bytes). This is the production ingest
    * path at 100 TB; q_media_ingest keeps the full-read source honest.
    */
  def mediaIngestHead(s: SparkSession, d: String): DataFrame =
    ingestRows(Multimodal.fromBinaryFilesHead(s, MediaCorpus.ensure()))

  /** Shared metadata-projection pipeline over any canonical media scan. */
  private[graft] def ingestRows(base: DataFrame): DataFrame = {
    // withAudioMeta and withVideoMeta both emit `duration_ms` (audio
    // clip length / movie length) — stash the audio one before the
    // video pass would overwrite it, then coalesce per row
    val ann = Multimodal.withVideoMeta(
      Multimodal.withAudioMeta(Multimodal.withImageMeta(base))
        .withColumnRenamed("duration_ms", "audio_duration_ms"))
    ann.select(
        regexp_extract(element_at(col("meta"), "path"), "[^/]+$", 0).as("file_name"),
        col("modality").as("kind"),
        coalesce(col("img_format"), col("audio_format"), col("video_format"))
          .as("format"),
        col("width"), col("height"),
        col("sample_rate"), col("channels"),
        coalesce(col("audio_duration_ms"), col("duration_ms")).as("duration_ms"))
      .orderBy(col("file_name").asc)
  }

  /** q_media_features: the batched DECODE plumbing (mapPartitions over
    * opaque bytes — `Multimodal.extractFeatures`) driver-checked, not
    * just the header parsers. The stub decoder is a pure function of
    * md5(bytes), so the oracle recomputes the identical features from
    * the corpus's writer-pinned digests ([[MediaCorpus.expectedMd5]])
    * while Spark runs the real bytes → digest → feature pipeline; a
    * regression anywhere in the batching/schema/decode path diverges
    * the rows. Exploded to one (file, dim) row per feature so the
    * compare is scalar-cell exact.
    */
  def mediaFeatures(s: SparkSession, d: String): DataFrame = {
    val base = Multimodal.fromBinaryFiles(s, MediaCorpus.ensure())
      .withColumn("file_name",
        regexp_extract(element_at(col("meta"), "path"), "[^/]+$", 0))
    // file_name rides through the decode — joining it back would
    // re-execute the blob scan (see dedupAndFeatures)
    Multimodal.extractFeaturesCarrying(base, dim = 8, carry = Seq("file_name"))
      .select(col("file_name"), col("modality"),
        posexplode(col("features")).as(Seq("dim_idx", "f")))
      .select(col("file_name"), col("modality"), col("dim_idx"),
        col("f").cast("double").as("feature"))
      .orderBy(col("file_name").asc, col("dim_idx").asc)
  }

  /** q_media_frames: the frame-sampling plumbing (explode every-Nth
    * frame indices for video rows, per-frame decode of bytes+frameByte)
    * driver-checked. Video fixtures get n_frames=9 metadata and sample
    * every 3rd frame (0/3/6); non-video rows pass through as frame 0 —
    * the operator contract the oracle re-emits, with features replayed
    * from the independently pinned per-(file, frame) digests.
    */
  def mediaFrames(s: SparkSession, d: String): DataFrame = {
    val base = Multimodal.fromBinaryFiles(s, MediaCorpus.ensure())
      .withColumn("meta",
        when(col("modality") === "video",
          map_concat(col("meta"), map(lit("n_frames"), lit("9"))))
          .otherwise(col("meta")))
    Multimodal.sampleFrames(
        base.withColumn("file_name",
          regexp_extract(element_at(col("meta"), "path"), "[^/]+$", 0)),
        everyNth = 3, dim = 4, carry = Seq("file_name"))
      .select(col("file_name"), col("frame_no"),
        posexplode(col("features")).as(Seq("dim_idx", "f")))
      .select(col("file_name"), col("frame_no"), col("dim_idx"),
        col("f").cast("double").as("feature"))
      .orderBy(col("file_name").asc, col("frame_no").asc, col("dim_idx").asc)
  }

  /** q_media_curate: the multimodal twin of q_corpus_build — the whole
    * curation dataflow as ONE oracled pipeline over the fixture corpus:
    *
    *   ingest (full-read scan: the feature stage hashes whole blobs)
    *   → metadata gate  (drop malformed/unknown rows, images under
    *     4096 px², audio/video under 1 s — the typed-metadata columns
    *     doing the filtering they exist for)
    *   → exact content dedup (md5 digest; keep the lexicographically
    *     first file name per digest — photo_copy.png drops here)
    *   → batched feature extraction (dim 4), exploded to scalar rows.
    *
    * Scale shape: the gates are narrow per-row predicates evaluated
    * before the only shuffle, which keys SURVIVING rows by digest for
    * the dedup (`min_by` over the full row — the canonical exact-dedup
    * cost: content moves once). At 100 TB the metadata gate would run
    * on the binary-head scan first and only survivors would be re-read
    * for hashing/decode; on the fixture corpus both shapes read the
    * same bytes, and the single-scan form keeps the oracle exact.
    *
    * The DuckDB oracle replays every stage from the corpus contract:
    * gates over the expected-metadata VALUES, dedup over the pinned
    * digests, features from the digest hex — so a regression in any
    * stage (dispatch, parser, gate predicate, dedup tie-break, decode
    * batching) diverges the rows.
    */
  def mediaCurate(s: SparkSession, d: String): DataFrame =
    curateRows(Multimodal.fromBinaryFiles(s, MediaCorpus.ensure()))

  /** q_media_curate_head: the SAME curate contract, composed as the
    * production TWO-PHASE shape its single-scan sibling documents —
    *
    *   phase 1: metadata gates on the `binary-head` scan (each file
    *     contributes ≤64 KiB, so the gate pass reads headers, not the
    *     corpus);
    *   phase 2: ONLY the gate survivors are re-read in full
    *     ([[Multimodal.withFullBytes]], distributed per-row reads by
    *     path — never a second full scan) for the whole-blob stages:
    *     content-digest dedup and feature extraction.
    *
    * At 100 TB this is the difference between curation cost tracking
    * CORPUS bytes (q_media_curate's single full scan hashes blobs its
    * own gates then drop) and tracking SURVIVOR bytes + a bounded head
    * pass — the #1 item of the r14 brief. On the fixture corpus every
    * file is smaller than the head cap, so both phases see identical
    * bytes and the oracle contract is the same VALUES replay.
    *
    * Gate decisions are exact even for tail-anchored metadata: rows
    * that are head-UNDECIDABLE (bigger than the cap and unparsed-from-
    * head, or Opus whose duration lives in the last page) take a full
    * re-read BEFORE gating — see [[curateRowsHead]]. That set is
    * exactly the files whose bytes must be read to decide them.
    */
  def mediaCurateHead(s: SparkSession, d: String): DataFrame =
    curateRowsHead(s, MediaCorpus.ensure())

  /** The two-phase curate dataflow over any directory glob. Gate
    * decisions are EXACT for any corpus, not just under-cap files:
    * rows whose metadata is head-UNDECIDABLE — the file is larger than
    * the cap AND its extension maps to a real modality AND either no
    * container parsed from the head (trailing-moov MP4, SOF-past-EXIF
    * JPEG, fmt-chunk-past-cap WAV, corrupt) or the format is Opus
    * (duration lives in the LAST page's granule, so a head parse
    * UNDER-reports it) — take a bounded TAIL read next, and the
    * two-window parsers ([[Multimodal.videoMetaHeadTail]],
    * [[Multimodal.opusMetaHeadTail]]) decide tail-anchored A/V
    * metadata exactly at ≤(head+tail) bytes per file: a trailing-moov
    * MP4's box walk skips the unread gap by size fields, an Opus
    * duration re-syncs on the validated last page. Three-way outcome:
    * decided-parsed rows gate on exact metadata; decided-unparseable
    * rows gate out with NO further I/O (a full parse fails
    * identically); only genuinely window-undecidable rows (mid-file
    * moov, non-Ogg audio, JPEG SOF past the cap) pay the full re-read.
    * Full-blob reads are therefore exactly: gate survivors (digest +
    * features need whole bytes regardless) plus the window-undecidable
    * residue — never a multi-GB blob whose gate decision lived in its
    * first or last 64 KiB.
    */
  private[graft] def curateRowsHead(s: SparkSession, glob: String,
      headBytes: Int = 65536, tailBytes: Int = 65536): DataFrame = {
    // ONE bounded head scan, checkpointed: the decided path, the
    // undecidable filter, and the tail branch all read the cached
    // head-annotated rows instead of re-scanning the source — the
    // empty-undecidable tail branch costs one near-free job over
    // cached rows (zero blob I/O) rather than a second full head scan
    // (the r16 +0.26 s). Memory shape is bounded by construction:
    // ≤ headBytes per file, MEMORY_AND_DISK, freed when the frame is
    // dereferenced — at the 100 TB design point this is "read each
    // header once per curation pass", the minimum any two-phase gate
    // pays.
    val annHead = annotateMeta(
        Multimodal.fromBinaryFilesHead(s, glob, headBytes))
      .localCheckpoint()
    val fileLen = element_at(col("meta"), "length").cast("long")
    val undecidable = fileLen > headBytes && col("modality") =!= "unknown" &&
      (col("format").isNull || col("format") === "opus")
    // head-decided rows: gate on head metadata, survivors re-read in
    // full for the whole-blob stages
    val decidedSurvivors = Multimodal.withFullBytes(
        gateAnnotated(annHead.filter(!undecidable)).select(
          col("media_id"), element_at(col("meta"), "path").as("path"),
          col("file_name"), col("modality"), col("format")))
      .drop("path")
    // undecidable rows: bounded tail read + two-window decision off
    // the CACHED head rows — no second head scan of the source (the
    // r16 shape re-scanned every head here, +0.26 s even when the
    // undecidable set was empty). Checkpointed so the (small)
    // undecidable set pays its tail reads once across the
    // decided/residual consumers; on an all-decidable corpus this job
    // filters cached rows and reads zero blob bytes.
    val htUdf = udf(Multimodal.headTailAvMeta _)
    val withTail = Multimodal.withTailBytes(
        annHead.filter(undecidable)
          .withColumn("path", element_at(col("meta"), "path")),
        "path", tailBytes)
      .withColumn("ht",
        htUdf(col("modality"), col("bytes"), col("tail_bytes"), fileLen))
      .localCheckpoint()
    val tailDecided = withTail.filter(col("ht").isNotNull)
      .withColumn("format", col("ht._2"))
      .withColumn("dur", when(col("ht._1"), col("ht._5")))
    val tailSurvivors = Multimodal.withFullBytes(
        gateAnnotated(tailDecided).select(
          col("media_id"), col("path"), col("file_name"), col("modality"),
          col("format")))
      .drop("path")
    // window-undecidable residue: full re-read FIRST, re-annotate from
    // exact bytes, then gate — survivors already carry their full bytes
    val reAnnotated = annotateMeta(
      Multimodal.withFullBytes(
          withTail.filter(col("ht").isNull)
            .select(col("media_id"), col("modality"), col("meta"), col("path")),
          "path")
        .drop("path"))
    val rereadSurvivors = gateAnnotated(reAnnotated)
      .select(col("media_id"), col("file_name"), col("modality"),
        col("format"), col("bytes"))
    dedupAndFeatures(decidedSurvivors
      .unionByName(tailSurvivors)
      .unionByName(rereadSurvivors))
  }

  /** Typed-metadata annotation over any canonical media scan
    * (file_name, format, dur columns added; no filtering).
    */
  private[graft] def annotateMeta(base: DataFrame): DataFrame =
    Multimodal.withVideoMeta(
      Multimodal.withAudioMeta(Multimodal.withImageMeta(base))
        .withColumnRenamed("duration_ms", "audio_duration_ms"))
      .withColumn("file_name",
        regexp_extract(element_at(col("meta"), "path"), "[^/]+$", 0))
      .withColumn("format",
        coalesce(col("img_format"), col("audio_format"), col("video_format")))
      .withColumn("dur", coalesce(col("audio_duration_ms"), col("duration_ms")))

  /** The hygiene/size gates over annotated rows. */
  private[graft] def gateAnnotated(ann: DataFrame): DataFrame =
    ann.filter(
      col("format").isNotNull && col("modality") =!= "unknown" &&
        (col("modality") =!= "image" ||
          col("width").cast("long") * col("height") >= 4096L) &&
        (!col("modality").isin("audio", "video") || col("dur") >= 1000L))

  /** Stage 1 of the curate dataflow: annotation + gates in one pass —
    * valid whenever the scanned bytes decide the metadata exactly (a
    * full-read scan always; a head scan for files under the cap or
    * with front-loaded metadata).
    */
  private[graft] def annotateAndGate(base: DataFrame): DataFrame =
    gateAnnotated(annotateMeta(base))

  /** Stage 2: exact content dedup over FULL blob bytes (md5 digest,
    * keep the lexicographically first file name) then batched feature
    * extraction, exploded to scalar rows. `gated` must carry full
    * `bytes` — the digest and decode are whole-blob by definition.
    */
  private[graft] def dedupAndFeatures(gated: DataFrame): DataFrame = {
    val deduped = gated
      .groupBy(md5(col("bytes")).as("digest"))
      .agg(min_by(
        struct(col("media_id"), col("file_name"), col("modality"),
          col("format"), col("bytes")),
        col("file_name")).as("keep"))
      .select(col("keep.*"))
    // file_name/format ride THROUGH the decode — a join back to
    // `deduped` would re-execute the whole blob scan (measured: it
    // doubled curate's bytes read at the 10k-file probe)
    Multimodal.extractFeaturesCarrying(deduped, dim = 4,
        carry = Seq("file_name", "format"))
      .select(col("file_name"), col("modality").as("kind"), col("format"),
        posexplode(col("features")).as(Seq("dim_idx", "f")))
      .select(col("file_name"), col("kind"), col("format"), col("dim_idx"),
        col("f").cast("double").as("feature"))
      .orderBy(col("file_name").asc, col("dim_idx").asc)
  }

  /** The curate dataflow over any canonical media scan (the probe runs
    * it at 10k files; the declared query binds the fixture corpus).
    */
  private[graft] def curateRows(base: DataFrame): DataFrame =
    dedupAndFeatures(annotateAndGate(base))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_ingest" -> mediaIngest,
    "q_media_ingest_head" -> mediaIngestHead,
    "q_media_features" -> mediaFeatures,
    "q_media_frames" -> mediaFrames,
    "q_media_curate" -> mediaCurate,
    "q_media_curate_head" -> mediaCurateHead,
  )

  /** VALUES-only oracle: DuckDB re-emits the corpus contract rows. */
  private val mediaIngestSql: String = {
    def i(o: Option[Int]) = o.map(_.toString).getOrElse("NULL")
    def l(o: Option[Long]) = o.map(_.toString).getOrElse("NULL")
    def st(o: Option[String]) = o.map(s => s"'$s'").getOrElse("NULL")
    val rows = MediaCorpus.expected.map { e =>
      s"('${e.fileName}', '${e.kind}', ${st(e.format)}, ${i(e.width)}, " +
        s"${i(e.height)}, ${i(e.sampleRate)}, ${i(e.channels)}, ${l(e.durationMs)})"
    }.mkString(",\n  ")
    s"""SELECT file_name, kind, format,
       |  CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height,
       |  CAST(sample_rate AS INTEGER) AS sample_rate,
       |  CAST(channels AS INTEGER) AS channels,
       |  CAST(duration_ms AS BIGINT) AS duration_ms
       |FROM (VALUES $rows)
       |  v(file_name, kind, format, width, height, sample_rate, channels, duration_ms)
       |ORDER BY file_name ASC""".stripMargin
  }

  /** The stub decoder replayed in SQL off the pinned digests: feature i
    * reads digest byte (i·7 mod 16) — two hex chars decoded by alphabet
    * position — then maps through ((b − 128) / 128.0), exactly the
    * float-representable affine `Multimodal.decodeStub` applies.
    */
  /** Digest byte (i·7 mod 16) of hex string `h`, decoded by alphabet
    * position — the SQL replay of `decodeStub`'s byte pick.
    */
  private val stubByteExpr: String = {
    val hex = "0123456789abcdef"
    s"((strpos('$hex', substr(h, 2*((i*7)%16)+1, 1)) - 1) * 16" +
      s" + strpos('$hex', substr(h, 2*((i*7)%16)+2, 1)) - 1)"
  }

  private val mediaFeaturesSql: String = {
    val rows = MediaCorpus.expected.map { e =>
      s"('${e.fileName}', '${e.kind}', '${MediaCorpus.expectedMd5(e.fileName)}')"
    }.mkString(",\n  ")
    s"""WITH m(file_name, kind, h) AS (VALUES $rows)
       |SELECT file_name, kind AS modality, CAST(i AS INTEGER) AS dim_idx,
       |  CAST(($stubByteExpr - 128) / 128.0 AS DOUBLE) AS feature
       |FROM m CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
       |ORDER BY file_name ASC, dim_idx ASC""".stripMargin
  }

  private val mediaFramesSql: String = {
    val rows = MediaCorpus.expectedFrameMd5.map { case (n, f, h) =>
      s"('$n', $f, '$h')"
    }.mkString(",\n  ")
    s"""WITH m(file_name, frame_no, h) AS (VALUES $rows)
       |SELECT file_name, CAST(frame_no AS INTEGER) AS frame_no,
       |  CAST(i AS INTEGER) AS dim_idx,
       |  CAST(($stubByteExpr - 128) / 128.0 AS DOUBLE) AS feature
       |FROM m CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
       |ORDER BY file_name ASC, frame_no ASC, dim_idx ASC""".stripMargin
  }

  /** Every curate stage replayed from the contract: gates over the
    * expected-metadata VALUES, dedup over the pinned digests (QUALIFY
    * keeps the first file name per digest), dim-4 features from the
    * digest hex via the same stub replay as q_media_features.
    */
  private val mediaCurateSql: String = {
    def i(o: Option[Int]) = o.map(_.toString).getOrElse("NULL")
    def l(o: Option[Long]) = o.map(_.toString).getOrElse("NULL")
    def st(o: Option[String]) = o.map(s => s"'$s'").getOrElse("NULL")
    val rows = MediaCorpus.expected.map { e =>
      s"('${e.fileName}', '${e.kind}', ${st(e.format)}, ${i(e.width)}, " +
        s"${i(e.height)}, ${l(e.durationMs)}, '${MediaCorpus.expectedMd5(e.fileName)}')"
    }.mkString(",\n  ")
    s"""WITH m(file_name, kind, format, width, height, duration_ms, h) AS (VALUES $rows),
       |g AS (
       |  SELECT * FROM m
       |  WHERE format IS NOT NULL AND kind <> 'unknown'
       |    AND (kind <> 'image' OR width * height >= 4096)
       |    AND (kind NOT IN ('audio', 'video') OR duration_ms >= 1000)),
       |d AS (
       |  SELECT * FROM g
       |  QUALIFY row_number() OVER (PARTITION BY h ORDER BY file_name) = 1)
       |SELECT file_name, kind, format, CAST(i AS INTEGER) AS dim_idx,
       |  CAST(($stubByteExpr - 128) / 128.0 AS DOUBLE) AS feature
       |FROM d CROSS JOIN (SELECT unnest(range(0, 4)) AS i)
       |ORDER BY file_name ASC, dim_idx ASC""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_media_ingest" -> mediaIngestSql,
    "q_media_ingest_head" -> mediaIngestSql,
    "q_media_features" -> mediaFeaturesSql,
    "q_media_frames" -> mediaFramesSql,
    "q_media_curate" -> mediaCurateSql,
    // the two-phase form computes the SAME contract rows (fixture files
    // are all under the head cap, so gate metadata is exact) — one
    // oracle, two execution shapes, like q_media_ingest/_head
    "q_media_curate_head" -> mediaCurateSql,
  )
}
