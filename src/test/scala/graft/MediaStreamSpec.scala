package graft

import graft.sources.MediaCorpus
import graft.streaming.{MediaStream, StreamState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming multimodal ingestion: cumulative corpus across
  * micro-batches and a kill/restart equals the batch twin (exact dedup
  * keep-first over all well-formed rows seen), malformed rows land in
  * the quarantine with a reason, a replayed batch overwrites instead
  * of appending, and torn state writes are never read as truth.
  */
class MediaStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(MediaCorpus.ensure(), name))

  // monotone media_ids across waves; photo.png bytes recur in waves 1
  // and 2 (cross-batch dup), scan.jpg twice within wave 2 (in-batch
  // dup), broken.png + junk.xyz exercise the quarantine
  private type MediaRow = (Long, String, Array[Byte], Map[String, String])
  private def waves: Seq[Seq[MediaRow]] = Seq(
    Seq(
      (1L, "image", fixture("photo.png"), Map("src" -> "a")),
      (2L, "image", fixture("broken.png"), Map("src" -> "a")),
      (3L, "audio", fixture("voice.wav"), Map("src" -> "a"))),
    Seq(
      (4L, "image", fixture("photo.png"), Map("src" -> "b")), // dup of 1
      (5L, "image", fixture("scan.jpg"), Map("src" -> "b")),
      (6L, "image", fixture("scan.jpg"), Map("src" -> "b")), // in-batch dup of 5
      (7L, "unknown", fixture("junk.xyz"), Map("src" -> "b")),
      (8L, "video", fixture("clip.mp4"), Map("src" -> "b"))))

  test("dedup ingest across batches and a restart equals the batch twin; " +
    "quarantine accounts for malformed rows") {
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ms_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ms_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_ms_rej").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ms_ck").toString
    val mem = MemoryStream[MediaRow]
    def runWave(rows: Seq[MediaRow]): Unit = {
      val q = MediaStream.dedupIngest(
        mem.toDF().toDF("media_id", "modality", "bytes", "meta"),
        stateDir, outDir, rejDir, ckDir)
      try { mem.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    }
    waves.foreach(runWave)
    val kept = spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSeq
    assert(kept.length == kept.distinct.length, "duplicate corpus rows")
    // batch twin: well-formed rows, first media_id per content digest
    assert(kept.toSet == Set(1L, 3L, 5L, 8L))
    val rejected = spark.read.parquet(rejDir)
      .select("media_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rejected == Set(
      (2L, "container_parse_failed"), (7L, "unmapped_extension")))
    // every input row is accounted for exactly once: corpus + rejects +
    // dropped dups partition the input id set
    assert(kept.size + rejected.size + 2 == waves.flatten.size)
    // kept rows carry parsed typed metadata (the parse stage ran)
    val photo = spark.read.parquet(outDir)
      .where(col("media_id") === 1L).select("format", "width").head()
    assert(photo.getString(0) == "png" && photo.getInt(1) == 320)
  }

  test("watchDirectory ingests files as they arrive, dedups across waves") {
    val watch = java.nio.file.Files.createTempDirectory("graft_ms5_in")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ms5_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ms5_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_ms5_rej").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ms5_ck").toString
    def drop(name: String, as: String): Unit =
      java.nio.file.Files.write(watch.resolve(as), fixture(name))
    def runWave(files: Seq[(String, String)]): Unit = {
      files.foreach { case (n, as) => drop(n, as) }
      val q = MediaStream.watchDirectory(spark, watch.toString, stateDir,
        outDir, rejDir, ckDir)
      try q.processAllAvailable() finally q.stop()
    }
    runWave(Seq(("photo.png", "a.png"), ("broken.png", "b.png")))
    runWave(Seq(("photo.png", "c.png"), ("voice.wav", "d.wav")))
    val kept = spark.read.parquet(outDir)
      .select(element_at(col("meta"), "path"), col("format"))
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1))).toSet
    // c.png is a byte-dup of a.png across waves; b.png quarantines
    assert(kept == Set(("a.png", "png"), ("d.wav", "wav")))
    val rejected = spark.read.parquet(rejDir).select("reason")
      .collect().map(_.getString(0)).toSeq
    assert(rejected == Seq("container_parse_failed"))
  }

  test("watchDirectoryHead: two-phase ingest matches the full-read stream's " +
    "decisions across waves + restart; rejected blobs cost only a head read") {
    import graft.sources.MediaIo
    val watch = java.nio.file.Files.createTempDirectory("graft_msh_in")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_msh_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_msh_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_msh_rej").toString
    val ckDir = java.nio.file.Files.createTempDirectory("graft_msh_ck").toString
    // a LARGE junk blob the gate rejects on extension — the two-phase
    // point: its bytes must never be read past the head cap
    val junk = Array.tabulate(512 * 1024)(i => (i * 31 + 7).toByte)
    java.nio.file.Files.write(watch.resolve("j.bin"), junk)
    def drop(name: String, as: String): Unit =
      java.nio.file.Files.write(watch.resolve(as), fixture(name))
    def runWave(files: Seq[(String, String)]): Unit = {
      files.foreach { case (n, as) => drop(n, as) }
      // fresh query per wave = kill/restart between discovery batches
      val q = MediaStream.watchDirectoryHead(spark, watch.toString, stateDir,
        outDir, rejDir, ckDir, headBytes = 65536)
      try q.processAllAvailable() finally q.stop()
    }
    MediaIo.reset()
    runWave(Seq(("photo.png", "a.png"), ("broken.png", "b.png")))
    runWave(Seq(("photo.png", "c.png"), ("voice.wav", "d.wav")))
    val kept = spark.read.parquet(outDir)
      .select(element_at(col("meta"), "path"), col("format"), col("width"))
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1))).toSet
    // same decisions as the full-read watchDirectory contract: c.png is
    // a cross-wave byte-dup, b.png malformed, j.bin unmapped
    assert(kept == Set(("a.png", "png"), ("d.wav", "wav")))
    val rejected = spark.read.parquet(rejDir).select("reason")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rejected == Seq("container_parse_failed", "unmapped_extension"))
    // phase-2 accounting: full reads are exactly the gate SURVIVORS
    // (c.png is a survivor — the digest that discovers the dup needs
    // its full bytes); the junk and the broken container never cost
    // more than their heads
    val fullReads = {
      val it = MediaIo.fullReadPaths.iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().split('/').last
      b.result()
    }
    assert(fullReads == Set("a.png", "c.png", "d.wav"),
      s"full reads must be exactly the gate survivors: $fullReads")
    assert(MediaIo.fullBytes.get < junk.length,
      "the rejected junk blob's bytes leaked into a full read")
  }

  test("processBatchHead: a head-undecidable trailing-moov MP4 is decided " +
    "exactly and ingested, never quarantined off its head parse") {
    import graft.sources.{MediaCorpus, MediaIo}
    val cap = 2048
    val watch = java.nio.file.Files.createTempDirectory("graft_msh3_in")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_msh3_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_msh3_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_msh3_rej").toString
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val faststart = MediaCorpus.mp4(timescale = 1000, duration = 4000L)
    val junkPayload = Array.tabulate(5000)(i => (i * 17 + 3).toByte)
    val mdat = be32(8 + junkPayload.length) ++ "mdat".getBytes("US-ASCII") ++ junkPayload
    java.nio.file.Files.write(watch.resolve("tm.mp4"),
      faststart.take(16) ++ mdat ++ faststart.drop(16))
    java.nio.file.Files.write(watch.resolve("big.bin"),
      Array.tabulate(10000)(i => (i * 31).toByte))
    val paths = new java.io.File(watch.toString).listFiles().toSeq
      .map(f => (f.getPath, f.length)).toDF("path", "length")
    MediaIo.reset()
    MediaStream.processBatchHead(paths, 0L, stateDir, outDir, rejDir,
      headBytes = cap)
    val kept = spark.read.parquet(outDir)
      .select(element_at(col("meta"), "path"), col("format"), col("duration_ms"))
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1),
        r.getLong(2))).toSet
    assert(kept == Set(("tm.mp4", "mp4", 4000L)),
      "the trailing-moov file must ingest with exact full-parse metadata")
    val rejected = spark.read.parquet(rejDir).select("reason")
      .collect().map(_.getString(0)).toSeq
    assert(rejected == Seq("unmapped_extension"), s"got $rejected")
    val fullReads = {
      val it = MediaIo.fullReadPaths.iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().split('/').last
      b.result()
    }
    assert(fullReads == Set("tm.mp4"),
      s"only the undecidable/surviving file may be fully read: $fullReads")
  }

  test("processBatchHead: an over-cap Opus whose head PARSES is decided " +
    "from the tail — duration comes from the LAST page's granule") {
    import graft.sources.{MediaCorpus, MediaIo}
    val cap = 2048
    val watch = java.nio.file.Files.createTempDirectory("graft_msh4_in")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_msh4_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_msh4_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_msh4_rej").toString
    // head pages parse fine (OpusHead + an early audio page at granule
    // 4800 → a head parse would report 93 ms); the TRUE duration lives
    // in the final page's granule: (480312 − 312)/48 = 10000 ms
    val pad = Array.tabulate(200)(i => (i * 7 + 1).toByte)
    val longOpus = MediaCorpus.opus(48000, channels = 1, preSkip = 312,
        granule = 4800L) ++
      (1 to 24).map(i => MediaCorpus.oggPage(4800L * (i + 1), serial = 7, pad))
        .reduce(_ ++ _) ++
      MediaCorpus.oggPage(480312L, serial = 7, Array[Byte](9))
    assert(longOpus.length > cap, "fixture must exceed the head cap")
    java.nio.file.Files.write(watch.resolve("long.opus"), longOpus)
    val paths = new java.io.File(watch.toString).listFiles().toSeq
      .map(f => (f.getPath, f.length)).toDF("path", "length")
    MediaIo.reset()
    MediaStream.processBatchHead(paths, 0L, stateDir, outDir, rejDir,
      headBytes = cap)
    val kept = spark.read.parquet(outDir)
      .select(element_at(col("meta"), "path"), col("format"), col("duration_ms"))
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1),
        r.getLong(2))).toSet
    assert(kept == Set(("long.opus", "opus", 10000L)),
      s"Opus must ingest with the exact last-granule duration: $kept")
    assert(spark.read.parquet(rejDir).count() == 0)
  }

  test("processBatchHead: a tail-decided audio row whose HEAD parse " +
    "failed still lands with exact sample_rate/channels from the " +
    "two-window decision") {
    import graft.sources.MediaCorpus
    val cap = 2048
    val watch = java.nio.file.Files.createTempDirectory("graft_msh6_in")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_msh6_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_msh6_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_msh6_rej").toString
    // the head's first audio page carries granule -1 (a wild but legal
    // encoding), so opusMeta(head) returns None -> format NULL after the
    // head annotate -> undecidable; the tail decision re-derives
    // rate/channels from OpusHead and duration from the last page
    val pad = Array.tabulate(200)(i => (i * 7 + 1).toByte)
    val wildOpus = MediaCorpus.opus(48000, channels = 1, preSkip = 312,
        granule = -1L) ++
      (1 to 24).map(i => MediaCorpus.oggPage(4800L * (i + 1), serial = 7, pad))
        .reduce(_ ++ _) ++
      MediaCorpus.oggPage(480312L, serial = 7, Array[Byte](9))
    assert(wildOpus.length > cap, "fixture must exceed the head cap")
    java.nio.file.Files.write(watch.resolve("wild.opus"), wildOpus)
    val paths = new java.io.File(watch.toString).listFiles().toSeq
      .map(f => (f.getPath, f.length)).toDF("path", "length")
    MediaStream.processBatchHead(paths, 0L, stateDir, outDir, rejDir,
      headBytes = cap)
    val kept = spark.read.parquet(outDir)
      .select(col("format"), col("audio_format"), col("sample_rate"),
        col("channels"), col("duration_ms"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(kept == Set(("opus", "opus", 48000, 1, 10000L)),
      s"tail-decided audio must carry the exact meta a full read would: $kept")
    assert(spark.read.parquet(rejDir).count() == 0)
  }

  test("processBatchHead: a big mp4 with provably no ftyp quarantines at " +
    "head+tail cost — decided-unparseable never full-reads") {
    import graft.sources.MediaIo
    val cap = 2048
    val watch = java.nio.file.Files.createTempDirectory("graft_msh5_in")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_msh5_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_msh5_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_msh5_rej").toString
    java.nio.file.Files.write(watch.resolve("junk.mp4"),
      Array.tabulate(10240)(i => (i * 31 + 5).toByte))
    val paths = new java.io.File(watch.toString).listFiles().toSeq
      .map(f => (f.getPath, f.length)).toDF("path", "length")
    MediaIo.reset()
    MediaStream.processBatchHead(paths, 0L, stateDir, outDir, rejDir,
      headBytes = cap, tailBytes = cap)
    val rejected = spark.read.parquet(rejDir).select("reason")
      .collect().map(_.getString(0)).toSeq
    assert(rejected == Seq("container_parse_failed"), s"got $rejected")
    assert(MediaIo.fullReadPaths.isEmpty,
      "a provably-unparseable blob must never be fully read")
    assert(MediaIo.tailBytes.get > 0 && MediaIo.tailBytes.get <= cap.toLong,
      "the decision should have cost one bounded tail read")
  }

  test("processBatchHead replay reproduces the same kept set (overwrite, " +
    "not append)") {
    val watch = java.nio.file.Files.createTempDirectory("graft_msh2_in")
    val stateDir = java.nio.file.Files.createTempDirectory("graft_msh2_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_msh2_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_msh2_rej").toString
    Seq("photo.png", "broken.png", "voice.wav").foreach { n =>
      java.nio.file.Files.write(watch.resolve(n), fixture(n))
    }
    val paths = new java.io.File(watch.toString).listFiles().toSeq
      .map(f => (f.getPath, f.length))
      .toDF("path", "length")
    MediaStream.processBatchHead(paths, 0L, stateDir, outDir, rejDir)
    val once = spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(once.size == 2)
    MediaStream.processBatchHead(paths, 0L, stateDir, outDir, rejDir)
    val twice = spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(once == twice, "replay must overwrite, not append")
  }

  test("replayed committed batch reproduces the same kept set (overwrite, " +
    "not append)") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ms2_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ms2_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_ms2_rej").toString
    val b0 = waves.head.toDF("media_id", "modality", "bytes", "meta")
    MediaStream.processBatch(b0, 0L, stateDir, outDir, rejDir)
    val once = spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    MediaStream.processBatch(b0, 0L, stateDir, outDir, rejDir) // at-least-once replay
    val twice = spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(once == twice, "replay must overwrite, not append")
    val state = spark.read.parquet(s"$stateDir/digests").count()
    assert(state == once.size.toLong)
  }

  test("a torn state write (no commit marker) is never read: the digest " +
    "re-admits until committed") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ms3_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ms3_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_ms3_rej").toString
    val b0 = Seq((1L, "image", fixture("photo.png"), Map("s" -> "a")))
      .toDF("media_id", "modality", "bytes", "meta")
    // simulate the crash: state partition lands but the marker does not
    b0.withColumn("digest", md5(col("bytes")))
      .select(col("digest"), col("media_id"))
      .write.mode("overwrite").parquet(s"$stateDir/digests/batch_id=7")
    // a later batch with the same content must STILL be admitted —
    // batch 7 never committed, so its claim on the digest is void
    val b1 = Seq((2L, "image", fixture("photo.png"), Map("s" -> "b")))
      .toDF("media_id", "modality", "bytes", "meta")
    MediaStream.processBatch(b1, 8L, stateDir, outDir, rejDir)
    val kept = spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L), "uncommitted state must not suppress ingestion")
    assert(StreamState.committedIds(spark, stateDir) == Seq(8L))
  }

  test("state compaction folds digests under one marker and preserves " +
    "dedup decisions") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ms4_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ms4_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_ms4_rej").toString
    def rowOf(id: Long, name: String) =
      (id, if (name.endsWith("wav")) "audio" else "image", fixture(name),
        Map("s" -> "x"))
    MediaStream.processBatch(Seq(rowOf(1L, "photo.png"))
      .toDF("media_id", "modality", "bytes", "meta"), 0L, stateDir, outDir, rejDir)
    MediaStream.processBatch(Seq(rowOf(2L, "voice.wav"))
      .toDF("media_id", "modality", "bytes", "meta"), 1L, stateDir, outDir, rejDir)
    assert(MediaStream.compactState(spark, stateDir).nonEmpty)
    // post-compaction: both digests still suppress re-ingestion
    MediaStream.processBatch(Seq(rowOf(3L, "photo.png"), rowOf(4L, "voice.wav"))
      .toDF("media_id", "modality", "bytes", "meta"), 2L, stateDir, outDir, rejDir)
    val kept = spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), "compacted state must keep suppressing dups")
  }

  test("processBatch: an empty mvhd ending at EOF quarantines as " +
    "container_parse_failed instead of failing the batch") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ms6_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ms6_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_ms6_rej").toString
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val emptyMvhd = be32(16) ++ "ftypisom".getBytes("US-ASCII") ++ be32(512) ++
      be32(16) ++ "moov".getBytes("US-ASCII") ++ be32(8) ++
      "mvhd".getBytes("US-ASCII")
    val b0 = Seq(
      (1L, "image", fixture("photo.png"), Map("s" -> "a")),
      (2L, "video", emptyMvhd, Map("s" -> "a")))
      .toDF("media_id", "modality", "bytes", "meta")
    MediaStream.processBatch(b0, 0L, stateDir, outDir, rejDir)
    val rejected = spark.read.parquet(rejDir).select("media_id", "reason")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rejected == Set((2L, "container_parse_failed")))
    assert(spark.read.parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("corpus and quarantine schemas (names, order, types) of processBatch " +
    "and processBatchHead") {
    import org.apache.spark.sql.types._
    def layout(dir: String): Seq[(String, DataType)] =
      spark.read.parquet(dir).schema.fields.map(f => f.name -> f.dataType).toSeq
    val annotation = Seq(
      "img_format" -> StringType, "width" -> IntegerType, "height" -> IntegerType,
      "audio_format" -> StringType, "sample_rate" -> IntegerType,
      "channels" -> IntegerType, "audio_duration_ms" -> LongType,
      "video_format" -> StringType, "duration_ms" -> LongType,
      "format" -> StringType)
    val meta = "meta" -> MapType(StringType, StringType)
    val quarantine = Seq("media_id" -> LongType, "modality" -> StringType,
      "reason" -> StringType, "batch_id" -> IntegerType)
    val names = Seq("photo.png", "broken.png", "voice.wav", "junk.xyz")

    val stateDir = java.nio.file.Files.createTempDirectory("graft_ms7_state").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ms7_out").toString
    val rejDir = java.nio.file.Files.createTempDirectory("graft_ms7_rej").toString
    val b0 = names.zipWithIndex.map { case (n, i) =>
      (i.toLong, if (n.endsWith(".wav")) "audio"
        else if (n.endsWith(".png")) "image" else "unknown", fixture(n), Map("s" -> "a"))
    }.toDF("media_id", "modality", "bytes", "meta")
    MediaStream.processBatch(b0, 0L, stateDir, outDir, rejDir)
    assert(layout(outDir) == Seq("digest" -> StringType, "media_id" -> LongType,
      "modality" -> StringType, "bytes" -> BinaryType, meta) ++ annotation :+
      ("batch_id" -> IntegerType))
    assert(layout(rejDir) == quarantine)

    val watch = java.nio.file.Files.createTempDirectory("graft_ms7h_in")
    names.foreach(n => java.nio.file.Files.write(watch.resolve(n), fixture(n)))
    val hState = java.nio.file.Files.createTempDirectory("graft_ms7h_state").toString
    val hOut = java.nio.file.Files.createTempDirectory("graft_ms7h_out").toString
    val hRej = java.nio.file.Files.createTempDirectory("graft_ms7h_rej").toString
    val paths = new java.io.File(watch.toString).listFiles().toSeq
      .map(f => (f.getPath, f.length)).toDF("path", "length")
    MediaStream.processBatchHead(paths, 0L, hState, hOut, hRej)
    assert(layout(hOut) == Seq("digest" -> StringType, "media_id" -> LongType,
      "modality" -> StringType, meta) ++ annotation ++
      Seq("bytes" -> BinaryType, "batch_id" -> IntegerType))
    assert(layout(hRej) == quarantine)
  }
}
