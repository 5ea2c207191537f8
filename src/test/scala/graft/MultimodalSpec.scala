package graft

import graft.sources.Multimodal
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val media = Multimodal.fromBytes(spark, Seq(
    (1L, "image", Array[Byte](1, 2, 3), Map("w" -> "64", "h" -> "64")),
    (2L, "audio", Array[Byte](4, 5), Map("sr" -> "16000")),
    (3L, "video", Array[Byte](6), Map("n_frames" -> "10")),
    (4L, "image", null, Map.empty[String, String])))

  test("MediaCorpus: every generated fixture parses to its declared contract") {
    import graft.sources.MediaCorpus
    val dir = MediaCorpus.ensure()
    MediaCorpus.expected.foreach { e =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, e.fileName))
      e.kind match {
        case _ if e.format.isEmpty =>
          // malformed/unknown fixtures: EVERY parser must decline
          // cleanly (None, never a throw) whatever the dispatch said
          assert(Multimodal.imageDims(bytes).isEmpty, e.fileName)
          assert(Multimodal.audioMeta(bytes).isEmpty, e.fileName)
          assert(Multimodal.videoMeta(bytes).isEmpty, e.fileName)
        case "image" => assert(Multimodal.imageDims(bytes)
          .contains((e.format.get, e.width.get, e.height.get)), e.fileName)
        case "audio" => assert(Multimodal.audioMeta(bytes)
          .contains((e.format.get, e.sampleRate.get, e.channels.get, e.durationMs.get)),
          e.fileName)
        case "video" => assert(Multimodal.videoMeta(bytes)
          .contains((e.format.get, e.durationMs.get)), e.fileName)
      }
    }
  }

  test("MediaCorpus: generated bytes hash to the writer-pinned digests " +
    "(the q_media_features oracle's cross-check point)") {
    import graft.sources.MediaCorpus
    val dir = MediaCorpus.ensure()
    MediaCorpus.expected.foreach { e =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, e.fileName))
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      assert(md5 == MediaCorpus.expectedMd5(e.fileName),
        s"${e.fileName}: writer changed — update MediaCorpus.expectedMd5")
    }
  }

  test("MediaCorpus: per-(file, frame) digests match an independent " +
    "re-derivation (the q_media_frames oracle's cross-check point)") {
    import graft.sources.MediaCorpus
    val dir = MediaCorpus.ensure()
    MediaCorpus.expectedFrameMd5.foreach { case (name, frame, pinned) =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, name)) :+ frame.toByte
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      assert(md5 == pinned,
        s"$name frame $frame: writer changed — update expectedFrameMd5")
    }
    // the contract enumerates exactly the operator's sampling: videos
    // (n_frames=9, every 3rd) emit 0/3/6, everything else frame 0
    val byFile = MediaCorpus.expectedFrameMd5.groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted).toMap
    MediaCorpus.expected.foreach { e =>
      val want = if (e.kind == "video") Seq(0, 3, 6) else Seq(0)
      assert(byFile(e.fileName) == want, e.fileName)
    }
  }

  test("media table has the canonical schema") {
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "modality", "bytes", "meta"))
    assert(media.count() == 4)
  }

  test("feature extraction: fixed dim, deterministic, null bytes → null") {
    val f1 = Multimodal.extractFeatures(media, dim = 8).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Float](2))).toMap
    val f2 = Multimodal.extractFeatures(media, dim = 8).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Float](2))).toMap
    assert(f1 == f2)
    assert(f1(1L).get.size == 8)
    assert(f1(4L).isEmpty)
    assert(f1(1L) != f1(2L))
  }

  test("frame sampling: every-Nth frames for video, single row otherwise") {
    val frames = Multimodal.sampleFrames(media, everyNth = 3, dim = 4)
      .collect().groupBy(_.getLong(0))
    assert(frames(3L).map(_.getInt(1)).sorted.toSeq == Seq(0, 3, 6, 9))
    assert(frames(1L).map(_.getInt(1)).toSeq == Seq(0))
    // per-frame features differ (frame index is part of the stub decode)
    val fv = frames(3L).map(_.getSeq[Float](2)).toSeq
    assert(fv.distinct.size == fv.size)
  }

  test("two-phase head-gated curate: identical rows to the single-scan " +
    "curate, and full reads touch ONLY gate survivors") {
    import graft.sources.{MediaCorpus, MediaIo}
    import org.apache.spark.sql.functions.{col, element_at}
    val glob = MediaCorpus.ensure() + "/*"
    val expected = queries.Media.curateRows(
      Multimodal.fromBinaryFiles(spark, glob)).collect().toSeq
    MediaIo.reset()
    val got = queries.Media.curateRowsHead(spark, glob).collect().toSeq
    assert(got == expected, "two-phase curate diverged from the contract")
    // phase-2 accounting: every full read is a gate survivor; rejected
    // fixtures (malformed containers, unknown extensions, too-small
    // images, sub-second clips) were never read past their head
    val survivors = queries.Media.annotateAndGate(
        Multimodal.fromBinaryFilesHead(spark, glob))
      .select(element_at(col("meta"), "path"))
      .collect().map(_.getString(0)).toSet
    val fullReads = {
      val it = MediaIo.fullReadPaths.iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result()
    }
    assert(fullReads.nonEmpty, "phase 2 must re-read survivors")
    assert(fullReads == survivors,
      s"full reads must be exactly the gate survivors; " +
        s"extra=${fullReads -- survivors}, missing=${survivors -- fullReads}")
    val allFiles = new java.io.File(MediaCorpus.ensure())
      .listFiles().count(f => f.isFile && !f.getName.startsWith("_"))
    assert(fullReads.size < allFiles,
      "the fixture corpus must contain gate-rejected files for this test to bite")
  }

  test("head-UNDECIDABLE tail-anchored files decide on a bounded TAIL " +
    "read: curate equals the single-scan truth, full reads = survivors") {
    import graft.sources.{MediaCorpus, MediaIo}
    val cap = 2048
    val dir = java.nio.file.Files.createTempDirectory("graft_undecidable")
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    // trailing-moov MP4s: ftyp ++ big mdat ++ moov — the moov sits past
    // the cap, so the head parse yields NULL; the full parse decides.
    def trailingMoov(durationMs: Long): Array[Byte] = {
      val faststart = MediaCorpus.mp4(timescale = 1000, duration = durationMs)
      val junk = Array.tabulate(5000)(i => (i * 17 + 3).toByte)
      val mdat = be32(8 + junk.length) ++ "mdat".getBytes("US-ASCII") ++ junk
      faststart.take(16) ++ mdat ++ faststart.drop(16)
    }
    java.nio.file.Files.write(dir.resolve("tm_long.mp4"), trailingMoov(5000L))
    java.nio.file.Files.write(dir.resolve("tm_short.mp4"), trailingMoov(500L))
    // long Opus: the duration granule lives on the LAST page, past the
    // cap — the head parse UNDER-reports (would wrongly gate it out)
    val opusLong = {
      // OpusHead page + 15 filler pages + the real final page
      val headPage = MediaCorpus.opus(48000, 2, 0, 0L)
        .take(27 + 1 + 19) // first page: header(27)+segtable(1)+OpusHead(19)
      val fillers = (1 to 15).map(i => MediaCorpus.oggPage(
        i * 100L, serial = 7, Array.tabulate(200)(j => (j + i).toByte)))
      val fin = MediaCorpus.oggPage(96000L, serial = 7, Array[Byte](9))
      headPage ++ fillers.flatten ++ fin
    }
    assert(opusLong.length > cap)
    java.nio.file.Files.write(dir.resolve("long.opus"), opusLong)
    // big junk: unknown extension — stays head-only however large
    java.nio.file.Files.write(dir.resolve("big.bin"),
      Array.tabulate(10000)(i => (i * 31).toByte))
    // an ordinary under-cap survivor
    java.nio.file.Files.write(dir.resolve("pic.png"), MediaCorpus.png(128, 64))

    val glob = dir.toString + "/*"
    val expected = queries.Media.curateRows(
      Multimodal.fromBinaryFiles(spark, glob)).collect().toSeq
    // sanity on the single-scan truth: the 5 s trailing-moov mp4 and
    // the 2 s opus SURVIVE, the 0.5 s mp4 and the junk do not
    val expectedFiles = expected.map(_.getString(0)).distinct.sorted
    assert(expectedFiles == Seq("long.opus", "pic.png", "tm_long.mp4"))
    MediaIo.reset()
    val got = queries.Media.curateRowsHead(spark, glob, headBytes = cap)
      .collect().toSeq
    assert(got == expected,
      "two-phase curate must decide tail-anchored files exactly")
    val fullReads = {
      val it = MediaIo.fullReadPaths.iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().split('/').last
      b.result()
    }
    // full reads = gate SURVIVORS only: the trailing-moov durations and
    // the opus last-page granule are decided from bounded head+tail
    // windows, so the gated-out tm_short.mp4 never costs a full read
    // and the junk blob never costs more than its head
    assert(fullReads == Set("tm_long.mp4", "long.opus", "pic.png"),
      s"full reads must be exactly the gate survivors: $fullReads")
    // and the full-read BYTES are exactly the survivors' file sizes
    val survivorBytes = Seq("tm_long.mp4", "long.opus", "pic.png")
      .map(n => java.nio.file.Files.size(dir.resolve(n))).sum
    assert(MediaIo.fullBytes.get == survivorBytes,
      s"full-read bytes ${MediaIo.fullBytes.get} != survivor bytes $survivorBytes")
    assert(MediaIo.tailBytes.get > 0, "tail reads should have been tracked")
  }

  test("window-undecidable residue still full-reads: a MID-file moov " +
    "(past the head, before the tail) is decided exactly by fallback") {
    import graft.sources.{MediaCorpus, MediaIo}
    val cap = 2048
    val dir = java.nio.file.Files.createTempDirectory("graft_midmoov")
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def mdat(n: Int) =
      be32(8 + n) ++ "mdat".getBytes("US-ASCII") ++
        Array.tabulate(n)(i => (i * 17 + 3).toByte)
    // ftyp ++ mdat(4 KiB) ++ moov ++ mdat(4 KiB): the moov box header
    // sits in the GAP between a 2 KiB head and a 2 KiB tail
    val faststart = MediaCorpus.mp4(timescale = 1000, duration = 7000L)
    val bytes = faststart.take(16) ++ mdat(4096) ++
      faststart.drop(16) ++ mdat(4096)
    java.nio.file.Files.write(dir.resolve("mid.mp4"), bytes)
    assert(bytes.length > 2 * cap + 16 + 4096,
      "fixture must place moov strictly between the windows")
    MediaIo.reset()
    val got = queries.Media.curateRowsHead(spark, dir.toString + "/*",
      headBytes = cap).collect().toSeq
    assert(got.map(_.getString(0)).distinct == Seq("mid.mp4"))
    val fullReads = {
      val it = MediaIo.fullReadPaths.iterator()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().split('/').last
      b.result()
    }
    assert(fullReads == Set("mid.mp4"),
      "the window-undecidable file must take the full-read fallback")
  }

  test("videoMetaHeadTail three-way outcomes: exact parse across the gap, " +
    "decided-unparseable, and gap-undecidable") {
    import graft.sources.{MediaCorpus, MediaTwins}
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def mdat(n: Int) = be32(8 + n) ++ "mdat".getBytes("US-ASCII") ++
      Array.tabulate(n)(i => (i * 17 + 3).toByte)
    val fs = MediaCorpus.mp4(timescale = 1000, duration = 4000L)
    // trailing moov, v0 mvhd: full == head+tail window pair
    val tm = fs.take(16) ++ mdat(5000) ++ fs.drop(16)
    val full = MediaTwins.videoMeta(tm)
    assert(full.contains(("mp4", 4000L)))
    val ht = Multimodal.videoMetaHeadTail(
      tm.take(2048), tm.takeRight(2048), tm.length.toLong)
    assert(ht.contains(full), "head+tail must equal the full parse")
    // v1 (64-bit) mvhd layout across the gap
    val fsV1 = MediaCorpus.mp4(timescale = 1000, duration = 7500L, v1 = true)
    val tmV1 = fsV1.take(16) ++ mdat(5000) ++ fsV1.drop(16)
    assert(Multimodal.videoMetaHeadTail(
        tmV1.take(2048), tmV1.takeRight(2048), tmV1.length.toLong)
      .contains(MediaTwins.videoMeta(tmV1)))
    // windows overlapping (file smaller than head+tail): still exact
    assert(Multimodal.videoMetaHeadTail(
        tm.take(4096), tm.takeRight(4096), tm.length.toLong)
      .contains(full))
    // no leading ftyp: decided-unparseable (Some(None)), no full read needed
    val junk = Array.tabulate(9000)(i => (i * 31 + 5).toByte)
    assert(Multimodal.videoMetaHeadTail(
      junk.take(2048), junk.takeRight(2048), junk.length.toLong)
      .contains(None))
    // moov strictly inside the gap: undecidable (None) — fallback path
    val mid = fs.take(16) ++ mdat(4096) ++ fs.drop(16) ++ mdat(4096)
    assert(Multimodal.videoMetaHeadTail(
      mid.take(2048), mid.takeRight(2048), mid.length.toLong).isEmpty)
    // malformed size visible in-window: decided like the full parse
    val badSize = fs.take(16) ++ be32(Int.MaxValue) ++
      "mdat".getBytes("US-ASCII") ++ Array.fill[Byte](100)(0)
    assert(MediaTwins.videoMeta(badSize).isEmpty)
    assert(Multimodal.videoMetaHeadTail(
      badSize.take(2048), badSize.takeRight(100), badSize.length.toLong)
      .contains(None))
  }

  test("opusMetaHeadTail: validated last-page re-sync equals the full walk; " +
    "non-Ogg audio and truncated tails stay undecidable") {
    import graft.sources.{MediaCorpus, MediaTwins}
    val pad = Array.tabulate(200)(i => (i * 7 + 1).toByte)
    val longOpus = MediaCorpus.opus(48000, channels = 1, preSkip = 312,
        granule = 4800L) ++
      (1 to 24).map(i => MediaCorpus.oggPage(4800L * (i + 1), serial = 7, pad))
        .reduce(_ ++ _) ++
      MediaCorpus.oggPage(480312L, serial = 7, Array[Byte](9))
    val full = MediaTwins.opusMeta(longOpus)
    assert(full.contains(("opus", 48000, 1, 10000L)))
    val ht = Multimodal.opusMetaHeadTail(
      longOpus.take(2048), longOpus.takeRight(2048), longOpus.length.toLong)
    assert(ht.contains(full), "tail re-sync must recover the exact duration")
    // a muxed stream whose FINAL page belongs to another serial: when
    // the window still contains the last serial-matching page, the
    // decision is exact (the other stream's granule is ignored — same
    // rule as the full walk)...
    val muxed = longOpus ++ MediaCorpus.oggPage(999999L, serial = 9, pad)
    assert(Multimodal.opusMetaHeadTail(
        muxed.take(2048), muxed.takeRight(300), muxed.length.toLong)
      .contains(MediaTwins.opusMeta(muxed)))
    // ...and when the window holds ONLY other-serial pages, there is no
    // matching granule to validate → undecidable, full read decides
    assert(Multimodal.opusMetaHeadTail(
      muxed.take(2048), muxed.takeRight(240), muxed.length.toLong).isEmpty)
    // truncated final page (file does not end on a page boundary):
    // no candidate chain lands on EOF → undecidable, full read decides
    val truncated = longOpus.dropRight(3)
    assert(Multimodal.opusMetaHeadTail(
      truncated.take(2048), truncated.takeRight(2048),
      truncated.length.toLong).isEmpty)
    // RIFF/WAVE head: a full read may still parse (fmt past the cap) —
    // must stay undecidable, never decided-unparseable
    val wav = MediaCorpus.wav(16000, channels = 1, bits = 16, dataBytes = 50000)
    assert(Multimodal.opusMetaHeadTail(
      wav.take(2048), wav.takeRight(2048), wav.length.toLong).isEmpty)
    // garbage that is not even Ogg-headed: also undecidable here (the
    // caller's audio dispatch falls back to the full read)
    val junk = Array.tabulate(9000)(i => (i * 13 + 1).toByte)
    assert(Multimodal.opusMetaHeadTail(
      junk.take(2048), junk.takeRight(2048), junk.length.toLong).isEmpty)
    // Ogg-headed but a broken OpusHead: the full parse fails on the
    // same leading bytes → decided-unparseable
    val badHead = {
      val good = MediaCorpus.opus(48000, 1, 312, 96312L)
      val b = good.clone()
      b(27 + 1) = 'X' // corrupt the "OpusHead" magic in page 0's packet
      b ++ Array.fill[Byte](3000)(0)
    }
    assert(MediaTwins.opusMeta(badHead).isEmpty)
    assert(Multimodal.opusMetaHeadTail(
      badHead.take(2048), badHead.takeRight(2048), badHead.length.toLong)
      .contains(None))
  }

  test("two-window soundness sweep: for EVERY window size, a decided " +
    "outcome equals the full parse (video and audio deciders)") {
    import graft.sources.{MediaCorpus, MediaTwins}
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def mdat(n: Int, seed: Int) = be32(8 + n) ++ "mdat".getBytes("US-ASCII") ++
      Array.tabulate(n)(i => (i * seed + 3).toByte)
    val fs = MediaCorpus.mp4(timescale = 1000, duration = 4000L)
    val fsV1 = MediaCorpus.mp4(timescale = 600, duration = 9000L, v1 = true)
    val pad = Array.tabulate(200)(i => (i * 7 + 1).toByte)
    val opusLong = MediaCorpus.opus(48000, channels = 1, preSkip = 312,
        granule = 4800L) ++
      (1 to 24).map(i => MediaCorpus.oggPage(4800L * (i + 1), serial = 7, pad))
        .reduce(_ ++ _) ++
      MediaCorpus.oggPage(480312L, serial = 7, Array[Byte](9))
    val videos: Seq[Array[Byte]] = Seq(
      fs,                                            // faststart
      fs.take(16) ++ mdat(5000, 17) ++ fs.drop(16),  // trailing moov
      fsV1.take(16) ++ mdat(3000, 11) ++ fsV1.drop(16),
      fs.take(16) ++ mdat(4096, 13) ++ fs.drop(16) ++ mdat(4096, 19), // mid moov
      Array.tabulate(9000)(i => (i * 31 + 5).toByte), // garbage
      fs.take(16) ++ be32(Int.MaxValue) ++ "mdat".getBytes("US-ASCII") ++
        Array.fill[Byte](64)(0))                     // hostile size
    val audios: Seq[Array[Byte]] = Seq(
      opusLong,
      opusLong.dropRight(5),                          // truncated tail
      opusLong ++ MediaCorpus.oggPage(999999L, serial = 9, pad), // muxed
      MediaCorpus.opus(48000, 2, 0, 96000L),          // small
      MediaCorpus.wav(16000, 1, 16, 50000),           // non-Ogg (RIFF)
      MediaCorpus.wav(8000, 2, 8, 120000))            // non-Ogg, over-cap
    val caps = Seq(64, 256, 1024, 2048, 4096, 65536)
    // page-aligned junk that ends the full walk early: a window decision
    // trusts its unread gap to hold well-formed pages, so each junked
    // file is swept where the walk meets the junk inside a window
    val junk = Array.fill[Byte](7)(0x55)
    val junked: Seq[(Array[Byte], Int)] = Seq(
      (opusLong.take(534) ++ junk ++ opusLong.drop(534), 534),
      {
        val small = MediaCorpus.opus(48000, 2, 312, 96000L)
        (small.take(47) ++ junk ++ small.drop(47), 47)
      })
    val junkedVisible = for {
      (bytes, at) <- junked; hc <- caps; tc <- caps
      if at < hc || at >= bytes.length - tc
    } yield (bytes, hc, tc)
    // only the long file's junk (offset 534) hides: heads 64 and 256
    // under the five tails that start past it
    assert(junkedVisible.size == 2 * caps.size * caps.size - 10)
    for (bytes <- videos; hc <- caps; tc <- caps) {
      val full = MediaTwins.videoMeta(bytes)
      val ht = Multimodal.videoMetaHeadTail(
        bytes.take(hc), bytes.takeRight(tc), bytes.length.toLong)
      ht.foreach(decided => assert(decided == full,
        s"video decided != full at head=$hc tail=$tc len=${bytes.length}: " +
          s"$decided vs $full"))
    }
    for ((bytes, hc, tc) <- audios.flatMap(b =>
        for (hc <- caps; tc <- caps) yield (b, hc, tc)) ++ junkedVisible) {
      val full = MediaTwins.audioMeta(bytes)
      val ht = Multimodal.opusMetaHeadTail(
        bytes.take(hc), bytes.takeRight(tc), bytes.length.toLong)
      ht.foreach(decided => assert(decided == full,
        s"audio decided != full at head=$hc tail=$tc len=${bytes.length}: " +
          s"$decided vs $full"))
    }
  }

  test("a big mp4 with provably no ftyp quarantine-gates at head+tail " +
    "cost: decided-unparseable never full-reads") {
    import graft.sources.MediaIo
    val cap = 2048
    val dir = java.nio.file.Files.createTempDirectory("graft_noftyp")
    // 10 KiB of garbage under a video extension: over-cap, no leading
    // ftyp — a full parse would fail identically, so the two-window
    // decision drops it with zero full reads
    java.nio.file.Files.write(dir.resolve("junk.mp4"),
      Array.tabulate(10240)(i => (i * 31 + 5).toByte))
    MediaIo.reset()
    val got = queries.Media.curateRowsHead(spark, dir.toString + "/*",
      headBytes = cap).collect().toSeq
    assert(got.isEmpty)
    assert(MediaIo.fullReadPaths.isEmpty,
      "a provably-unparseable blob must never be fully read")
  }

  test("videoMeta: an empty mvhd ending at EOF parses to None, never throws") {
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    // ftyp (16 B) ++ moov (16 B) whose 8-byte mvhd has no payload
    val bytes = be32(16) ++ "ftypisom".getBytes("US-ASCII") ++ be32(512) ++
      be32(16) ++ "moov".getBytes("US-ASCII") ++ be32(8) ++
      "mvhd".getBytes("US-ASCII")
    assert(bytes.length == 32)
    assert(Multimodal.videoMeta(bytes).isEmpty)
  }

  test("junk after an early Ogg page: the head-gated curate gates exactly " +
    "like the single-scan curate") {
    import graft.sources.MediaCorpus
    val dir = java.nio.file.Files.createTempDirectory("graft_opus_junk")
    val pad = Array.tabulate(200)(i => (i * 7 + 1).toByte)
    val opusLong = MediaCorpus.opus(48000, channels = 1, preSkip = 312,
        granule = 4800L) ++
      (1 to 24).map(i => MediaCorpus.oggPage(4800L * (i + 1), serial = 7, pad))
        .reduce(_ ++ _) ++
      MediaCorpus.oggPage(480312L, serial = 7, Array[Byte](9))
    // the full walk stops at the junk (293 ms): a sub-second clip
    val junked = opusLong.take(534) ++ Array.fill[Byte](7)(0x55) ++
      opusLong.drop(534)
    assert(Multimodal.audioMeta(junked).contains(("opus", 48000, 1, 293L)))
    java.nio.file.Files.write(dir.resolve("junked.opus"), junked)
    java.nio.file.Files.write(dir.resolve("pic.png"), MediaCorpus.png(128, 64))
    val glob = dir.toString + "/*"
    val expected = queries.Media.curateRows(
      Multimodal.fromBinaryFiles(spark, glob)).collect().toSeq
    assert(expected.map(_.getString(0)).distinct == Seq("pic.png"))
    val got = queries.Media.curateRowsHead(spark, glob, headBytes = 2048)
      .collect().toSeq
    assert(got == expected)
  }
}


class ImageHeaderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def png(w: Int, h: Int): Array[Byte] = {
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0D.toByte, 0x0A.toByte, 0x1A.toByte, 0x0A.toByte) ++
      be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)
  }

  private def jpeg(w: Int, h: Int): Array[Byte] = {
    def be16(v: Int) = Array((v >> 8).toByte, v.toByte)
    Array(0xFF.toByte, 0xD8.toByte) ++                       // SOI
      (Array(0xFF.toByte, 0xE0.toByte) ++ be16(16) ++ Array.fill[Byte](14)(0)) ++ // APP0
      (Array(0xFF.toByte, 0xC0.toByte) ++ be16(11) ++        // SOF0
        Array[Byte](8) ++ be16(h) ++ be16(w) ++ Array[Byte](1, 0x11, 0, 0))
  }

  private def gif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes ++ Array((w & 0xFF).toByte, (w >> 8).toByte,
      (h & 0xFF).toByte, (h >> 8).toByte) ++ Array[Byte](0, 0, 0)

  private def bmp(w: Int, h: Int): Array[Byte] = {
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    "BM".getBytes ++ Array.fill[Byte](12)(0) ++ le32(40) ++ le32(w) ++ le32(h) ++ Array[Byte](0, 0)
  }

  private def riffWebp(chunk: String, body: Array[Byte]): Array[Byte] =
    "RIFF".getBytes ++ Array.fill[Byte](4)(0) ++ "WEBP".getBytes ++
      chunk.getBytes ++ Array.fill[Byte](4)(0) ++ body

  private def webpX(w: Int, h: Int): Array[Byte] = {
    def le24(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte)
    riffWebp("VP8X", Array.fill[Byte](4)(0) ++ le24(w - 1) ++ le24(h - 1))
  }

  private def webpL(w: Int, h: Int): Array[Byte] = {
    val b = (w - 1) | ((h - 1) << 14)
    riffWebp("VP8L", Array(0x2F.toByte, b.toByte, (b >> 8).toByte,
      (b >> 16).toByte, (b >> 24).toByte) ++ Array.fill[Byte](5)(0))
  }

  private def webpLossy(w: Int, h: Int): Array[Byte] =
    riffWebp("VP8 ", Array[Byte](0, 0, 0, 0x9D.toByte, 0x01, 0x2A,
      w.toByte, (w >> 8).toByte, h.toByte, (h >> 8).toByte))

  test("header parsing recovers format and dimensions for all five containers") {
    assert(Multimodal.imageDims(png(320, 240)).contains(("png", 320, 240)))
    assert(Multimodal.imageDims(jpeg(320, 240)).contains(("jpeg", 320, 240)))
    assert(Multimodal.imageDims(gif(320, 240)).contains(("gif", 320, 240)))
    assert(Multimodal.imageDims(bmp(320, 240)).contains(("bmp", 320, 240)))
    assert(Multimodal.imageDims(webpX(320, 240)).contains(("webp", 320, 240)))
    assert(Multimodal.imageDims(webpL(320, 240)).contains(("webp", 320, 240)))
    assert(Multimodal.imageDims(webpLossy(320, 240)).contains(("webp", 320, 240)))
  }

  test("WEBP with a bad VP8L signature or missing VP8 sync code parses to None") {
    val badL = webpL(320, 240).patch(20, Array(0x00.toByte), 1)
    assert(Multimodal.imageDims(badL).isEmpty)
    val badSync = webpLossy(320, 240).patch(23, Array(0x00.toByte), 1)
    assert(Multimodal.imageDims(badSync).isEmpty)
  }

  test("JPEG 0xFF fill bytes before a marker are skipped (T.81 B.1.1.2)") {
    val j = jpeg(320, 240)
    val padded = j.take(2) ++ Array(0xFF.toByte, 0xFF.toByte) ++ j.drop(2)
    assert(Multimodal.imageDims(padded).contains(("jpeg", 320, 240)))
  }

  test("top-down BMP (negative signed height) yields the magnitude") {
    val b = bmp(320, 240)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val topDown = b.patch(22, le32(-240), 4)
    assert(Multimodal.imageDims(topDown).contains(("bmp", 320, 240)))
  }

  test("garbage, truncated, and null bytes parse to None") {
    assert(Multimodal.imageDims(null).isEmpty)
    assert(Multimodal.imageDims(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.imageDims(png(320, 240).take(12)).isEmpty)
    assert(Multimodal.imageDims(jpeg(320, 240).take(6)).isEmpty)
    assert(Multimodal.imageDims("not an image at all".getBytes).isEmpty)
  }

  private def wav(rate: Int, channels: Int, bits: Int, dataBytes: Int): Array[Byte] = {
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val byteRate = rate * channels * bits / 8
    "RIFF".getBytes ++ le32(36 + dataBytes) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(rate) ++ le32(byteRate) ++ le16(channels * bits / 8) ++ le16(bits) ++
      "data".getBytes ++ le32(dataBytes)
  }

  private def flac(rate: Int, channels: Int, bits: Int, totalSamples: Long): Array[Byte] = {
    val b18 = (rate >> 12) & 0xFF
    val b19 = (rate >> 4) & 0xFF
    val b20 = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
    val b21 = (((bits - 1) & 0xF) << 4) | ((totalSamples >> 32) & 0xF).toInt
    "fLaC".getBytes ++ Array[Byte](0x00, 0, 0, 34) ++ // STREAMINFO header
      Array.fill[Byte](10)(0) ++ // block/frame size fields
      Array(b18.toByte, b19.toByte, b20.toByte, b21.toByte,
        ((totalSamples >> 24) & 0xFF).toByte, ((totalSamples >> 16) & 0xFF).toByte,
        ((totalSamples >> 8) & 0xFF).toByte, (totalSamples & 0xFF).toByte) ++
      Array.fill[Byte](16)(0) // md5 signature
  }

  private def oggPage(granule: Long, nSegs: Int, body: Array[Byte],
      serial: Int = 0): Array[Byte] = {
    def le64(v: Long) = Array.tabulate[Byte](8)(k => (v >> (8 * k)).toByte)
    def le32(v: Int) = Array.tabulate[Byte](4)(k => (v >> (8 * k)).toByte)
    "OggS".getBytes ++ Array[Byte](0, 0) ++ le64(granule) ++
      le32(serial) ++ Array.fill[Byte](8)(0) ++ Array(nSegs.toByte) ++
      Array.fill[Byte](nSegs)(body.length.toByte) ++ body
  }

  private def opus(rate: Int, channels: Int, preSkip: Int, granule: Long): Array[Byte] = {
    val head = "OpusHead".getBytes ++ Array[Byte](1, channels.toByte,
      preSkip.toByte, (preSkip >> 8).toByte,
      rate.toByte, (rate >> 8).toByte, (rate >> 16).toByte, (rate >> 24).toByte,
      0, 0, 0) // output gain + mapping family
    oggPage(0L, 1, head) ++ oggPage(granule, 1, Array[Byte](1, 2, 3))
  }

  test("OGG/Opus parsing recovers rate, channels, and granule-based duration") {
    // 48000 granules - 312 preskip at the fixed 48 kHz tick → 993 ms
    assert(Multimodal.audioMeta(opus(48000, 2, 312, 48312L))
      .contains(("opus", 48000, 2, 1000L)))
    // headers-only file (single page, granule 0) → duration 0, not None
    assert(Multimodal.audioMeta(oggPage(0L, 1,
      "OpusHead".getBytes ++ Array[Byte](1, 1, 0, 0, 64, -62, 0, 0, 0, 0, 0)))
      .contains(("opus", 49728, 1, 0L)))
    // an OGG page whose first packet is not OpusHead (e.g. Vorbis) → None
    assert(Multimodal.audioMeta(oggPage(0L, 1, "NotOpus!".getBytes ++
      Array.fill[Byte](11)(0))).isEmpty)
    // version upper nibble != 0 → incompatible layout → None (RFC 7845)
    val v16 = opus(48000, 2, 312, 48312L)
    assert(Multimodal.audioMeta(v16.patch(36, Array(0x10.toByte), 1)).isEmpty)
    // input rate 0 legally means "unknown" → None like WAV/FLAC
    assert(Multimodal.audioMeta(opus(0, 2, 312, 48312L)).isEmpty)
  }

  test("Opus page walk is immune to 'OggS' bytes inside compressed payload") {
    // a payload containing the capture pattern + fake granule bytes: a
    // byte-scan parser would false-sync and read 0xFF.. as the granule;
    // the segment-table walk must step OVER the payload to the real page
    val trap = "OggS".getBytes ++ Array[Byte](0, 0) ++ Array.fill[Byte](8)(0x42) ++
      Array.fill[Byte](13)(0)
    val head = "OpusHead".getBytes ++ Array[Byte](1, 2, 56, 1, // preskip 312
      (48000 & 0xFF).toByte, (48000 >> 8).toByte, 0, 0, 0, 0, 0)
    val fixture = oggPage(0L, 1, head) ++ oggPage(48312L, 1, trap)
    assert(Multimodal.audioMeta(fixture).contains(("opus", 48000, 2, 1000L)))
  }

  test("Opus granule walk ignores pages of other logical streams (chained/muxed Ogg)") {
    // a chained file: after the Opus stream (serial 0, last granule
    // 48312) a second logical stream's page (serial 7) ends the file
    // with a huge granule on ITS clock — duration must come from the
    // Opus stream's last page, not whatever page ends last
    val head = "OpusHead".getBytes ++ Array[Byte](1, 2, 56, 1, // preskip 312
      (48000 & 0xFF).toByte, (48000 >> 8).toByte, 0, 0, 0, 0, 0)
    val chained = oggPage(0L, 1, head) ++
      oggPage(48312L, 1, Array[Byte](1, 2, 3)) ++
      oggPage(96000000L, 1, Array[Byte](4, 5, 6), serial = 7)
    assert(Multimodal.audioMeta(chained).contains(("opus", 48000, 2, 1000L)))
  }

  test("FLAC STREAMINFO parsing recovers rate, channels, and duration") {
    // 44.1 kHz stereo, 44100 samples → exactly 1000 ms
    assert(Multimodal.audioMeta(flac(44100, 2, 16, 44100L))
      .contains(("flac", 44100, 2, 1000L)))
    // first metadata block not STREAMINFO → None
    val wrongType = flac(44100, 2, 16, 44100L).patch(4, Array(0x04.toByte), 1)
    assert(Multimodal.audioMeta(wrongType).isEmpty)
    // total_samples=0 legally means "unknown length" → None, not 0 ms
    assert(Multimodal.audioMeta(flac(44100, 2, 16, 0L)).isEmpty)
  }

  test("WAV header parsing recovers rate, channels, and duration") {
    // 16 kHz mono 16-bit → 32000 B/s; 64000 data bytes → 2000 ms
    assert(Multimodal.audioMeta(wav(16000, 1, 16, 64000))
      .contains(("wav", 16000, 1, 2000L)))
    // 44.1 kHz stereo 16-bit → 176400 B/s; 88200 bytes → 500 ms
    assert(Multimodal.audioMeta(wav(44100, 2, 16, 88200))
      .contains(("wav", 44100, 2, 500L)))
  }

  test("WAV chunk walk skips unknown chunks before fmt/data") {
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    val base = wav(8000, 1, 8, 4000) // 8000 B/s → 500 ms
    // splice a LIST chunk (odd size 5, padded to 6) between WAVE and fmt
    val spliced = base.take(12) ++
      ("LIST".getBytes ++ le32(5) ++ Array.fill[Byte](6)(0)) ++ base.drop(12)
    assert(Multimodal.audioMeta(spliced).contains(("wav", 8000, 1, 500L)))
  }

  test("garbage, truncated, and null audio bytes parse to None") {
    assert(Multimodal.audioMeta(null).isEmpty)
    assert(Multimodal.audioMeta("RIFFxxxxNOPE".getBytes).isEmpty)
    assert(Multimodal.audioMeta(wav(16000, 1, 16, 64000).take(20)).isEmpty)
    assert(Multimodal.audioMeta(png(4, 4)).isEmpty)
  }

  test("hostile declared chunk size near 2^31 returns None instead of throwing") {
    def le32(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    // first chunk claims ~2 GiB: an Int offset would wrap negative and
    // the 4-byte id read would go out of bounds
    val hostile = "RIFF".getBytes ++ le32(0x7FFFFFF0L) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(0x7FFFFFF0L) ++ Array.fill[Byte](32)(0)
    assert(Multimodal.audioMeta(hostile).isEmpty)
    // and a 32-bit size over Int.MaxValue on the data chunk (field at
    // offset 40: 12 RIFF/WAVE + 24 fmt + 4 "data")
    val big = wav(8000, 1, 8, 4000).patch(40, le32(0xFFFFFFF0L), 4)
    assert(Multimodal.audioMeta(big).nonEmpty) // still parses fmt, huge data len
  }

  private def mp4(timescale: Int, duration: Long, v1: Boolean = false): Array[Byte] = {
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be64(v: Long) = be32(v >> 32) ++ be32(v & 0xFFFFFFFFL)
    val ftyp = be32(16) ++ "ftyp".getBytes ++ "isom".getBytes ++ be32(512)
    val mvhdBody =
      if (v1) Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++ be32(timescale) ++ be64(duration) ++ Array.fill[Byte](76)(0)
      else Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++ be32(timescale) ++ be32(duration) ++ Array.fill[Byte](76)(0)
    val mvhd = be32(8 + mvhdBody.length) ++ "mvhd".getBytes ++ mvhdBody
    // an unrelated sibling box before mvhd exercises the walk
    val junk = be32(12) ++ "udta".getBytes ++ Array.fill[Byte](4)(0)
    val moov = be32(8 + junk.length + mvhd.length) ++ "moov".getBytes ++ junk ++ mvhd
    ftyp ++ moov
  }

  test("MP4 mvhd parsing recovers duration for v0 and v1 headers") {
    // timescale 600, duration 9000 ticks → 15000 ms
    assert(Multimodal.videoMeta(mp4(600, 9000)).contains(("mp4", 15000L)))
    assert(Multimodal.videoMeta(mp4(1000, 2500, v1 = true)).contains(("mp4", 2500L)))
    assert(Multimodal.videoMeta(wav(8000, 1, 8, 100)).isEmpty)
    assert(Multimodal.videoMeta(mp4(600, 9000).take(20)).isEmpty)
    assert(Multimodal.videoMeta(null).isEmpty)
  }

  test("withVideoMeta annotates video rows and leaves others NULL") {
    val media = Multimodal.fromBytes(spark, Seq(
      (1L, "video", mp4(600, 600 * 42), Map.empty[String, String]),
      (2L, "audio", wav(8000, 1, 8, 100), Map.empty[String, String])))
    val got = Multimodal.withVideoMeta(media).collect()
      .map(r => r.getLong(0) -> (Option(r.get(4)), Option(r.get(5)))).toMap
    assert(got(1L) == (Some("mp4"), Some(42000L)))
    assert(got(2L) == (None, None))
  }

  test("withAudioMeta annotates audio rows and leaves others NULL") {
    val media = Multimodal.fromBytes(spark, Seq(
      (1L, "audio", wav(16000, 1, 16, 32000), Map.empty[String, String]),
      (2L, "image", png(8, 8), Map.empty[String, String]),
      (3L, "audio", Array[Byte](1, 2, 3, 4), Map.empty[String, String])))
    val got = Multimodal.withAudioMeta(media).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(4)), Option(r.get(5)), Option(r.get(6)), Option(r.get(7)))).toMap
    assert(got(1L) == (Some("wav"), Some(16000), Some(1), Some(1000L)))
    assert(got(2L) == (None, None, None, None))
    assert(got(3L) == (None, None, None, None))
  }

  test("withImageMeta annotates image rows and leaves others NULL") {
    val media = Multimodal.fromBytes(spark, Seq(
      (1L, "image", png(64, 32), Map.empty[String, String]),
      (2L, "image", jpeg(100, 50), Map.empty[String, String]),
      (3L, "audio", Array[Byte](1, 2, 3, 4), Map.empty[String, String]),
      (4L, "image", Array[Byte](9, 9, 9), Map.empty[String, String])))
    val got = Multimodal.withImageMeta(media).collect()
      .map(r => r.getLong(0) -> (Option(r.get(4)), Option(r.get(5)), Option(r.get(6)))).toMap
    assert(got(1L) == (Some("png"), Some(64), Some(32)))
    assert(got(2L) == (Some("jpeg"), Some(100), Some(50)))
    assert(got(3L) == (None, None, None))
    assert(got(4L) == (None, None, None))
  }
}
