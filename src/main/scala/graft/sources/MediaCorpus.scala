package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

/** Deterministic multimodal fixture corpus for the DRIVER-CHECKED media
  * ingest gate (q_media_ingest) — the [[SampleCorpus]] pattern applied
  * to the image/audio/video family: [[expected]] is the single source
  * of truth, the writers below construct REAL container files whose
  * parsed metadata ([[Multimodal.imageDims]] / [[Multimodal.audioMeta]]
  * / [[Multimodal.videoMeta]]) equals that contract exactly, and the
  * DuckDB oracle recomputes the same rows from the contract — so the
  * whole binaryFile-scan → modality-dispatch → header-parse path is
  * verified end-to-end by the correctness gate, not just by unit specs.
  *
  * The files are complete containers (PNG with CRC'd IHDR/IDAT/IEND and
  * a deflated gradient bitmap, BMP with a padded 24bpp pixel array and
  * correct size fields, WAV with a PCM payload, MP4 with ftyp+moov),
  * not bare magic numbers: a regression that breaks on realistic byte
  * layouts (chunk walks, RIFF padding, marker scans) fails here.
  *
  * Reference analogue: the binary upload loaders at
  * `/root/reference/utils.py:11-19`, extended to the driver contract's
  * "multimodal columns" north star (opaque bytes + typed metadata).
  */
object MediaCorpus {

  /** One row per fixture file: the exact (kind, format, dims | audio
    * facts | duration) the ingest query must produce. Absent fields are
    * None → NULL on both engines.
    */
  final case class Expect(
      fileName: String, kind: String, format: Option[String],
      width: Option[Int], height: Option[Int],
      sampleRate: Option[Int], channels: Option[Int],
      durationMs: Option[Long])

  val expected: Seq[Expect] = Seq(
    Expect("anim.gif", "image", Some("gif"), Some(48), Some(32), None, None, None),
    // VP8X extended layout (canvas minus-one 24-bit fields)
    Expect("banner.webp", "image", Some("webp"), Some(200), Some(100), None, None, None),
    // MALFORMED: PNG signature cut mid-IHDR — dispatches to image on
    // extension, every metadata field NULL (parser declines); the
    // q_binary_ingest corrupt-salvage pattern applied to media, so
    // dispatch-vs-parse-failure is driver-checked, not just spec'd
    Expect("broken.png", "image", None, None, None, None, None, None),
    Expect("chart.bmp", "image", Some("bmp"), Some(100), Some(60), None, None, None),
    Expect("clip.mp4", "video", Some("mp4"), None, None, None, None, Some(5000L)),
    // mvhd VERSION 1 (64-bit duration fields)
    Expect("clip64.mp4", "video", Some("mp4"), None, None, None, None, Some(2500L)),
    // MALFORMED: junk bytes under an unmapped extension — unknown
    // modality, all-NULL metadata (a zero-byte file would be the purer
    // fixture, but Spark's binaryFile source silently drops empty files
    // at split planning; the binary-head source covers that edge in its
    // spec instead)
    Expect("junk.xyz", "unknown", None, None, None, None, None, None),
    // top-down BMP: biHeight stored NEGATIVE; magnitude must surface
    Expect("flip.bmp", "image", Some("bmp"), Some(64), Some(48), None, None, None),
    Expect("icon.webp", "image", Some("webp"), Some(256), Some(144), None, None, None),
    Expect("music.flac", "audio", Some("flac"), None, None, Some(22050), Some(2), Some(2000L)),
    // MALFORMED: RIFF magic but a bogus form type (not WAVE) + garbage
    // payload — audio dispatch, NULL metadata
    Expect("noise.wav", "audio", None, None, None, None, None, None),
    Expect("photo.png", "image", Some("png"), Some(320), Some(200), None, None, None),
    // EXACT byte-for-byte duplicate of photo.png — the content-dedup
    // row for q_media_curate (same digest, later file name → dropped)
    Expect("photo_copy.png", "image", Some("png"), Some(320), Some(200), None, None, None),
    Expect("scan.jpg", "image", Some("jpeg"), Some(640), Some(480), None, None, None),
    Expect("speech.opus", "audio", Some("opus"), None, None, Some(48000), Some(1), Some(2000L)),
    Expect("voice.wav", "audio", Some("wav"), None, None, Some(16000), Some(1), Some(1500L)),
  )

  /** Writer-side pinned md5 of each fixture's exact bytes — the
    * cross-check point for the decode-plumbing gate (q_media_features):
    * MultimodalSpec asserts the generated files hash to these, and the
    * DuckDB oracle derives the stub features FROM these hex strings
    * while Spark derives them from the actual bytes, so the whole
    * bytes → digest → feature path is verified across engines. A
    * writer change must update this table (the spec fails loudly).
    */
  val expectedMd5: Map[String, String] = Map(
    "anim.gif" -> "72776c548ba4464051afd5180d637093",
    "banner.webp" -> "d1551c3ed5549ef9a956a3043b05b83e",
    "broken.png" -> "a0ed89380011aae0622d03beeac538de",
    "chart.bmp" -> "ae3ff67b6be7967e0139e19de453f601",
    "clip.mp4" -> "fd34b5d22914e035d19df33f747cdccf",
    "clip64.mp4" -> "b1e0d52b263b2991e55cee8d4f5845ed",
    "junk.xyz" -> "7da726e347aafcd92cd1322f24ab3ba9",
    "flip.bmp" -> "265ef1d2fc23d1fdaae7e9a7eaa621f3",
    "icon.webp" -> "059e6417264a1381c4d7c05fc34e6ba1",
    "music.flac" -> "456679810e5cf5fa7b3e3391d5cdca2a",
    "noise.wav" -> "e327ed1fc1acd6b84e95bbc15ab10cea",
    "photo.png" -> "b3e98571a759d80bd784772fd38cd036",
    // byte-identical to photo.png — the same digest IS the dedup oracle
    "photo_copy.png" -> "b3e98571a759d80bd784772fd38cd036",
    "scan.jpg" -> "1ec31ca9486fd6ce85ab87c5fcfcb26e",
    "speech.opus" -> "22a135508dde3d88512d512b6178c394",
    "voice.wav" -> "04e8b2f29db9458b773148f4f8665a7c",
  )

  /** Per-(file, frame) pinned digests for the frame-sampling gate
    * (q_media_frames): md5 of the file bytes with the sampled frame
    * index appended as one byte — `Multimodal.sampleFrames`' decode
    * input. Video fixtures sample frames 0/3/6 (n_frames=9, every 3rd);
    * everything else contributes its single frame 0. Derived by an
    * independent writer-side hash (MultimodalSpec re-derives via
    * MessageDigest), never by running the pipeline under test.
    */
  val expectedFrameMd5: Seq[(String, Int, String)] = Seq(
    ("anim.gif", 0, "7ddbf18a8d31baa076e537cd67c8f64b"),
    ("banner.webp", 0, "39c9508b635b155e01b8995091781e2b"),
    ("broken.png", 0, "bc39764ffd965d9e8aa269c57dfa28d6"),
    ("chart.bmp", 0, "2c12bbdb926a8d7b72ff61ce35253d69"),
    ("clip.mp4", 0, "67bbe0338709389c139f6d09e6b1e933"),
    ("clip.mp4", 3, "fe7bc93c89222ea87ce6f023ff008e23"),
    ("clip.mp4", 6, "1c60846eab3bc28416bf3278e71edc4c"),
    ("clip64.mp4", 0, "53bdf28cafb065d9aa929cca30a1ec1d"),
    ("clip64.mp4", 3, "e2e2a2feb782862959a0d593deab732f"),
    ("clip64.mp4", 6, "20295f8e4f404cb0ac238c5c4d65a86c"),
    ("junk.xyz", 0, "2e6d2da1be847ebca75b51335e359542"),
    ("flip.bmp", 0, "478ec66fc728db94208e2d94819e7139"),
    ("icon.webp", 0, "fc93a7e444ced527df8b0d7266f88303"),
    ("music.flac", 0, "0e89b6c48223b1ceed60d1215186f5c5"),
    ("noise.wav", 0, "193c00731113cb257e0402e29f4e52bf"),
    ("photo.png", 0, "89ac7c23b6544021aedb48eabb090e16"),
    ("photo_copy.png", 0, "89ac7c23b6544021aedb48eabb090e16"),
    ("scan.jpg", 0, "593494870ecdb0049b27e77ba5486a4f"),
    ("speech.opus", 0, "9e29172d706834a8a4598c4e9e84b4f2"),
    ("voice.wav", 0, "431b6126a4d8c81fc9e0d800625b85d2"),
  )

  /** Write the corpus (idempotent, process-temp, cross-process-atomic
    * via [[graft.Artifacts.publish]]) and return its dir.
    */
  def ensure(): String = synchronized {
    // v2: malformed fixtures (broken.png / noise.wav / junk.xyz) + the
    // photo_copy.png dedup twin. Versioned dir name: publication is
    // all-or-nothing now, but retiring a fixture (empty.bin) still
    // moves to a fresh dir so a pre-rename stale dir can't pollute the
    // glob with extras.
    val target = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_media_corpus_v2")
    graft.Artifacts.publish(target) { dir =>
      write(dir, "photo.png", png(320, 200))
      write(dir, "scan.jpg", jpeg(640, 480))
      write(dir, "anim.gif", gif(48, 32))
      write(dir, "chart.bmp", bmp(100, 60))
      write(dir, "flip.bmp", bmp(64, 48, topDown = true))
      write(dir, "icon.webp", webpLossless(256, 144))
      write(dir, "banner.webp", webpExtended(200, 100))
      // 16 kHz mono 16-bit, 48000 payload bytes / 32000 B/s = 1500 ms
      write(dir, "voice.wav", wav(16000, channels = 1, bits = 16, dataBytes = 48000))
      // 44100 samples at 22.05 kHz = 2000 ms
      write(dir, "music.flac", flac(22050, channels = 2, bits = 16, totalSamples = 44100L))
      // Opus granules tick at 48 kHz: (96312 − 312 pre-skip) / 48 = 2000 ms
      write(dir, "speech.opus", opus(48000, channels = 1, preSkip = 312, granule = 96312L))
      // mvhd duration 3000 at timescale 600 = 5000 ms
      write(dir, "clip.mp4", mp4(timescale = 600, duration = 3000L))
      // v1 layout: duration 2500 at timescale 1000 = 2500 ms
      write(dir, "clip64.mp4", mp4(timescale = 1000, duration = 2500L, v1 = true))
      // malformed rows: signature truncated mid-header / bogus RIFF
      // form type / zero bytes — parsers must decline, never throw
      write(dir, "broken.png", png(320, 200).take(20))
      write(dir, "noise.wav", "RIFF".getBytes("US-ASCII") ++ le32(36) ++
        "JUNK".getBytes("US-ASCII") ++ Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte))
      write(dir, "junk.xyz", Array.tabulate[Byte](7)(i => (i * 31 + 5).toByte))
      // exact duplicate content under a different name (dedup fixture)
      write(dir, "photo_copy.png", png(320, 200))
    }
  }

  private def write(dir: java.nio.file.Path, name: String, bytes: Array[Byte]): Unit =
    java.nio.file.Files.write(dir.resolve(name), bytes)

  private def be16(v: Int) = Array((v >> 8).toByte, v.toByte)
  private def be32(v: Int) =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  private def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Int) =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](8192)
    val bos = new ByteArrayOutputStream()
    while (!d.finished()) { val n = d.deflate(buf); bos.write(buf, 0, n) }
    d.end(); bos.toByteArray
  }

  /** Complete PNG: signature, CRC'd IHDR (8-bit RGB), IDAT holding the
    * deflate of filter-0 scanlines over a deterministic gradient, IEND.
    */
  private[graft] def png(w: Int, h: Int): Array[Byte] = {
    def chunk(name: String, body: Array[Byte]): Array[Byte] = {
      val nb = name.getBytes("US-ASCII")
      val crc = new CRC32()
      crc.update(nb); crc.update(body)
      be32(body.length) ++ nb ++ body ++ be32(crc.getValue.toInt)
    }
    val raw = new ByteArrayOutputStream()
    var y = 0
    while (y < h) {
      raw.write(0) // filter type None
      var x = 0
      while (x < w) {
        raw.write(x & 0xFF); raw.write(y & 0xFF); raw.write((x ^ y) & 0xFF)
        x += 1
      }
      y += 1
    }
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      0x0D.toByte, 0x0A.toByte, 0x1A.toByte, 0x0A.toByte) ++
      chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("IDAT", deflate(raw.toByteArray)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** JPEG marker stream: SOI, JFIF APP0, a DQT, the SOF0 frame header
    * carrying the dimensions, a minimal SOS, EOI.
    */
  private[graft] def jpeg(w: Int, h: Int): Array[Byte] = {
    def seg(marker: Int, body: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte) ++ be16(body.length + 2) ++ body
    val app0 = "JFIF\u0000".getBytes("ISO-8859-1") ++
      Array[Byte](1, 1, 0) ++ be16(1) ++ be16(1) ++ Array[Byte](0, 0)
    val dqt = Array[Byte](0) ++ Array.fill[Byte](64)(16)
    val sof0 = Array[Byte](8) ++ be16(h) ++ be16(w) ++ Array[Byte](1, 0x11, 0)
    val sos = Array[Byte](1, 1, 0, 0, 63, 0)
    Array(0xFF.toByte, 0xD8.toByte) ++ seg(0xE0, app0) ++ seg(0xDB, dqt) ++
      seg(0xC0, sof0) ++ seg(0xDA, sos) ++ Array(0xFF.toByte, 0xD9.toByte)
  }

  /** GIF89a: logical screen descriptor with a 2-entry global color
    * table, an image descriptor, the minimal LZW stream (clear + EOI),
    * and the trailer.
    */
  private def gif(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ le16(w) ++ le16(h) ++
      Array(0x80.toByte, 0.toByte, 0.toByte) ++         // GCT flag, 2 entries
      Array[Byte](0, 0, 0, -1, -1, -1) ++               // black, white
      Array(0x2C.toByte) ++ le16(0) ++ le16(0) ++ le16(w) ++ le16(h) ++
      Array[Byte](0) ++
      Array[Byte](2, 2, 0x44, 0x01, 0) ++               // min code 2, clear+EOI
      Array(0x3B.toByte)

  /** BMP: BITMAPFILEHEADER + BITMAPINFOHEADER + 24bpp pixel array with
    * 4-byte row padding and correct size/offset fields. `topDown` stores
    * biHeight NEGATIVE (top-down row order) — same pixel count, and the
    * reader must surface the magnitude.
    */
  private def bmp(w: Int, h: Int, topDown: Boolean = false): Array[Byte] = {
    val rowLen = (w * 3 + 3) & ~3
    val px = new Array[Byte](rowLen * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = y * rowLen + x * 3
        px(p) = (x & 0xFF).toByte; px(p + 1) = (y & 0xFF).toByte
        px(p + 2) = ((x + y) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    "BM".getBytes("US-ASCII") ++ le32(54 + px.length) ++ le16(0) ++ le16(0) ++
      le32(54) ++ le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++
      le16(1) ++ le16(24) ++
      le32(0) ++ le32(px.length) ++ le32(2835) ++ le32(2835) ++
      le32(0) ++ le32(0) ++ px
  }

  /** WEBP lossless: RIFF container with a correct chunk-size chain and
    * the VP8L signature byte + 14-bit packed dimension fields.
    */
  private def webpLossless(w: Int, h: Int): Array[Byte] = {
    val b = (w - 1) | ((h - 1) << 14)
    val payload = Array(0x2F.toByte, b.toByte, (b >> 8).toByte,
      (b >> 16).toByte, (b >> 24).toByte) ++ Array.fill[Byte](9)(0x11)
    val padded = if (payload.length % 2 == 1) payload :+ 0.toByte else payload
    val chunk = "VP8L".getBytes("US-ASCII") ++ le32(payload.length) ++ padded
    "RIFF".getBytes("US-ASCII") ++ le32(4 + chunk.length) ++
      "WEBP".getBytes("US-ASCII") ++ chunk
  }

  /** WEBP extended: RIFF container whose first chunk is VP8X — flags +
    * 24-bit LE canvas-minus-one dimension fields.
    */
  private def webpExtended(w: Int, h: Int): Array[Byte] = {
    def le24(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte)
    val payload = Array.fill[Byte](4)(0) ++ le24(w - 1) ++ le24(h - 1)
    val chunk = "VP8X".getBytes("US-ASCII") ++ le32(payload.length) ++ payload
    "RIFF".getBytes("US-ASCII") ++ le32(4 + chunk.length) ++
      "WEBP".getBytes("US-ASCII") ++ chunk
  }

  /** WAV: RIFF/WAVE with a PCM `fmt ` chunk and a zero-filled (silence)
    * `data` payload; duration = dataBytes / byteRate.
    */
  private[graft] def wav(rate: Int, channels: Int, bits: Int, dataBytes: Int): Array[Byte] = {
    val byteRate = rate * channels * bits / 8
    "RIFF".getBytes("US-ASCII") ++ le32(36 + dataBytes) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(channels) ++
      le32(rate) ++ le32(byteRate) ++ le16(channels * bits / 8) ++ le16(bits) ++
      "data".getBytes("US-ASCII") ++ le32(dataBytes) ++ new Array[Byte](dataBytes)
  }

  /** FLAC: magic + the mandatory-first STREAMINFO metadata block with
    * the packed rate/channels/bits/total-samples fields.
    */
  private def flac(rate: Int, channels: Int, bits: Int, totalSamples: Long): Array[Byte] = {
    val b18 = (rate >> 12) & 0xFF
    val b19 = (rate >> 4) & 0xFF
    val b20 = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
    val b21 = (((bits - 1) & 0xF) << 4) | ((totalSamples >> 32) & 0xF).toInt
    "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x00.toByte, 0, 0, 34) ++ // header: STREAMINFO, len 34
      Array.fill[Byte](10)(0) ++            // block/frame size fields
      Array(b18.toByte, b19.toByte, b20.toByte, b21.toByte,
        ((totalSamples >> 24) & 0xFF).toByte, ((totalSamples >> 16) & 0xFF).toByte,
        ((totalSamples >> 8) & 0xFF).toByte, (totalSamples & 0xFF).toByte) ++
      Array.fill[Byte](16)(0)               // md5 of the (absent) audio
  }

  private[graft] def oggPage(granule: Long, serial: Int, body: Array[Byte]): Array[Byte] = {
    def le64(v: Long) = Array.tabulate[Byte](8)(k => (v >> (8 * k)).toByte)
    "OggS".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++ le64(granule) ++
      le32(serial) ++ Array.fill[Byte](8)(0) ++ Array(1.toByte) ++
      Array(body.length.toByte) ++ body
  }

  /** OGG/Opus: an OpusHead page 0 plus one audio page whose granule
    * position (48 kHz ticks) encodes the duration.
    */
  private[graft] def opus(rate: Int, channels: Int, preSkip: Int, granule: Long): Array[Byte] = {
    val head = "OpusHead".getBytes("US-ASCII") ++ Array[Byte](1, channels.toByte,
      preSkip.toByte, (preSkip >> 8).toByte,
      rate.toByte, (rate >> 8).toByte, (rate >> 16).toByte, (rate >> 24).toByte,
      0, 0, 0) // output gain + mapping family 0
    oggPage(0L, serial = 7, head) ++
      oggPage(granule, serial = 7, Array[Byte](1, 2, 3))
  }

  /** MP4: `ftyp` + `moov` holding an mvhd box (timescale, duration) in
    * the v0 (32-bit) or v1 (64-bit creation/duration fields) layout,
    * with a sibling `udta` box so the reader exercises the box walk.
    */
  private[graft] def mp4(timescale: Int, duration: Long, v1: Boolean = false): Array[Byte] = {
    def be64(v: Long) = be32((v >> 32).toInt) ++ be32(v.toInt)
    val ftyp = be32(16) ++ "ftyp".getBytes("US-ASCII") ++
      "isom".getBytes("US-ASCII") ++ be32(512)
    val mvhdBody =
      if (v1) Array[Byte](1, 0, 0, 0) ++ be64(0) ++ be64(0) ++
        be32(timescale) ++ be64(duration) ++ Array.fill[Byte](76)(0)
      else Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
        be32(timescale) ++ be32(duration.toInt) ++ Array.fill[Byte](76)(0)
    val mvhd = be32(8 + mvhdBody.length) ++ "mvhd".getBytes("US-ASCII") ++ mvhdBody
    val udta = be32(12) ++ "udta".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0)
    val moov = be32(8 + udta.length + mvhd.length) ++
      "moov".getBytes("US-ASCII") ++ udta ++ mvhd
    ftyp ++ moov
  }
}
