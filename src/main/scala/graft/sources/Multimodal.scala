package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support for a training-data pipeline: image/audio/
  * video travel as opaque `BINARY` columns with typed metadata, and
  * decode / feature-extract / frame-sample run as batched per-partition
  * transforms over the bytes.
  *
  * The Spark-side plumbing here is real and tested — schemas, batched
  * mapPartitions shape, deterministic partitioning, explode semantics for
  * frame sampling. The codec itself is STUBBED (this container has no
  * image/audio libraries): `decodeStub` derives deterministic pseudo
  * features from the bytes. Swapping in a real decoder changes only the
  * function passed to the executor, not the pipeline shape.
  *
  * Sources: `spark.read.format("binaryFile")` yields exactly this shape
  * ((path, modificationTime, length, content BINARY)) for real blob
  * directories; `fromBytes` builds the same schema from in-memory fixtures.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** In-memory media table with the canonical schema. */
  def fromBytes(spark: SparkSession,
                rows: Seq[(Long, String, Array[Byte], Map[String, String])]): DataFrame = {
    val data = rows.map { case (id, m, b, meta) => Row(id, m, b, meta) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, rows.size / 64 + 1)),
      mediaSchema)
  }

  /** (path, length, <bytesCol>) file rows → the canonical media schema
    * (media_id, modality, bytes, meta); modality is dispatched on file
    * extension (reference format-dispatch analog, `utils.py:12-19`).
    * Shared by the scan wrappers below, the streaming discovery path,
    * and row-selective probe frames built from a listing.
    */
  def toCanonical(files: DataFrame, bytesCol: String = "content"): DataFrame =
    files.select(
      xxhash64(col("path")).as("media_id"),
      when(col("path").rlike("(?i)\\.(png|jpe?g|gif|bmp|webp)$"), "image")
        .when(col("path").rlike("(?i)\\.(wav|mp3|flac|ogg|opus)$"), "audio")
        .when(col("path").rlike("(?i)\\.(mp4|avi|mkv|webm)$"), "video")
        .otherwise("unknown").as("modality"),
      col(bytesCol).as("bytes"),
      map(lit("path"), col("path"),
        lit("length"), col("length").cast("string")).as("meta"))

  /** Wrap a binaryFile scan into the canonical media schema; modality is
    * dispatched on file extension (reference format-dispatch analog,
    * `utils.py:12-19`).
    */
  def fromBinaryFiles(spark: SparkSession, glob: String): DataFrame =
    toCanonical(spark.read.format("binaryFile").load(glob), "content")

  /** Head-bytes variant of [[fromBinaryFiles]] for METADATA-ONLY
    * ingest: rides the [[BinaryHeadSource]] DSv2 scan, so each file
    * contributes only its first `headBytes` bytes (default 64 KiB)
    * instead of the full blob `binaryFile` materializes. Same canonical
    * media schema — `bytes` holds the head slice, which is all the
    * container-header parsers ([[imageDims]]/[[audioMeta]]/
    * [[videoMeta]]) ever look at for front-loaded metadata. At the
    * 100 TB design point this is the difference between reading the
    * corpus and reading a few GB of headers.
    *
    * NOT for decode paths: [[extractFeatures]]' stub (and any real
    * codec) hashes/decodes the WHOLE file — feed those from
    * [[fromBinaryFiles]], ideally after this scan has gated the file
    * set down to survivors.
    *
    * Caveat — tail-anchored metadata: Ogg/Opus duration lives in the
    * LAST page's granule position and a non-faststart MP4 can place
    * `moov` after `mdat`; on a file larger than `headBytes` those
    * parsers see only the leading pages/boxes, so an Opus duration is
    * UNDER-reported (granule of the last head-complete page) and a
    * trailing-moov MP4 parses to NULL. Front-loaded formats (PNG/JPEG/
    * GIF/BMP/WEBP dims, WAV/FLAC headers, faststart MP4) are exact. A
    * production curation gate on clip duration therefore decides
    * head-undecidable rows from a bounded TAIL read next —
    * [[decideHeadTail]], which `Media.curateRowsHead` and
    * `MediaStream.processBatchHead` call — and full-reads only the
    * window-undecidable residue.
    */
  def fromBinaryFilesHead(spark: SparkSession, glob: String,
      headBytes: Int = 65536): DataFrame =
    toCanonical(
      spark.read.format("binary-head").option("head", headBytes).load(glob),
      "head")

  /** Replace (or add) the `bytes` column by re-reading each row's FULL
    * blob from `pathCol` executor-side — the second phase of a
    * two-phase (head-gated) curation: phase 1 gates on the bounded
    * [[fromBinaryFilesHead]] scan, phase 2 re-reads ONLY the gate
    * survivors for whole-blob work (content digest, decode). The read
    * is distributed (one Hadoop-FS open per row inside mapPartitions,
    * no driver collect, no join back to a full scan — a join could not
    * push the survivor set into a `binaryFile` scan, which would still
    * read every dropped blob). Executor-side FS access rehydrates the
    * DRIVER session's Hadoop configuration from a broadcast
    * `SerializableConfiguration` — the same seam as
    * [[BinaryHeadSource]] — so `fs.*`/credential settings set on the
    * session reach the survivor re-reads on a real cluster.
    */
  def withFullBytes(df: DataFrame, pathCol: String = "path"): DataFrame =
    readBlobColumn(df, pathCol, cap = None)

  /** Head-capped sibling of [[withFullBytes]] for a PATH LIST (the
    * streaming-discovery shape, where files arrive as a batch of paths
    * rather than a directory glob the batch `binary-head` source could
    * scan): `bytes` = the first min(headBytes, length) bytes of each
    * row's blob. Bounded per-file I/O, same distributed per-row read.
    */
  def withHeadBytes(df: DataFrame, pathCol: String = "path",
      headBytes: Int = 65536): DataFrame =
    readBlobColumn(df, pathCol, cap = Some(headBytes))

  /** Bounded TAIL sibling: `tail_bytes` = the LAST min(tailBytes,
    * length) bytes of each row's blob. This is the other half of the
    * head+tail decision window for tail-anchored container metadata
    * (trailing-moov MP4, Ogg/Opus last-page granule) — a multi-GB
    * video is decided at two bounded reads instead of a full one.
    */
  def withTailBytes(df: DataFrame, pathCol: String = "path",
      tailBytes: Int = 65536): DataFrame =
    readBlobColumn(df, pathCol, cap = Some(tailBytes),
      outCol = "tail_bytes", fromEnd = true)

  private def readBlobColumn(df: DataFrame, pathCol: String,
      cap: Option[Int], outCol: String = "bytes",
      fromEnd: Boolean = false): DataFrame = {
    val pIdx = df.schema.fieldIndex(pathCol)
    val hasBytes = df.schema.fieldNames.contains(outCol)
    val outSchema =
      if (hasBytes) StructType(df.schema.map(f =>
        if (f.name == outCol) f.copy(dataType = BinaryType) else f))
      else df.schema.add(StructField(outCol, BinaryType, nullable = true))
    val bIdx = outSchema.fieldIndex(outCol)
    implicit val enc = Encoders.row(outSchema)
    // the driver session's Hadoop conf (fs.* settings, credentials),
    // shipped once and rehydrated per partition — a fresh executor-side
    // Configuration would silently drop session settings on a cluster
    val bcConf = df.sparkSession.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        df.sparkSession.sessionState.newHadoopConf()))
    df.mapPartitions { it =>
      val conf = bcConf.value.value
      it.map { r =>
        val p = new org.apache.hadoop.fs.Path(r.getString(pIdx))
        val fs = p.getFileSystem(conf)
        val len = fs.getFileStatus(p).getLen
        val want = cap.map(c => math.min(c.toLong, len)).getOrElse(len)
        require(want <= Int.MaxValue, s"blob too large for one row: $p")
        val buf = new Array[Byte](want.toInt)
        val in = fs.open(p)
        try in.readFully(if (fromEnd) len - want else 0L, buf) finally in.close()
        if (cap.isEmpty) MediaIo.recordFull(p.toString, want)
        else if (fromEnd) MediaIo.recordTail(want)
        else MediaIo.recordHead(want)
        val vals = new Array[Any](outSchema.length)
        var i = 0
        while (i < r.length) { vals(i) = r.get(i); i += 1 }
        vals(bIdx) = buf
        Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
      }
    }
  }

  /** REAL image header parsing (no codec needed): container format and
    * pixel dimensions from the first bytes of PNG (IHDR), GIF (logical
    * screen), BMP (BITMAPINFOHEADER), WEBP (RIFF first chunk — VP8/VP8L/
    * VP8X layouts), and JPEG (marker walk to the frame's SOFn segment). This is the metadata a corpus pipeline
    * filters/buckets on (drop icons, cap megapixels, bucket by aspect)
    * without ever decoding pixels — the decode itself stays behind
    * `decodeStub`'s seam.
    */
  def imageDims(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    if (bytes == null || bytes.length < 10) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (bytes.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G')
      return Some(("png", be32(16), be32(20)))
    if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
      return Some(("gif", le16(6), le16(8)))
    if (bytes.length >= 26 && bytes(0) == 'B' && bytes(1) == 'M')
      // BITMAPINFOHEADER height is SIGNED: negative = top-down row order,
      // same pixel count — surface the magnitude (via Long: abs(Int.Min)
      // would stay negative).
      return Some(("bmp", le32(18), math.abs(le32(22).toLong).toInt))
    // WEBP (RIFF container): "RIFF"....."WEBP" then one of three first-chunk
    // layouts — VP8X (extended: 24-bit LE canvas minus-one fields), VP8L
    // (lossless: 14-bit fields packed after the 0x2F signature), VP8
    // (lossy: 14-bit LE fields after the 9D 01 2A sync code).
    if (bytes.length >= 30 && bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
        bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'E' && bytes(10) == 'B' &&
        bytes(11) == 'P') {
      def le24(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)
      val cc = new String(bytes.slice(12, 16), "US-ASCII")
      cc match {
        case "VP8X" =>
          return Some(("webp", le24(24) + 1, le24(27) + 1))
        case "VP8L" if u8(20) == 0x2F =>
          val b = le32(21)
          return Some(("webp", (b & 0x3FFF) + 1, ((b >> 14) & 0x3FFF) + 1))
        case "VP8 " if u8(23) == 0x9D && u8(24) == 0x01 && u8(25) == 0x2A =>
          return Some(("webp", le16(26) & 0x3FFF, le16(28) & 0x3FFF))
        case _ => return None
      }
    }
    if (u8(0) == 0xFF && u8(1) == 0xD8) { // JPEG: walk segment markers
      var i = 2
      while (i + 9 < bytes.length) {
        if (u8(i) != 0xFF) return None
        val marker = u8(i + 1)
        if (marker == 0xFF) i += 1 // 0xFF fill bytes before a marker (T.81 B.1.1.2)
        else if (marker >= 0xD0 && marker <= 0xD9) i += 2 // standalone RSTn/SOI/EOI
        else {
          val len = be16(i + 2)
          if (len < 2) return None
          // SOF0..SOF15 except DHT(C4)/JPG(C8)/DAC(CC): [len][prec][h][w]
          if (marker >= 0xC0 && marker <= 0xCF &&
              marker != 0xC4 && marker != 0xC8 && marker != 0xCC)
            return if (i + 8 < bytes.length) Some(("jpeg", be16(i + 7), be16(i + 5))) else None
          i += 2 + len
        }
      }
      return None
    }
    None
  }

  /** REAL audio header parsing (no codec needed): WAV/RIFF chunk walk —
    * `fmt ` yields channels/sample-rate/byte-rate, `data` yields the
    * payload size, and duration_ms = data_bytes · 1000 / byte_rate — and
    * FLAC STREAMINFO (rate/channels/total-samples from the mandatory
    * first metadata block). The audio analog of `imageDims`: the columns
    * a curation pipeline filters/buckets on (drop sub-second clips,
    * bucket by rate) without decoding samples.
    */
  def audioMeta(bytes: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (bytes == null || bytes.length < 36) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (bytes(0) == 'O' && bytes(1) == 'g' && bytes(2) == 'g' && bytes(3) == 'S')
      return opusMeta(bytes)
    // FLAC: "fLaC" magic, then METADATA_BLOCK_HEADER [last|type7][len BE24];
    // STREAMINFO (type 0) is mandatory-first per the spec — sample rate
    // (20 bits), channels-1 (3), bits-1 (5), total samples (36) packed at
    // byte 18; duration_ms = total_samples · 1000 / rate.
    if (bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a' && bytes(3) == 'C') {
      if ((u8(4) & 0x7F) != 0) return None // first block must be STREAMINFO
      val rate = (u8(18) << 12) | (u8(19) << 4) | (u8(20) >> 4)
      val channels = ((u8(20) >> 1) & 0x7) + 1
      val totalSamples = ((u8(21) & 0xF).toLong << 32) | (u8(22).toLong << 24) |
        (u8(23).toLong << 16) | (u8(24).toLong << 8) | u8(25).toLong
      // total_samples=0 legally means "unknown length" (streamed encode) —
      // surface None rather than a 0 ms duration a curation gate would
      // misread as a sub-second clip (same policy as WAV's byteRate<=0).
      return if (rate <= 0 || totalSamples == 0L) None
        else Some(("flac", rate, channels, totalSamples * 1000L / rate))
    }
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
        bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'))
      return None
    var i = 12
    var rate = 0; var channels = 0; var byteRate = 0L; var dataLen = -1L
    while (i + 8 <= bytes.length && (rate == 0 || dataLen < 0)) {
      val id = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val size = le32(i + 4)
      if (id == "fmt ") {
        if (i + 24 > bytes.length) return None
        channels = le16(i + 10)
        rate = le32(i + 12).toInt
        byteRate = le32(i + 16)
      } else if (id == "data") dataLen = size
      // advance in Long: a hostile declared size near 2^31 would wrap an
      // Int offset negative and re-enter the loop out of bounds
      val next = i.toLong + 8L + size + (size & 1L) // chunks pad to even
      i = if (next > bytes.length.toLong) bytes.length else next.toInt
    }
    if (rate <= 0 || channels <= 0 || byteRate <= 0 || dataLen < 0) None
    else Some(("wav", rate, channels, dataLen * 1000L / byteRate))
  }

  /** OGG/Opus metadata: the first page's packet must be "OpusHead"
    * version 1 (channels, pre-skip, original input rate); duration comes
    * from the LAST page's granule position — Opus granules tick at
    * 48 kHz regardless of input rate, so duration_ms = (granule −
    * preskip) / 48. The last page is found by WALKING pages forward via
    * each header's segment table (never by scanning bytes for "OggS",
    * which can false-sync on the pattern inside compressed payload and
    * read garbage as the granule). Only pages carrying the SAME
    * bitstream serial number as page 0 contribute a granule: a chained
    * or multiplexed Ogg file interleaves pages of other logical streams
    * (different serial), and taking whichever page happens to end last
    * would read some other stream's clock. A headers-only file (no audio
    * pages yet) yields duration 0; rate 0 ("unknown" per RFC 7845)
    * returns None like the WAV/FLAC degenerate-rate paths. This is
    * [[opusMetaHeadTail]] over a window that holds the whole file.
    */
  def opusMeta(bytes: Array[Byte]): Option[(String, Int, Int, Long)] =
    if (bytes == null) None
    else opusMetaHeadTail(bytes, null, bytes.length).flatten

  /** REAL video container metadata (no codec needed): ISO BMFF / MP4 box
    * walk to moov → mvhd, yielding (format, duration_ms) from the
    * movie-header timescale + duration (both mvhd v0 and v1 layouts).
    * Completes the image/audio/video metadata family. This is
    * [[videoMetaHeadTail]] over a window that holds the whole file.
    */
  def videoMeta(bytes: Array[Byte]): Option[(String, Long)] =
    if (bytes == null) None
    else videoMetaHeadTail(bytes, null, bytes.length).flatten

  /** A file of `len` bytes seen through a (head, tail) window pair. A
    * byte inside a window reads as its value; a byte in the unread gap
    * throws [[Window.InGap]] (a full read might decide otherwise) and a
    * position past EOF throws [[Window.PastEof]] (no read can parse
    * it). A window over the whole file has no gap, so the parsers below
    * are their own full-file parsers.
    */
  private final class Window(head: Array[Byte], tail: Array[Byte], val len: Long) {
    private val h = if (head == null) Array.emptyByteArray else head
    private val t = if (tail == null) Array.emptyByteArray else tail
    val tailStart: Long = len - t.length
    def u8(i: Long): Int =
      if (i < 0 || i >= len) throw Window.PastEof
      else if (i < h.length) h(i.toInt) & 0xFF
      else if (i >= tailStart) t((i - tailStart).toInt) & 0xFF
      else throw Window.InGap
    /** `n` bytes at `i` as one unsigned (n < 8) or raw 64-bit integer. */
    def be(i: Long, n: Int): Long = {
      var v = 0L; var k = 0
      while (k < n) { v = (v << 8) | u8(i + k); k += 1 }
      v
    }
    def le(i: Long, n: Int): Long = {
      var v = 0L; var k = n - 1
      while (k >= 0) { v = (v << 8) | u8(i + k); k -= 1 }
      v
    }
    def ascii(i: Long, n: Int): String =
      (0 until n).map(k => u8(i + k).toChar).mkString
  }

  private object Window {
    object InGap extends scala.util.control.ControlThrowable
    object PastEof extends scala.util.control.ControlThrowable

    /** Three-way outcome of `parse` over `w`: `Some(result)` when it
      * read only window bytes, `Some(None)` when it needed a byte past
      * EOF, `None` when it needed a byte of the unread gap.
      */
    def decide[A](w: Window)(parse: Window => Option[A]): Option[Option[A]] =
      try Some(parse(w)) catch {
        case InGap => None
        case PastEof => Some(None)
      }
  }

  /** [[videoMeta]] over a bounded (head, tail) WINDOW PAIR instead of
    * the whole file — the decision path for over-cap blobs whose
    * metadata may be tail-anchored (non-faststart MP4 places `moov`
    * after a multi-GB `mdat`). The ISO-BMFF box walk needs only box
    * HEADERS: each sibling's size field gives the next sibling's
    * offset, so the walk skips the unread gap between the windows
    * byte-for-byte the way the full-file walk skips box payloads.
    *
    * Three-way outcome:
    *  - `Some(Some((format, duration_ms)))` — decided: parsed; the
    *    values are IDENTICAL to a full-read [[videoMeta]] (same walk
    *    over the same header bytes);
    *  - `Some(None)` — decided: a full read would ALSO fail to parse
    *    (no leading `ftyp`, a malformed size field visible in-window,
    *    a completed walk with no moov/mvhd) — the caller may gate or
    *    quarantine without reading the blob;
    *  - `None` — undecidable: a needed box header falls in the unread
    *    gap (e.g. mid-file moov); the caller must fall back to a full
    *    read.
    */
  def videoMetaHeadTail(head: Array[Byte], tail: Array[Byte],
      fileLen: Long): Option[Option[(String, Long)]] =
    if (head == null || fileLen < 16) Some(None)
    else Window.decide(new Window(head, tail, fileLen))(mp4Meta)

  private def mp4Meta(w: Window): Option[(String, Long)] = {
    // find a box's (payloadStart, payloadEnd) among siblings in [from, end)
    def findBox(from: Long, end: Long, name: String): Option[(Long, Long)] = {
      var i = from
      while (i + 8 <= end) {
        var size = w.be(i, 4)
        var hdr = 8L
        if (size == 1 && i + 16 <= end) { size = w.be(i + 8, 8); hdr = 16 }
        else if (size == 0) size = end - i
        if (size < hdr || size > end - i) return None
        if (w.ascii(i + 4, 4) == name) return Some((i + hdr, i + size))
        i += size
      }
      None
    }
    if (w.ascii(4, 4) != "ftyp") return None
    for {
      (ms, me) <- findBox(0, w.len, "moov")
      (s, e) <- findBox(ms, me, "mvhd")
      if e - s >= 20
      v = w.u8(s)
      if v != 1 || e - s >= 32
      timescale = if (v == 1) w.be(s + 20, 4) else w.be(s + 12, 4)
      if timescale > 0
    } yield {
      val duration = if (v == 1) w.be(s + 24, 8) else w.be(s + 16, 4)
      ("mp4", duration * 1000L / timescale)
    }
  }

  /** Ogg/Opus over a bounded (head, tail) window pair: the OpusHead
    * fields (rate, channels, pre-skip, bitstream serial) are
    * front-loaded in page 0, and the page walk runs forward from page 0
    * through the visible bytes exactly as [[opusMeta]] does — a walk
    * that stops at a visible byte (EOF, or a non-page where the next
    * page should start) decides the same value the full walk does.
    * Only when the next page header lies in the unread gap does the
    * walk hand over to VALIDATED re-synchronization in the tail: the
    * earliest tail offset from which a forward walk — every page
    * bearing the "OggS" capture pattern and stream-structure version
    * 0 — lands EXACTLY on end-of-file, keeping that chain's last
    * non-negative granule of page 0's serial. That hand-over trusts
    * the unread gap to hold well-formed pages: junk inside the gap,
    * which ends the full walk early, is out of the window's sight. If
    * no offset validates (truncated final page, no serial-matching
    * granule in the window, a multiplexed stream whose matching pages
    * end before the tail), the outcome is `None` and the caller falls
    * back to a full read.
    *
    * Same three-way contract as [[videoMetaHeadTail]]; only heads that
    * START with an Ogg capture pattern are decided here (a RIFF/WAVE
    * head whose fmt/data chunks lie past the cap is parseable from
    * full bytes, so non-Ogg audio stays undecidable → full read).
    */
  def opusMetaHeadTail(head: Array[Byte], tail: Array[Byte],
      fileLen: Long): Option[Option[(String, Int, Int, Long)]] =
    if (head == null || head.length < 4 || !(head(0) == 'O' && head(1) == 'g' &&
        head(2) == 'g' && head(3) == 'S')) None // a full read may still parse (WAV/FLAC)
    else Window.decide(new Window(head, tail, fileLen))(oggOpusMeta)

  private def oggOpusMeta(w: Window): Option[(String, Int, Int, Long)] = {
    def pageAt(p: Long): Boolean = // "OggS" capture pattern, version 0
      p + 27 <= w.len && w.be(p, 4) == 0x4F676753L && w.u8(p + 4) == 0
    if (w.len < 47 || !pageAt(0)) return None
    val body = 27 + w.u8(26) // first packet starts after the segment table
    if (body + 19 > w.len || w.ascii(body, 8) != "OpusHead") return None
    // RFC 7845 §5.1: reject if the version's upper nibble isn't 0 — the
    // field layout below is only defined for the v1 family.
    if ((w.u8(body + 8) >> 4) != 0) return None
    val channels = w.u8(body + 9)
    val preSkip = w.le(body + 10, 2)
    val inputRate = w.le(body + 12, 4).toInt
    if (channels <= 0 || inputRate <= 0) return None
    val serial = w.le(14, 4)
    // forward walk from `from` via segment-table lengths: (the last
    // non-negative granule of `serial`, -1 if none; where it stopped).
    // A granule of -1 marks a page where no packet completes.
    def walk(from: Long): (Long, Long) = {
      var p = from
      var granule = -1L
      while (pageAt(p) && p + 27 + w.u8(p + 26) <= w.len) {
        val ns = w.u8(p + 26)
        val g = w.le(p + 6, 8)
        if (g >= 0 && w.le(p + 14, 4) == serial) granule = g
        var bodyLen = 0L
        var k = 0
        while (k < ns) { bodyLen += w.u8(p + 27 + k); k += 1 }
        p += 27 + ns + bodyLen
      }
      (granule, p)
    }
    val granule =
      try walk(0)._1
      catch {
        case Window.InGap =>
          var o = w.tailStart
          var found = -1L
          while (found < 0 && o + 27 <= w.len) {
            if (pageAt(o)) {
              val (g, end) = walk(o)
              if (end == w.len) found = g
            }
            o += 1
          }
          if (found < 0) throw Window.InGap // no validated chain: full read decides
          found
      }
    if (granule < 0) None
    else Some(("opus", inputRate, channels,
      math.max(0L, granule - preSkip) * 1000L / 48000L))
  }

  /** The combined head+tail A/V decision a two-phase curation gate
    * calls on head-undecidable rows. Encoded three-way:
    * `None` = undecidable (full read required);
    * `Some((false, null, 0, 0, 0))` = decided-unparseable (a full read
    * would fail the same way — gate/quarantine without blob I/O);
    * `Some((true, format, sampleRate, channels, durationMs))` =
    * decided with exact metadata. Images return `None`: JPEG SOF
    * offsets are not tail-anchored, a full read is the only exact
    * decision there.
    */
  def headTailAvMeta(modality: String, head: Array[Byte],
      tail: Array[Byte], fileLen: Long)
      : Option[(Boolean, String, Int, Int, Long)] = modality match {
    case "video" => videoMetaHeadTail(head, tail, fileLen).map {
      case Some((f, d)) => (true, f, 0, 0, d)
      case None => (false, null, 0, 0, 0L)
    }
    case "audio" => opusMetaHeadTail(head, tail, fileLen).map {
      case Some((f, r, c, d)) => (true, f, r, c, d)
      case None => (false, null, 0, 0, 0L)
    }
    case _ => None
  }

  /** Exact typed metadata for HEAD-annotated rows — [[annotate]] over
    * canonical rows whose `bytes` hold each file's first `headBytes`
    * and whose `meta` carries `path` and `length` — returned for every
    * row with a `full` flag set where `bytes` already holds the whole
    * file. A row is head-UNDECIDABLE when its file is larger than the
    * cap, its extension maps to a real modality, and either no
    * container parsed from the head (trailing-moov MP4, SOF-past-EXIF
    * JPEG, fmt-chunk-past-cap WAV, corrupt) or the format is Opus (a
    * head parse UNDER-reports the last-page duration). Those rows take
    * a bounded TAIL read and the [[headTailAvMeta]] decision:
    * decided-parsed rows carry the exact metadata, decided-unparseable
    * rows carry none (no further I/O — a full parse fails the same
    * way), and only window-undecidable rows (mid-file moov, non-Ogg
    * audio, JPEG SOF past the cap) are read in full and re-annotated.
    *
    * The input is checkpointed once: the undecidable test and every
    * branch read the cached rows, and a batch with no undecidable row
    * returns after that one cheap job without building the tail
    * branch. The residue is checkpointed after its full read, so each
    * of its blobs is read once however often the result is consumed.
    */
  def decideHeadTail(heads: DataFrame, headBytes: Int, tailBytes: Int): DataFrame = {
    val ann = heads.localCheckpoint()
    val fileLen = element_at(col("meta"), "length").cast("long")
    val undecidable = fileLen > headBytes && col("modality") =!= "unknown" &&
      (col("format").isNull || col("format") === "opus")
    val headDecided = ann.filter(!undecidable).withColumn("full", lit(false))
    if (ann.filter(undecidable).isEmpty) return headDecided
    val ht = udf(headTailAvMeta _)
    val withTail = withTailBytes(
        ann.filter(undecidable).withColumn("path", element_at(col("meta"), "path")),
        "path", tailBytes)
      .withColumn("ht", ht(col("modality"), col("bytes"), col("tail_bytes"), fileLen))
      .drop("tail_bytes")
      .localCheckpoint()
    val parsed = col("ht._1")
    val isAudio = col("modality") === "audio"
    val tailDecided = withTail.filter(col("ht").isNotNull)
      .withColumn("audio_format", when(isAudio, col("ht._2")))
      .withColumn("sample_rate", when(isAudio && parsed, col("ht._3")))
      .withColumn("channels", when(isAudio && parsed, col("ht._4")))
      .withColumn("audio_duration_ms", when(isAudio && parsed, col("ht._5")))
      .withColumn("video_format", when(!isAudio, col("ht._2")))
      .withColumn("duration_ms", when(parsed, col("ht._5")))
      .withColumn("format", col("ht._2"))
      .withColumn("full", lit(false))
      .drop("ht", "path")
    val residue = annotate(withFullBytes(
          withTail.filter(col("ht").isNull)
            .select((mediaSchema.fieldNames :+ "path").map(col).toSeq: _*),
          "path")
        .drop("path"))
      .withColumn("full", lit(true))
      .localCheckpoint()
    headDecided.unionByName(tailDecided).unionByName(residue)
  }

  /** Full blobs for gate survivors of [[decideHeadTail]]: rows flagged
    * `full` keep their bytes, the others swap the head slice for the
    * whole blob read by path ([[withFullBytes]]); `full` is dropped.
    */
  def withSurvivorBytes(survivors: DataFrame): DataFrame =
    withFullBytes(
        survivors.filter(!col("full")).drop("bytes")
          .withColumn("path", element_at(col("meta"), "path")),
        "path")
      .drop("path")
      .unionByName(survivors.filter(col("full")))
      .drop("full")

  /** Every modality's typed metadata over whatever `bytes` the rows
    * carry (full blobs or bounded heads — the parsers read header bytes
    * either way): the [[withImageMeta]], [[withAudioMeta]] (its length
    * as `audio_duration_ms`) and [[withVideoMeta]] columns, then
    * `format` (the row's container) and `duration_ms` (audio or video
    * length). No filtering.
    */
  def annotate(df: DataFrame): DataFrame =
    withVideoMeta(withAudioMeta(withImageMeta(df))
        .withColumnRenamed("duration_ms", "audio_duration_ms"))
      .withColumn("format",
        coalesce(col("img_format"), col("audio_format"), col("video_format")))
      .withColumn("duration_ms",
        coalesce(col("audio_duration_ms"), col("duration_ms")))

  /** Parsed (video_format, duration_ms) columns for video rows — NULL
    * for non-video or unparseable bytes.
    */
  def withVideoMeta(df: DataFrame): DataFrame = {
    val meta = udf((b: Array[Byte]) => videoMeta(b))
    df.withColumn("vid",
        when(col("modality") === "video", meta(col("bytes"))))
      .withColumn("video_format", col("vid._1"))
      .withColumn("duration_ms", col("vid._2"))
      .drop("vid")
  }

  /** Parsed (audio_format, sample_rate, channels, duration_ms) columns
    * for audio rows — NULL for non-audio or unparseable bytes.
    */
  def withAudioMeta(df: DataFrame): DataFrame = {
    val meta = udf((b: Array[Byte]) => audioMeta(b))
    df.withColumn("aud",
        when(col("modality") === "audio", meta(col("bytes"))))
      .withColumn("audio_format", col("aud._1"))
      .withColumn("sample_rate", col("aud._2"))
      .withColumn("channels", col("aud._3"))
      .withColumn("duration_ms", col("aud._4"))
      .drop("aud")
  }

  /** Parsed (img_format, width, height) columns for image rows — NULL
    * for non-images or unparseable bytes. Per-row narrow work; the UDF
    * reads only header bytes.
    */
  def withImageMeta(df: DataFrame): DataFrame = {
    val dims = udf((b: Array[Byte]) => imageDims(b))
    df.withColumn("img",
        when(col("modality") === "image", dims(col("bytes"))))
      .withColumn("img_format", col("img._1"))
      .withColumn("width", col("img._2"))
      .withColumn("height", col("img._3"))
      .drop("img")
  }

  /** STUB decoder: deterministic pseudo feature vector from bytes (md5
    * expansion). Replace with a real codec (`??? -> libjpeg/ffmpeg`) to
    * productionize; the surrounding plumbing is unchanged.
    */
  def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val base = md.digest(if (bytes == null) Array.emptyByteArray else bytes)
    Array.tabulate(dim) { i =>
      val b = base((i * 7) % base.length)
      ((b & 0xFF) - 128) / 128.0f
    }
  }

  /** Batched feature extraction: media rows → (media_id, modality,
    * features ARRAY<FLOAT>). Batches of `batchSize` per partition mirror
    * how a real vectorized decode (GPU/SIMD codec) is driven; the stub
    * decodes per item inside the batch.
    */
  def extractFeatures(df: DataFrame, dim: Int, batchSize: Int = 32): DataFrame =
    extractFeaturesCarrying(df, dim, Seq.empty, batchSize)

  /** [[extractFeatures]] that CARRIES extra columns through the decode
    * (media_id, modality, carry…, features) — so a pipeline that needs
    * per-row attributes next to the features (file name, format) gets
    * them in the same pass instead of joining back to the source,
    * which would re-execute the blob scan: at corpus scale that join
    * literally doubles the bytes read.
    */
  def extractFeaturesCarrying(df: DataFrame, dim: Int, carry: Seq[String],
      batchSize: Int = 32): DataFrame = {
    val schema = StructType(
      Seq(StructField("media_id", LongType, nullable = false),
        StructField("modality", StringType, nullable = false)) ++
      carry.map(c => df.schema(df.schema.fieldIndex(c))) :+
      StructField("features", ArrayType(FloatType), nullable = true))
    val idIdx = df.schema.fieldIndex("media_id")
    val moIdx = df.schema.fieldIndex("modality")
    val byIdx = df.schema.fieldIndex("bytes")
    val carryIdx = carry.map(df.schema.fieldIndex).toArray
    implicit val enc = Encoders.row(schema)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val bytes = if (r.isNullAt(byIdx)) null else r.getAs[Array[Byte]](byIdx)
          Row.fromSeq(
            r.getLong(idIdx) +: r.getString(moIdx) +:
            (carryIdx.map(r.get).toSeq :+
              (if (bytes == null) null else decodeStub(bytes, dim).toSeq)))
        }
      }
    }
  }

  /** Frame sampling for video rows: emit one row per sampled frame index
    * (every `everyNth` of `n_frames` from metadata), with a per-frame
    * pseudo feature. Non-video rows pass through with frame_no = 0.
    */
  def sampleFrames(df: DataFrame, everyNth: Int, dim: Int,
      carry: Seq[String] = Seq.empty): DataFrame = {
    val frames = when(col("modality") === "video",
      sequence(lit(0),
        greatest(coalesce(element_at(col("meta"), "n_frames").cast("int"), lit(1)) - 1, lit(0)),
        lit(everyNth)))
      .otherwise(array(lit(0)))
    val withFrame = df.select(
      Seq(col("media_id"), col("modality"), col("bytes")) ++
      carry.map(col) :+ explode(frames).as("frame_no"): _*)
    val schema = StructType(
      Seq(StructField("media_id", LongType, nullable = false),
        StructField("frame_no", IntegerType, nullable = false)) ++
      carry.map(c => df.schema(df.schema.fieldIndex(c))) :+
      StructField("features", ArrayType(FloatType), nullable = true))
    val idIdx = 0; val byIdx = 2
    val carryIdx = carry.indices.map(_ + 3).toArray
    val frIdx = 3 + carry.size
    implicit val enc = Encoders.row(schema)
    withFrame.mapPartitions { it =>
      it.map { r =>
        val bytes = if (r.isNullAt(byIdx)) null else r.getAs[Array[Byte]](byIdx)
        val frame = r.getInt(frIdx)
        Row.fromSeq(
          r.getLong(idIdx) +: frame.asInstanceOf[Any] +:
          (carryIdx.map(r.get).toSeq :+
            (if (bytes == null) null
             else decodeStub(bytes :+ frame.toByte, dim).toSeq)))
      }
    }
  }
}

/** Blob-I/O accounting for the media scans — the measurable side of the
  * two-phase curation contract ("full reads touch only gate
  * survivors"). Local-mode truthful (executors share this JVM, which is
  * what the specs and probes run); on a cluster these would be Spark
  * metrics on the same code paths. Cost is one atomic add per FILE
  * opened — noise against the open itself.
  */
private[graft] object MediaIo {
  val fullBytes = new java.util.concurrent.atomic.AtomicLong()
  val headBytes = new java.util.concurrent.atomic.AtomicLong()
  val tailBytes = new java.util.concurrent.atomic.AtomicLong()
  val fullReadPaths: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def recordFull(path: String, n: Long): Unit = {
    fullBytes.addAndGet(n)
    fullReadPaths.add(path)
  }
  def recordHead(n: Long): Unit = { headBytes.addAndGet(n); () }
  def recordTail(n: Long): Unit = { tailBytes.addAndGet(n); () }
  def reset(): Unit = {
    fullBytes.set(0L); headBytes.set(0L); tailBytes.set(0L); fullReadPaths.clear()
  }
}
