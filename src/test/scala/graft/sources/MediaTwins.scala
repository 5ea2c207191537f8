package graft.sources

/** Reference full-bytes parsers the specs hold the engine's window
  * parsers against: the Ogg/Opus page walk and the ISO-BMFF box walk
  * spelled over a whole-file array, independent of
  * [[Multimodal.opusMetaHeadTail]] / [[Multimodal.videoMetaHeadTail]],
  * so a soundness sweep never compares a parser with itself.
  */
object MediaTwins {

  /** [[Multimodal.audioMeta]] with Ogg-headed bytes parsed by the
    * reference page walk (WAV/FLAC go to the engine's front-loaded
    * parsers, which have no window twin).
    */
  def audioMeta(bytes: Array[Byte]): Option[(String, Int, Int, Long)] =
    if (bytes != null && bytes.length >= 4 && bytes(0) == 'O' && bytes(1) == 'g' &&
        bytes(2) == 'g' && bytes(3) == 'S') opusMeta(bytes)
    else Multimodal.audioMeta(bytes)

  /** Ogg/Opus: OpusHead from page 0, duration from the last non-negative
    * granule of page 0's serial along a forward page walk.
    */
  def opusMeta(bytes: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (bytes == null || bytes.length < 47) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32u(i: Int): Long =
      (0 until 4).map(k => u8(i + k).toLong << (8 * k)).reduce(_ | _)
    def le64(i: Int): Long =
      (0 until 8).map(k => u8(i + k).toLong << (8 * k)).reduce(_ | _)
    def pageAt(p: Int): Boolean =
      p + 27 <= bytes.length && bytes(p) == 'O' && bytes(p + 1) == 'g' &&
        bytes(p + 2) == 'g' && bytes(p + 3) == 'S' && u8(p + 4) == 0
    if (!pageAt(0)) return None
    val body = 27 + u8(26) // first packet starts after the segment table
    if (body + 19 > bytes.length) return None
    if (new String(bytes, body, 8, java.nio.charset.StandardCharsets.ISO_8859_1)
        != "OpusHead") return None
    // RFC 7845 §5.1: reject if the version's upper nibble isn't 0 — the
    // field layout below is only defined for the v1 family.
    if ((u8(body + 8) >> 4) != 0) return None
    val channels = u8(body + 9)
    val preSkip = le16(body + 10)
    val inputRate = le16(body + 12) | (le16(body + 14) << 16)
    // walk pages via segment-table lengths; keep the last valid granule
    // (-1 marks a page where no packet completes — skip those) of the
    // Opus stream identified by page 0's serial (bytes 14-17)
    val serial = le32u(14)
    var p = 0
    var granule = -1L
    var ok = true
    while (ok && pageAt(p)) {
      val ns = u8(p + 26)
      if (p + 27 + ns > bytes.length) ok = false
      else {
        val g = le64(p + 6)
        if (g >= 0 && le32u(p + 14) == serial) granule = g
        var bodyLen = 0
        for (k <- 0 until ns) bodyLen += u8(p + 27 + k)
        p += 27 + ns + bodyLen
      }
    }
    if (channels <= 0 || inputRate <= 0 || granule < 0) None
    else Some(("opus", inputRate, channels,
      math.max(0L, granule - preSkip) * 1000L / 48000L))
  }

  /** ISO BMFF / MP4: box walk to moov → mvhd (v0 and v1 layouts). */
  def videoMeta(bytes: Array[Byte]): Option[(String, Long)] = {
    if (bytes == null || bytes.length < 16) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) |
      (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def boxType(i: Int) = new String(bytes, i + 4, 4,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    if (boxType(0) != "ftyp") return None
    // find a box's (payloadStart, payloadEnd) among siblings in [from, end)
    def findBox(from: Int, end: Int, name: String): Option[(Int, Int)] = {
      var i = from
      while (i + 8 <= end) {
        var size = be32(i)
        var hdr = 8
        if (size == 1 && i + 16 <= end) { size = be64(i + 8); hdr = 16 }
        else if (size == 0) size = (end - i).toLong
        if (size < hdr || size > end - i) return None
        if (boxType(i) == name) return Some((i + hdr, i + size.toInt))
        i += size.toInt
      }
      None
    }
    for {
      moov <- findBox(0, bytes.length, "moov")
      mvhd <- findBox(moov._1, moov._2, "mvhd")
      v = u8(mvhd._1)
      if mvhd._2 - mvhd._1 >= (if (v == 1) 32 else 20)
      timescale = if (v == 1) be32(mvhd._1 + 20) else be32(mvhd._1 + 12)
      if timescale > 0
    } yield {
      val duration = if (v == 1) be64(mvhd._1 + 24) else be32(mvhd._1 + 16)
      ("mp4", duration * 1000L / timescale)
    }
  }
}
