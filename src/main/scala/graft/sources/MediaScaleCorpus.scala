package graft.sources

/** Parametric media corpus for the SCALE probes (never oracled): `n`
  * deterministic container files re-using [[MediaCorpus]]'s writers,
  * with a size mix that makes the full-read-vs-head-read difference
  * measurable — every 10th file is a WAV with a 1 MiB PCM payload
  * (metadata in the first 44 bytes, a gate SURVIVOR the two-phase
  * curation must still read in full), every 10th-offset-5 a 4 MiB
  * unmapped-extension junk blob (the gate REJECT whose bytes a
  * head-gated curation never reads — every real blob bucket has them),
  * the rest rotate small PNG (size varies with index), JPEG and MP4
  * files. ~513 MB per 1000 files, ~80% of it rejected junk.
  *
  * Idempotent per (dir, n) and cross-process-atomic via
  * [[graft.Artifacts.publish]]; the marker's leading underscore keeps
  * it out of both binaryFile and binary-head listings.
  */
object MediaScaleCorpus {

  def dirFor(n: Int): String =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_media_scale2_$n").toString

  /** Generate (if absent) and return the corpus dir for `n` files. */
  def ensure(n: Int): String = synchronized {
    graft.Artifacts.publish(java.nio.file.Paths.get(dirFor(n))) { dir =>
    // small files are generated ONCE and reused byte-identically per
    // shape — the probe measures scan/parse cost, not writer cost
    val bigWav = MediaCorpus.wav(16000, channels = 1, bits = 16, dataBytes = 1 << 20)
    val bigJunk = {
      // deterministic incompressible-ish junk with no container magic
      val b = new Array[Byte](4 << 20)
      var x = 0x9E3779B9L
      var i = 0
      while (i < b.length) {
        x = x * 6364136223846793005L + 1442695040888963407L
        b(i) = (x >>> 33).toByte
        i += 1
      }
      b
    }
    val smallJpg = MediaCorpus.jpeg(640, 480)
    val smallMp4 = MediaCorpus.mp4(timescale = 600, duration = 3000L)
    val pngs = (0 until 8).map(k => MediaCorpus.png(64 + 32 * k, 64)).toArray
    (0 until n).foreach { i =>
      val (name, bytes) =
        if (i % 10 == 0) (f"w$i%07d.wav", bigWav)
        else if (i % 10 == 5) (f"x$i%07d.bin", bigJunk)
        else if (i % 3 == 0) (f"p$i%07d.png", pngs(i % 8))
        else if (i % 3 == 1) (f"j$i%07d.jpg", smallJpg)
        else (f"v$i%07d.mp4", smallMp4)
      java.nio.file.Files.write(dir.resolve(name), bytes)
    }
    }
  }

  /** Tail-anchored variant corpus: every 2nd file is a LARGE
    * trailing-moov MP4 (`ftyp ++ mdat(payload) ++ moov`, duration
    * 500 ms → a curation-gate REJECT under the ≥1 s rule), the rest
    * small PNG survivors. The decision metadata for the big files
    * lives in the final bytes, so a head-only curation had to re-read
    * them in full to decide; the head+tail decision drops them at
    * two bounded reads. `payload` scales the big files without
    * changing any decision — the probe's variable.
    */
  def ensureTailAnchored(n: Int, payload: Int): String = synchronized {
    val target = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_media_tailvar_${n}_$payload")
    graft.Artifacts.publish(target) { dir =>
    def be32(v: Int) = Array[Byte](
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val trailingMoov = {
      val faststart = MediaCorpus.mp4(timescale = 1000, duration = 500L)
      val junk = {
        val b = new Array[Byte](payload)
        var x = 0x2545F4914F6CDD1DL
        var i = 0
        while (i < b.length) {
          x = x * 6364136223846793005L + 1442695040888963407L
          b(i) = (x >>> 33).toByte
          i += 1
        }
        b
      }
      faststart.take(16) ++
        (be32(8 + junk.length) ++ "mdat".getBytes("US-ASCII") ++ junk) ++
        faststart.drop(16)
    }
    val pngs = (0 until 8).map(k => MediaCorpus.png(64 + 32 * k, 64)).toArray
    (0 until n).foreach { i =>
      val (name, bytes) =
        if (i % 2 == 0) (f"tm$i%07d.mp4", trailingMoov)
        else (f"p$i%07d.png", pngs(i % 8))
      java.nio.file.Files.write(dir.resolve(name), bytes)
    }
    }
  }
}
