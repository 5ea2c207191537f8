package graft

import graft.sources.{MediaScaleCorpus, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-count scale probe for the MEDIA family — the measured answer to
  * "does per-file overhead stay linear, and what does the head-bytes
  * source actually save" (VERDICT r13 items 1+3). Three pipelines over
  * [[MediaScaleCorpus]] at 1×/10×/100× the base file count:
  *
  *  - `ingest_full`: the q_media_ingest shape over `binaryFile` — reads
  *    every blob completely to parse ~40-byte headers;
  *  - `ingest_head`: the same metadata contract over the `binary-head`
  *    DSv2 source (64 KiB cap) — the production path;
  *  - `features_full`: `extractFeatures` (whole-blob digest decode) over
  *    `binaryFile` — a genuine full-read workload as the floor the head
  *    scan is NOT expected to beat on small files.
  *
  * Corpus mix: every 10th file is a 1 MiB-payload WAV, rest are ~1-60 KB
  * images/MP4s, so ~90% of corpus BYTES are WAV payload the header
  * parsers never need — at 1000 files ~109 MB, at 10000 ~1.1 GB.
  * Timing = noop-format write (same discipline as ScaleProbe), medians
  * over SPARK_GRAFT_PROBE_REPS.
  */
object MediaProbe {

  def pipelines(spark: SparkSession): Seq[(String, String => DataFrame)] = Seq(
    "ingest_full" -> ((dir: String) =>
      queries.Media.ingestRows(Multimodal.fromBinaryFiles(spark, dir))),
    "ingest_head" -> ((dir: String) =>
      queries.Media.ingestRows(Multimodal.fromBinaryFilesHead(spark, dir))),
    "features_full" -> ((dir: String) =>
      Multimodal.extractFeatures(
        Multimodal.fromBinaryFiles(spark, dir), dim = 8)),
    "curate_full" -> ((dir: String) =>
      queries.Media.curateRows(Multimodal.fromBinaryFiles(spark, dir))),
    "curate_head" -> ((dir: String) =>
      queries.Media.curateRowsHead(spark, dir)))

  def main(args: Array[String]): Unit = {
    val baseN = args.headOption.map(_.toInt).getOrElse(100)
    val outFile = if (args.length > 1) args(1) else "BENCH_MEDIA_PROBE.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val scales = Seq("base" -> baseN, "mid" -> baseN * 10, "probe" -> baseN * 100)
    val dirs = scales.map { case (tag, n) => (tag, n, MediaScaleCorpus.ensure(n)) }
    val totalBytes = dirs.map { case (tag, _, d) =>
      tag -> java.nio.file.Files.list(java.nio.file.Paths.get(d))
        .mapToLong(p => p.toFile.length).sum
    }
    // warm: one tiny listing per dir (JVM/codegen warmers)
    dirs.foreach { case (_, _, d) =>
      spark.read.format("binary-head").option("head", 64).load(d)
        .select("path").limit(1).count()
    }
    def time(f: String => DataFrame, d: String): Double = {
      val t0 = System.nanoTime()
      f(d).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "1").toInt.max(1)
    val rows = pipelines(spark).map { case (name, f) =>
      val secs = dirs.map { case (tag, _, d) =>
        tag -> ScaleProbe.medianOf((1 to reps).map(_ => time(f, d)))
      }.toMap
      // tracked I/O of one probe-scale pass (local-mode truthful): head
      // bytes from the binary-head reader, full bytes from per-path
      // survivor re-reads — for curate_head this is its WHOLE blob I/O,
      // the survivor-bytes-not-corpus-bytes claim in numbers
      sources.MediaIo.reset()
      time(f, dirs.last._3)
      val (fullB, headB) =
        (sources.MediaIo.fullBytes.get, sources.MediaIo.headBytes.get)
      val (b, m, p) = (secs("base"), secs("mid"), secs("probe"))
      println(f"[media-probe] $name%-14s base=$b%7.2fs mid=$m%7.2fs " +
        f"(${m / b}%5.2fx) probe=$p%8.2fs (${p / b}%6.2fx) " +
        f"tracked_full=${fullB / 1e6}%.1fMB tracked_head=${headB / 1e6}%.1fMB")
      (name, b, m, p, fullB, headB)
    }
    // tail-anchored variant: two corpora identical in file COUNT and
    // decisions, differing only in the SIZE of gate-rejected
    // trailing-moov MP4s (1 MiB vs 8 MiB payloads). With head+tail
    // decisions, curate_head's wall and full-read bytes must stay flat
    // as those files grow — the byte-level proof that undecidables no
    // longer inflate blob I/O past gate survivors.
    val tailVariant = Seq(("small", 1 << 20), ("large", 8 << 20)).map {
      case (tag, payload) =>
        val d = sources.MediaScaleCorpus.ensureTailAnchored(100, payload)
        val secs = ScaleProbe.medianOf((1 to reps).map(_ =>
          time(dir => queries.Media.curateRowsHead(spark, dir), d)))
        sources.MediaIo.reset()
        time(dir => queries.Media.curateRowsHead(spark, dir), d)
        val (fullB, tailB) =
          (sources.MediaIo.fullBytes.get, sources.MediaIo.tailBytes.get)
        println(f"[media-probe] tailvar_$tag%-7s payload=${payload / (1 << 20)}MiB " +
          f"sec=$secs%7.2f tracked_full=${fullB / 1e6}%.1fMB " +
          f"tracked_tail=${tailB / 1e6}%.1fMB")
        (tag, secs, fullB, tailB)
    }
    val tvjson = tailVariant.map { case (t, s, fullB, tailB) =>
      s"${Jsons.escape(t)}:{" +
        s""""sec":$s,"tracked_full_bytes":$fullB,"tracked_tail_bytes":$tailB}"""
    }.mkString(",")
    val qjson = rows.map { case (n, b, m, p, fullB, headB) =>
      s"${Jsons.escape(n)}:{" +
        s""""base_sec":$b,"mid_sec":$m,"probe_sec":$p,""" +
        s""""ratio_mid":${m / b},"ratio_probe":${p / b},""" +
        s""""probe_tracked_full_bytes":$fullB,"probe_tracked_head_bytes":$headB}"""
    }.mkString(",")
    val bjson = totalBytes.map { case (t, v) => s"${Jsons.escape(t)}:$v" }.mkString(",")
    val json =
      s"""{"probe":"media","files_base":$baseN,"files_ratio_mid":10,""" +
        s""""files_ratio_probe":100,"cpus":$cpus,"reps":$reps,""" +
        s""""timing":"noop_write","corpus_bytes":{$bjson},""" +
        s""""tail_variant":{$tvjson},"queries":{$qjson}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(json)
  }
}
