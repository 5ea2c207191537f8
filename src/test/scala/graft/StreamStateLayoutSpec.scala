package graft

import graft.sources.MediaCorpus
import graft.streaming.{DedupStream, DriftStream, IndexStream, MediaStream}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The on-disk layout of every streaming state dir, pinned: restarts and
  * the benchmark's trace read these names, so a refactor of the commit
  * primitive must leave them byte-for-byte in place. Each case runs one
  * consumer's batch sequence with a compaction and compares the state
  * dir's relative file listing (part-file names normalised) against a
  * literal list.
  */
class StreamStateLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_layout_$tag")

  /** Every file under `root`, relative, with part-file names normalised
    * to `part-*` and the local file system's `.crc` checksum files left
    * out, sorted and distinct.
    */
  private def listing(root: java.nio.file.Path): Seq[String] = {
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.matches("""\..*\.crc"""))
      .map(p => root.relativize(p).toString
        .replaceAll("""(^|/)part-[^/]*$""", "$1part-*"))
      .toSeq.distinct.sorted
    finally walk.close()
  }

  private def text(base: String): String = (1 to 20).map(i => s"$base$i").mkString(" ")

  test("dedup state: sets and bands batch dirs, one base, markers") {
    val (state, out) = (tmp("dd_state"), tmp("dd_out").toString)
    val waves = Seq(
      Seq((1L, text("alpha")), (2L, text("beta"))),
      Seq((3L, text("alpha")), (4L, text("gamma"))),
      Seq((5L, text("delta"))))
    waves.zipWithIndex.foreach { case (w, b) =>
      DedupStream.processBatch(w.toDF("doc_id", "text"), b.toLong, state.toString,
        out, bands = 8, rowsPerBand = 2, threshold = 0.9)
    }
    assert(DedupStream.compactState(spark, state.toString) == Some(1L))
    assert(listing(state) == Seq(
      "_committed/2",
      "_compacted/1",
      "bands/base_id=1/_SUCCESS",
      "bands/base_id=1/part-*",
      "bands/batch_id=2/_SUCCESS",
      "bands/batch_id=2/part-*",
      "sets/base_id=1/_SUCCESS",
      "sets/base_id=1/part-*",
      "sets/batch_id=2/_SUCCESS",
      "sets/batch_id=2/part-*",
    ), listing(state).mkString("\n"))
  }

  test("drift alert state: counts root and the nested alerts root, each compacted") {
    val state = tmp("da_state")
    val (out, alerts) = (tmp("da_out").toString, tmp("da_alerts").toString)
    val baseline = Seq(("web", 100000L)).toDF("source", "base_ppm")
    val waves = Seq(
      Seq((1L, "a b c a", "web")), Seq((2L, "zz qq zz", "alien")),
      Seq((3L, "a b zz d", "web")))
    waves.zipWithIndex.foreach { case (w, b) =>
      DriftStream.processAlertBatch(w.toDF("doc_id", "text", "source"), b.toLong,
        state.toString, out, alerts, baseline)
    }
    assert(DriftStream.compactState(spark, state.toString) == Some(1L))
    assert(DriftStream.compactAlertState(spark, state.toString) == Some(1L))
    assert(listing(state) == Seq(
      "_committed/2",
      "_compacted/1",
      "alerts/_committed/2",
      "alerts/_compacted/1",
      "alerts/state/base_id=1/_SUCCESS",
      "alerts/state/base_id=1/part-*",
      "alerts/state/batch_id=2/_SUCCESS",
      "alerts/state/batch_id=2/part-*",
      "counts/base_id=1/_SUCCESS",
      "counts/base_id=1/part-*",
      "counts/batch_id=2/_SUCCESS",
      "counts/batch_id=2/part-*",
    ), listing(state).mkString("\n"))
  }

  test("media state: digests batch dirs, one base, markers") {
    val state = tmp("ms_state")
    val (out, rej) = (tmp("ms_out").toString, tmp("ms_rej").toString)
    def fixture(name: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(MediaCorpus.ensure(), name))
    val waves = Seq(
      Seq((1L, "image", fixture("photo.png"), Map("src" -> "a")),
        (2L, "image", fixture("broken.png"), Map("src" -> "a"))),
      Seq((3L, "image", fixture("photo.png"), Map("src" -> "b")),
        (4L, "audio", fixture("voice.wav"), Map("src" -> "b"))),
      Seq((5L, "image", fixture("scan.jpg"), Map("src" -> "c"))))
    waves.zipWithIndex.foreach { case (w, b) =>
      MediaStream.processBatch(w.toDF("media_id", "modality", "bytes", "meta"),
        b.toLong, state.toString, out, rej)
    }
    assert(MediaStream.compactState(spark, state.toString) == Some(1L))
    assert(listing(state) == Seq(
      "_committed/2",
      "_compacted/1",
      "digests/base_id=1/_SUCCESS",
      "digests/base_id=1/part-*",
      "digests/batch_id=2/_SUCCESS",
      "digests/batch_id=2/part-*",
    ), listing(state).mkString("\n"))
  }

  private def ops(rows: (Long, Seq[Float], String)*) =
    rows.toDF("vec_id", "embedding", IndexStream.OpColumn)

  private val corpus = (0L until 8L).map { i =>
    val c = if (i < 4) 0f else 100f
    (i, Seq(c + i, c, c + 1f, c - i))
  }

  test("CDC index state: cell-partitioned codes, tombstones, one resolved base") {
    val root = tmp("ix_root")
    IndexStream.rebuildCdc(spark, root.toString, corpus.toDF("vec_id", "embedding"),
      2, 2, 2, 2)
    val q = IndexStream.loadQuantizers(spark, IndexStream.currentRoot(spark, root.toString).get)
    val state = tmp("ix_state")
    IndexStream.processBatchCdc(ops(corpus.map { case (i, v) => (i, v, "insert") }: _*),
      0L, q, state.toString)
    IndexStream.processBatchCdc(ops((20L, Seq(1f, 0f, 1f, 0f), "insert"),
      (21L, Seq(101f, 100f, 101f, 99f), "insert")), 1L, q, state.toString)
    IndexStream.processBatchCdc(ops((2L, Seq.empty[Float], "delete")), 2L, q, state.toString)
    IndexStream.processBatchCdc(ops((22L, Seq(2f, 0f, 1f, -2f), "insert")), 3L, q,
      state.toString)
    assert(IndexStream.compactStateCdcResolve(spark, state.toString, q.m) == Some(2L))
    assert(listing(state) == Seq(
      "_committed/3",
      "_compacted/2",
      "codes/base_id=2/_SUCCESS",
      "codes/base_id=2/cell=0/part-*",
      "codes/base_id=2/cell=1/part-*",
      "codes/batch_id=3/_SUCCESS",
      "codes/batch_id=3/cell=0/part-*",
      "tombs/base_id=2/_SUCCESS",
      "tombs/base_id=2/part-*",
      "tombs/batch_id=3/_SUCCESS",
      "tombs/batch_id=3/part-*",
    ), listing(state).mkString("\n"))
  }

  test("CDC index root: a rebuilt generation behind the _current and " +
    "_rebuilt markers, continued by a CDC batch") {
    val root = tmp("ix_gen")
    IndexStream.rebuildCdc(spark, root.toString, corpus.toDF("vec_id", "embedding"),
      2, 2, 2, 2)
    val gen = IndexStream.currentRoot(spark, root.toString).get
    IndexStream.processBatchCdc(ops((20L, Seq(1f, 0f, 1f, 0f), "insert"),
      (3L, Seq.empty[Float], "delete")), 1L, IndexStream.loadQuantizers(spark, gen), gen)
    assert(listing(root) == Seq(
      "_current/0",
      "gen=0/_committed/0",
      "gen=0/_committed/1",
      "gen=0/_rebuilt",
      "gen=0/codes/batch_id=0/_SUCCESS",
      "gen=0/codes/batch_id=0/cell=0/part-*",
      "gen=0/codes/batch_id=0/cell=1/part-*",
      "gen=0/codes/batch_id=1/_SUCCESS",
      "gen=0/codes/batch_id=1/cell=0/part-*",
      "gen=0/quantizers/_SUCCESS",
      "gen=0/quantizers/part-*",
      "gen=0/tombs/batch_id=0/_SUCCESS",
      "gen=0/tombs/batch_id=0/part-*",
      "gen=0/tombs/batch_id=1/_SUCCESS",
      "gen=0/tombs/batch_id=1/part-*",
    ), listing(root).mkString("\n"))
  }
}
