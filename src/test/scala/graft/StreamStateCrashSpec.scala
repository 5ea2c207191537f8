package graft

import graft.streaming.{IndexStream, StreamState}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The two tables and the corpus the crash cases share. */
object StreamStateCrashFixture {
  private val schema = StructType(Seq(StructField("k", LongType)))
  val A = StreamState.Table("a", schema)
  val B = StreamState.Table("b", schema)

  /** Eight 4-d vectors in two well-separated groups, written as parquet
    * to `dir` (read back as a scan, so a UDF over it runs in tasks).
    */
  def writeCorpus(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    (0L until 8L).map { i =>
      val c = if (i < 4) 0f else 100f
      (i, Seq(c + i, c, c + 1f, c - i))
    }.toDF("vec_id", "embedding").write.mode("overwrite").parquet(dir)
  }

  def rebuild(s: SparkSession, root: String, corpus: DataFrame) =
    IndexStream.rebuildCdc(s, root, corpus, 2, 2, 2, 2)
}

/** Child-JVM entry for [[StreamStateCrashSpec]]: runs one state write in
  * a local Spark session whose write passes a UDF that prints `WRITING`
  * and sleeps until the parent kills the JVM.
  *
  *  - `commit <stateDir>`: commit batch 1, table `a` first, then `b`
  *    through the sleeping UDF (killed after `a` lands, before the
  *    marker);
  *  - `compact <stateDir>`: compact with `a`'s merge through the UDF
  *    (killed mid-base-write);
  *  - `rebuild <indexRoot> <corpusDir>`: rebuild the next generation
  *    over the corpus with its vec_id passed through the UDF, which
  *    sleeps once the generation's code write has begun (killed before
  *    the `_current` swap).
  */
object StreamStateCrashChild {
  import StreamStateCrashFixture._

  private def sleepy(when: () => Boolean) = udf { (k: Long) =>
    if (when()) {
      println("WRITING")
      System.out.flush()
      Thread.sleep(600000)
    }
    k
  }.asNondeterministic()

  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().master("local[1]").appName("crash-child")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._
    val always = sleepy(() => true)
    val dir = args(1)
    args(0) match {
      case "commit" =>
        StreamState.commit(s, dir, 1L, autoCompactEvery = 0)(
          A -> Seq(1L).toDF("k"), B -> Seq(1L).toDF("k").select(always(col("k")).as("k")))
      case "compact" =>
        StreamState.compact(s, dir, Seq(
          A.copy(merge = (df, _) => df.select(always(col("k")).as("k"))), B))
      case "rebuild" =>
        val writing = sleepy(() => Files.exists(Paths.get(dir, "gen=1", "codes")))
        rebuild(s, dir, s.read.parquet(args(2))
          .select(writing(col("vec_id")).as("vec_id"), col("embedding")))
    }
    println("FINISHED")
  }
}

/** Crash behaviour of the one commit primitive, against real kills: a
  * child JVM is killed with `destroyForcibly` in the middle of a
  * `commit`, a `compact` and a `rebuildCdc`. After each kill a fresh
  * reader sees only committed state, and the replayed write (or the
  * next compaction, or the next rebuild) lands.
  */
class StreamStateCrashSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StreamStateCrashFixture._
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val scratch: Path = Files.createTempDirectory("graft_crash_spec")
  override def afterAll(): Unit = Artifacts.rmrf(scratch)

  private def base(name: String): String =
    Files.createDirectories(scratch.resolve(name)).toString

  /** Start the child, wait for `WRITING`, kill it. */
  private def killWhileWriting(args: String*): Unit = {
    val javaBin = ProcessHandle.current().info().command()
      .orElse(Paths.get(sys.props("java.home"), "bin", "java").toString)
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val p = new ProcessBuilder((Seq(javaBin, "-Xmx512m",
      s"-Djava.io.tmpdir=${base("tmp")}") ++ opens ++ Seq(
      "-cp", sys.props("java.class.path"), "graft.StreamStateCrashChild") ++ args): _*)
      .redirectErrorStream(true).start()
    val lines = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var line = lines.readLine()
    while (line != null && line != "WRITING" && line != "FINISHED") {
      out += line
      line = lines.readLine()
    }
    p.destroyForcibly()
    assert(p.waitFor(60, TimeUnit.SECONDS))
    assert(line == "WRITING", s"the child was not killed mid-write " +
      s"(${Option(line).getOrElse("it exited")}):\n${out.takeRight(40).mkString("\n")}")
  }

  private def rows(dir: String, t: StreamState.Table): Seq[Long] =
    StreamState.read(spark, dir, t).as[Long].collect().toSeq.sorted

  test("a commit killed after its first table lands and before the marker " +
    "is invisible; the replayed batch lands") {
    val dir = base("commit")
    StreamState.commit(spark, dir, 0L, autoCompactEvery = 0)(
      A -> Seq(0L).toDF("k"), B -> Seq(0L).toDF("k"))
    killWhileWriting("commit", dir)
    assert(Files.exists(Paths.get(dir, "a", "batch_id=1", "_SUCCESS")),
      "the kill should come after the first table's dir landed")
    assert(StreamState.committedIds(spark, dir) == Seq(0L))
    assert(rows(dir, A) == Seq(0L) && rows(dir, B) == Seq(0L))
    StreamState.commit(spark, dir, 1L, autoCompactEvery = 0)(
      A -> Seq(1L).toDF("k"), B -> Seq(1L).toDF("k"))
    assert(StreamState.committedIds(spark, dir) == Seq(0L, 1L))
    assert(rows(dir, A) == Seq(0L, 1L) && rows(dir, B) == Seq(0L, 1L))
  }

  test("a compaction killed mid-base-write is invisible; the next " +
    "compaction lands with the same rows") {
    val dir = base("compact")
    (0L to 2L).foreach { b =>
      StreamState.commit(spark, dir, b, autoCompactEvery = 0)(
        A -> Seq(b).toDF("k"), B -> Seq(b * 10).toDF("k"))
    }
    killWhileWriting("compact", dir)
    assert(Files.exists(Paths.get(dir, "a", "base_id=1")),
      "the kill should come after the base write began")
    assert(StreamState.compactedIds(spark, dir).isEmpty)
    assert(StreamState.committedIds(spark, dir) == Seq(0L, 1L, 2L))
    assert(rows(dir, A) == Seq(0L, 1L, 2L) && rows(dir, B) == Seq(0L, 10L, 20L))
    assert(StreamState.compact(spark, dir, Seq(A, B)) == Some(1L))
    assert(StreamState.compactedIds(spark, dir) == Seq(1L))
    assert(rows(dir, A) == Seq(0L, 1L, 2L) && rows(dir, B) == Seq(0L, 10L, 20L))
  }

  test("a rebuild killed before the _current swap leaves the old " +
    "generation serving identical rows; the next rebuild lands") {
    val root = base("rebuild")
    val corpusDir = base("corpus")
    writeCorpus(spark, corpusDir)
    def corpus = spark.read.parquet(corpusDir)
    rebuild(spark, root, corpus)
    def served(gen: String) = {
      val q = IndexStream.loadQuantizers(spark, gen)
      (IndexStream.liveCodes(spark, gen, q.m).collect().map(_.toString).sorted.toSeq,
        IndexStream.searchCommittedCdc(spark, gen, q, Seq(1.0, 0.0, 1.0, 0.0), 2, 3)
          .collect().map(_.toString).toSeq)
    }
    val gen0 = IndexStream.currentRoot(spark, root).get
    val before = served(gen0)
    killWhileWriting("rebuild", root, corpusDir)
    assert(Files.exists(Paths.get(root, "gen=1", "codes")),
      "the kill should come after the new generation's code write began")
    assert(IndexStream.currentRoot(spark, root).contains(gen0))
    assert(served(gen0) == before, "a torn rebuild changed the served rows")
    rebuild(spark, root, corpus)
    val gen1 = IndexStream.currentRoot(spark, root).get
    assert(gen1.endsWith("gen=1"))
    assert(served(gen1) == before, "the rebuilt generation serves other rows")
  }
}
