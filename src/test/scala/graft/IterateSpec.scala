package graft

import graft.operators.{ConnectedComponents, IterativeTwins}
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint switch on the distributed round loops
  * (alternating-star components and the IterativeTwins references):
  * with `checkpointDir` set, every round goes through `df.checkpoint()`
  * against that directory (the path that survives executor loss on a
  * real cluster) and the results are identical to the default
  * executor-local path.
  */
class IterateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ck_$tag").toString

  private def checkpointFilesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_)).count()
    finally s.close()
  }

  test("connected components (both algorithms) on the reliable path match local") {
    val nodes = (1L to 12L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 6L), (9L, 10L))
      .toDF("id_a", "id_b")
    val expect = IterativeTwins.components(nodes, es).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = tmpDir("cc")
    val gotProp = IterativeTwins.components(nodes, es, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotStar = ConnectedComponents
      .assignAlternatingStar(nodes, es, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotProp == expect)
    assert(gotStar == expect)
    assert(checkpointFilesUnder(dir) > 0, "no reliable checkpoint files written")
  }

  test("pagerank on the reliable path is bit-identical to local") {
    val v = (1L to 5L).toDF("node")
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (4L, 3L, 5L))
      .toDF("src", "dst", "w")
    val expect = IterativeTwins.pageRank(v, e, iterations = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = tmpDir("pr")
    val got = IterativeTwins.pageRank(v, e, iterations = 8, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(checkpointFilesUnder(dir) > 0)
  }

  test("run-scoped checkpoints: pagerank result survives, scratch dir is gone") {
    val v = (1L to 5L).toDF("node")
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (4L, 3L, 5L))
      .toDF("src", "dst", "w")
    val expect = IterativeTwins.pageRank(v, e, iterations = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = tmpDir("scoped")
    val result = graft.operators.Iterate.withRunScopedCheckpoints(base) { ck =>
      IterativeTwins.pageRank(v, e, iterations = 8, checkpointDir = ck)
    }
    // the per-run subdirectory (and with it every checkpoint file) is
    // deleted before the frame is handed back...
    assert(checkpointFilesUnder(base) == 0, "scratch checkpoint files survived the run")
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(base))
    try assert(!s.iterator().hasNext, "per-run subdirectory survived the run")
    finally s.close()
    // ...and the result is still fully actionable afterwards
    assert(result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
  }

  test("run-scoped checkpoints: a failed body still removes its scratch dir") {
    val base = tmpDir("scoped_fail")
    assertThrows[IllegalArgumentException] {
      graft.operators.Iterate.withRunScopedCheckpoints(base) { ck =>
        IterativeTwins.pageRank(spark.emptyDataFrame.selectExpr("1L as node").where("false"),
          Seq((1L, 2L, 1L)).toDF("src", "dst", "w"), iterations = 8,
          checkpointDir = ck) // empty vertex set -> require() fails
      }
    }
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(base))
    try assert(!s.iterator().hasNext, "failed run left scratch behind")
    finally s.close()
  }

  test("the bounded collect scans a 4-partition frame in one job, and an " +
    "overflow brings back exactly bound + 1 rows") {
    import graft.operators.Iterate
    val df = spark.sparkContext.parallelize(0L until 40L, 4).toDF("id")
    def ids(rows: Array[org.apache.spark.sql.Row]) = rows.map(_.getLong(0)).toSeq
    var within: Option[Array[org.apache.spark.sql.Row]] = None
    assert(TestSpark.jobs { within = Iterate.collectWithin(df, 40) } == 1)
    assert(within.map(ids).contains(0L until 40L))
    var head = Array.empty[org.apache.spark.sql.Row]
    assert(TestSpark.jobs { head = Iterate.collectUpTo(df, 26) } == 1)
    assert(head.length == 26 && ids(head).distinct.length == 26 &&
      ids(head).forall(id => id >= 0L && id < 40L))
    assert(TestSpark.jobs { within = Iterate.collectWithin(df, 25) } == 1)
    assert(within.isEmpty)
    // the limit scan it replaces starts a job per round of partitions
    assert(TestSpark.jobs(df.limit(41).collect()) > 1)
  }

  test("batch MMR on the reliable path picks the same sequence") {
    val cand = Seq((0L, 1L, 0.9), (0L, 2L, 0.85), (0L, 3L, 0.8), (0L, 4L, 0.5))
      .toDF("qid", "id", "rel")
    val half = Seq((1L, 2L, 0.95), (1L, 3L, 0.1), (1L, 4L, 0.1),
      (2L, 3L, 0.1), (2L, 4L, 0.1), (3L, 4L, 0.1))
    val sims = (half ++ half.map { case (a, b, s) => (b, a, s) })
      .map { case (a, b, s) => (0L, a, b, s) }.toDF("qid", "ia", "ib", "sim")
    def picks(ckDir: Option[String]) =
      IterativeTwins.mmrSelectBatch(cand, sims, k = 3, lambda = 0.5, checkpointDir = ckDir)
        .orderBy("pick").collect().map(r => (r.getLong(1), r.getLong(2))).toList
    val dir = tmpDir("mmr")
    assert(picks(Some(dir)) == picks(None))
    assert(checkpointFilesUnder(dir) > 0)
  }
}
