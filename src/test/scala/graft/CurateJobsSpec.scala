package graft

import graft.operators.{BpeTrainer, ConnectedComponents}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The curate route's small steps pay one bounded collect, not a Spark
  * job per round: BPE training and a request-sized component resolution
  * each start a pinned number of jobs, counted by a SparkListener.
  */
class CurateJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  import TestSpark.jobs

  test("BpeTrainer.train over a corpus vocab starts at most 2 jobs") {
    val docs = Seq((0L, "low low lower newest"), (1L, "low lowest wider newer"),
      (2L, "slow slower slowest")).toDF("doc_id", "text")
    val vocab = BpeTrainer.weightedVocab(docs, col("text"))
    var merges = 0
    val n = jobs { merges = BpeTrainer.train(vocab, rounds = 6).collect().length }
    assert(merges == 6)
    assert(n <= 2, s"$n jobs")
  }

  test("assignAdaptive on a 10-edge graph starts at most 3 jobs") {
    // the returned frame is nodes ⟕ broadcast(labels): the resolution
    // itself is one bounded collect of the induced edges
    val nodes = (1L to 16L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (7L, 8L), (8L, 9L), (10L, 11L), (12L, 13L), (13L, 99L)).toDF("id_a", "id_b")
    var labels: org.apache.spark.sql.DataFrame = null
    val n = jobs { labels = ConnectedComponents.assignAdaptive(nodes, edges) }
    assert(n <= 3, s"$n jobs")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 16L).map(i => i -> (i match {
        case i if i <= 6L => 1L
        case i if i <= 9L => 7L
        case 11L => 10L
        case 13L => 12L
        case i => i
      })).toMap)
  }
}
