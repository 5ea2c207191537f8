package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Long-lived-session hygiene: the multi-branch queries that used to pin
  * corpus-sized localCheckpoint blocks (knnGraph self-join, MMR
  * candidate sets) must leave NO persistent RDD blocks behind after they
  * complete — knnGraph through AQE exchange reuse (the self-join's two
  * identical shuffles materialize once), the MMR family through
  * algorithm-bounded LocalRelations (Iterate.boundedLocal).
  */
class CheckpointHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("knnGraph / mmrTopk / mmrBatch leave no persistent RDD blocks") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (name <- Seq("q_knn_graph", "q_mmr_topk", "q_mmr_batch")) {
      val n = queries.Analysis.queries(name)(spark, TestSpark.sf0001).collect().length
      assert(n > 0, s"$name returned no rows")
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"queries left persistent RDD blocks: $leaked")
  }

  test("knnGraph self-join reuses one shuffle for both sides at runtime") {
    val df = queries.Analysis.queries("q_knn_graph")(spark, TestSpark.sf0001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedQueryStage") || finalPlan.contains("ReusedExchange"),
      s"expected AQE to reuse the assignment shuffle; final plan:\n$finalPlan")
  }

  test("boundedLocal is loud when the declared bound is violated") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    intercept[IllegalArgumentException] {
      operators.Iterate.boundedLocal(df, maxRows = 2)
    }
    assert(operators.Iterate.boundedLocal(df, maxRows = 3)
      .queryExecution.analyzed.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  /** The most rows one task of each of the `n` driver collects `body`
    * ran before its bound check threw could ship, from the collected
    * plan (-1: unbounded); the driver keeps at most bound + 1 of them
    * (IterateSpec).
    */
  private def rowBounds(n: Int)(body: => Any): Seq[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") collected.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      intercept[IllegalArgumentException](body)
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 10000000000L
      while (collected.size < n && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      collected.toArray(Array.empty[LogicalPlan]).toSeq
        .map(p => p.maxRowsPerPartition.orElse(p.maxRows).getOrElse(-1L))
    } finally spark.listenerManager.unregister(listener)
  }

  test("a violated bound brings at most bound + 1 rows to the driver: " +
    "boundedLocal, PageRank.runBoundedLocal and the bounded MMR greedy " +
    "collect through one limit of bound + 1") {
    import spark.implicits._
    val rows = spark.range(0, 1000, 1, 8).toDF("x")
    assert(rowBounds(1)(operators.Iterate.boundedLocal(rows, maxRows = 5)) ==
      Seq(6L))
    // vertices past the node bound, then edges past its square
    val edges = spark.range(0, 50).select(($"id" % 2).as("src"),
      (($"id" + 1) % 2).as("dst"), lit(1L).as("w"))
    assert(rowBounds(1)(operators.PageRank.runBoundedLocal(
      rows.select($"x".as("node")), edges, 1, maxNodes = 3)) == Seq(4L))
    // two vertices fit their bound, spread one per task
    assert(rowBounds(2)(operators.PageRank.runBoundedLocal(
      spark.range(0, 2).toDF("node"), edges, 1, maxNodes = 2)) == Seq(1L, 5L))
    val bound = operators.Rerank.RowBound
    val cand = spark.range(0, bound + 10L, 1, 4).select(lit(0L).as("qid"),
      $"id", ($"id" / 1000.0).as("rel"))
    val sims = Seq((0L, 0L, 1L, 0.5)).toDF("qid", "ia", "ib", "sim")
    assert(rowBounds(1)(operators.Rerank.mmrSelectBatch(cand, sims, 2, 0.5)) ==
      Seq(bound + 1L))
  }

  test("BpeTrainer.train throws on a vocab past its bound after reading at " +
    "most bound + 1 rows") {
    val bound = operators.BpeTrainer.VocabBound
    val vocab = spark.range(0, bound + 10L, 1, 4)
      .select(array(col("id").cast("string")).as("s"), lit(1L).as("freq"))
    assert(rowBounds(1)(operators.BpeTrainer.train(vocab, rounds = 1)) == Seq(bound + 1L))
  }
}
