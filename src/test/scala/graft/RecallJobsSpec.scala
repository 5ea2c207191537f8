package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Building a single-probe recall monitor collects its probe once: the
  * served side and the exact side share the collected embedding. With
  * the memos warm, the only jobs a `q_recall_*` DataFrame build starts
  * are its driver-side reads, counted here by a SparkListener. The probe
  * lookup (VectorOps.queryVector) is one job wherever its row lies.
  */
class RecallJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("each q_recall_* build starts exactly its pinned job count (one " +
    "probe collect for both sides)") {
    val d = TestSpark.sf0001
    val recalls = queries.SemanticQ.queries.filter(_._1.startsWith("q_recall_"))
    recalls.values.foreach(_(spark, d)) // warm the memos and the index dirs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try recalls.toSeq.sortBy(_._1).map { case (name, build) =>
      ListenerBusDrain.drain(spark.sparkContext)
      val before = jobs.get()
      build(spark, d)
      ListenerBusDrain.drain(spark.sparkContext)
      name -> (jobs.get() - before)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(got == Seq(
      "q_recall_cdc" -> 3,
      "q_recall_cdc_opq" -> 3,
      "q_recall_cdc_sq8" -> 3,
      "q_recall_cdc_sq8dim" -> 3,
      "q_recall_ivf" -> 4,
      "q_recall_ivf_sq8" -> 4,
      "q_recall_ivfpq" -> 4,
      "q_recall_ivfpq_batch" -> 5,
      "q_recall_ivfpq_rerank" -> 5,
      "q_recall_ivfpq_res" -> 4,
      "q_recall_opq" -> 4,
      "q_recall_pq" -> 4,
      "q_recall_shortlist_ann" -> 6,
      "q_recall_sq8" -> 4,
      "q_recall_sq8_dim" -> 4,
      "q_recall_sq8_dim_part" -> 3,
    ), got.map { case (n, c) => s"""    "$n" -> $c,""" }.mkString("\n"))
  }

  test("the vec_id=0 probe collect is one job when the first partition " +
    "holds no vec_id=0 row") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_probe").toString
    val path = s"$dir/embeddings.parquet"
    // one file per partition, largest first: vec_id 0 lands in the last
    def rows(from: Long, to: Long) = spark.range(from, to, 1, 1)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(0.5f)).as("embedding"))
    rows(1, 400).write.parquet(path)
    rows(400, 500).write.mode("append").parquet(path)
    rows(0, 1).write.mode("append").parquet(path)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(body: => Any): Int = {
      ListenerBusDrain.drain(spark.sparkContext)
      val before = jobs.get()
      body
      ListenerBusDrain.drain(spark.sparkContext)
      jobs.get() - before
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // reading the table infers its schema from the footers, a job of its own
      val read = jobsOf(Tables.embeddings(spark, dir))
      assert(Tables.embeddings(spark, dir).rdd.getNumPartitions > 1)
      var probe: Seq[Double] = Nil
      assert(jobsOf { probe = functions.VectorOps.queryVector(spark, dir) } == read + 1)
      assert(probe == Seq(0.0, 0.5))
      // every lookup is one job, wherever its row lies
      for (id <- Seq(1L, 450L, 499L)) {
        assert(jobsOf { probe = functions.VectorOps.queryVector(spark, dir, id) } == read + 1,
          s"vec_id=$id")
        assert(probe == Seq(id.toDouble, 0.5))
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
