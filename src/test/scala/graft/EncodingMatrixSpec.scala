package graft

import graft.operators.{Encoding, Quantizers}
import graft.streaming.IndexStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every encoding over every layout: one corpus, one probe, and the
  * serves of an encoding — in-flight projection, persisted
  * `partitionBy(cell)` dir, maintained CDC state after insert / delete /
  * resurrect (its Spark serve and its driver-held generation), and the
  * batch serve of a one-probe frame — must agree row for row. The
  * layouts other than the maintained one hold the lifecycle's live set,
  * the rows the maintained state serves. The live set holds copies of
  * ids under [[CopyBase]], so equal distances are ordered by vec_id.
  */
class EncodingMatrixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = TestSpark.sf0001

  private val Kinds = Seq(Encoding.Pq, Encoding.ResidualPq, Encoding.Opq,
    Encoding.Sq8, Encoding.Sq8Dim)

  private def emb: DataFrame =
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))

  private def deleted(id: Column): Column = id % 10 === 3
  private def resurrected(id: Column): Column = id % 20 === 3

  /** The ids below 40 again, under id + CopyBase: the same codes, so
    * the same distance as their originals. */
  private val CopyBase = 100000L
  private def copies: DataFrame = emb.where(col("vec_id") < 40)
    .select((col("vec_id") + CopyBase).as("vec_id"), col("embedding"))

  private def live: DataFrame =
    emb.where(!deleted(col("vec_id")) || resurrected(col("vec_id"))).union(copies)

  /** Insert all, delete the `deleted` ids, re-insert the `resurrected`
    * half, insert the copies, through the real maintenance entry. */
  private def maintained(q: Quantizers, rows: DataFrame = emb): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_matrix_cdc").toString
    IndexStream.processBatchCdc(rows, 1L, q, dir)
    IndexStream.processBatchCdc(rows.where(deleted(col("vec_id")))
      .withColumn(IndexStream.OpColumn, lit("delete")), 2L, q, dir)
    IndexStream.processBatchCdc(rows.where(resurrected(col("vec_id"))), 3L, q, dir)
    IndexStream.processBatchCdc(copies, 4L, q, dir)
    dir
  }

  private def pairs(df: DataFrame, id: Int, dist: Int): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(id), r.getLong(dist))).toSeq

  private def ranked(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

  /** The driver-held serve answered: its frame is a LocalRelation. */
  private def assertHeld(df: DataFrame): Unit =
    assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"expected the driver-held serve:\n${df.queryExecution.analyzed}")

  private def probeOf(id: Long): Seq[Double] =
    emb.where(col("vec_id") === id).select(col("embedding").cast("array<double>"))
      .as[Seq[Double]].head()

  Kinds.foreach { kind =>
    test(s"${kind.name}: in-flight, persisted, maintained and batch serves " +
      "of one probe agree over the live set") {
      val q = queries.SemanticQ.quantizers(spark, d, kind)
      val probeRow = emb.where(col("vec_id") === 7L)
      val probe = probeOf(7L)

      val inFlight = pairs(q.serve(q.project(live), probe, 2, 10), 0, 1)
      val persistedDir = java.nio.file.Files
        .createTempDirectory("graft_matrix_part").toString + "/index"
      q.project(live).write.partitionBy("cell").parquet(persistedDir)
      val persisted = pairs(q.serve(spark.read
        .schema(Encoding.layoutSchema(q.m)).parquet(persistedDir), probe, 2, 10), 0, 1)
      val dir = maintained(q)
      val sparkServe = q.serve(IndexStream.liveLayout(spark, dir, q), probe, 2, 10)
      val heldServe = IndexStream.searchCommittedCdc(spark, dir, q, probe, 2, 10)
      assertHeld(heldServe)
      val cdc = pairs(sparkServe, 0, 1)
      val held = pairs(heldServe, 0, 1)
      val batch = pairs(q.serve(q.project(live), q.probes(probeRow), 2, 10), 2, 3)

      assert(inFlight.size == 10, s"expected a full top-10: $inFlight")
      assert(persisted == inFlight, "persisted layout diverged from in-flight")
      assert(cdc == inFlight, "maintained layout diverged from in-flight")
      assert(held == inFlight, "driver-held generation diverged from in-flight")
      assert(heldServe.schema == sparkServe.schema)
      assert(batch == inFlight, "one-probe batch serve diverged from single")
      assert(held.map(_._2).distinct.size < held.size,
        s"the copies must put an equal-distance tie in the top-10: $held")
      assert(cdc.forall { case (id, _) => id >= CopyBase || id % 10 != 3 || id % 20 == 3 },
        "a deleted id surfaced from the maintained layout")
    }

    test(s"${kind.name}: the driver-held generation serves probe batches, " +
      "ties and cells holding fewer than k rows as the Spark serves do") {
      val q = queries.SemanticQ.quantizers(spark, d, kind)
      val dir = maintained(q)
      val layout = IndexStream.liveLayout(spark, dir, q)
      val ids = Seq(0L, 5L, 7L, 8L, 21L)
      // a LocalRelation probe frame, one of its ids twice
      val probes = spark.createDataFrame(java.util.Arrays.asList(
        q.probes(emb.where(col("vec_id").isin(ids: _*))).collect().toSeq ++
          q.probes(emb.where(col("vec_id") === 7L)).collect(): _*),
        q.probes(emb).schema)
      for (k <- Seq(10, 100000)) {
        val heldBatch = IndexStream.searchCommittedBatchCdc(spark, dir, q, probes, 2, k)
        assertHeld(heldBatch)
        val sparkBatch = q.serve(layout, probes, 2, k)
        val got = ranked(heldBatch)
        assert(got == ranked(sparkBatch), s"k=$k: batch serves diverged")
        assert(heldBatch.schema == sparkBatch.schema)
        assert(got.map(_._1).distinct == ids)
        ids.foreach { id =>
          val single = pairs(IndexStream.searchCommittedCdc(spark, dir, q, probeOf(id), 2, k), 0, 1)
          assert(single == pairs(q.serve(layout, probeOf(id), 2, k), 0, 1))
          assert(single == got.filter(_._1 == id).map(r => (r._3, r._4)),
            s"k=$k: qid $id's batch rows diverged from its single serve")
          if (k > 10) assert(single.size > 10 && single.size < k,
            s"the probed cells should hold fewer than k=$k rows: ${single.size}")
        }
      }
    }

    test(s"${kind.name}: an overflowing distance throws on the driver-held " +
      "and Spark serves under ANSI and wraps identically without it") {
      val q0 = queries.SemanticQ.quantizers(spark, d, kind)
      // LUT entries or code differences near 2^62: a row's sum overflows
      val q = q0.encoding match {
        case Encoding.Sq8(a) => q0.copy(encoding = Encoding.Sq8(a * 1e-8))
        case Encoding.Sq8Dim(_, _) => q0.copy(encoding =
          Encoding.Sq8Dim(Seq.fill(q0.dim)(-1e13), Seq.fill(q0.dim)(1e13)))
        case _ => q0.copy(books = q0.books.map(_.map { case (cid, c) =>
          cid -> c.updated(0, c(0) + 3000000000L) }))
      }
      def withAnsi[T](on: Boolean)(body: => T): T = {
        val was = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", on.toString)
        try body finally spark.conf.set("spark.sql.ansi.enabled", was)
      }
      val dir = withAnsi(false)(maintained(q, emb.where(col("vec_id") < 120)))
      val probe = probeOf(7L)
      val probes = spark.createDataFrame(java.util.Arrays.asList(
        q.probes(emb.where(col("vec_id") < 3)).collect(): _*), q.probes(emb).schema)
      val layout = IndexStream.liveLayout(spark, dir, q)
      def held = IndexStream.searchCommittedCdc(spark, dir, q, probe, 2, 10)
      def heldBatch = IndexStream.searchCommittedBatchCdc(spark, dir, q, probes, 2, 10)
      def overflows(body: => Any): Boolean =
        try { body; false } catch {
          case e: Throwable => Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).exists(_.isInstanceOf[ArithmeticException])
        }
      withAnsi(true) {
        assert(overflows(held.collect()), "driver-held single serve did not throw")
        assert(overflows(q.serve(layout, probe, 2, 10).collect()), "Spark single serve did not throw")
        assert(overflows(heldBatch.collect()), "driver-held batch serve did not throw")
        assert(overflows(q.serve(layout, probes, 2, 10).collect()), "Spark batch serve did not throw")
      }
      withAnsi(false) {
        assertHeld(held)
        assert(pairs(held, 0, 1) == pairs(q.serve(layout, probe, 2, 10), 0, 1))
        assert(pairs(held, 0, 1).nonEmpty)
        assertHeld(heldBatch)
        assert(ranked(heldBatch) == ranked(q.serve(layout, probes, 2, 10)))
      }
    }
  }
}
