package graft

import graft.operators.{Encoding, Quantizers}
import graft.streaming.IndexStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every encoding over every layout: one corpus, one probe, and the
  * four serves of an encoding — in-flight projection, persisted
  * `partitionBy(cell)` dir, maintained CDC state after insert / delete /
  * resurrect, and the batch serve of a one-probe frame — must agree row
  * for row. The layouts other than the maintained one hold the
  * lifecycle's live set, the rows the maintained state serves.
  */
class EncodingMatrixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val d = TestSpark.sf0001

  private def emb: DataFrame =
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))

  private def deleted(id: Column): Column = id % 10 === 3
  private def resurrected(id: Column): Column = id % 20 === 3

  /** Insert all, delete the `deleted` ids, re-insert the `resurrected`
    * half, through the real maintenance entry. */
  private def maintained(q: Quantizers): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_matrix_cdc").toString
    IndexStream.processBatchCdc(emb, 1L, q, dir)
    IndexStream.processBatchCdc(emb.where(deleted(col("vec_id")))
      .withColumn(IndexStream.OpColumn, lit("delete")), 2L, q, dir)
    IndexStream.processBatchCdc(emb.where(resurrected(col("vec_id"))), 3L, q, dir)
    dir
  }

  private def pairs(df: DataFrame, id: Int, dist: Int): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(id), r.getLong(dist))).toSeq

  Seq(Encoding.Pq, Encoding.ResidualPq, Encoding.Opq, Encoding.Sq8,
      Encoding.Sq8Dim).foreach { kind =>
    test(s"${kind.name}: in-flight, persisted, maintained and batch serves " +
      "of one probe agree over the live set") {
      val q = queries.SemanticQ.quantizers(spark, d, kind)
      val live = emb.where(!deleted(col("vec_id")) || resurrected(col("vec_id")))
      val probeRow = emb.where(col("vec_id") === 7L)
      val probe = probeRow.select(col("embedding").cast("array<double>"))
        .as[Seq[Double]].head()

      val inFlight = pairs(q.serve(q.project(live), probe, 2, 10), 0, 1)
      val persistedDir = java.nio.file.Files
        .createTempDirectory("graft_matrix_part").toString + "/index"
      q.project(live).write.partitionBy("cell").parquet(persistedDir)
      val persisted = pairs(q.serve(spark.read
        .schema(Encoding.layoutSchema(q.m)).parquet(persistedDir), probe, 2, 10), 0, 1)
      val cdc = pairs(IndexStream.searchCommittedCdc(spark, maintained(q), q,
        probe, 2, 10), 0, 1)
      val batch = pairs(q.serve(q.project(live), q.probes(probeRow), 2, 10), 2, 3)

      assert(inFlight.size == 10, s"expected a full top-10: $inFlight")
      assert(persisted == inFlight, "persisted layout diverged from in-flight")
      assert(cdc == inFlight, "maintained layout diverged from in-flight")
      assert(batch == inFlight, "one-probe batch serve diverged from single")
      assert(cdc.forall { case (id, _) => id % 10 != 3 || id % 20 == 3 },
        "a deleted id surfaced from the maintained layout")
    }
  }
}
