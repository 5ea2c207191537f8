package graft

import graft.operators.{Encoding, KMeansOp, KMeansTwins, ProductQuantizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every k-means fit reads its training set through one bounded collect
  * and runs the in-memory Lloyd loop: the PQ-family codebooks equal the
  * distributed twin's, and a fit starts a pinned number of Spark jobs
  * whatever its round count.
  */
class QuantizerFitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.jobs

  private val d = TestSpark.sf0001
  private val (m, subDim, k, iters) = (4, 16, 8, 2)

  /** 64 vectors of 8 dims over 4 partitions. */
  private def small: DataFrame =
    spark.range(0, 64, 1, 4).select(col("id").as("vec_id"),
      array((1 to 8).map(j => (((col("id") * j) % 7) / 4).cast("float")): _*)
        .as("embedding"))

  test("ProductQuantizer.train equals m twin fits over the sliced frame") {
    val emb = Tables.embeddings(spark, d)
    val (twin, _) = KMeansTwins.trainBooks(Encoding.Pq, emb, Nil, k, iters, m, subDim)
    assert(ProductQuantizer.train(emb, "vec_id", col("embedding"), m, subDim, k, iters) ==
      twin.map(_.sortBy(_._1)))
  }

  test("Encoding.train(ResidualPq | Opq) codebooks equal the twin-trained ones") {
    val emb = Tables.embeddings(spark, d)
    val coarse = queries.SemanticQ.trainedCentroids(spark, d)
    for (kind <- Seq(Encoding.ResidualPq, Encoding.Opq)) {
      val q = Encoding.train(kind, emb, coarse, k, iters, m, subDim)
      val (books, perm) = KMeansTwins.trainBooks(kind, emb, coarse, k, iters, m, subDim)
      assert(q.books == books.map(_.sortBy(_._1)), s"${kind.name} codebooks")
      assert(perm.forall(p => q.encoding == Encoding.Opq(p)), s"${kind.name} permutation")
    }
  }

  test("lloydCentroidsLocal starts at most 2 jobs for 1 and for 3 rounds") {
    for (rounds <- Seq(1, 3)) {
      var cents: Seq[(Long, Seq[Long])] = Nil
      val n = jobs {
        cents = KMeansOp.lloydCentroidsLocal(small, "vec_id", col("embedding"), 4, rounds)
      }
      assert(cents.nonEmpty)
      assert(n <= 2, s"$n jobs at iters=$rounds")
    }
  }

  test("ProductQuantizer.train with m = 4 starts at most 2 jobs") {
    var books: Seq[Seq[(Long, Seq[Long])]] = Nil
    val n = jobs {
      books = ProductQuantizer.train(small, "vec_id", col("embedding"), 4, 2, 4, 2)
    }
    assert(books.length == 4)
    assert(n <= 2, s"$n jobs")
  }
}
