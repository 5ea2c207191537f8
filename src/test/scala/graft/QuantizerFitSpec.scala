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

  test("Encoding.train(Opq) ranks its dims from the one training collect: " +
    "at most 2 jobs, and under ANSI a Long overflow of Σ|v_d| throws as " +
    "the Spark aggregate does") {
    import spark.implicits._
    val coarse = KMeansOp.lloydCentroidsLocal(small, "vec_id", col("embedding"), 4, 1)
    var q: Option[graft.operators.Quantizers] = None
    val n = jobs { q = Some(Encoding.train(Encoding.Opq, small, coarse, 4, 2, 4, 2)) }
    assert(n <= 2, s"$n jobs")
    assert(q.exists(_.encoding ==
      Encoding.Opq(KMeansTwins.opqAllocation(small.select(col("vec_id"),
        KMeansOp.intVec(col("embedding")).as("v")), 4).flatten)))
    // dim 0 sums three 4·10^18 magnitudes: past Long.MaxValue
    val big = 4000000000000000000L
    val vecs = Seq(0L -> Seq(big, 3L, -7L, 1L), 1L -> Seq(-big, -3L, 7L, 0L),
      2L -> Seq(big, 2L, 5L, -9L)).toDF("vec_id", "v")
    def withAnsi[T](on: Boolean)(body: => T): T = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", on.toString)
      try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    def arithmetic(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    withAnsi(on = true) {
      val local = scala.util.Try(Encoding.opqPermutation(KMeansOp.points(vecs), 2))
      val twin = scala.util.Try(KMeansTwins.opqAllocation(vecs, 2))
      assert(local.failed.toOption.exists(arithmetic), s"driver sum: $local")
      assert(twin.failed.toOption.exists(arithmetic), s"Spark sum: $twin")
    }
    withAnsi(on = false) {
      val local = Encoding.opqPermutation(KMeansOp.points(vecs), 2)
      assert(local == KMeansTwins.opqAllocation(vecs, 2).flatten)
      // energies 19 > 10 > 8 rank dims 2, 3, 1; the wrapped energy of
      // dim 0 is negative, so it ranks last; subspaces deal round-robin
      assert(local == Seq(2, 1, 3, 0))
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
