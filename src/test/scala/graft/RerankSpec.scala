package graft

import graft.operators.{IterativeTwins, Rerank}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class RerankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 2 is a near-copy of 1 (sim .95); everything else mutually dissimilar
  lazy val cand = Seq((1L, 0.9), (2L, 0.85), (3L, 0.8), (4L, 0.5))
    .toDF("id", "rel")
  lazy val sims = {
    val half = Seq((1L, 2L, 0.95), (1L, 3L, 0.1), (1L, 4L, 0.1),
      (2L, 3L, 0.1), (2L, 4L, 0.1), (3L, 4L, 0.1))
    (half ++ half.map { case (a, b, s) => (b, a, s) }).toDF("ia", "ib", "sim")
  }

  test("greedy MMR skips the near-duplicate despite higher relevance") {
    val picks = Rerank.mmrSelect(cand, sims, k = 3, lambda = 0.5)
      .orderBy("pick").collect().map(r => (r.getLong(0), r.getLong(1)))
    // round 2: 2 scores .85-.5*.95=.375 < 3's .8-.05=.75; round 3: 4's .45 > 2's .375
    assert(picks.toList == List((1L, 1L), (2L, 3L), (3L, 4L)))
  }

  test("lambda = 0 degenerates to pure relevance order") {
    val picks = Rerank.mmrSelect(cand, sims, k = 4, lambda = 0.0)
      .orderBy("pick").collect().map(_.getLong(1))
    assert(picks.toList == List(1L, 2L, 3L, 4L))
  }

  test("first pick's mmr equals its rel; penalized rounds are <= rel") {
    val rows = Rerank.mmrSelect(cand, sims, k = 3, lambda = 0.5)
      .orderBy("pick").collect()
    assert(rows.head.getDouble(2) == rows.head.getDouble(3))
    assert(rows.tail.forall(r => r.getDouble(3) <= r.getDouble(2)))
  }

  test("batch form advances every qid independently in the same rounds") {
    // qid 0 = the single-query fixture; qid 1 = reversed relevances and no
    // near-duplicate, so its greedy order is pure relevance.
    val bcand = (Seq((1L, 0.9), (2L, 0.85), (3L, 0.8), (4L, 0.5))
        .map { case (i, r) => (0L, i, r) } ++
      Seq((1L, 0.5), (2L, 0.6), (3L, 0.7), (4L, 0.8))
        .map { case (i, r) => (1L, i, r) })
      .toDF("qid", "id", "rel")
    val half0 = Seq((1L, 2L, 0.95), (1L, 3L, 0.1), (1L, 4L, 0.1),
      (2L, 3L, 0.1), (2L, 4L, 0.1), (3L, 4L, 0.1))
    val bsims = ((half0 ++ half0.map { case (a, b, s) => (b, a, s) })
      .map { case (a, b, s) => (0L, a, b, s) } ++
      (half0 ++ half0.map { case (a, b, s) => (b, a, s) })
        .map { case (a, b, _) => (1L, a, b, 0.1) })
      .toDF("qid", "ia", "ib", "sim")
    val picks = Rerank.mmrSelectBatch(bcand, bsims, k = 3, lambda = 0.5)
      .orderBy("qid", "pick").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(picks.toList == List(
      (0L, 1L, 1L), (0L, 2L, 3L), (0L, 3L, 4L),
      (1L, 1L, 4L), (1L, 2L, 3L), (1L, 3L, 2L)))
  }

  test("boundedDeltas driver-local greedy is bit-identical to the " +
    "distributed loop on randomized batches (r21)") {
    val rnd = new scala.util.Random(17)
    def collectAll(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "pick").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4))).toList
    (1 to 4).foreach { trial =>
      val nQ = 1 + rnd.nextInt(3)
      val cands = for (q <- 0 until nQ; i <- 1 to (3 + rnd.nextInt(6)))
        yield (q.toLong, i.toLong,
          math.round(rnd.nextDouble() * 1e4) / 1e4)
      // sparse sims: ~60% of ordered pairs present, some qids missing
      // pairs entirely (exercises the inner-join ineligibility path);
      // deliberately includes exact sim ties
      val simsB = for {
        (q, a, _) <- cands; (q2, b, _) <- cands
        if q2 == q && a != b && rnd.nextDouble() < 0.6
      } yield (q, a, b, math.round(rnd.nextDouble() * 10) / 10.0)
      val bc = cands.toDF("qid", "id", "rel")
      val bs = simsB.toDF("qid", "ia", "ib", "sim")
      val k = 1 + rnd.nextInt(5)
      val distributed = collectAll(
        IterativeTwins.mmrSelectBatch(bc, bs, k, lambda = 0.7))
      val local = collectAll(Rerank.mmrSelectBatch(bc, bs, k, lambda = 0.7))
      assert(local == distributed, s"diverged at trial=$trial k=$k")
    }
    // loudness contract: a relation past the driver-local bound throws
    val past = spark.range(0, Rerank.RowBound + 1L, 1, 2)
      .select(col("id"), lit(0.5).as("rel"))
    intercept[IllegalArgumentException] {
      Rerank.mmrSelect(past, sims, k = 2, lambda = 0.5)
    }
  }

  test("a qid with fewer than k candidates stops contributing rows") {
    val bcand = Seq((0L, 1L, 0.9), (0L, 2L, 0.8), (1L, 7L, 0.5))
      .toDF("qid", "id", "rel")
    val bsims = Seq((0L, 1L, 2L, 0.2), (0L, 2L, 1L, 0.2))
      .toDF("qid", "ia", "ib", "sim")
    val rows = Rerank.mmrSelectBatch(bcand, bsims, k = 3, lambda = 0.5)
      .orderBy("qid", "pick").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toList == List((0L, 1L, 1L), (0L, 2L, 2L), (1L, 1L, 7L)))
  }

  test("boundedDeltas driver-local greedy requires distinct (qid, id) " +
    "candidates: a duplicated candidate row throws") {
    // the distributed twin keeps both rows of a duplicated candidate,
    // the driver-local greedy would fold them through its per-qid map
    val dup = Seq((0L, 1L, 0.9), (0L, 2L, 0.8), (0L, 1L, 0.9))
      .toDF("qid", "id", "rel")
    val bsims = Seq((0L, 1L, 2L, 0.2), (0L, 2L, 1L, 0.2))
      .toDF("qid", "ia", "ib", "sim")
    intercept[IllegalArgumentException] {
      Rerank.mmrSelectBatch(dup, bsims, k = 2, lambda = 0.5)
    }
  }
}
