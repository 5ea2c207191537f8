package graft

import graft.operators.{Dedup, KMeansOp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.semDedup` on a seeded frame: 80 random 48-dim vectors, 12
  * planted near-copies (ids 110–121) of ids 10–21, and two zero-norm
  * vectors (ids 5 and 57). The drops are checked against brute force
  * over the operator's buckets — k-means cells, or (cell, rank chunk)
  * under a cap — with the cosine spelled here in plain Scala.
  */
class SemDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val emb: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (0 until 80).map(i => i.toLong ->
      (if (i == 5 || i == 57) Seq.fill(48)(0.0f)
       else Seq.fill(48)(rnd.nextGaussian().toFloat)))
    val copies = base.slice(10, 22).map { case (i, v) =>
      (100L + i) -> v.map(x => x * 1.01f + 0.001f * rnd.nextGaussian().toFloat)
    }
    (base ++ copies).toDF("vec_id", "embedding")
  }
  private lazy val vecs =
    emb.select(col("vec_id"), KMeansOp.intVec(col("embedding")).as("v"))
  private lazy val cents =
    KMeansOp.lloydCentroidsLocal(emb, "vec_id", col("embedding"), 4, 2)

  /** (vec_id, cell, dist) of every vector under `cents`. */
  private lazy val cells: Seq[(Long, Long, Long)] = {
    import spark.implicits._
    KMeansOp.assignCells(vecs, cents.toDF("cid", "c"))
      .select(col("vec_id"), col("cid"), col("dist"))
      .as[(Long, Long, Long)].collect().toSeq
  }

  private lazy val raw: Map[Long, Array[Double]] =
    emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
    if (n == 0.0) 0.0 else a.zip(b).map { case (x, y) => x * y }.sum / n
  }

  /** Brute force: a vector drops when a lower id in its bucket has
    * cosine ≥ 0.4 with it; `bucket` maps (vec_id, cell, dist) rows of
    * one cell to each vector's bucket within it. */
  private def bruteDrops(bucket: Seq[(Long, Long, Long)] => Map[Long, Long]): Set[Long] =
    cells.groupBy(_._2).values.flatMap { members =>
      val sub = bucket(members)
      members.map(_._1).filter(id => members.exists { case (lo, _, _) =>
        lo < id && sub(lo) == sub(id) && cos(raw(lo), raw(id)) >= 0.4
      })
    }.toSet

  private def drops(cap: Option[Int], pin: Boolean = false): Set[Long] =
    Dedup.semDedup(vecs, emb, cents, cap, pin).collect().map(_.getLong(0)).toSet

  test("uncapped drops equal brute-force within-cell pairs, pinned or lazy; " +
    "zero-norm vectors are never dropped and drop nothing") {
    val want = bruteDrops(ms => ms.map(m => m._1 -> 0L).toMap)
    val got = drops(None)
    assert(got == want)
    assert(drops(None, pin = true) == want)
    // the fixture reaches both sides of the threshold
    val plantedInCell = (10L until 22L).filter(i =>
      cells.find(_._1 == i).map(_._2) == cells.find(_._1 == 100L + i).map(_._2))
    assert(plantedInCell.nonEmpty && plantedInCell.forall(i => got(100L + i)),
      s"planted copies sharing a cell with their base must drop: $plantedInCell")
    assert(got.size < raw.size / 2, s"${got.size} drops")
    assert(!got(5L) && !got(57L), "a zero-norm vector has cosine 0 with everything")
  }

  test("a cap at least the largest cell population drops exactly the " +
    "uncapped set; a small cap drops brute force over (cell, rank chunk)") {
    val largest = cells.groupBy(_._2).values.map(_.size).max
    assert(drops(Some(largest)) == drops(None))
    assert(drops(Some(largest + 5), pin = true) == drops(None))
    val cap = 3
    val want = bruteDrops(ms => ms.sortBy(m => (m._3, m._1)).zipWithIndex
      .map { case (m, r) => m._1 -> (r / cap).toLong }.toMap)
    assert(drops(Some(cap)) == want)
    assert(want.subsetOf(drops(None)))
    assert(want.size < drops(None).size, "the small cap should split some pair")
  }
}
