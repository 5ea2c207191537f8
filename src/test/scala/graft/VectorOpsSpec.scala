package graft

import graft.functions.VectorOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distance/score semantics on the FIXTURES.md §2 tiny-vector fixture,
  * plus native-expression vs HOF cross-checks (they must be bit-identical).
  */
class VectorOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- interpreted HOF reference forms of the native expressions ----

  private def foldSum(a: Column): Column =
    aggregate(a, lit(0.0), (acc, v) => acc + v)

  private def squaredL2Hof(a: Column, b: Column): Column =
    foldSum(zip_with(VectorOps.toDoubleArr(a), VectorOps.toDoubleArr(b),
      (x, y) => (x - y) * (x - y)))

  private def dotHof(a: Column, b: Column): Column =
    foldSum(zip_with(VectorOps.toDoubleArr(a), VectorOps.toDoubleArr(b),
      (x, y) => x * y))

  val q: Seq[Double] = Seq(0.0, 0.0, 0.0, 0.0)
  lazy val vecs = Seq(
    (0L, Seq(0f, 0f, 0f, 0f)), // d²=0 → score 10.0
    (1L, Seq(1f, 0f, 0f, 0f)), // d²=1 → score 5.0
    (2L, Seq(1f, 1f, 1f, 1f)), // d²=4 → score 2.0
    (3L, Seq(3f, 0f, 0f, 0f))  // d²=9 → score 1.0
  ).toDF("vec_id", "embedding")

  test("squared L2 (no sqrt) and 10/(1+d) scores match the reference table") {
    val rows = vecs.select($"vec_id",
      VectorOps.squaredL2ToQuery($"embedding", q).as("d"),
      round(VectorOps.score(VectorOps.squaredL2ToQuery($"embedding", q)), 2).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(rows == Set((0L, 0.0, 10.0), (1L, 1.0, 5.0), (2L, 4.0, 2.0), (3L, 9.0, 1.0)))
  }

  test("native expressions equal interpreted HOF forms bit-for-bit") {
    val df = Tables.embeddings(spark, TestSpark.sf0001).limit(100)
    val qv = VectorOps.queryVector(spark, TestSpark.sf0001, 0L)
    val mismatches = df.select(
      VectorOps.squaredL2ToQuery($"embedding", qv).as("nat_l2"),
      squaredL2Hof($"embedding", typedLit(qv)).as("hof_l2"),
      VectorOps.dot($"embedding", typedLit(qv)).as("nat_dot"),
      dotHof($"embedding", typedLit(qv)).as("hof_dot"))
      .where($"nat_l2" =!= $"hof_l2" || $"nat_dot" =!= $"hof_dot")
      .count()
    assert(mismatches == 0)
  }

  test("cosine: parallel=1, orthogonal=0, zero-norm=0") {
    val df = Seq(
      (Seq(1f, 0f), Seq(2f, 0f), 1.0),
      (Seq(1f, 0f), Seq(0f, 3f), 0.0),
      (Seq(0f, 0f), Seq(1f, 1f), 0.0)
    ).toDF("a", "b", "expect")
    val bad = df.where(abs(VectorOps.cosine($"a", $"b") - $"expect") > 1e-12).count()
    assert(bad == 0)
  }

  test("score is in (0,10] and strictly decreasing in distance (property)") {
    val ds = Seq(0.0, 0.1, 1.0, 5.0, 100.0, 1e9)
    val scores = ds.map(d => 10.0 / (1.0 + d))
    assert(scores.forall(s => s > 0.0 && s <= 10.0))
    assert(scores == scores.sorted.reverse)
  }
}
