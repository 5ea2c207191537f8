package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the compiled IntVec / IntSquaredL2 expressions bit-equal to the
  * HOF forms KMeansOp used through round 20, including the edges the
  * fold semantics imply (null arrays, null elements, length mismatch,
  * Long overflow under ANSI on and off, the truncating double→long cast
  * after floor).
  */
class IntVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pre-r21 HOF spellings, verbatim. */
  private def hofIntVec(emb: org.apache.spark.sql.Column) =
    transform(emb, e => floor(e.cast("double") * 1000000d).cast("long"))
  private def hofIntDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  test("IntVec equals the transform form on randomized and edge vectors") {
    val rnd = new scala.util.Random(53)
    val vecs: Seq[Seq[java.lang.Double]] =
      Seq(null, Seq.empty[java.lang.Double],
        Seq[java.lang.Double](0.0, -0.0, 1.5, -1.5, null, 0.1234567)) ++
      (1 to 30).map(_ => (1 to rnd.nextInt(8)).map(_ =>
        java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 10)): Seq[java.lang.Double])
    val df = vecs.toDF("v")
    val rows = df.select(
      graft.functions.VectorFoldExpression.intVec(col("v")).as("c"),
      hofIntVec(col("v")).as("h")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val c = if (r.isNullAt(0)) null else r.getSeq[Any](0).toList
      val h = if (r.isNullAt(1)) null else r.getSeq[Any](1).toList
      assert(c == h, s"row $i")
    }
  }

  test("IntSquaredL2 equals the zip_with/aggregate fold, edges included") {
    val rnd = new scala.util.Random(59)
    val pairs: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] =
      Seq(
        (null, Seq[java.lang.Long](1L)),
        (Seq[java.lang.Long](1L, 2L), null),
        (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
        (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L)), // length mismatch
        (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L)), // null element
        // near the Long edge without crossing it: (3e9)² = 9.0e18 < 2⁶³−1
        (Seq[java.lang.Long](3000000000L), Seq[java.lang.Long](0L))) ++
      (1 to 30).map { _ =>
        val n = rnd.nextInt(6)
        ((1 to n).map(_ => java.lang.Long.valueOf(rnd.nextLong() % 2000000L)): Seq[java.lang.Long],
         (1 to n).map(_ => java.lang.Long.valueOf(rnd.nextLong() % 2000000L)): Seq[java.lang.Long])
      }
    val df = pairs.toDF("a", "b")
    val rows = df.select(
      graft.functions.VectorFoldExpression.intSquaredL2(col("a"), col("b")).as("c"),
      hofIntDist(col("a"), col("b")).as("h")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val c = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
      val h = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
      assert(c == h, s"pair $i: compiled=$c hof=$h")
    }
  }

  test("IntSquaredL2 matches the fold on Long overflow: throws under ANSI, " +
    "wraps without") {
    val pairs: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])] = Seq(
      // (3.1e9)² = 9.61e18 > 2⁶³−1: the square itself overflows
      (Seq[java.lang.Long](3100000000L), Seq[java.lang.Long](0L)),
      // 4.0e18 + 6.25e18: each square fits, their sum does not
      (Seq[java.lang.Long](2000000000L, 2500000000L), Seq[java.lang.Long](0L, 0L)),
      // a null element before the overflow: the fold is NULL, but under
      // ANSI zip_with still computes the overflowing product
      (Seq[java.lang.Long](null, 3100000000L), Seq[java.lang.Long](0L, 0L)))
    def run(ansi: Boolean, a: Seq[java.lang.Long], b: Seq[java.lang.Long],
        f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
          org.apache.spark.sql.Column): Either[Throwable, Option[Long]] = {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try {
        // the column is built under the conf, as a query would be
        val df = Seq((a, b)).toDF("a", "b").select(f(col("a"), col("b")))
        scala.util.Try(df.collect().head).toEither
          .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
    def arithmetic(r: Either[Throwable, Option[Long]]): Boolean =
      r.fold(t => Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), _ => false)
    val compiled = graft.functions.VectorFoldExpression.intSquaredL2 _
    pairs.foreach { case (a, b) =>
      val hofOn = run(ansi = true, a, b, hofIntDist)
      val onC = run(ansi = true, a, b, compiled)
      assert(arithmetic(hofOn), s"fold must throw under ANSI: $hofOn")
      assert(arithmetic(onC),
        s"compiled must throw ArithmeticException under ANSI like the fold: $onC")
      val hofOff = run(ansi = false, a, b, hofIntDist)
      val offC = run(ansi = false, a, b, compiled)
      assert(hofOff.isRight && offC == hofOff,
        s"compiled must wrap like the fold with ANSI off: $offC vs $hofOff")
    }
    // the single-element pair really wrapped
    assert(run(ansi = false, pairs.head._1, pairs.head._2, compiled) ==
      Right(Some(3100000000L * 3100000000L)))
  }
}
