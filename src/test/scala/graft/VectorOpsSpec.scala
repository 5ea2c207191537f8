package graft

import graft.functions.VectorOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  test("native folds equal the HOF forms on float and double elements, " +
    "NaN/±∞, NULL elements and unequal lengths, with ANSI on and off") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    type Vec = Seq[java.lang.Double]
    val rnd = new scala.util.Random(67)
    val specials = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, -0.0, 3.0e38, Double.MinPositiveValue)
    def vec(n: Int, nulls: Boolean): Vec = Seq.fill(n)(rnd.nextInt(12) match {
      case 0 if nulls => null
      case 1 => java.lang.Double.valueOf(specials(rnd.nextInt(specials.size)))
      case _ => java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 20)
    })
    def pairs(nulls: Boolean): Seq[(Vec, Vec)] = {
      val edges: Seq[(Vec, Vec)] = Seq(
        (null, Seq[java.lang.Double](1.0)),
        (Nil, Nil),
        (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](0.0, 2.0)),
        (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](0.0, 2.0, 1.0)),
        (Seq[java.lang.Double](Double.PositiveInfinity), Seq[java.lang.Double](Double.PositiveInfinity)))
      val nullEdges: Seq[(Vec, Vec)] =
        if (!nulls) Nil
        else Seq((Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](0.0, 2.0, 1.0)),
          (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](null, 2.0)))
      edges ++ nullEdges ++ (1 to 150).map { _ =>
        val n = rnd.nextInt(7)
        (vec(n, nulls), vec(if (rnd.nextInt(4) == 0) rnd.nextInt(7) else n, nulls))
      }
    }
    def frame(nulls: Boolean): org.apache.spark.sql.DataFrame = {
      val t = ArrayType(DoubleType, containsNull = nulls)
      spark.createDataFrame(
        pairs(nulls).map { case (a, b) => Row(a, b) }.asJava,
        StructType(Seq(StructField("a", t), StructField("b", t))))
    }
    def same(r: Row, i: Int): Boolean =
      if (r.isNullAt(i) || r.isNullAt(i + 1)) r.isNullAt(i) && r.isNullAt(i + 1)
      else java.lang.Double.doubleToLongBits(r.getDouble(i)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(i + 1))
    val dir = java.nio.file.Files.createTempDirectory("graft_vector_folds").toString
    for (ansi <- Seq(true, false); nulls <- Seq(true, false)) {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try {
        val local = frame(nulls)
        assert(local.schema("a").dataType == ArrayType(DoubleType, nulls))
        val path = s"$dir/ansi=$ansi/nulls=$nulls"
        local.write.parquet(path)
        // a LocalRelation is folded by the interpreted eval; the cached
        // and parquet plans run the generated loop
        val sources = Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "local" -> (() => local), "parquet" -> (() => spark.read.parquet(path)),
          "cached" -> (() => local.cache()))
        for ((name, source) <- sources; df = source();
             f <- Seq("a", "float(a)"); g <- Seq("b", "float(b)")) {
          def arr(c: String) =
            if (c.startsWith("float")) col(c.drop(6).dropRight(1)).cast("array<float>") else col(c)
          val rows = df.select(
            VectorOps.squaredL2(arr(f), arr(g)), squaredL2Hof(arr(f), arr(g)),
            VectorOps.dot(arr(f), arr(g)), dotHof(arr(f), arr(g))).collect()
          rows.zipWithIndex.foreach { case (r, i) =>
            assert(same(r, 0) && same(r, 2),
              s"ansi=$ansi nulls=$nulls $name $f,$g row $i: $r")
          }
        }
        local.unpersist()
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    }
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
