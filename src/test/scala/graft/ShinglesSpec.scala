package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the compiled [[graft.functions.Shingles]] expression bit-equal
  * to the HOF formulation TextAnalysis.shingles used through round 20
  * (value AND order — array_distinct keeps first occurrences).
  */
class ShinglesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The pre-r21 HOF spelling, verbatim. */
  private def hofShingles(text: org.apache.spark.sql.Column, n: Int) = {
    val toks = filter(split(text, " "), w => w =!= "")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  test("compiled shingles equals the HOF form on randomized and edge texts") {
    val rnd = new scala.util.Random(41)
    val words = Vector("the", "cat", "sat", "on", "a", "mat", "dog", "ran")
    val texts: Seq[String] =
      Seq(null, "", " ", "   ", "one", "one two", "a  b   c d",
        " lead", "trail ", "x " * 50) ++
      (1 to 40).map { _ =>
        (1 to rnd.nextInt(30)).map { _ =>
          // multi-spaces and repeated words to exercise dedup + filter
          words(rnd.nextInt(words.size)) + (" " * (1 + rnd.nextInt(2)))
        }.mkString("").trim
      }
    val df = texts.toDF("text")
    for (n <- Seq(1, 2, 3, 8)) {
      val rows = df.select(
          graft.functions.Shingles(col("text"), n).as("compiled"),
          hofShingles(col("text"), n).as("hof"))
        .collect()
      rows.zip(texts).foreach { case (r, t) =>
        val c = if (r.isNullAt(0)) null else r.getSeq[String](0).toList
        val h = if (r.isNullAt(1)) null else r.getSeq[String](1).toList
        assert(c == h, s"n=$n text=${Option(t).map(_.take(40))}")
      }
    }
  }

  test("compiled shingles has the HOF form's type: a union with it, a " +
    "cached plan and a parquet round-trip all see one type") {
    val df = Seq("the cat sat", null, "").toDF("text")
    val compiled = df.select(graft.functions.Shingles(col("text"), 2).as("s"))
    val hof = df.select(hofShingles(col("text"), 2).as("s"))
    val t = hof.schema("s").dataType
    assert(compiled.schema("s").dataType == t)
    assert(compiled.union(hof).schema("s").dataType == t)
    assert(compiled.cache().schema("s").dataType == t)
    compiled.unpersist()
    val path = java.nio.file.Files.createTempDirectory("graft_shingles").toString + "/s"
    compiled.write.parquet(path)
    assert(spark.read.parquet(path).schema("s").dataType == t)
  }
}
