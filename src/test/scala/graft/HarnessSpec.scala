package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harnesses' shared step loop and failure records: a failing
  * derivation is recorded with its cause chain instead of swallowed.
  */
class HarnessSpec extends AnyFunSuite {

  test("timeSteps times every step and records a failure with its causes") {
    var ran = Seq.empty[String]
    val (secs, errors) = Bench.timeSteps(Seq(
      "a" -> (() => { ran :+= "a" }),
      "b" -> (() => throw new IllegalStateException("boom",
        new java.io.IOException("disk \"full\""))),
      "c" -> (() => { ran :+= "c" })))
    assert(ran == Seq("a", "c"), "a failing step must not stop the loop")
    assert(secs.map(_._1) == Seq("a", "b", "c"))
    assert(errors.map(_._1) == Seq("b"))
    assert(Bench.derivationsJson(Nil, errors) ==
      """"derivations_sec":{},"derivation_errors":[{"name": "b", """ +
      """"class": "java.lang.IllegalStateException", "message": "boom", """ +
      """"causes": [{"class": "java.io.IOException", "message": "disk \"full\""}]}]""")
    assert(Jsons.failures("query", Nil) == "[]")
  }

  test("an unwritable bench artifact path prints one stderr line with the " +
    "path and the cause, and does not fail the bench") {
    // a path under a regular FILE can never be created
    val file = java.nio.file.Files.createTempFile("graft_bench_out", ".txt")
    val path = file.resolve("BENCH_LAST.json").toString
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err, true)) {
      Bench.writeArtifact(path, "{}")
    }
    val lines = err.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 1, s"expected one stderr line, got: $lines")
    assert(lines.head.contains(path) && lines.head.contains("Exception"),
      s"the line must name the path and the cause: ${lines.head}")
    java.nio.file.Files.delete(file)
  }
}
