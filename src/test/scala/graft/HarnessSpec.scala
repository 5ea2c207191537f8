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
}
