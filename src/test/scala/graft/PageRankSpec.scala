package graft

import graft.operators.PageRank
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val verts = Seq("a", "b", "c", "d")
  val edges = Seq(("a", "b", 3L), ("b", "a", 1L), ("c", "a", 1L), ("c", "b", 1L))

  /** Independent scalar model of the same integer recurrence. */
  private def model(iters: Int, scale: Long): Map[String, Long] = {
    val base = scale / verts.size
    val teleport = 15L * base / 100L
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = verts.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val inflow = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, w) => r(s) * w / outw(s) }.sum
      }
      r = verts.map(v => v -> (teleport + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  private def run(iters: Int, scale: Long): Map[String, Long] =
    PageRank.run(verts.toDF("node"), edges.toDF("src", "dst", "w"), iters, scale)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("matches the scalar integer recurrence exactly (weights, floor divs)") {
    assert(run(3, 1000000L) == model(3, 1000000L))
  }

  test("zero iterations returns the uniform base rank") {
    assert(run(0, 1000L) == verts.map(_ -> 250L).toMap)
  }

  test("vertices with no in-edges hold teleport-only rank; receivers exceed it") {
    val r = run(5, 1000000L)
    val teleport = 15L * (1000000L / 4) / 100L
    assert(r("d") == teleport)         // isolated: pure teleport
    assert(r("c") == teleport)         // out-edges only: same
    assert(r("a") > teleport && r("b") > teleport) // both receive real mass
  }

  test("runBoundedLocal is bit-identical to the distributed dataflow on " +
    "randomized graphs, and the node bound fails loudly (r21)") {
    // the fixture graph across several iteration counts
    (0 to 4).foreach { it =>
      val local = PageRank.runBoundedLocal(
          verts.toDF("node"), edges.toDF("src", "dst", "w"), it, maxNodes = 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(local == run(it, 1000000000000L),
        s"bounded-local diverged at iterations=$it")
    }
    // randomized graphs: weights, multi-sources, spine nodes without
    // edges, edge endpoints outside the spine (inner-join semantics)
    val rnd = new scala.util.Random(13)
    (1 to 4).foreach { _ =>
      val n = 3 + rnd.nextInt(8)
      val vs = (0 until n).map(i => s"v$i")
      val es = (0 until n * 2).map { _ =>
        (s"v${rnd.nextInt(n + 2)}", s"v${rnd.nextInt(n + 2)}",
          1L + rnd.nextInt(9))
      }.groupBy(e => (e._1, e._2))
        .map { case ((s, d), g) => (s, d, g.map(_._3).sum) }.toSeq
      val distributed = PageRank.run(
          vs.toDF("node"), es.toDF("src", "dst", "w"), 4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val local = PageRank.runBoundedLocal(
          vs.toDF("node"), es.toDF("src", "dst", "w"), 4, maxNodes = 16)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(local == distributed)
    }
    // loudness contract: a graph past the declared bound must throw
    intercept[IllegalArgumentException] {
      PageRank.runBoundedLocal(
        verts.toDF("node"), edges.toDF("src", "dst", "w"), 1, maxNodes = 2)
    }
  }

  test("runBoundedLocal requires distinct node ids: a duplicated vertex " +
    "row throws instead of diverging from run") {
    // run joins the edges once per vertex ROW, so a duplicated node
    // would push its outflow twice there; the local twin keys by node
    intercept[IllegalArgumentException] {
      PageRank.runBoundedLocal((verts :+ "a").toDF("node"),
        edges.toDF("src", "dst", "w"), 2, maxNodes = 8)
    }
  }
}
