package graft

import graft.operators.{ConnectedComponents, IterativeTwins}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nodes(ids: Long*): DataFrame = ids.toDF("id")
  private def edges(es: (Long, Long)*): DataFrame = es.toDF("id_a", "id_b")

  private def run(n: DataFrame, e: DataFrame): Map[Long, Long] =
    IterativeTwins.components(n, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain collapses to its minimum id (diameter > 1 propagation)") {
    val got = run(nodes(1L, 2L, 3L, 4L, 5L), edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("two cliques and a singleton stay separate components") {
    val got = run(
      nodes(1L, 2L, 3L, 10L, 11L, 12L, 99L),
      edges((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("edge direction does not matter (high id listed first)") {
    val got = run(nodes(1L, 2L, 3L), edges((3L, 1L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star graph converges in one propagation round") {
    val got = run(nodes(5L, 6L, 7L, 8L), edges((5L, 6L), (5L, 7L), (5L, 8L)))
    assert(got.values.toSet == Set(5L))
  }

  test("no edges: every node is its own component") {
    val got = run(nodes(4L, 7L), edges())
    assert(got == Map(4L -> 4L, 7L -> 7L))
  }

  test("random graphs match a driver-side union-find reference") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 20 + rnd.nextInt(20)
      val ids = (1L to n.toLong).toSeq
      val es = Seq.fill(n / 2)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
        .filter { case (a, b) => a != b }
      // union-find reference
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = ids.map(i => i -> find(i)).toMap
      assert(run(nodes(ids: _*), edges(es: _*)) == expect)
    }
  }

  test("maxRounds guard throws instead of returning a partial merge") {
    val chain = (1L until 12L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      IterativeTwins.components(nodes(1L to 12L: _*), edges(chain: _*), maxRounds = 2)
    }
  }

  private def runStar(n: DataFrame, e: DataFrame): Map[Long, Long] =
    ConnectedComponents.assignAlternatingStar(n, e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("alternating-star: 60-node chain converges where propagation's default bound cannot") {
    val n = 60
    val chain = (1L until n.toLong).map(i => (i, i + 1))
    val got = runStar(nodes(1L to n.toLong: _*), edges(chain: _*))
    assert(got.values.toSet == Set(1L))
    intercept[IllegalStateException] {
      IterativeTwins.components(nodes(1L to n.toLong: _*), edges(chain: _*), maxRounds = 25)
    }
  }

  test("alternating-star handles cliques, singletons, and reversed edges") {
    val got = runStar(
      nodes(1L, 2L, 3L, 10L, 11L, 12L, 99L),
      edges((3L, 1L), (2L, 3L), (10L, 11L), (12L, 10L), (11L, 12L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
  }

  test("alternating-star: adversarial 10k-node chain converges within 2·log2(n) rounds") {
    val n = 10000
    val bound = 2 * math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt // 28
    val chain = (1L until n.toLong).map(i => (i, i + 1))
    val got = ConnectedComponents.assignAlternatingStar(
      nodes(1L to n.toLong: _*), edges(chain: _*), maxRounds = bound)
    // converged (no IllegalStateException) within the bound, to one component
    assert(got.select("cluster_id").distinct().collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("adaptive resolver: shallow graphs converge in the quick phase, deep ones escalate") {
    // near-clique (diameter 2): quick propagation suffices
    val clique = ConnectedComponents.assignAdaptiveDistributed(
      nodes(1L, 2L, 3L, 4L), edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clique == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // 40-node chain: deeper than quickRounds — must escalate to the
    // star path and still fully converge
    val chain = (1L until 40L).map(i => (i, i + 1))
    val got = ConnectedComponents.assignAdaptiveDistributed(
      nodes(1L to 40L: _*), edges(chain: _*), quickRounds = 3)
      .collect().map(_.getLong(1)).toSet
    assert(got == Set(1L))
  }

  test("alternating-star matches min-label propagation on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 15 + rnd.nextInt(15)
      val ids = (1L to n.toLong).toSeq
      val es = Seq.fill(n)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
        .filter { case (a, b) => a != b }
      val expect = run(nodes(ids: _*), edges(es: _*))
      assert(runStar(nodes(ids: _*), edges(es: _*)) == expect)
    }
  }

  test("adaptive resolver's driver-local path equals min-label propagation " +
    "on random graphs with outside endpoints, duplicate node rows, " +
    "self-loops and isolated nodes") {
    val rnd = new scala.util.Random(2026)
    (1 to 6).foreach { _ =>
      val n = 20 + rnd.nextInt(20)
      // ids absent from the node set are endpoints outside it; n + 10 is
      // a node no edge touches
      val ids = (1L to n.toLong).filter(_ => rnd.nextInt(5) != 0) :+ (n + 10L)
      val nodeRows = ids ++ ids.filter(_ => rnd.nextInt(6) == 0)
      val es = Seq.fill(n / 2)((1L + rnd.nextInt(n + 5), 1L + rnd.nextInt(n + 5))) :+
        ((ids.head, ids.head))
      def rows(df: DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val want = rows(IterativeTwins.components(nodes(nodeRows: _*), edges(es: _*),
        maxRounds = 60))
      assert(want.length == nodeRows.length)
      assert(rows(ConnectedComponents.assignAdaptive(nodes(nodeRows: _*),
        edges(es: _*))) == want)
    }
  }
}
