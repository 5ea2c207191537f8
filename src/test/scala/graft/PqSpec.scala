package graft

import graft.operators.{Encoding, KMeansOp, PqTwins, ProductQuantizer}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the product quantizer, plus independent
  * plain-Scala replays of q_pq_codes / q_ann_pq / q_recall_pq at sf0.001.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The DISTINCT probed cells of a pinned (qid, vector) probe frame,
    * collected in their own job — the two-job reference spelling
    * (pin, then collect) that [[ProductQuantizer.pinProbesWithCells]]
    * fuses into one action. Evaluates the same
    * [[ProductQuantizer.probeCellArr]] expression the serving joins do.
    */
  private def collectProbeCells(probes: ProductQuantizer.PinnedProbes,
      coarse: Seq[(Long, Seq[Long])], nProbe: Int,
      v: org.apache.spark.sql.Column = col("v")): Seq[Long] =
    probes.df
      .select(explode(slice(ProductQuantizer.probeCellArr(coarse, v), 1, nProbe))
        .as("pc"))
      .select(col("pc.cid")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** 2 subspaces × 1 dim, codebooks given directly: encode must pick the
    * nearest entry per subspace independently, ties to the lower cid.
    *
    * scaled: v10=(0,0) v11=(1e6,1e6) v12=(4e5,1e6).
    * books: sub0 {0:(0), 1:(1e6)}, sub1 {0:(0), 1:(1e6)}.
    * v12 sub0: d(0)=16e10 < d(1e6)=36e10 → 0; sub1 → 1.
    */
  test("encode: per-subspace argmin with lower-cid ties") {
    import spark.implicits._
    val vecs = Seq(
      (10L, Seq(0L, 0L)),
      (11L, Seq(1000000L, 1000000L)),
      (12L, Seq(400000L, 1000000L)),
    ).toDF("vec_id", "v")
    val books = Seq(
      Seq(0L -> Seq(0L), 1L -> Seq(1000000L)),
      Seq(0L -> Seq(0L), 1L -> Seq(1000000L)))
    val got = ProductQuantizer.encode(vecs, books, subDim = 1)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((10L, 0L, 0L), (11L, 1L, 1L), (12L, 0L, 1L)))

    // exact tie at 5e5: both entries distance 25e10 → cid 0 wins
    val tie = Seq((0L, Seq(500000L, 500000L))).toDF("vec_id", "v")
    val t = ProductQuantizer.encode(tie, books, subDim = 1).head()
    assert(t.getLong(1) == 0L && t.getLong(2) == 0L)
  }

  test("adcTopK sums the per-subspace LUT entries and orders (adc, id)") {
    import spark.implicits._
    val codes = Seq((0L, 0L, 1L), (1L, 1L, 0L), (2L, 0L, 0L))
      .toDF("vec_id", "code_0", "code_1")
    val luts = Seq(Map(0L -> 10L, 1L -> 7L), Map(0L -> 5L, 1L -> 2L))
    // adc: v0=10+2=12, v1=7+5=12, v2=10+5=15 → tie v0<v1, then v2
    val got = PqTwins.adcTopK(codes, luts, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 12L), (1L, 12L), (2L, 15L)))
  }

  /** Independent plain-Scala PQ replay shared by the sf0.001 tests:
    * same integer contract, same seed convention, no Spark. */
  private def referencePq(d: String): (
      Map[Long, Array[Long]],              // vec_id -> full int vector
      Seq[Seq[(Long, Array[Long])]],       // per-subspace codebooks
      Map[Long, Array[Long]]) = {          // vec_id -> codes
    val m = 4; val subDim = 16; val k = 8; val iters = 2
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .sortBy(_._1)
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val books = (0 until m).map { s =>
      val sub = vecs.map { case (id, v) => id -> v.slice(s * subDim, (s + 1) * subDim) }
      val subById = sub.toMap
      var cents: Seq[(Long, Array[Long])] = sub.take(k).toSeq
      def assign() = sub.map { case (id, v) =>
        id -> cents.map { case (c, cv) => (c, dist(v, cv)) }
          .minBy { case (c, dd) => (dd, c) }._1
      }
      for (_ <- 1 to iters) {
        cents = assign().groupBy(_._2).toSeq.map { case (cid, members) =>
          val vs = members.map(mm => subById(mm._1))
          cid -> Array.tabulate(subDim)(j =>
            math.floor(vs.map(_(j)).sum.toDouble / vs.length).toLong)
        }.sortBy(_._1)
      }
      cents
    }
    val codes = vecs.map { case (id, v) =>
      id -> Array.tabulate(m) { s =>
        val sv = v.slice(s * subDim, (s + 1) * subDim)
        books(s).map { case (c, cv) => (c, dist(sv, cv)) }
          .minBy { case (c, dd) => (dd, c) }._1
      }
    }.toMap
    (vecs.toMap, books, codes)
  }

  test("q_pq_codes at sf0.001 matches an independent in-spec PQ run") {
    val d = TestSpark.sf0001
    val (_, _, codes) = referencePq(d)
    val got = queries.SemanticQ.queries("q_pq_codes")(spark, d).collect()
      .map(r => r.getLong(0) -> Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.length == 500)
    got.foreach { case (id, cs) =>
      assert(cs.toSeq == codes(id).toSeq, s"codes mismatch for vec $id")
    }
  }

  test("q_ann_pq at sf0.001: ADC top-10 matches brute force over the codes") {
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qv = vecs(0L)
    val luts = books.zipWithIndex.map { case (book, s) =>
      val qs = qv.slice(s * subDim, (s + 1) * subDim)
      book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
    }
    val expect = codes.toSeq.map { case (id, cs) =>
      id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum
    }.sortBy { case (id, adc) => (adc, id) }.take(10)
    val got = queries.SemanticQ.queries("q_ann_pq")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("q_ann_ivfpq at sf0.001: coarse-cell filter + ADC matches brute force") {
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qv = vecs(0L)
    // independent coarse quantizer: same 2-round integer Lloyd on the
    // FULL vectors (the KMeansSpec replay, reduced to centroids)
    val sorted = vecs.toSeq.sortBy(_._1)
    var cents: Seq[(Long, Array[Long])] = sorted.take(8).map(v => v._1 -> v._2)
    def assign() = sorted.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (c, dist(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }._1
    }
    for (_ <- 1 to 2) {
      cents = assign().groupBy(_._2).toSeq.map { case (cid, members) =>
        val vs = members.map(m => vecs(m._1))
        cid -> Array.tabulate(vs.head.length)(j =>
          math.floor(vs.map(_(j)).sum.toDouble / vs.length).toLong)
      }.sortBy(_._1)
    }
    val cellOf = assign().toMap
    val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
      .sortBy { case (cid, dd) => (dd, cid) }.take(2).map(_._1).toSet
    val luts = books.zipWithIndex.map { case (book, s) =>
      val qs = qv.slice(s * subDim, (s + 1) * subDim)
      book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
    }
    val expect = codes.toSeq
      .filter { case (id, _) => probed.contains(cellOf(id)) }
      .map { case (id, cs) =>
        id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum }
      .sortBy { case (id, adc) => (adc, id) }.take(10)
    val got = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)

    // the composed recall monitor, against the same brute-force replay
    val exact10 = vecs.toSeq.map { case (id, v) => (id, dist(v, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val hits = (exact10 & expect.map(_._1).toSet).size
    val row = queries.SemanticQ.queries("q_recall_ivfpq")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 100000L)
  }

  test("ivfpq plan: one shuffle-free scan — no Exchange outside the top-k") {
    val plan = queries.SemanticQ.queries("q_ann_ivfpq")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    // both quantizers are literal argmins: no join, no hash exchange; the
    // only ordering operator is the global top-k itself
    assert(!plan.contains("Exchange hashpartitioning"),
      s"ivfpq scan should not shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k should be TakeOrderedAndProject:\n$plan")
  }

  test("q_ann_pq_batch at sf0.001: per-probe top-3 matches brute force and " +
    "the single-probe query") {
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = Seq(0L, 1L, 2L).flatMap { qid =>
      val luts = books.zipWithIndex.map { case (book, s) =>
        val qs = vecs(qid).slice(s * subDim, (s + 1) * subDim)
        book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
      }
      codes.toSeq.map { case (id, cs) =>
        id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum
      }.sortBy { case (id, adc) => (adc, id) }.take(3).zipWithIndex
        .map { case ((id, adc), i) => (qid, (i + 1).toLong, id, adc) }
    }
    val got = queries.SemanticQ.queries("q_ann_pq_batch")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // cross-check: qid 0's batch rows are the head of the single-probe top-10
    val single = queries.SemanticQ.queries("q_ann_pq")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.take(3)
    assert(got.filter(_._1 == 0L).map(r => (r._3, r._4)) == single)
  }

  test("pq batch plan: LUT relation broadcasts; one aggregation exchange") {
    val plan = queries.SemanticQ.queries("q_ann_pq_batch")(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"LUT relation did not broadcast:\n$plan")
    // the (qid, vec) ADC aggregation is the only hash exchange; the rank
    // window reuses its partitioning or adds at most one more
    // the bounded probe-frame qid-dedup is checkpointed before the
    // serving plan, so exchanges stay at the (qid, vec) ADC
    // aggregation + the qid rank window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"unexpected extra shuffles:\n$plan")
  }

  test("q_ann_ivfpq_batch at sf0.001: per-probe coarse filter + ADC " +
    "matches brute force") {
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // independent coarse quantizer (the ivfpq replay)
    val sorted = vecs.toSeq.sortBy(_._1)
    var cents: Seq[(Long, Array[Long])] = sorted.take(8).map(v => v._1 -> v._2)
    def assign() = sorted.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (c, dist(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }._1
    }
    for (_ <- 1 to 2) {
      cents = assign().groupBy(_._2).toSeq.map { case (cid, members) =>
        val vs = members.map(m => vecs(m._1))
        cid -> Array.tabulate(vs.head.length)(j =>
          math.floor(vs.map(_(j)).sum.toDouble / vs.length).toLong)
      }.sortBy(_._1)
    }
    val cellOf = assign().toMap
    val expect = Seq(0L, 1L, 2L).flatMap { qid =>
      val qv = vecs(qid)
      val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
        .sortBy { case (cid, dd) => (dd, cid) }.take(2).map(_._1).toSet
      val luts = books.zipWithIndex.map { case (book, s) =>
        val qs = qv.slice(s * subDim, (s + 1) * subDim)
        book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
      }
      codes.toSeq
        .filter { case (id, _) => probed.contains(cellOf(id)) }
        .map { case (id, cs) =>
          id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum }
        .sortBy { case (id, adc) => (adc, id) }.take(3).zipWithIndex
        .map { case ((id, adc), i) => (qid, (i + 1).toLong, id, adc) }
    }
    val got = queries.SemanticQ.queries("q_ann_ivfpq_batch")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // the filtered batch serves qid 0 identically to single-probe ivfpq's head
    val single = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.take(3)
    assert(got.filter(_._1 == 0L).map(r => (r._3, r._4)) == single)
  }

  test("q_recall_ivfpq_batch at sf0.001: hits recomputed from both the " +
    "exact and coarse-filtered-batch sides") {
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sorted = vecs.toSeq.sortBy(_._1)
    var cents: Seq[(Long, Array[Long])] = sorted.take(8).map(v => v._1 -> v._2)
    def assign() = sorted.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (c, dist(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }._1
    }
    for (_ <- 1 to 2) {
      cents = assign().groupBy(_._2).toSeq.map { case (cid, members) =>
        val vs = members.map(m => vecs(m._1))
        cid -> Array.tabulate(vs.head.length)(j =>
          math.floor(vs.map(_(j)).sum.toDouble / vs.length).toLong)
      }.sortBy(_._1)
    }
    val cellOf = assign().toMap
    val hits = Seq(0L, 1L, 2L).map { qid =>
      val qv = vecs(qid)
      val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
        .sortBy { case (cid, dd) => (dd, cid) }.take(2).map(_._1).toSet
      val luts = books.zipWithIndex.map { case (book, s) =>
        val qs = qv.slice(s * subDim, (s + 1) * subDim)
        book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
      }
      val approx3 = codes.toSeq
        .filter { case (id, _) => probed.contains(cellOf(id)) }
        .map { case (id, cs) =>
          id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum }
        .sortBy { case (id, adc) => (adc, id) }.take(3).map(_._1).toSet
      val exact3 = vecs.toSeq.map { case (id, v) => (id, dist(v, qv)) }
        .sortBy { case (id, dd) => (dd, id) }.take(3).map(_._1).toSet
      (exact3 & approx3).size
    }.sum
    val row = queries.SemanticQ.queries("q_recall_ivfpq_batch")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 1000000L / 9L)
  }

  test("ivfpq batch plan: cell filter joins BEFORE the ADC melt, both " +
    "small relations broadcast, exchanges stay at aggregation + rank") {
    val df = queries.SemanticQ.queries("q_ann_ivfpq_batch")(spark, TestSpark.sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"probe-cell list and LUT relation must both broadcast:\n$plan")
    // the bounded probe-frame qid-dedup is checkpointed before the
    // serving plan, so exchanges stay at the (qid, vec) ADC
    // aggregation + the qid rank window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"unexpected extra shuffles:\n$plan")
    // the coarse filter must prune the scan before the per-subspace
    // melt: the cell join sits BELOW the generate (posexplode) node
    val gen = plan.indexOf("Generate")
    val cellJoin = plan.lastIndexOf("BroadcastHashJoin")
    assert(gen >= 0 && cellJoin > gen,
      s"cell filter should apply below the ADC melt:\n$plan")
  }

  test("q_ann_ivfpq_res at sf0.001: residual encoding matches brute force") {
    val d = TestSpark.sf0001
    val (vecs, _, _) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // coarse quantizer (same replay as the ivfpq test)
    val sorted = vecs.toSeq.sortBy(_._1)
    var cents: Seq[(Long, Array[Long])] = sorted.take(8).map(v => v._1 -> v._2)
    def assign() = sorted.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (c, dist(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }._1
    }
    for (_ <- 1 to 2) {
      cents = assign().groupBy(_._2).toSeq.map { case (cid, members) =>
        val vs = members.map(m => vecs(m._1))
        cid -> Array.tabulate(vs.head.length)(j =>
          math.floor(vs.map(_(j)).sum.toDouble / vs.length).toLong)
      }.sortBy(_._1)
    }
    val centById = cents.toMap
    val cellOf = assign().toMap
    // integer residuals, residual sub-codebooks, residual codes
    val residual: Map[Long, Array[Long]] = vecs.map { case (id, v) =>
      id -> v.zip(centById(cellOf(id))).map { case (x, c) => x - c }
    }
    val resSorted = residual.toSeq.sortBy(_._1)
    val books = (0 until 4).map { s =>
      val sub = resSorted.map { case (id, r) => id -> r.slice(s * subDim, (s + 1) * subDim) }
      val subById = sub.toMap
      var bc: Seq[(Long, Array[Long])] = sub.take(8).map(v => v._1 -> v._2)
      def asg() = sub.map { case (id, r) =>
        id -> bc.map { case (c, cv) => (c, dist(r, cv)) }
          .minBy { case (c, dd) => (dd, c) }._1
      }
      for (_ <- 1 to 2) {
        bc = asg().groupBy(_._2).toSeq.map { case (cid, members) =>
          val rs = members.map(m => subById(m._1))
          cid -> Array.tabulate(subDim)(j =>
            math.floor(rs.map(_(j)).sum.toDouble / rs.length).toLong)
        }.sortBy(_._1)
      }
      bc
    }
    val codes = residual.map { case (id, r) =>
      id -> Array.tabulate(4) { s =>
        val rv = r.slice(s * subDim, (s + 1) * subDim)
        books(s).map { case (c, cv) => (c, dist(rv, cv)) }
          .minBy { case (c, dd) => (dd, c) }._1
      }
    }
    // probe: 2 nearest coarse cells; per-cell query-residual LUTs
    val qv = vecs(0L)
    val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
      .sortBy { case (cid, dd) => (dd, cid) }.take(2).map(_._1)
    val lutByCell = probed.map { c =>
      val qr = qv.zip(centById(c)).map { case (x, cc) => x - cc }
      c -> books.zipWithIndex.map { case (book, s) =>
        val qs = qr.slice(s * subDim, (s + 1) * subDim)
        book.map { case (cid, cv) => cid -> dist(cv, qs) }.toMap
      }
    }.toMap
    val expect = codes.toSeq
      .filter { case (id, _) => probed.contains(cellOf(id)) }
      .map { case (id, cs) =>
        id -> cs.zipWithIndex.map { case (c, s) => lutByCell(cellOf(id))(s)(c) }.sum }
      .sortBy { case (id, adc) => (adc, id) }.take(10)
    val got = queries.SemanticQ.queries("q_ann_ivfpq_res")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("q_ann_ivfpq_res_batch at sf0.001 matches a scalar replay probe " +
    "for probe; plan keeps broadcasts + the exchange bound") {
    val d = TestSpark.sf0001
    val (vecs, _, _) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val (cents, cellOf) = referenceCoarse(vecs)
    val centById = cents.toMap
    val residual: Map[Long, Array[Long]] = vecs.map { case (id, v) =>
      id -> v.zip(centById(cellOf(id))).map { case (x, c) => x - c }
    }
    val resSorted = residual.toSeq.sortBy(_._1)
    val books = (0 until 4).map { s =>
      val sub = resSorted.map { case (id, r) =>
        id -> r.slice(s * subDim, (s + 1) * subDim) }
      val subById = sub.toMap
      var bc: Seq[(Long, Array[Long])] = sub.take(8).map(v => v._1 -> v._2)
      def asg() = sub.map { case (id, r) =>
        id -> bc.map { case (c, cv) => (c, dist(r, cv)) }
          .minBy { case (c, dd) => (dd, c) }._1
      }
      for (_ <- 1 to 2) {
        bc = asg().groupBy(_._2).toSeq.map { case (cid, members) =>
          val rs = members.map(m => subById(m._1))
          cid -> Array.tabulate(subDim)(j =>
            math.floor(rs.map(_(j)).sum.toDouble / rs.length).toLong)
        }.sortBy(_._1)
      }
      bc
    }
    val codes = residual.map { case (id, r) =>
      id -> Array.tabulate(4) { s =>
        val rv = r.slice(s * subDim, (s + 1) * subDim)
        books(s).map { case (c, cv) => (c, dist(rv, cv)) }
          .minBy { case (c, dd) => (dd, c) }._1
      }
    }
    val expect = Seq(0L, 1L, 2L).flatMap { qid =>
      val qv = vecs(qid)
      val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
        .sortBy { case (cid, dd) => (dd, cid) }.take(2).map(_._1)
      val lutByCell = probed.map { c =>
        val qr = qv.zip(centById(c)).map { case (x, cc) => x - cc }
        c -> books.zipWithIndex.map { case (book, s) =>
          val qs = qr.slice(s * subDim, (s + 1) * subDim)
          book.map { case (cid, cv) => cid -> dist(cv, qs) }.toMap
        }
      }.toMap
      codes.toSeq
        .filter { case (id, _) => probed.contains(cellOf(id)) }
        .map { case (id, cs) =>
          id -> cs.zipWithIndex.map { case (c, s) => lutByCell(cellOf(id))(s)(c) }.sum }
        .sortBy { case (id, adc) => (adc, id) }.take(3).zipWithIndex
        .map { case ((id, adc), i) => (qid, (i + 1).toLong, id, adc) }
    }
    val df = queries.SemanticQ.queries("q_ann_ivfpq_res_batch")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"probe-cell list and per-cell LUT relation must both broadcast:\n$plan")
    // the bounded probe-frame qid-dedup is checkpointed before the
    // serving plan, so exchanges stay at the (qid, vec) ADC
    // aggregation + the qid rank window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"probe-side residual work added shuffles:\n$plan")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    // qid 0's rows must equal the single-probe residual search's head
    val single = queries.SemanticQ.queries("q_ann_ivfpq_res")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.take(3)
    assert(got.filter(_._1 == 0L).map(r => (r._3, r._4)) == single)
  }

  test("code table partitioned by cell: ADC probe prunes to the probed " +
    "directories and serves the same top-10") {
    val d = TestSpark.sf0001
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Pq)
    val (cents, books) = (q.coarse, q.books)
    val vecs = Tables.embeddings(spark, d).select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    val path = java.nio.file.Files.createTempDirectory("graft_pq_part")
      .toString + "/codes"
    // the persisted index: one directory per coarse cell
    q.project(Tables.embeddings(spark, d))
      .write.partitionBy("cell").parquet(path)
    // serve the vec_id=0 probe from the layout
    val qv = vecs.where(col("vec_id") === 0L).select(col("v"))
      .collect().head.getSeq[Long](0)
    val probeCells = cents
      .map { case (cid, c) => (cid, KMeansOp.intDistLocal(c.toArray, qv.toArray)) }
      .sortBy { case (cid, dd) => (dd, cid) }.take(2).map(_._1)
    val luts = ProductQuantizer.adcTables(qv, books, 16)
    val scan = spark.read.parquet(path)
      .where(col("cell").isin(probeCells: _*))
    val physical = scan.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters") && physical.contains("cell"),
      s"cell filter did not reach partition pruning:\n$physical")
    val served = PqTwins.adcTopK(scan, luts, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = queries.SemanticQ.queries("q_ann_ivfpq")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == batch, "partition-pruned serving diverged from batch IVFADC")
  }

  test("q_recall_pq at sf0.001: hits recomputed from both exact and ADC sides") {
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qv = vecs(0L)
    val exact = vecs.toSeq.map { case (id, v) => (id, dist(v, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val luts = books.zipWithIndex.map { case (book, s) =>
      val qs = qv.slice(s * subDim, (s + 1) * subDim)
      book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
    }
    val pq = codes.toSeq.map { case (id, cs) =>
      id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum
    }.sortBy { case (id, adc) => (adc, id) }.take(10).map(_._1).toSet
    val hits = (exact & pq).size
    val row = queries.SemanticQ.queries("q_recall_pq")(spark, d).head()
    assert(row.getLong(0) == hits.toLong)
    assert(row.getLong(1) == hits.toLong * 100000L)
    // the probe itself (vec_id 0, ADC distance to its own codes' cells)
    // should always survive compression into the top-10
    assert(pq.contains(0L), "query vector fell out of its own PQ top-10")
  }

  /** Coarse quantizer replay (k=8, 2-round integer Lloyd) shared by the
    * batch-dataflow tests: (centroids, vec_id -> cell).
    */
  private def referenceCoarse(vecs: Map[Long, Array[Long]])
      : (Seq[(Long, Array[Long])], Map[Long, Long]) = {
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sorted = vecs.toSeq.sortBy(_._1)
    var cents: Seq[(Long, Array[Long])] = sorted.take(8).map(v => v._1 -> v._2)
    def assign() = sorted.map { case (id, v) =>
      id -> cents.map { case (c, cv) => (c, dist(v, cv)) }
        .minBy { case (c, dd) => (dd, c) }._1
    }
    for (_ <- 1 to 2) {
      cents = assign().groupBy(_._2).toSeq.map { case (cid, members) =>
        val vs = members.map(m => vecs(m._1))
        cid -> Array.tabulate(vs.head.length)(j =>
          math.floor(vs.map(_(j)).sum.toDouble / vs.length).toLong)
      }.sortBy(_._1)
    }
    (cents, assign().toMap)
  }

  /** 300 deterministic probes off the sf0.001 corpus (perturbed corpus
    * vectors under fresh qids).
    */
  private def generatedProbes(vecs: Map[Long, Array[Long]])
      : Seq[(Long, Array[Long])] = {
    val sorted = vecs.toSeq.sortBy(_._1)
    (0 until 300).map { i =>
      val base = sorted((i * 7) % sorted.length)._2
      (10000L + i) -> base.map(_ + ((i % 13) - 6))
    }
  }

  test("annIvfPqBatch dataflow at 300 generated probes matches a scalar " +
    "replay; exchanges stay bounded regardless of probe count") {
    import spark.implicits._
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val (cents, cellOf) = referenceCoarse(vecs)
    val probes = generatedProbes(vecs)
    val expect = probes.flatMap { case (qid, qv) =>
      val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
        .sortBy { case (cid, dd) => (dd, cid) }.take(2).map(_._1).toSet
      val luts = books.zipWithIndex.map { case (book, s) =>
        val qs = qv.slice(s * subDim, (s + 1) * subDim)
        book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
      }
      codes.toSeq
        .filter { case (id, _) => probed.contains(cellOf(id)) }
        .map { case (id, cs) =>
          id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum }
        .sortBy { case (id, adc) => (adc, id) }.take(3).zipWithIndex
        .map { case ((id, adc), i) => (qid, (i + 1).toLong, id, adc) }
    }
    val probesDf = probes.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "v")
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Pq)
    val df = q.serve(q.project(Tables.embeddings(spark, d)), probesDf,
      nProbe = 2, k = 3)
    // probe-side work must not add shuffles: exchanges stay at the
    // (qid, vec) aggregation + the qid rank window (plan captured
    // BEFORE execution — the post-AQE string duplicates every node
    // across its Final/Initial sections)
    val plan = df.queryExecution.executedPlan.toString
    // the bounded probe-frame qid-dedup is checkpointed before the
    // serving plan, so exchanges stay at the (qid, vec) ADC
    // aggregation + the qid rank window
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2,
      s"probe-side dataflow added shuffles:\n$plan")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("nProbe sweep {1,2,4,8}: each width matches its scalar replay, " +
    "candidate coverage of the exact top-3 is monotone, and probing " +
    "every cell equals unfiltered PQ") {
    import spark.implicits._
    val d = TestSpark.sf0001
    val (vecs, books, codes) = referencePq(d)
    val subDim = 16
    def dist(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val (cents, cellOf) = referenceCoarse(vecs)
    val probes = generatedProbes(vecs).take(50)
    val exact3 = probes.map { case (qid, qv) =>
      qid -> vecs.toSeq.map { case (id, v) => (id, dist(v, qv)) }
        .sortBy { case (id, dd) => (dd, id) }.take(3).map(_._1).toSet
    }.toMap
    val probesDf = probes.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "v")
    val q = queries.SemanticQ.quantizers(spark, d, Encoding.Pq)
    val indexed = q.project(Tables.embeddings(spark, d))
    def scalarAt(nProbe: Int): Seq[(Long, Long, Long, Long)] =
      probes.flatMap { case (qid, qv) =>
        val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
          .sortBy { case (cid, dd) => (dd, cid) }.take(nProbe).map(_._1).toSet
        val luts = books.zipWithIndex.map { case (book, s) =>
          val qs = qv.slice(s * subDim, (s + 1) * subDim)
          book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
        }
        codes.toSeq
          .filter { case (id, _) => probed.contains(cellOf(id)) }
          .map { case (id, cs) =>
            id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum }
          .sortBy { case (id, adc) => (adc, id) }.take(3).zipWithIndex
          .map { case ((id, adc), i) => (qid, (i + 1).toLong, id, adc) }
      }
    // candidate coverage: how much of the exact top-3 the probed cells
    // even CONTAIN — the loss nProbe buys back. Probed-cell sets nest
    // as nProbe widens, so this IS monotone (end recall is not: a wider
    // candidate pool can displace a true hit on approximate distance).
    def coverageAt(nProbe: Int): Int = probes.map { case (qid, qv) =>
      val probed = cents.map { case (cid, c) => (cid, dist(c, qv)) }
        .sortBy { case (cid, dd) => (dd, cid) }.take(nProbe).map(_._1).toSet
      exact3(qid).count(id => probed.contains(cellOf(id)))
    }.sum
    val sweep = Seq(1, 2, 4, 8).map { nProbe =>
      val got = q.serve(indexed, probesDf, nProbe, k = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == scalarAt(nProbe), s"engine != scalar replay at nProbe=$nProbe")
      nProbe -> coverageAt(nProbe)
    }
    sweep.sliding(2).foreach {
      case Seq((np1, c1), (np2, c2)) =>
        assert(c1 <= c2, s"coverage regressed widening nProbe $np1→$np2: $c1 > $c2")
      case _ => ()
    }
    // nProbe = k: the coarse filter is vacuous — the result must equal
    // the plain (unfiltered) PQ ADC top-3 per probe
    val full = q.serve(indexed, probesDf, nProbe = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val plainPq = probes.flatMap { case (qid, qv) =>
      val luts = books.zipWithIndex.map { case (book, s) =>
        val qs = qv.slice(s * subDim, (s + 1) * subDim)
        book.map { case (cid, c) => cid -> dist(c, qs) }.toMap
      }
      codes.toSeq.map { case (id, cs) =>
        id -> cs.zipWithIndex.map { case (c, s) => luts(s)(c) }.sum }
        .sortBy { case (id, adc) => (adc, id) }.take(3).zipWithIndex
        .map { case ((id, adc), i) => (qid, (i + 1).toLong, id, adc) }
    }
    assert(full == plainPq)
  }

  test("duplicated probe rows are deduped, not silently dropped: batch " +
    "serving over a probe frame with repeats equals the unique frame " +
    "on BOTH encodings") {
    import spark.implicits._
    val d = TestSpark.sf0001
    val vecsDf = Tables.embeddings(spark, d).select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    val probes = vecsDf.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    // each qid appears 3x — without the qid-dedup, probe-cell and LUT
    // rows fan out and the nsub === m exactness filter drops EVERY
    // candidate for the duplicated qids (zero rows instead of top-3)
    val dup = probes.unionAll(probes).unionAll(probes)
    val coarse = queries.SemanticQ.trainedCentroids(spark, d)
    val plainBooks = queries.SemanticQ.quantizers(spark, d, Encoding.Pq).books
    val resBooks = queries.SemanticQ.quantizers(spark, d, Encoding.ResidualPq).books
    val subDim = 16
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val plainIdx = queries.SemanticQ.quantizers(spark, d, Encoding.Pq)
      .project(Tables.embeddings(spark, d))
    assert(rows(PqTwins.adcBatchServe(
        plainIdx, dup, coarse, plainBooks, subDim, 2, 3)) ==
      rows(PqTwins.adcBatchServe(
        plainIdx, probes, coarse, plainBooks, subDim, 2, 3)))
    assert(rows(PqTwins.adcBatchServe(
      plainIdx, dup, coarse, plainBooks, subDim, 2, 3)).nonEmpty)
    val resIdx = queries.SemanticQ.quantizers(spark, d, Encoding.ResidualPq)
      .project(Tables.embeddings(spark, d))
    assert(rows(PqTwins.adcBatchServeResidual(
        resIdx, dup, coarse, resBooks, subDim, 2, 3)) ==
      rows(PqTwins.adcBatchServeResidual(
        resIdx, probes, coarse, resBooks, subDim, 2, 3)))
  }

  test("exactly ONE checkpoint job on the pre-pinned batch path: serving " +
    "a PinnedProbes frame triggers zero eager jobs at construction, and " +
    "matches the DataFrame entry's results on both encodings") {
    import spark.implicits._
    val d = TestSpark.sf0001
    val vecsDf = Tables.embeddings(spark, d).select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    val probes = vecsDf.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    val coarse = queries.SemanticQ.trainedCentroids(spark, d)
    val plainBooks = queries.SemanticQ.quantizers(spark, d, Encoding.Pq).books
    val resBooks = queries.SemanticQ.quantizers(spark, d, Encoding.ResidualPq).books
    val subDim = 16
    val plainIdx = queries.SemanticQ.quantizers(spark, d, Encoding.Pq)
      .project(Tables.embeddings(spark, d))
    val resIdx = queries.SemanticQ.quantizers(spark, d, Encoding.ResidualPq)
      .project(Tables.embeddings(spark, d))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the r19 regression shape: pin for the listing prune, then serve.
      // The pin is ONE eager job; collectProbeCells is ONE collect job;
      // handing the witness to the serve overloads must add ZERO eager
      // jobs (the r19 code re-pinned here — a third job per batch query)
      // the listener bus is async (and its waitUntilEmpty is
      // private[spark]) — poll until the count holds still for a full
      // 500 ms window, so a loaded host's late event delivery can't
      // fake stability (review r20)
      def settled(): Int = {
        var stableFor = 0
        var cur = jobs.get()
        var waited = 0
        while (stableFor < 500 && waited < 10000) {
          Thread.sleep(100); waited += 100
          val next = jobs.get()
          if (next == cur) stableFor += 100 else { stableFor = 0; cur = next }
        }
        cur
      }
      val pinned = PqTwins.pinProbes(probes)
      val cells = collectProbeCells(pinned, coarse, 2)
      assert(cells.nonEmpty)
      val afterPin = settled()
      assert(afterPin > 0, "the pin itself is eager")
      val servedPlain = PqTwins.adcBatchServe(
        plainIdx, pinned, coarse, plainBooks, subDim, 2, 3)
      val servedRes = PqTwins.adcBatchServeResidual(
        resIdx, pinned, coarse, resBooks, subDim, 2, 3)
      assert(settled() == afterPin,
        s"constructing the pre-pinned serves must trigger no eager job " +
          s"(saw ${jobs.get() - afterPin} extra) — the r19 double-pin " +
          s"is back if this fires")
      // the DataFrame entry PAYS the pin at construction — the delta
      // the witness overload shaves off every already-pinned batch query
      val viaWrapper = PqTwins.adcBatchServe(
        plainIdx, probes, coarse, plainBooks, subDim, 2, 3)
      assert(settled() > afterPin,
        "the un-pinned entry should have pinned eagerly at construction")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(rows(servedPlain) == rows(viaWrapper))
      assert(rows(servedRes) == rows(PqTwins.adcBatchServeResidual(
        resIdx, probes, coarse, resBooks, subDim, 2, 3)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("pinProbesWithCells: one action replaces pin + collectProbeCells — " +
    "same cells, same served rows, zero further eager jobs at serve " +
    "construction (r21 fused pin)") {
    import spark.implicits._
    val d = TestSpark.sf0001
    val vecsDf = Tables.embeddings(spark, d).select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    val probes = vecsDf.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    val coarse = queries.SemanticQ.trainedCentroids(spark, d)
    val plainBooks = queries.SemanticQ.quantizers(spark, d, Encoding.Pq).books
    val subDim = 16
    val plainIdx = queries.SemanticQ.quantizers(spark, d, Encoding.Pq)
      .project(Tables.embeddings(spark, d))
    // reference: the two-job spelling
    val refPinned = PqTwins.pinProbes(probes)
    val refCells = collectProbeCells(refPinned, coarse, 2)
    // fused: one action; a duplicated probe row must still dedup
    val (pinned, cells) = ProductQuantizer.pinProbesWithCells(
      probes.union(probes), coarse, 2)
    assert(cells == refCells, "fused cells diverged from collectProbeCells")
    assert(pinned.df.count() == probes.count(), "fused pin must dedup on qid")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settled(): Int = {
        var stableFor = 0
        var cur = jobs.get()
        var waited = 0
        while (stableFor < 500 && waited < 10000) {
          Thread.sleep(100); waited += 100
          val next = jobs.get()
          if (next == cur) stableFor += 100 else { stableFor = 0; cur = next }
        }
        cur
      }
      val before = settled()
      val served = PqTwins.adcBatchServe(
        plainIdx, pinned, coarse, plainBooks, subDim, 2, 3)
      assert(settled() == before,
        "serving a fused-pinned frame must trigger no eager job at construction")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(rows(served) == rows(PqTwins.adcBatchServe(
        plainIdx, refPinned, coarse, plainBooks, subDim, 2, 3)),
        "fused-pinned serve diverged from checkpoint-pinned serve")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q_recall_shortlist_ann: the compressed-index shortlist's recall " +
    "against the exact flat shortlist, replayed from the two queries") {
    val d = TestSpark.sf0001
    val exact = queries.PipelineQ.shortlist(spark, d).collect()
      .map(_.getString(0)).toSet
    val ann = queries.SemanticQ.queries("q_shortlist_ann")(spark, d).collect()
      .map(_.getString(0)).toSet
    val hits = (exact & ann).size.toLong
    val row = queries.SemanticQ.queries("q_recall_shortlist_ann")(spark, d).head()
    assert(row.getLong(0) == hits)
    assert(row.getLong(1) == hits * 1000000L / 5L)
  }

  test("q_recall_ivfpq_res at sf0.001: hits recomputed from the exact " +
    "and residual-ADC sides") {
    import spark.implicits._
    val d = TestSpark.sf0001
    val vecs = Tables.embeddings(spark, d).select(col("vec_id"),
      KMeansOp.intVec(col("embedding")).as("v"))
    val qv = vecs.where(col("vec_id") === 0L).select(col("v"))
      .as[Seq[Long]].head()
    val exact = vecs
      .select(col("vec_id"), KMeansOp.intDist(col("v"), typedLit(qv)).as("dd"))
      .orderBy(col("dd").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val approx = queries.SemanticQ.queries("q_ann_ivfpq_res")(spark, d)
      .collect().map(_.getLong(0)).toSet
    val hits = (exact & approx).size.toLong
    val row = queries.SemanticQ.queries("q_recall_ivfpq_res")(spark, d).head()
    assert(row.getLong(0) == hits)
    assert(row.getLong(1) == hits * 1000000L / 10L)
  }

  test("SQ8 codec edges: amax = 0 and a constant dimension code to 0 in " +
    "the array form, the maintained per-column form and the driver " +
    "mirror; the constant dimension decodes to floor(vmn·10^6)") {
    import spark.implicits._
    import graft.streaming.IndexStream
    val coarse = Seq(0L -> Seq(0L, 0L))
    // the array forms, with the trained scales as columns in scope
    def sq8Codes(v: Column, amax: Column) =
      transform(v, e => ProductQuantizer.sq8Code(e, amax))
    def sq8DimCode(v: Column) = transform(v, (e, i) => ProductQuantizer.sq8DimCode(
      e, element_at(col("vmn"), i + 1), element_at(col("vmx"), i + 1)))
    def sq8DimDecode(c: Column) = transform(c, (x, i) => ProductQuantizer.sq8DimDecode(
      x, element_at(col("vmn"), i + 1), element_at(col("vmx"), i + 1)))
    def liveCodes(rows: Seq[(Long, Seq[Float])], q: IndexStream.Quantizers) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_sq8_edge").toString
      IndexStream.processBatchCdc(rows.toDF("vec_id", "embedding"), 1L, q, dir)
      IndexStream.liveCodes(spark, dir, q.m)
    }

    // global scale: an all-zero coordinate set trains amax = 0
    val zeros = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, -0.0f)))
    val zeroEmb = zeros.toDF("vec_id", "embedding")
    val amaxRel = zeroEmb.agg(ProductQuantizer.amaxExpr(col("embedding")).as("amax"))
    assert(amaxRel.head().getDouble(0) == 0.0)
    // the array form, with amax a column of the trained relation (the
    // persisted tiers' spelling: the `when` is decided per row)
    val arrayCodes = zeroEmb.crossJoin(amaxRel)
      .select(sq8Codes(col("embedding"), col("amax")))
      .as[Seq[Long]].collect().toSeq
    assert(arrayCodes == Seq(Seq(0L, 0L), Seq(0L, 0L)))
    // the per-column form under a frozen literal scale
    val colCodes = liveCodes(zeros, IndexStream.Quantizers(coarse, Nil, 2,
        Encoding.Sq8(0.0)))
      .select(col("code_0"), col("code_1")).as[(Long, Long)].collect().toSeq
    assert(colCodes == Seq((0L, 0L), (0L, 0L)))
    // the driver mirror
    assert(zeros.flatMap(_._2).map(e =>
      ProductQuantizer.sq8CodeLocal(e.toDouble, 0.0)) == Seq(0L, 0L, 0L, 0L))

    // per-dim scales: dimension 0 is constant (vmn == vmx)
    val rows = Seq((0L, Seq(0.1f, 1.5f)), (1L, Seq(0.1f, -2.0f)),
      (2L, Seq(0.1f, 0.25f)))
    val emb = rows.toDF("vec_id", "embedding")
    val Encoding.Sq8Dim(vmn, vmx) =
      Encoding.train(Encoding.Sq8Dim, emb, coarse, 1, 1, 1, 2).encoding
    val scales = Seq((vmn, vmx)).toDF("vmn", "vmx")
    assert(vmn.head == vmx.head && vmn.head == 0.1f.toDouble)
    val floorMn = math.floor(vmn.head * 1000000.0).toLong
    assert(floorMn == 100000L)
    // the array forms: code, and decode of the code
    val arr = emb.crossJoin(scales)
      .select(col("vec_id"), sq8DimCode(col("embedding")).as("code"),
        sq8DimDecode(sq8DimCode(col("embedding"))).as("dq"))
      .orderBy("vec_id").as[(Long, Seq[Long], Seq[Long])].collect().toSeq
    assert(arr.map(_._2.head) == Seq(0L, 0L, 0L))
    assert(arr.map(_._3.head) == Seq(floorMn, floorMn, floorMn))
    // the per-column forms under the frozen literal scales, against the
    // array forms dimension by dimension
    val maintained = liveCodes(rows, IndexStream.Quantizers(coarse, Nil, 2,
        Encoding.Sq8Dim(vmn, vmx)))
      .select(col("vec_id"), col("code_0"), col("code_1"),
        ProductQuantizer.sq8DimDecode(col("code_0"), lit(vmn(0)), lit(vmx(0))),
        ProductQuantizer.sq8DimDecode(col("code_1"), lit(vmn(1)), lit(vmx(1))))
      .orderBy("vec_id").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(maintained.map(r => (r._1, Seq(r._2, r._3), Seq(r._4, r._5))) == arr)
  }
}
