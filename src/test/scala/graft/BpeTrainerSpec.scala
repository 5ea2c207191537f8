package graft

import graft.operators.{BpeTrainer, BpeTwins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed trainer fixtures plus an independent plain-Scala
  * replay of q_bpe_train at sf0.001.
  */
class BpeTrainerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Independent greedy sweep + trainer loop over a weighted vocab. */
  private def referenceTrain(vocab0: Map[Vector[String], Long],
      rounds: Int): Seq[(Long, String, String, Long)] = {
    var vocab = vocab0
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1L
    var go = true
    while (r <= rounds && go) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((w, f) <- vocab; i <- 0 until w.length - 1)
        counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + f
      if (counts.isEmpty) go = false
      else {
        val ((x, y), cnt) = counts.toSeq
          .minBy { case ((x, y), c) => (-c, x, y) }
        out += ((r, x, y, cnt))
        vocab = vocab.toSeq.map { case (w, f) =>
          val b = Vector.newBuilder[String]
          var j = 0
          while (j < w.length) {
            if (j < w.length - 1 && w(j) == x && w(j + 1) == y) {
              b += x + y; j += 2
            } else { b += w(j); j += 1 }
          }
          (b.result(), f)
        }.groupMapReduce(_._1)(_._2)(_ + _)
        r += 1
      }
    }
    out.result()
  }

  /** The 300-merge fixture corpus: three documents over a seeded
    * 180-word lexicon of letters a–l.
    */
  private lazy val fixtureTexts: IndexedSeq[String] = {
    val rnd = new scala.util.Random(1234)
    val letters = "abcdefghijkl"
    val lexicon = (0 until 180).map { _ =>
      val len = 3 + rnd.nextInt(8)
      (0 until len).map(_ => letters(rnd.nextInt(letters.length))).mkString
    }
    // skewed pick (min of two uniforms) → Zipf-ish repetition, so pair
    // counts separate and the argmax is exercised, not just ties
    def word() = lexicon(
      math.min(rnd.nextInt(lexicon.length), rnd.nextInt(lexicon.length)))
    (0 until 3).map(_ => (0 until 400).map(_ => word()).mkString(" "))
  }

  private def fixtureDocs: DataFrame =
    fixtureTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  private def schedule(df: DataFrame): Seq[(Long, String, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("mergeOnce: leftmost-greedy, non-overlapping, boundary-safe") {
    val df = Seq(
      Seq("a", "a", "a"),          // odd run: merge (1,2) only
      Seq("a", "a", "a", "a"),     // even run: two merges
      Seq("b", "a", "c"),          // no adjacency
      Seq("xa", "a")               // last symbol ENDS with x but is not x
    ).toDF("s").select(BpeTwins.mergeOnce(col("s"), "a", "a").as("s"))
    assert(df.collect().map(_.getSeq[String](0).toSeq).toSeq == Seq(
      Seq("aa", "a"), Seq("aa", "aa"), Seq("b", "a", "c"), Seq("xa", "a")))
  }

  test("mergeOnce equals the reference sweep on 300 seeded random words " +
    "over an overlap-prone alphabet") {
    val rnd = new scala.util.Random(41)
    val alphabet = Vector("a", "b", "aa", "ab", "ba", "Ġ")
    val pairs = Vector(("a", "a"), ("a", "b"), ("aa", "a"), ("b", "aa"),
      ("Ġ", "a"), ("ab", "ab"))
    def sweep(w: Vector[String], x: String, y: String): Vector[String] = {
      val b = Vector.newBuilder[String]; var j = 0
      while (j < w.length) {
        if (j < w.length - 1 && w(j) == x && w(j + 1) == y) { b += x + y; j += 2 }
        else { b += w(j); j += 1 }
      }
      b.result()
    }
    for ((x, y) <- pairs) {
      val words = (0 until 50).map { _ =>
        Vector.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length)))
      }
      val got = words.toDF("s")
        .select(BpeTwins.mergeOnce(col("s"), x, y).as("s"))
        .collect().map(_.getSeq[String](0).toVector).toSeq
      assert(got == words.map(sweep(_, x, y)),
        s"divergence for pair ($x, $y)")
    }
  }

  test("train on a tiny corpus: ranks, ties, and cascading merges") {
    // words: "low low low" + "er": freqs low=2·? build via two docs
    val docs = Seq((0L, "low low lower"), (1L, "low lowest")).toDF("doc_id", "text")
    val vocab = BpeTrainer.weightedVocab(docs, col("text"))
    // independent replay from the same word model
    val words = Seq("low", "Ġlow", "Ġlower", "low", "Ġlowest")
    val ref = referenceTrain(
      words.groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong },
      rounds = 4)
    val got = BpeTrainer.train(vocab, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == ref)
    // sanity on the fixture itself: (l,o) and (o,w) both appear 5x;
    // lexicographic tie-break must pick (l,o) first
    assert(got.head._2 == "l" && got.head._3 == "o")
  }

  test("q_bpe_train_apply at sf0.001: per-doc counts match ascending-sweep " +
    "replay of the independently learned merges") {
    val d = TestSpark.sf0001
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val vocab0 = docs.flatMap { case (_, t) =>
        t.split(" ", -1).zipWithIndex.map { case (w, i) => if (i == 0) w else "Ġ" + w }
      }.groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong }
    val merges = referenceTrain(vocab0, rounds = 8).map(m => (m._2, m._3))
    def sweep(w: Vector[String], x: String, y: String): Vector[String] = {
      val b = Vector.newBuilder[String]
      var j = 0
      while (j < w.length) {
        if (j < w.length - 1 && w(j) == x && w(j + 1) == y) { b += x + y; j += 2 }
        else { b += w(j); j += 1 }
      }
      b.result()
    }
    val expect = docs.map { case (id, t) =>
      val words = t.split(" ", -1).zipWithIndex
        .map { case (w, i) => if (i == 0) w else "Ġ" + w }
      id -> words.map { w =>
        merges.foldLeft(w.map(_.toString).toVector) {
          case (s, (x, y)) => sweep(s, x, y) }.length.toLong
      }.sum
    }.toSeq
    val got = queries.Analysis.queries("q_bpe_train_apply")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("q_bpe_train at sf0.001 matches an independent in-spec trainer run") {
    val d = TestSpark.sf0001
    val words = Tables.documents(spark, d).select(col("text"))
      .collect().flatMap { r =>
        val ws = r.getString(0).split(" ", -1)
        ws.zipWithIndex.map { case (w, i) => if (i == 0) w else "Ġ" + w }
      }
    val vocab0 = words.groupBy(identity).map { case (w, ws) =>
      w.map(_.toString).toVector -> ws.length.toLong }
    val ref = referenceTrain(vocab0, rounds = 8)
    val got = queries.Analysis.queries("q_bpe_train")(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == ref)
    assert(got.length == 8)
  }
  test("the argmax pair count never increases across merge rounds — the " +
    "invariant the floor oracle's cnt>=floor filter is sound by — on " +
    "300 seeded random vocabs") {
    val rnd = new scala.util.Random(20260815)
    val syms = Vector("a", "b", "c")
    for (_ <- 1 to 300) {
      val vocab: Map[Vector[String], Long] =
        Vector.fill(1 + rnd.nextInt(8)) {
          Vector.fill(1 + rnd.nextInt(6))(syms(rnd.nextInt(syms.size))) ->
            (1L + rnd.nextInt(50))
        }.groupMapReduce(_._1)(_._2)(_ + _)
      val counts = referenceTrain(vocab, rounds = 12).map(_._4)
      assert(counts == counts.sorted.reverse,
        s"argmax count increased across rounds: $counts for $vocab")
    }
  }

  test("min-frequency floor stops training at the first sub-floor round " +
    "and the floor is prefix-sound (max pair count never increases)") {
    // low-entropy corpus: one dominant pair, then a long noise tail
    val vocab = Seq(
      (Seq("a", "b"), 100L),
      (Seq("c", "d"), 3L),
      (Seq("e", "f"), 2L))
      .toDF("s", "freq")
    val got = BpeTrainer.train(vocab, rounds = 8, minPairFreq = 50L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, "a", "b", 100L)),
      "training must stop once the best pair is below the floor")
    // prefix soundness on a corpus where merges CREATE new pairs: the
    // realized ranks are exactly the >=floor prefix of the unbounded run
    val rich = Seq(
      (Seq("a", "b", "c"), 40L),
      (Seq("a", "b", "d"), 30L),
      (Seq("x", "y"), 25L))
      .toDF("s", "freq")
    val full = BpeTrainer.train(rich, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val floors = full.map(_._4)
    assert(floors == floors.sorted.reverse, "max pair count increased across rounds")
    val floored = BpeTrainer.train(rich, rounds = 8, minPairFreq = 30L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(floored == full.takeWhile(_._4 >= 30L))
  }

  test("target vocab size stops after targetVocab - |alphabet| merges") {
    val vocab = Seq(
      (Seq("a", "b", "c"), 10L),
      (Seq("b", "c", "d"), 6L))
      .toDF("s", "freq")
    assert(BpeTrainer.alphabetSize(vocab) == 4L) // a b c d
    val got = BpeTrainer.train(vocab, rounds = 8, targetVocab = 6)
      .collect()
    assert(got.length == 2, "vocab 6 = 4 base symbols + 2 merges")
    assert(BpeTrainer.train(vocab, rounds = 8, targetVocab = 4).collect().isEmpty,
      "target at the alphabet floor learns nothing")
    assert(BpeTrainer.train(vocab, rounds = 8, targetVocab = 100).collect().length
      == BpeTrainer.train(vocab, rounds = 8).collect().length,
      "an unreachable target defers to the round budget")
  }

  test("train past the 8-round oracle ceiling: 300 merges on a seeded " +
    "fixture corpus match the scalar reference merge-for-merge") {
    // the DuckDB oracle unrolls at most 8 rounds (documented cost
    // ceiling), so realistic merge counts rest on this spec: a corpus
    // rich enough to sustain hundreds of merges, validated against the
    // same independent scalar trainer the 8-round oracles cross-check
    val docTexts = fixtureTexts
    val docs = fixtureDocs
    val vocab0 = docTexts.flatMap { t =>
        t.split(" ", -1).zipWithIndex
          .map { case (w, i) => if (i == 0) w else "Ġ" + w }
      }.groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong }
    val ref = referenceTrain(vocab0, rounds = 300)
    assert(ref.length == 300, s"fixture must sustain 300 merges, got ${ref.length}")
    val t0 = System.nanoTime()
    val got = BpeTrainer.train(
        BpeTrainer.weightedVocab(docs, col("text")), rounds = 300)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"300 merges in $secs%.1fs (${secs / 300 * 1000}%.0f ms/round)")
    assert(got == ref,
      "engine schedule diverged from the scalar reference past round 8")
  }

  test("q_bpe_train_vocab and q_bpe_train_floor at sf0.001 are prefixes of " +
    "q_bpe_train's schedule under their own stopping rules") {
    val d = TestSpark.sf0001
    val full = queries.Analysis.queries("q_bpe_train")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val vocabQ = queries.Analysis.queries("q_bpe_train_vocab")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val alpha = BpeTrainer.alphabetSize(BpeTrainer.weightedVocab(
      Tables.documents(spark, d), col("text")))
    assert(vocabQ == full.take(math.max(31 - alpha.toInt, 0)))
    val floorQ = queries.Analysis.queries("q_bpe_train_floor")(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(floorQ == full.takeWhile(_._4 >= 2000L))
  }

  test("the driver-local sweep equals mergeOnce on random words holding " +
    "\"\" and null symbols (x + y == x when y is \"\")") {
    val rnd = new scala.util.Random(97)
    val alphabet = Vector("a", "b", "ab", "", null)
    val pairs = Vector(("a", "b"), ("a", ""), ("", ""), ("", "a"), ("ab", ""), ("a", "a"))
    for ((x, y) <- pairs) {
      val words = (0 until 60).map { _ =>
        Vector.fill(rnd.nextInt(9))(alphabet(rnd.nextInt(alphabet.length)))
      }
      val want = words.toDF("s").select(BpeTwins.mergeOnce(col("s"), x, y).as("s"))
        .collect().map(_.getSeq[String](0).toVector).toSeq
      assert(words.map(w => BpeTrainer.sweep(w.toArray, x, y).toVector) == want,
        s"divergence for pair ($x, $y)")
    }
    assert(BpeTrainer.sweep(Array("a", "", ""), "a", "").toSeq == Seq("a"),
      "the fold compares against the accumulator's last element")
  }

  test("the driver-local trainer equals the distributed twin on the " +
    "300-merge fixture") {
    val vocab = BpeTrainer.weightedVocab(fixtureDocs, col("text"))
    val got = schedule(BpeTrainer.train(vocab, rounds = 300))
    assert(got.length == 300)
    assert(got == schedule(BpeTwins.train(vocab, rounds = 300)))
  }

  test("the driver-local trainer equals the distributed twin under " +
    "minPairFreq and targetVocab") {
    val vocab = BpeTrainer.weightedVocab(fixtureDocs, col("text"))
    val full = schedule(BpeTrainer.train(vocab, rounds = 30))
    val alphabet = BpeTrainer.alphabetSize(vocab).toInt
    val floor = full(11)._4 + 1
    for ((minPairFreq, targetVocab) <- Seq((floor, Int.MaxValue),
        (1L, alphabet + 7), (floor, alphabet + 20), (1L, alphabet))) {
      val got = schedule(BpeTrainer.train(vocab, 30, minPairFreq, targetVocab))
      assert(got.length < full.length && got == full.take(got.length))
      assert(got == schedule(BpeTwins.train(vocab, 30, minPairFreq, targetVocab)),
        s"minPairFreq $minPairFreq, targetVocab $targetVocab")
    }
  }
}
