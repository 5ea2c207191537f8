package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Interpreted HOF reference form of the minhash signature, the
    * cross-check for the native expression.
    */
  private def minhashSignatureHof(hashes: Column, nHashes: Int): Column = {
    require(nHashes <= Dedup.minhashA.size,
      s"at most ${Dedup.minhashA.size} hashes supported")
    transform(sequence(lit(0), lit(nHashes - 1)), i =>
      array_min(transform(hashes, h =>
        element_at(typedLit(Dedup.minhashA), i + 1) * h.bitwiseAND(lit(0x3FFFFFFFL))
          + element_at(typedLit(Dedup.minhashB), i + 1) * shiftright(h, 30)
          + i)))
  }

  val base: String = (1 to 30).map("w" + _).mkString(" ")
  lazy val docs = Seq(
    (1L, "b1", base),
    (2L, "b1", base.replace("w15", "changed")), // near-dup of 1 (1 of 30 tokens differs)
    (3L, "b1", "completely different words entirely unrelated content here now"),
    (4L, "b2", base),                           // exact dup of 1, other block
    (5L, "b2", "zeta eta theta iota kappa lambda mu nu xi omicron")
  ).toDF("id", "block", "text")

  test("exact dedup groups by content hash with min-id canonical") {
    val g = Dedup.exactGroups(docs, "text", "id")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(g.length == 4) // 1&4 collapse
    assert(g.contains((1L, 2L))) // canonical 1, two copies
  }

  test("blocked jaccard finds the near-dup pair, respects blocks") {
    val pairs = Dedup.jaccardPairs(docs, "id", "block",
        array_distinct(TextAnalysis.tokens(col("text"))), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // 1~4 identical but different blocks
  }

  test("minhash LSH finds near-identical docs via shingles") {
    // bands=6 × rows=2: candidate probability ≈ 1-(1-j²)^6 — ≈0.99 at the
    // j≈0.80 similarity of docs 1/2 (28 shingles, 25 shared)
    val pairs = Dedup.minhashNearDup(docs, "id",
        TextAnalysis.shingles(col("text"), 3), bands = 6, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dup: no blocking in LSH
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard values are in [0,1] and symmetric-by-construction (property)") {
    val j = Dedup.jaccardPairs(docs, "id", "block",
        array_distinct(TextAnalysis.tokens(col("text"))), 0.0)
      .collect().map(_.getDouble(2))
    assert(j.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("cosine near-dup pairs: identical vectors hit threshold, orthogonal don't") {
    val vecs = Seq(
      (1L, 0, Seq(1f, 0f, 0f)),
      (2L, 0, Seq(2f, 0f, 0f)),  // parallel to 1 → cos 1.0
      (3L, 0, Seq(0f, 5f, 0f)),  // orthogonal
      (4L, 1, Seq(1f, 0f, 0f))   // other block
    ).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.cosinePairs(vecs, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("prefix filtering bounds candidates on a pathological block") {
    // 100 mutually-disjoint docs plus one planted near-dup pair, ALL in one
    // block: raw block pairing would enumerate 102*101/2 = 5151 candidate
    // pairs; prefix filtering only pairs docs sharing a prefix element, so
    // the candidate set is exactly the planted pair.
    val disjoint = (1 to 100).map(i => (i.toLong, "big",
      (1 to 10).map(j => s"tok_${i}_$j").mkString(" ")))
    val near = Seq(
      (101L, "big", (1 to 30).map("shared" + _).mkString(" ")),
      (102L, "big", ((1 to 29).map("shared" + _) :+ "sharedX").mkString(" ")))
    val docs2 = (disjoint ++ near).toDF("id", "block", "text")
    val items = array_distinct(transform(TextAnalysis.tokens(col("text")),
      t => TextAnalysis.md5Hash60(t)))
    val toks = docs2.select(col("block"), col("id"),
        array_sort(items).as("items"))
      .withColumn("n", size(col("items")))
    val cands = Dedup.jaccardCandidatesHashed(toks, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set((101L, 102L)), s"candidates not bounded: $cands")
    val pairs = Dedup.jaccardPairsHashed(docs2, "id", "block", items, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((101L, 102L))) // 29/31 ≈ 0.935 >= 0.9
  }

  test("native minhash signature equals the HOF reference form") {
    val df = Tables.documents(spark, TestSpark.sf0001).limit(50)
      .select(col("doc_id"),
        transform(TextAnalysis.shingles(col("text"), 3),
          t => TextAnalysis.md5Hash60(t)).as("hashes"))
    val bad = df.select(
        Dedup.minhashSignatureFromHashes(col("hashes"), 12).as("nat"),
        minhashSignatureHof(col("hashes"), 12).as("hof"))
      .where(col("nat") =!= col("hof")).count()
    assert(bad == 0)
  }

  test("minhash signature estimates jaccard (agreement rate ≈ similarity)") {
    val a = (1 to 60).map("tok" + _)
    val b = (1 to 60).map("tok" + _).updated(0, "other1").updated(1, "other2")
    val df = Seq((1L, a), (2L, b)).toDF("id", "items")
    val sigs = df.select(Dedup.minhashSignature(col("items"), 16).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val agree = sigs(0).zip(sigs(1)).count { case (x, y) => x == y }
    assert(agree >= 10, s"expected most of 16 minhashes to agree for ~93% similar sets, got $agree")
  }

  test("incremental LSH equals full-pairs(all) minus full-pairs(existing)") {
    import org.apache.spark.sql.DataFrame
    val mk: String => String = suffix => (1 to 30).map("w" + _).mkString(" ") + " " + suffix
    val existing = Seq(
      (1L, mk("alpha")), (2L, mk("alpha beta")), (3L, "totally different content here now")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, mk("alpha")),                        // near-dup of 1 and 2
      (11L, "unrelated brand new words entirely") // no partner
    ).toDF("doc_id", "text")
    def sets(df: DataFrame): DataFrame =
      Dedup.hashedSets(df, "doc_id", TextAnalysis.shingles(col("text"), 3))
    def pairsOf(df: DataFrame): Set[(Long, Long)] =
      Dedup.minhashNearDup(df, "doc_id", TextAnalysis.shingles(col("text"), 3),
          bands = 4, rowsPerBand = 3, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = pairsOf(existing.union(fresh)) -- pairsOf(existing)
    val got = Dedup.minhashNearDupIncremental(sets(fresh), sets(existing),
        bands = 4, rowsPerBand = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.nonEmpty)                         // 10 pairs with 1 and/or 2
    assert(got.forall { case (a, b) => a >= 10L || b >= 10L }) // new side present
  }

  test("incremental LSH: re-ingested id supersedes the existing version") {
    import org.apache.spark.sql.DataFrame
    val mk: String => String = suffix => (1 to 30).map("w" + _).mkString(" ") + " " + suffix
    // id 2 exists with UNRELATED text; the new batch re-delivers id 2 as a
    // near-dup of id 1 — with stale rows superseded, the (1, 2) pair must
    // surface (min-over-copies against the stale version would kill it).
    val existing = Seq(
      (1L, mk("alpha")), (2L, "completely unrelated stale old content here")
    ).toDF("doc_id", "text")
    val fresh = Seq((2L, mk("alpha beta"))).toDF("doc_id", "text")
    def sets(df: DataFrame): DataFrame =
      Dedup.hashedSets(df, "doc_id", TextAnalysis.shingles(col("text"), 3))
    val got = Dedup.minhashNearDupIncremental(sets(fresh), sets(existing),
        bands = 4, rowsPerBand = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }
}
