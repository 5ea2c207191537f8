package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** BPE tokenizer TRAINING (Sennrich et al. 2016; the GPT-2 construction
  * whose APPLY side is [[BpeTokenizer]]/q_chunk_tokens_bpe): learn the
  * top-R merges from the corpus itself.
  *
  * The scale formulation is the classic weighted-vocabulary trick: BPE
  * statistics depend only on the DISTINCT pre-token multiset, so the
  * corpus is read ONCE into (word, freq) — one distributed aggregate,
  * and Heaps' law keeps that table orders of magnitude smaller than the
  * corpus. Training then runs on the driver, as production trainers
  * (HuggingFace tokenizers, SentencePiece) run it once the corpus pass
  * is done:
  *
  *   1. the vocab is collected ONCE through [[Iterate.collectBounded]],
  *      at most [[VocabBound]] rows; a larger vocab throws
  *      IllegalArgumentException after reading bound + 1 rows, it is
  *      never silently pulled whole;
  *   2. adjacent-pair counts are one in-memory table, (x, y) → cnt
  *      weighted by freq, plus a pair → words postings map, so a round
  *      rewrites only the words that hold the merged pair and updates
  *      the table by their ± delta (an exact recount restricted to the
  *      changed words, so the table equals a full recount by induction);
  *   3. argmax pair by (count DESC, x ASC, y ASC) — the pinned
  *      deterministic tie-break, a scan of the table;
  *   4. the merge sweeps each changed word left to right, appending to
  *      an accumulator and replacing its LAST element when
  *      (last == x && e == y) — the same fold as the DuckDB oracle's
  *      replay, which differs from a skip-two sweep when x + y == x.
  *
  * A pair holding a null symbol is never counted: the sweep can never
  * merge it. The schedule past the oracle's 8-round unroll ceiling is
  * pinned merge-for-merge against an independent scalar trainer and the
  * distributed reference twin by BpeTrainerSpec.
  *
  * Reference tie: the reference consumes a pretrained tokenizer
  * implicitly through its embedding model (SURVEY §0); training one is
  * the capability a 100 TB corpus pipeline adds on top (tokenizers are
  * fit on the corpus being curated).
  *
  * Determinism contract (shared with the DuckDB oracle): symbols are
  * exact strings, counts exact BIGINTs, the tie-break total, and the
  * greedy sweep is the same left-to-right fold both engines run —
  * so the learned merge table is hash-identical cross-engine.
  */
object BpeTrainer {

  /** One learned merge: (rank, lhs, rhs, pair_freq). */
  private[graft] type Merge = (Long, String, String, Long)

  /** The most distinct (s, freq) vocab rows training collects. */
  private[graft] val VocabBound = 1 << 18

  /** The weighted pre-token vocabulary of a single-space corpus:
    * (s = per-char symbol array with the GPT-2 Ġ prefix on non-initial
    * words, freq). One corpus pass.
    */
  def weightedVocab(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(posexplode(split(textCol, " ")).as(Seq("pos", "w")))
      .select(concat(when(col("pos") === 0, lit(""))
        .otherwise(lit("Ġ")), col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("s"), col("freq"))

  /** The base-alphabet size of a weighted vocab: distinct single-char
    * symbols across every word (one bounded distinct aggregate — the
    * alphabet is at most the charset). This is the vocab-size floor a
    * target-vocab training counts merges from.
    */
  def alphabetSize(vocab: DataFrame): Long =
    vocab.select(explode(col("s")).as("c"))
      .agg(count_distinct(col("c")).as("n")).head().getLong(0)

  /** Train up to `rounds` merges over a weighted vocab; returns
    * (rank, lhs, rhs, pair_freq) in rank order, as a LocalRelation.
    * Stops early when:
    *  - no adjacent pair remains;
    *  - the best pair's corpus frequency falls below `minPairFreq`
    *    (the min_frequency stop of production BPE trainers — also the
    *    guard against learning noise merges from a low-entropy tail).
    *    SOUND STOP: the max pair count is non-increasing across rounds
    *    (a merge xy occurs exactly count(x,y) times, so every pair it
    *    creates has count ≤ the count just merged — the argmax; all
    *    other counts only shrink), so "first round below the floor"
    *    ends training for good, which is also what lets the SQL oracle
    *    replay this as a simple `cnt >= floor` filter on the unrolled
    *    rounds;
    *  - the vocabulary reaches `targetVocab` tokens (the vocab_size
    *    stop real tokenizer training targets): vocab size is counted
    *    as base alphabet + merges learned, each merge minting one new
    *    token — the standard convention, which both engines can count
    *    without materializing the symbol set per round.
    * Throws IllegalArgumentException when the vocab holds more than
    * [[VocabBound]] rows.
    */
  def train(vocab0: DataFrame, rounds: Int, minPairFreq: Long = 1L,
      targetVocab: Int = Int.MaxValue): DataFrame = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    fit(vocab0, rounds, minPairFreq, targetVocab)._2
      .toDF("rank", "lhs", "rhs", "pair_freq")
  }

  /** [[train]] with the base-alphabet size ([[alphabetSize]]) of the
    * same collected vocab: (alphabet, merges in rank order), from one
    * vocab pass.
    */
  private[graft] def fit(vocab: DataFrame, rounds: Int, minPairFreq: Long = 1L,
      targetVocab: Int = Int.MaxValue): (Long, Seq[Merge]) = {
    val rows = Iterate.collectBounded(
        vocab.select(col("s"), col("freq").cast("long")), VocabBound)(
      s"BpeTrainer: the weighted vocab holds more than $VocabBound words — " +
        "training keeps the vocab on the driver and is bounded by that size")
    val words = rows.map(r => Option(r.getSeq[String](0)).fold(Array.empty[String])(_.toArray))
    val freqs = rows.map(_.getLong(1))
    // count_distinct skips null symbols
    val alphabet = words.iterator.flatten.filter(_ != null).toSet.size.toLong
    val maxMerges =
      if (targetVocab == Int.MaxValue) rounds.toLong
      else math.min(rounds.toLong, math.max(targetVocab.toLong - alphabet, 0L))
    (alphabet, schedule(words, freqs, maxMerges, minPairFreq))
  }

  /** One merge sweep over a symbol array: left to right, append each
    * symbol to an accumulator, or replace the accumulator's last element
    * by x + y when (last == x && e == y). A null symbol never matches.
    */
  private[graft] def sweep(w: Array[String], x: String, y: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](w.length)
    for (e <- w)
      if (e != null && e == y && out.nonEmpty && out.last != null && out.last == x)
        out(out.length - 1) = x + y
      else out += e
    out.toArray
  }

  private def pairs(w: Array[String]): Iterator[(String, String)] =
    w.iterator.zip(w.iterator.drop(1)).filter(p => p._1 != null && p._2 != null)

  /** The merge loop over a collected vocab. `words` is rewritten in
    * place as merges fuse symbols.
    */
  private def schedule(words: Array[Array[String]], freqs: Array[Long],
      maxMerges: Long, minPairFreq: Long): Seq[Merge] = {
    val counts = mutable.HashMap.empty[(String, String), Long]
    val postings = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    for (i <- words.indices; p <- pairs(words(i))) {
      counts(p) = counts.getOrElse(p, 0L) + freqs(i)
      postings.getOrElseUpdate(p, mutable.Set.empty) += i
    }
    val merges = Seq.newBuilder[Merge]
    var r = 1L
    var stop = false
    while (r <= maxMerges && !stop) {
      val top = counts.iterator.reduceOption[((String, String), Long)] {
        case (a @ ((ax, ay), ac), b @ ((bx, by), bc)) =>
          if (bc > ac || (bc == ac && (bx < ax || (bx == ax && by < ay)))) b
          else a
      }
      if (top.isEmpty || top.get._2 < minPairFreq) stop = true
      else {
        val ((x, y), cnt) = top.get
        merges += ((r, x, y, cnt))
        val delta = mutable.HashMap.empty[(String, String), Long]
        for (i <- postings.getOrElse((x, y), mutable.Set.empty[Int]).toArray) {
          val prev = words(i)
          val next = sweep(prev, x, y)
          if (next.length < prev.length) {
            for (p <- pairs(prev)) {
              delta(p) = delta.getOrElse(p, 0L) - freqs(i)
              postings.get(p).foreach { ws =>
                ws -= i
                if (ws.isEmpty) postings.remove(p)
              }
            }
            for (p <- pairs(next)) {
              delta(p) = delta.getOrElse(p, 0L) + freqs(i)
              postings.getOrElseUpdate(p, mutable.Set.empty) += i
            }
            words(i) = next
          }
        }
        for ((k, d) <- delta) {
          val n = counts.getOrElse(k, 0L) + d
          if (n > 0L) counts(k) = n else counts.remove(k)
        }
        r += 1
      }
    }
    merges.result()
  }
}
