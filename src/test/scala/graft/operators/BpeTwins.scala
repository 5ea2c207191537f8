package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference spellings the specs check [[BpeTrainer]] against: the
  * Column merge fold the DuckDB oracle replays, and the distributed
  * trainer (a `localCheckpoint` vocab pass per round, pair counts held
  * on the driver and updated by each round's collected ± delta).
  */
object BpeTwins {

  /** One merge sweep: collapse every leftmost-greedy (x, y) adjacency
    * in a symbol array — `aggregate` fold appending to an array acc,
    * replacing its last element when (last == x && e == y). `get`
    * (null out-of-bounds, never an error) keeps the empty-acc first
    * step in the append branch.
    */
  def mergeOnce(s: Column, x: String, y: String): Column =
    aggregate(s, array().cast("array<string>"),
      (acc, e) =>
        when(e === lit(y) && get(acc, size(acc) - 1) === lit(x),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
          .otherwise(concat(acc, array(e))))

  /** Raw freq-weighted adjacent-pair rows of a (s, freq) frame —
    * (x, y, cnt) UNAGGREGATED, so per-round deltas can union into one
    * single-partition aggregation.
    */
  private def rawPairRows(v: DataFrame): DataFrame =
    v.where(size(col("s")) >= 2)
      .select(col("freq").as("cnt"), explode(expr(
        "transform(sequence(0, size(s) - 2), i -> struct(s[i] AS x, s[i + 1] AS y))"))
        .as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("cnt"))

  /** [[BpeTrainer.train]]'s contract, trained as Spark rounds: per round
    * one `mergeOnce` pass over the checkpointed vocab (changed words keep
    * their pre-merge symbols beside the merged ones) and one collected
    * delta aggregate over the changed words.
    */
  def train(vocab0: DataFrame, rounds: Int, minPairFreq: Long = 1L,
      targetVocab: Int = Int.MaxValue): DataFrame = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    var vocab = vocab0.localCheckpoint()
    val maxMerges =
      if (targetVocab == Int.MaxValue) rounds.toLong
      else math.min(rounds.toLong,
        math.max(targetVocab.toLong - BpeTrainer.alphabetSize(vocab), 0L))
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    rawPairRows(vocab).groupBy(col("x"), col("y")).agg(sum(col("cnt")).as("cnt"))
      .collect().foreach(r => counts((r.getString(0), r.getString(1))) = r.getLong(2))
    val merges = scala.collection.mutable.Buffer[(Long, String, String, Long)]()
    var r = 1
    var continue = true
    while (r <= maxMerges && continue) {
      val top = counts.iterator.reduceOption[((String, String), Long)] {
        case (a @ ((ax, ay), ac), b @ ((bx, by), bc)) =>
          if (bc > ac || (bc == ac && (bx < ax || (bx == ax && by < ay)))) b
          else a
      }
      if (top.isEmpty || top.get._2 < minPairFreq) continue = false
      else {
        val ((x, y), cnt) = top.get
        merges += ((r.toLong, x, y, cnt))
        val staged = vocab
          .select(mergeOnce(col("s"), x, y).as("s"),
            col("s").as("prev0"), col("freq"))
          .select(col("s"),
            when(size(col("s")) < size(col("prev0")), col("prev0")).as("prev"),
            col("freq"))
          .localCheckpoint()
        val changed = staged.where(col("prev").isNotNull)
        val delta = rawPairRows(
            changed.select(col("prev").as("s"), (-col("freq")).as("freq")))
          .unionByName(rawPairRows(changed.select(col("s"), col("freq"))))
          .coalesce(1)
          .groupBy(col("x"), col("y")).agg(sum(col("cnt")).as("cnt"))
          .collect()
        delta.foreach { d =>
          val k = (d.getString(0), d.getString(1))
          val next = counts.getOrElse(k, 0L) + d.getLong(2)
          if (next > 0L) counts(k) = next else counts.remove(k)
        }
        vocab = staged.select(col("s"), col("freq"))
        r += 1
      }
    }
    merges.toSeq.toDF("rank", "lhs", "rhs", "pair_freq")
      .orderBy(col("rank").asc)
  }
}
