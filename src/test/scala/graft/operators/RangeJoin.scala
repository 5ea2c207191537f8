package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binned range join — the interval/point join Spark has no native
  * strategy for. A raw `a.point BETWEEN b.lo AND b.hi` condition with no
  * equi key plans as BroadcastNestedLoopJoin (every point compared to
  * every interval — O(|P|·|I|) and driver-OOM once the intervals side
  * outgrows broadcast). Binning restores an equi key: with a fixed bin
  * width W, a point in bin `p div W` can only fall inside intervals that
  * cover that bin, so exploding each interval to its covered bins and
  * equi-joining on the bin turns the join into a shuffle-hash/SMJ on a
  * dense integer key, with the exact containment predicate verified
  * after the match. Candidate cost is bin co-occupancy (data-local),
  * never the full cross product.
  *
  * Choosing W: each interval produces `len/W + 1` bin rows, and each bin
  * pairs its points with its intervals — W near the typical interval
  * length keeps the explode factor ~2 while keeping bins selective.
  * Skewed bins (a burst of intervals over one hot day) are ordinary
  * join-key skew, handled by AQE skew-join splitting, not a plan rewrite.
  *
  * No query runs it since q_interval_join moved to a per-day rollup; it
  * stays here as the pair-enumerating reference form TemporalSpec
  * compares that rollup against.
  */
object RangeJoin {

  /** Join `points` to every interval of `intervals` containing the point:
    * `lo <= point <= hi`. `point`, `lo`, `hi` must be integral (e.g.
    * epoch days / epoch seconds); all payload columns of both inputs are
    * carried through. `hi` must be >= `lo`. Output has one row per
    * (point row, containing interval) — exactly the theta-join result,
    * at equi-join cost.
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      point: Column, lo: Column, hi: Column, binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // floor division in long range; the double intermediate is exact for
    // any time axis this operator sees (|value| < 2^53)
    def bin(c: Column): Column = floor(c.cast("double") / binWidth).cast("long")
    val binned = intervals.withColumn("__bin", explode(sequence(bin(lo), bin(hi))))
    points.withColumn("__bin", bin(point))
      .join(binned, Seq("__bin"))
      .where(point.between(lo, hi))
      .drop("__bin")
  }
}
