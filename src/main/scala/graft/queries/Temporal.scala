package graft.queries

import graft.Determinism._
import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interval analytics: a no-equi-key point-in-interval join (via a
  * per-day interval rollup; the binned pair-enumerating RangeJoin form
  * it replaced is the test-side reference) and an active-interval daily
  * count done as a sweep instead of a join. Both oracled against the naive BETWEEN
  * formulation in DuckDB — same result, very different plan.
  */
object Temporal {

  /** Days since 1970-01-01 as a long — the integral axis both interval
    * queries bin and sweep on.
    */
  private def epochDay(ts: Column): Column =
    datediff(ts.cast("date"), lit("1970-01-01").cast("date")).cast("long")

  /** For each lineitem, the count and summed value of "big" orders
    * (totalprice >= 490k, ~top 2%) whose 7-day fulfillment window
    * [o_orderdate, +6d] contains the ship date.
    *
    * r21 shape: a lineitem ROW's covering intervals are a FUNCTION OF
    * ITS SHIP DAY ALONE — `pd ∈ [d0, d0+6] ⇔ d0 ∈ [pd−6, pd]`.
    * Pre-aggregate the tiny interval side per covered day (each 7-day
    * interval explodes to its 7 days — cardinality bounded by the DATE
    * DOMAIN, ~2.4k rows at any corpus size, keeping the per-day price
    * sum DECIMAL so later regrouping stays exact), broadcast-join
    * lineitem on its ship day, then roll the per-row (count, sum) up to
    * the (l_orderkey, l_linenumber) grain — the key is NOT unique in
    * this corpus, so the final aggregate merges a key's rows exactly as
    * the pair form's GROUP BY did. The O(points·overlap) pair relation
    * the previous binned-RangeJoin form enumerated (≈9 covering
    * intervals per lineitem row at sf0.1, ×100 under the probe's 10×
    * densification) never exists: the join emits ONE row per covered
    * lineitem row, pre-reduced map-side before the key exchange. Exact
    * equivalence: the inner join drops no-coverage rows in both shapes,
    * COUNT is additive over a key's rows, and DECIMAL sums are
    * associative exact arithmetic regrouped freely, cast to DOUBLE only
    * at the end as before — TemporalSpec pins equality against the
    * pair-enumerating RangeJoin form on randomized fixtures WITH
    * duplicate point keys, and the DuckDB oracle still pays the full
    * BETWEEN pair join.
    */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val cov = Tables.orders(s, d)
      .where(col("o_totalprice") >= 490000.0)
      .select(epochDay(col("o_orderdate")).as("d0"), col("o_totalprice"))
      .select(explode(sequence(col("d0"), col("d0") + 6)).as("pd"),
        col("o_totalprice"))
      .groupBy(col("pd"))
      .agg(count(lit(1)).as("n_day"), sum(dec2(col("o_totalprice"))).as("sum_day"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        epochDay(col("l_shipdate")).as("pd"))
      .join(broadcast(cov), Seq("pd"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(sum(col("n_day")).as("n_big"),
        sum(col("sum_day")).cast("double").as("sum_price"))
      .orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
  }

  /** The PRODUCTION form of interval analytics — per (line status, day)
    * overlap counts and price sums, never materializing the pair
    * relation q_interval_join enumerates (whose answer itself grows
    * ×100 under the probe's 10× densification; BASELINE.md). Linear
    * dataflow: points pre-aggregate to per-(day, status) counts (one
    * map-side-combined shuffle, cardinality bounded by days×statuses);
    * each 7-day interval EXPLODES to its ≤7 covered days and aggregates
    * to per-day (interval count, decimal price sum) — bounded by the
    * date domain; one broadcast-sized equi-join on day then multiplies
    * out: pairs(day,status) = points(day,status) · intervals(day), and
    * Σprice over pairs = points · Σprice(intervals covering day). The
    * DuckDB oracle pays the full pair join + GROUP BY — same answer,
    * O(pairs) vs our O(N + days).
    */
  def intervalAgg(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.lineitem(s, d)
      .groupBy(epochDay(col("l_shipdate")).as("day"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_pts"))
    val cov = Tables.orders(s, d)
      .where(col("o_totalprice") >= 490000.0)
      .select(epochDay(col("o_orderdate")).as("d0"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .select(explode(sequence(col("d0"), col("d0") + 6)).as("day"), col("price"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_iv"), sum(col("price")).as("sum_iv"))
    pts.join(broadcast(cov), Seq("day"))
      .select(col("l_linestatus"), col("day"),
        (col("n_pts") * col("n_iv")).as("n_pairs"),
        (col("n_pts").cast("decimal(18,0)") * col("sum_iv"))
          .cast("double").as("sum_price"))
      .orderBy(col("l_linestatus").asc, col("day").asc)
  }

  /** Daily count of orders inside their 4-day fulfillment window
    * [o_orderdate, +3d] — interval overlap counting WITHOUT a range join:
    * each interval contributes +1 at its start day and -1 one past its
    * end day; the daily active count is the running sum of the per-day
    * deltas. The heavy input collapses to ≤2 delta rows per interval in
    * one map-side-combined aggregate; the window that follows runs over
    * at most one row per calendar day — cardinality bounded by the date
    * domain (~2.4k days here), INDEPENDENT of data scale, which is what
    * makes its single-partition sort safe at 100 TB where a per-row
    * global window would not be.
    */
  def inTransit(s: SparkSession, d: String): DataFrame = {
    val d0 = epochDay(col("o_orderdate"))
    val o = Tables.orders(s, d)
    val deltas = o.select(d0.as("day"), lit(1L).as("delta"))
      .unionAll(o.select((d0 + 4).as("day"), lit(-1L).as("delta")))
    val daily = deltas.groupBy(col("day")).agg(sum(col("delta")).as("delta"))
    daily
      .withColumn("active", sum(col("delta"))
        .over(Window.orderBy(col("day").asc).rowsBetween(Window.unboundedPreceding, 0)))
      .select(date_format(date_add(lit("1970-01-01").cast("date"),
          col("day").cast("int")), "yyyy-MM-dd").as("day_iso"),
        col("active").cast("long").as("active"))
      .orderBy(col("day_iso").asc)
  }

  /** SCD-2 effective-dated history from a noisy change log: per user,
    * consecutive events with the SAME event_type collapse (only state
    * TRANSITIONS open a version), each surviving version carries
    * [valid_from, valid_to) via lead over the filtered rows, and the open
    * version is flagged current. The warehouse history-table build — the
    * type-2 twin of q_merge_upsert's SCD-1 overwrite. One shuffle on the
    * entity key: the lag change-filter and the lead close share the same
    * (partition, order), and filters preserve both, so Catalyst plans ONE
    * Exchange and reuses its sort for both Window stages. (ts, event_id)
    * totally orders each user's log, so version boundaries are
    * engine-independent.
    */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val versions = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("event_type"))
    versions
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id").asc, col("valid_from").asc, col("event_id").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_interval_join" -> intervalJoin,
    "q_interval_agg" -> intervalAgg,
    "q_in_transit" -> inTransit,
    "q_scd2_history" -> scd2History,
  )

  val oracleSql: Map[String, String] = Map(
    "q_interval_join" ->
      """WITH big AS (SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d0,
        |    o_totalprice
        |  FROM orders WHERE o_totalprice >= 490000.0)
        |SELECT l_orderkey, l_linenumber, CAST(COUNT(*) AS BIGINT) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l JOIN big b
        |  ON (CAST(l_shipdate AS DATE) - DATE '1970-01-01') BETWEEN b.d0 AND b.d0 + 6
        |GROUP BY l_orderkey, l_linenumber
        |ORDER BY l_orderkey ASC, l_linenumber ASC""".stripMargin,
    "q_interval_agg" ->
      """WITH big AS (SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d0,
        |    o_totalprice
        |  FROM orders WHERE o_totalprice >= 490000.0)
        |SELECT l.l_linestatus,
        |  (CAST(l.l_shipdate AS DATE) - DATE '1970-01-01') AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(b.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem l JOIN big b
        |  ON (CAST(l.l_shipdate AS DATE) - DATE '1970-01-01') BETWEEN b.d0 AND b.d0 + 6
        |GROUP BY 1, 2
        |ORDER BY l_linestatus ASC, day ASC""".stripMargin,
    "q_in_transit" ->
      """WITH iv AS (SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d0
        |  FROM orders),
        |deltas AS (SELECT d0 AS day, 1 AS delta FROM iv
        |  UNION ALL SELECT d0 + 4 AS day, -1 AS delta FROM iv),
        |daily AS (SELECT day, SUM(delta) AS delta FROM deltas GROUP BY day)
        |SELECT CAST(DATE '1970-01-01' + CAST(day AS INTEGER) AS VARCHAR) AS day_iso,
        |  CAST(SUM(delta) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS active
        |FROM daily ORDER BY day_iso ASC""".stripMargin,
    "q_scd2_history" ->
      """WITH ch AS (SELECT user_id, event_id, ts, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS prev
        |  FROM events),
        |v AS (SELECT user_id, event_id, ts, event_type FROM ch
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_id, event_type AS state, ts AS valid_from,
        |  LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |    AS valid_to,
        |  (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |    IS NULL) AS is_current
        |FROM v ORDER BY user_id ASC, valid_from ASC, event_id ASC""".stripMargin,
  )
}
