package graft.queries

import graft.{Artifacts, Tables}
import graft.operators.{PageRank, Triangles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relationally-derived graphs. The trade graph:
  * one weighted directed edge customer-nation → supplier-nation per
  * (cust, supp) trading relationship observed in lineitem — a 25-node
  * graph distilled from the largest fact table by a chain of broadcast
  * dim joins + one key-shuffled count.
  */
object GraphQ {

  /** Edge list (src nation name, dst nation name, w = lineitem count),
    * derived once per (session, dataset) and shared by q_pagerank and
    * q_triangles as a cached temp view (the persisted-signature-table
    * pattern, like `Analysis.shingleSets`): the 4-way fact derivation is
    * by far the expensive part of both graph queries — the graphs
    * themselves are 25 nodes — so recomputing it per query would double
    * the only at-scale cost.
    */
  private[graft] def tradeEdges(s: SparkSession, d: String): DataFrame =
    CachedViews.cached(s, "graft_trade_edges", d,
      Seq("lineitem", "orders", "customer", "supplier", "nation")
        .map(Artifacts.snapshotKey(s, d, _)).mkString(";")) {
      tradeEdgesPlan(s, d)
    }

  private def tradeEdgesPlan(s: SparkSession, d: String): DataFrame = {
    val nat = (alias: String) => Tables.nation(s, d)
      .select(col("n_nationkey").as(s"${alias}_key"), col("n_name").as(alias))
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey").as("cn"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey").as("sn"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat("src")), col("cn") === col("src_key"))
      .join(broadcast(nat("dst")), col("sn") === col("dst_key"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** 8-iteration integer PageRank of the nation trade graph; all 25
    * nations form the vertex spine (nations with no inbound trade keep
    * teleport-only rank). The vertex set is SCHEMA-bounded (25 nations
    * at any corpus size — the data-scale work is the tradeEdges
    * derivation, already behind this call), so the iteration runs on
    * the driver-local twin (r21, [[PageRank.runBoundedLocal]] —
    * bit-identical recurrence, PageRankSpec-pinned) instead of paying
    * 8 rounds of join + aggregate + lineage-cap job for ≤ 625 rows.
    */
  def pageRank(s: SparkSession, d: String): DataFrame =
    PageRank.runBoundedLocal(
        Tables.nation(s, d).select(col("n_name").as("node")),
        tradeEdges(s, d), iterations = 8, maxNodes = 25)
      .select(col("node").as("n_name"), col("rank_scaled"))
      .orderBy(col("n_name").asc)

  /** Per-nation triangle participation in the undirected trade graph —
    * how many pairs of a nation's trade partners also trade with each
    * other. Degree-ordered wedge enumeration (operators.Triangles)
    * bounds the join volume at O(m^1.5) under skew.
    */
  def triangles(s: SparkSession, d: String): DataFrame =
    Triangles.perNode(
        Tables.nation(s, d).select(col("n_name").as("id")),
        tradeEdges(s, d).select(col("src").as("id_a"), col("dst").as("id_b")))
      .select(col("id").as("n_name"), col("n_tri"))
      .orderBy(col("n_name").asc)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> pageRank,
    "q_triangles" -> triangles,
  )

  /** The oracle unrolls the 8 iterations as chained CTEs (standard SQL
    * forbids aggregation inside a recursive CTE term, so recursion can't
    * express per-iteration SUMs) — same integer arithmetic, `//` ≡ div.
    */
  private def prOracle(iterations: Int): String = {
    val scale = 1000000000000L
    val teleport = s"(15 * ($scale // (SELECT n FROM nn))) // 100"
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (SELECT v.node, $teleport + (85 * COALESCE(inf.s, 0)) // 100 AS r
         |  FROM r${i - 1} v LEFT JOIN (
         |    SELECT e.dst AS node, SUM((r.r * e.w) // o.ow) AS s
         |    FROM r${i - 1} r JOIN edges e ON r.node = e.src
         |    JOIN outw o ON o.src = e.src
         |    GROUP BY e.dst) inf ON inf.node = v.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
       |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
       |  JOIN nation sn ON su.s_nationkey = sn.n_nationkey
       |  GROUP BY cn.n_name, sn.n_name),
       |outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM nation),
       |r0 AS (SELECT n_name AS node, $scale // (SELECT n FROM nn) AS r FROM nation),
       |$iters
       |SELECT node AS n_name, CAST(r AS BIGINT) AS rank_scaled FROM r$iterations
       |ORDER BY n_name ASC""".stripMargin
  }

  /** The oracle enumerates each triangle once in id order (a < b < c)
    * — a different but equivalent canonicalization to the engine's
    * degree orientation; the triangle SET is identical, so the per-node
    * counts hash-match.
    */
  private val triOracle: String =
    """WITH dedges AS (
      |  SELECT cn.n_name AS src, sn.n_name AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier su ON l.l_suppkey = su.s_suppkey
      |  JOIN nation sn ON su.s_nationkey = sn.n_nationkey
      |  GROUP BY cn.n_name, sn.n_name),
      |und AS (
      |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      |  FROM dedges WHERE src <> dst GROUP BY 1, 2),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1
      |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
      |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
      |pn AS (
      |  SELECT x AS node FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri),
      |cnt AS (SELECT node, COUNT(*) AS n_tri FROM pn GROUP BY node)
      |SELECT n.n_name, COALESCE(cnt.n_tri, 0) AS n_tri
      |FROM nation n LEFT JOIN cnt ON cnt.node = n.n_name
      |ORDER BY n_name ASC""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_pagerank" -> prOracle(8),
    "q_triangles" -> triOracle,
  )
}
