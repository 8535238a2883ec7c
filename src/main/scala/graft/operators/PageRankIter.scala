package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** I10: PageRank power iterations over the customer↔supplier
  * interaction graph (an edge per distinct (customer, supplier)
  * trading pair, both directions, so no dangling nodes). Two
  * unrolled iterations of
  *
  *   rank(v) = 0.15 + 0.85 · Σ_{u→v} rank(u) / outdeg(u)
  *
  * in INTEGER domain (ranks scaled by 1e6, divisions are integer
  * `div`) — the [[KMeansIter]] trick again: iterative graph
  * propagation becomes order-independent exact arithmetic, so a
  * relational oracle can hash-match it. Scale shape per iteration:
  * one join of edges to (rank ⨝ outdeg) + one dst-keyed sum — the
  * standard distributed PageRank step (shuffle ∝ edges); the final
  * top-K is TakeOrdered, never a global sort.
  */
object PageRankIter {

  val RankScale = 1000000L
  val Base = 150000L // 0.15, scaled
  val TopK = 20

  /** The contribution division runs NODE-side — `ct = r div deg` on
    * the node-sized rank⨝deg frame (one div per NODE), broadcast into
    * the edge scan, so the persisted edge table stays two narrow
    * string columns and the per-edge work is a hash probe + sum. The
    * node-sized deg frame and each step's rank are localCheckpoint'd
    * (lineage depth stays O(1), not O(iterations)), and the edges come
    * from the shared write-once purchase-pairs artifact
    * ([[Graph.purchasePairs]]) instead of re-deriving the
    * lineitem⨝orders distinct per run. r12 ABProbe at sf0.1 (4
    * alternating rounds): warm med 1.83 vs 4.45 s for the same plan
    * on the fact chain, cold 3.2 vs 11.4 s — the fact-chain distinct
    * WAS the query (SURVEY.md I10). GraphSketchSpec keeps the
    * per-edge-div and un-checkpointed forms as row-identity oracles. */
  def pagerankIter(s: SparkSession, dir: String): DataFrame = {
    val pairs = Graph.purchasePairs(s, dir)
    val rawEdges = pairs
      .select(concat(lit("c"), col("c")).as("src"), concat(lit("s"), col("sk")).as("dst"))
      .unionByName(pairs
        .select(concat(lit("s"), col("sk")).as("src"), concat(lit("c"), col("c")).as("dst")))
    // node-sized (~|V| rows): pinning it once stops nodes/r0/contrib
    // from re-deriving the corpus lineage every step
    val deg = rawEdges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val edges = rawEdges
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = deg.select(col("src").as("node"))

    def step(rank: DataFrame): DataFrame = {
      // rank and the message sums are NODE-sized (≪ edges): broadcast
      // them so each iteration is a map-side join over the edge table
      // plus ONE dst-keyed shuffle — never a sort of the edges
      val contrib = rank.join(deg, col("node") === col("src"))
        .select(col("src"), expr("r div deg").as("ct"))
      val m = edges.join(broadcast(contrib), "src")
        .groupBy(col("dst")).agg(sum(col("ct")).as("m"))
      nodes.join(broadcast(m), col("node") === col("dst"), "left_outer")
        .select(col("node"),
          expr("150000L + (85 * coalesce(m, 0L)) div 100").as("r"))
        .localCheckpoint()
    }

    val r0 = nodes.withColumn("r", lit(RankScale))
    step(step(r0))
      .orderBy(col("r").desc, col("node"))
      .limit(TopK)
      .select(col("node"), col("r").as("rank"))
  }

  val pagerankIterSql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sk
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT 'c' || CAST(c AS VARCHAR) AS src, 's' || CAST(sk AS VARCHAR) AS dst FROM pairs
       |  UNION ALL
       |  SELECT 's' || CAST(sk AS VARCHAR), 'c' || CAST(c AS VARCHAR) FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT src AS node, ${RankScale}::BIGINT AS r FROM deg),
       |s1 AS (SELECT e.dst, sum(r.r // d.deg)::BIGINT AS m
       |       FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
       |       GROUP BY e.dst),
       |r1 AS (SELECT n.node, ($Base + (85 * coalesce(s1.m, 0)) // 100)::BIGINT AS r
       |       FROM r0 n LEFT JOIN s1 ON n.node = s1.dst),
       |s2 AS (SELECT e.dst, sum(r.r // d.deg)::BIGINT AS m
       |       FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
       |       GROUP BY e.dst),
       |r2 AS (SELECT n.node, ($Base + (85 * coalesce(s2.m, 0)) // 100)::BIGINT AS r
       |       FROM r0 n LEFT JOIN s2 ON n.node = s2.dst)
       |SELECT node, r AS rank FROM r2 ORDER BY r DESC, node LIMIT $TopK""".stripMargin
}
