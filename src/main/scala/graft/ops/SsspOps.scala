package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted single-source shortest paths over the part hierarchy with
  * per-node entry costs — the RECURSIVE-AGGREGATION fixpoint (min inside
  * recursion: Flink/Pregel's iterate-with-min), written as the min-fold
  * [[GraphOps.pathFold]] program
  *
  *   dist(n, d)  ← src(n, d)                              [fold min@1]
  *   dist(y, nd) ← dist(x, d) ∧ edge(x, y, w), nd = d + w
  *
  * and evaluated by [[graft.plans.Datalog]]: only nodes IMPROVED last
  * round relax their out-edges, so per-round work ∝ improvements, and a
  * DAG with positive weights converges in ≤ depth rounds (reference:
  * overseer's DAG traversal family, jdbc.clj:101-113 is the unweighted
  * cousin). q555 and q561 (DatalogOps) are this one function under two
  * registered names, checked against this one oracle.
  *
  * Scale shape: each round is one frontier⋈edges equi-join + a per-key
  * min reduce + the engine's improvement merge at a fixed width; the
  * report is a distance histogram, never the raw per-node frame.
  *
  * Exactness: weights and distances are BIGINT throughout.
  */
object SsspOps {

  /** Distance histogram (d, n_nodes, node_sum) of the weighted SSSP from
    * part 1 over the parent → child edges k div 2 → k and k div 3 → k,
    * entry cost 1 + child % 7. */
  private[ops] def ssspHistogram(s: SparkSession, dir: String): DataFrame = {
    val p = Tables(s, dir).part
      .select(col("p_partkey").cast("long").as("child"))
    val edges = p.filter(col("child") > 1)
      .select(expr("child div 2").as("parent"), col("child"))
      .union(p.filter(col("child") > 2)
        .select(expr("child div 3").as("parent"), col("child"))
        .filter(col("parent") =!= expr("child div 2")))
      .withColumn("w", lit(1L) + pmod(col("child"), lit(7L)))
      .localCheckpoint() // relaxed every round
    val src = s.range(1).select(lit(1L).as("node"), lit(0L).as("d"))
    GraphOps.pathFold("min", src, edges)
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_sum"))
      .orderBy(col("d"))
  }

  private[ops] val ssspOracle: String =
    """WITH RECURSIVE e AS (
        SELECT p_partkey // 2 AS parent, p_partkey AS child,
          1 + p_partkey % 7 AS w
        FROM part WHERE p_partkey > 1
        UNION ALL
        SELECT p_partkey // 3, p_partkey, 1 + p_partkey % 7
        FROM part WHERE p_partkey > 2 AND p_partkey // 3 <> p_partkey // 2),
      -- UNION (not ALL): the recursion dedups on (node, d), so the state
      -- space is bounded by nodes × distinct path lengths, not path count
      paths(node, d) AS (
        SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        UNION
        SELECT e.child, p.d + e.w FROM paths p JOIN e ON e.parent = p.node),
      dist AS (SELECT node, MIN(d) AS d FROM paths GROUP BY 1)
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        CAST(SUM(node) AS BIGINT) AS node_sum
      FROM dist GROUP BY 1 ORDER BY 1"""

  val q555WeightedSssp: QueryDef =
    QueryDef("q555_weighted_sssp", ssspHistogram, Some(ssspOracle))

  val all: Seq[QueryDef] = Seq(q555WeightedSssp)
}
