package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Bow-tie decomposition (Broder et al. 2000's web-structure census)
  * of the τ-thresholded directed trade backbone: CORE = the largest
  * strongly-connected component, IN = nodes that reach CORE without
  * belonging to it, OUT = nodes CORE reaches, OTHER = the rest. The
  * one-look summary of a directed graph's global flow structure —
  * applied to the strong backbone because the raw trade graph
  * saturates to a single SCC at scale (q522's thresholding argument)
  * (reference: overseer's graph family; arbitrary handler fns,
  * src/overseer/executor.clj:12-39; q473's SCC is the core subroutine).
  *
  * Scale shape: GraphBase's one trade scan + a 1-row order-statistic
  * cut; the reachability closure and SCC labels come from q473's
  * [[SccOps.reachAndScc]] on the |V|²-bounded backbone.
  *
  * Exactness: all labels are MIN-id integers; CORE election is by
  * (size DESC, scc_id) — every column BIGINT/string-deterministic.
  */
object BowtieOps {

  val q539Bowtie: QueryDef = QueryDef(
    "q539_bowtie",
    (s, dir) => {
      val raw = GraphBase.tradeEdgesDirected(s, dir)
      val tau = raw
        .withColumn("rn", row_number().over(
          Window.orderBy(col("w"), col("u"), col("v"))))
        .crossJoin(broadcast(raw.agg(count(lit(1)).as("e"))))
        .where(col("rn") === ceil(col("e") * 0.75).cast("int"))
        .select(col("w").as("tau"))
      val edges = raw.crossJoin(broadcast(tau)).where(col("w") >= col("tau"))
        .select(col("u"), col("v")).localCheckpoint()
      val (reach, scc) = SccOps.reachAndScc(edges)
      val core = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("sz"))
        .orderBy(col("sz").desc, col("scc_id")).limit(1)
        .select(col("scc_id").as("core_id"))
      val withCore = scc.crossJoin(broadcast(core))
      val coreNodes = withCore.where(col("scc_id") === col("core_id"))
        .select(col("nk"))
      val reachesCore = reach.join(coreNodes.select(col("nk").as("t")), Seq("t"),
        "left_semi").select(col("s").as("nk")).distinct()
      val reachedFromCore = reach.join(coreNodes.select(col("nk").as("s")),
        Seq("s"), "left_semi").select(col("t").as("nk")).distinct()
      val cls = withCore
        .join(reachesCore.withColumn("to_core", lit(1L)), Seq("nk"), "left")
        .join(reachedFromCore.withColumn("from_core", lit(1L)), Seq("nk"), "left")
        .select(col("nk").cast("long").as("node"),
          when(col("scc_id") === col("core_id"), "CORE")
            .when(col("to_core") === 1, "IN")
            .when(col("from_core") === 1, "OUT")
            .otherwise("OTHER").as("component"))
      cls.groupBy(col("component")).agg(count(lit(1)).as("n_nodes"))
        .join(cls, Seq("component"))
        .select(col("node"), col("component"), col("n_nodes"))
    },
    Some("""WITH RECURSIVE handoff AS MATERIALIZED (SELECT l_partkey AS p, l_suppkey AS sid,
          epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS ts,
          LEAD(l_suppkey) OVER (PARTITION BY l_partkey
            ORDER BY epoch_us(CAST(l_shipdate AS TIMESTAMP)), l_suppkey)
            AS nv
        FROM lineitem),
      dedges AS MATERIALIZED (SELECT s1.s_nationkey AS u, s2.s_nationkey AS v,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM handoff h
        JOIN supplier s1 ON s1.s_suppkey = h.sid
        JOIN supplier s2 ON s2.s_suppkey = h.nv
        WHERE h.nv IS NOT NULL AND h.nv <> h.sid
          AND s1.s_nationkey <> s2.s_nationkey
        GROUP BY 1, 2),
      ranked AS (SELECT w, row_number() OVER (ORDER BY w, u, v) AS rn
        FROM dedges),
      tau AS (SELECT w AS tau FROM ranked
        WHERE rn = CAST(ceil((SELECT COUNT(*) FROM dedges) * 0.75) AS INT)),
      edges AS MATERIALIZED (
        SELECT u, v FROM dedges CROSS JOIN tau WHERE w >= tau),
      r(s, t) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.s, e.v FROM r JOIN edges e ON e.u = r.t),
      nodes AS (SELECT DISTINCT nk FROM
        (SELECT u AS nk FROM edges UNION ALL SELECT v FROM edges)),
      mutual AS (SELECT r1.s AS nk, r1.t AS m
        FROM r r1 WHERE EXISTS (SELECT 1 FROM r r2
          WHERE r2.s = r1.t AND r2.t = r1.s)),
      scc AS MATERIALIZED (SELECT n.nk,
          CAST(MIN(LEAST(n.nk, COALESCE(b.m, n.nk))) AS BIGINT) AS scc_id
        FROM nodes n LEFT JOIN mutual b ON b.nk = n.nk GROUP BY 1),
      core AS (SELECT scc_id AS core_id FROM
        (SELECT scc_id, COUNT(*) AS sz FROM scc GROUP BY 1)
        ORDER BY sz DESC, scc_id LIMIT 1),
      core_nodes AS (SELECT nk FROM scc CROSS JOIN core
        WHERE scc_id = core_id),
      to_core AS (SELECT DISTINCT r.s AS nk FROM r
        JOIN core_nodes c ON c.nk = r.t),
      from_core AS (SELECT DISTINCT r.t AS nk FROM r
        JOIN core_nodes c ON c.nk = r.s),
      cls AS MATERIALIZED (
        SELECT CAST(s.nk AS BIGINT) AS node,
          CASE WHEN s.scc_id = core.core_id THEN 'CORE'
               WHEN tc.nk IS NOT NULL THEN 'IN'
               WHEN fc.nk IS NOT NULL THEN 'OUT'
               ELSE 'OTHER' END AS component
        FROM scc s CROSS JOIN core
        LEFT JOIN to_core tc ON tc.nk = s.nk
        LEFT JOIN from_core fc ON fc.nk = s.nk)
      SELECT node, component,
        CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_nodes
      FROM cls"""))

  val all: Seq[QueryDef] = Seq(q539Bowtie)
}
