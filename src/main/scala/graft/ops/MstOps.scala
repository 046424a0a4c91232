package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Minimum-spanning-tree wave: Borůvka's algorithm on the symmetrized
  * nation trade graph — the distributed-classic MST (each round every
  * component picks its lightest incident edge, components contract, so
  * the component count at least halves per round: O(log V) rounds of
  * pure equi-joins, the shape that survives a 100 TB edge list).
  * Ties are broken by the total order (weight, u, v), which makes the
  * MST unique, so Spark's Borůvka and the oracle's replay must agree
  * edge-for-edge — and the spec's INDEPENDENT Kruskal replay proves
  * the algorithm, not just the arithmetic.
  *
  * Scale shape: one corpus scan to the |V|²-bounded edge census;
  * ⌈log₂ V⌉ rounds of (edges ⋈ comp) + per-component min + min-label
  * contraction — every stage an equi-join or hash-agg on frames no
  * larger than the edge list. The oracle unrolls the 5 rounds a
  * 25-node graph can need, with a recursive-CTE closure per round
  * for the contraction.
  */
object MstOps {

  private val Rounds = 5 // components at least halve: 2^5 = 32 > |nations|

  /** Borůvka MST of the nation trade graph: the unique (under the
    * (w, u, v) total order) minimum spanning forest, with per-edge
    * pick round and the shared edge count + total weight. */
  val q447BoruvkaMst: QueryDef = QueryDef(
    "q447_boruvka_mst",
    (s, dir) => {
      // shared derived base table (GraphBase): undirected nation trade
      // edges, parquet-backed — read every round
      val sym = GraphBase.tradeEdgesUndirected(s, dir)
      var comp = sym.select(col("a").as("node"))
        .union(sym.select(col("b").as("node"))).distinct()
        .withColumn("c", col("node"))
        .localCheckpoint()
      var mst: Option[org.apache.spark.sql.DataFrame] = None
      var round = 1
      var done = false
      while (round <= Rounds && !done) {
        val ec = sym
          .join(comp.select(col("node").as("a"), col("c").as("ca")), Seq("a"))
          .join(comp.select(col("node").as("b"), col("c").as("cb")), Seq("b"))
          .where(col("ca") =!= col("cb"))
          .localCheckpoint()
        if (ec.isEmpty) done = true
        else {
          // each component's lightest incident edge under (w, a, b)
          val chosen = ec.select(col("ca").as("cc"),
              struct(col("w"), col("a"), col("b")).as("e"))
            .union(ec.select(col("cb").as("cc"),
              struct(col("w"), col("a"), col("b")).as("e")))
            .groupBy(col("cc")).agg(min(col("e")).as("e"))
            .select(col("e.a").as("a"), col("e.b").as("b"),
              col("e.w").as("w"))
            .distinct()
            .withColumn("round_added", lit(round.toLong))
            .localCheckpoint()
          mst = Some(mst.map(_.unionByName(chosen)).getOrElse(chosen))
          // contract: min-label components of the chosen component
          // pairs; a component with no chosen edge keeps its own label
          val cpairs = chosen
            .join(comp.select(col("node").as("a"), col("c").as("id_a")), Seq("a"))
            .join(comp.select(col("node").as("b"), col("c").as("id_b")), Seq("b"))
            .select(col("id_a"), col("id_b"))
          val lbl = GraphOps.connectedComponents(s, cpairs)
          comp = comp.join(lbl.select(col("id").as("c"), col("label")),
              Seq("c"), "left")
            .select(col("node"), coalesce(col("label"), col("c")).as("c"))
            .localCheckpoint()
          round += 1
        }
      }
      val out = mst.get
      val wAll = Window.partitionBy()
      out
        .withColumn("mst_edges", count(lit(1)).over(wAll))
        .withColumn("total_weight", sum(col("w")).over(wAll))
        .select(col("a").as("u"), col("b").as("v"), col("w").as("weight"),
          col("round_added"), col("mst_edges"), col("total_weight"))
        .orderBy(col("weight"), col("u"), col("v"))
    },
    Some {
      // 5 unrolled Borůvka rounds; contraction per round is a
      // recursive-CTE closure over the chosen component pairs
      val rounds = (1 to Rounds).map { k =>
        s"""ec$k AS MATERIALIZED (SELECT e.a, e.b, e.w, x.c AS ca, y.c AS cb
        FROM sym e
        JOIN comp$k x ON x.node = e.a
        JOIN comp$k y ON y.node = e.b
        WHERE x.c <> y.c),
      pick$k AS MATERIALIZED (SELECT DISTINCT a, b, w,
          CAST($k AS BIGINT) AS round_added
        FROM (SELECT a, b, w,
            ROW_NUMBER() OVER (PARTITION BY cc ORDER BY w, a, b) AS rn
          FROM (SELECT a, b, w, ca AS cc FROM ec$k
            UNION ALL SELECT a, b, w, cb AS cc FROM ec$k))
        WHERE rn = 1),
      cand$k AS MATERIALIZED (SELECT x.c AS ca, y.c AS cb FROM pick$k p
        JOIN comp$k x ON x.node = p.a
        JOIN comp$k y ON y.node = p.b
        UNION SELECT y.c, x.c FROM pick$k p
        JOIN comp$k x ON x.node = p.a
        JOIN comp$k y ON y.node = p.b),
      reach$k(src, dst) AS (SELECT c, c FROM (SELECT DISTINCT c FROM comp$k)
        UNION SELECT r.src, e.cb FROM reach$k r JOIN cand$k e ON e.ca = r.dst),
      newc$k AS MATERIALIZED (SELECT src AS c, MIN(dst) AS l FROM reach$k GROUP BY 1),
      comp${k + 1} AS MATERIALIZED (SELECT cm.node, n.l AS c FROM comp$k cm
        JOIN newc$k n ON n.c = cm.c)"""
      }.mkString(",\n      ")
      val unionPicks = (1 to Rounds).map(k => s"SELECT * FROM pick$k")
        .mkString("\n        UNION ALL ")
      s"""WITH RECURSIVE handoff AS MATERIALIZED (SELECT l_partkey AS p, l_suppkey AS sid,
          epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS ts,
          LEAD(l_suppkey) OVER (PARTITION BY l_partkey
            ORDER BY epoch_us(CAST(l_shipdate AS TIMESTAMP)), l_suppkey)
            AS nv
        FROM lineitem),
      sym AS MATERIALIZED (SELECT LEAST(s1.s_nationkey, s2.s_nationkey) AS a,
          GREATEST(s1.s_nationkey, s2.s_nationkey) AS b,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM handoff h
        JOIN supplier s1 ON s1.s_suppkey = h.sid
        JOIN supplier s2 ON s2.s_suppkey = h.nv
        WHERE h.nv IS NOT NULL AND h.nv <> h.sid
          AND s1.s_nationkey <> s2.s_nationkey
        GROUP BY 1, 2),
      comp1 AS MATERIALIZED (SELECT node, node AS c FROM (SELECT a AS node FROM sym
        UNION SELECT b FROM sym)),
      $rounds,
      mst AS ($unionPicks)
      SELECT a AS u, b AS v, w AS weight, round_added,
        CAST(COUNT(*) OVER () AS BIGINT) AS mst_edges,
        CAST(SUM(w) OVER () AS BIGINT) AS total_weight
      FROM mst ORDER BY weight, u, v"""
    })

  val all: Seq[QueryDef] = Seq(q447BoruvkaMst)
}
