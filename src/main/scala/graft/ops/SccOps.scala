package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly-connected components of the DIRECTED nation trade graph —
  * the directed counterpart the component family lacked (q79's
  * connected components and q79-style min-label propagation are
  * undirected; q425's cycle census detects loops but assigns no
  * component structure). SCC membership is the question "which market
  * blocs trade in closed circuits?", and the condensation (SCC-level
  * DAG) is what a flow/cascade analysis runs on afterwards.
  *
  * Algorithm: exact reachability closure as q501's linear Datalog
  * program, evaluated semi-naively ([[reachAndScc]], shared with q539);
  * then scc(u) = min({u} ∪ {v : u→v ∧ v→u}), component sizes by one
  * hash-agg, the condensation edge count from one projection of the
  * edge list through the label map. The pair frame is |V|²-bounded —
  * on an entity graph at scale you'd first thin (q432's top-k) or
  * block (q338's cap), exactly as the graph family documents; the
  * FIXPOINT loop itself ships with those bounds.
  *
  * Reads the shared GraphBase directed trade table; the oracle rebuilds
  * the same edges and closes them with WITH RECURSIVE (UNION dedups, so
  * the recursion terminates on the cyclic graph).
  */
object SccOps {

  /** The transitive closure `reach(s, t)` of the directed edge list
    * `edges(u, v)`, and every node's strongly-connected component
    * `scc(nk, scc_id)` labelled by its minimum member. The closure is
    * q501's linear program — reach(s,t) ← e(s,t);
    * reach(s,t) ← reach(s,m) ∧ e(m,t) — so each round joins only the
    * last round's new pairs; u and v share a component iff each reaches
    * the other. */
  def reachAndScc(edges: DataFrame): (DataFrame, DataFrame) = {
    import graft.plans.Datalog.{Atom, Program, Rule, V}
    val reach = Program(Seq(
      Rule(Atom("reach", Seq(V("s"), V("t"))), Seq(Atom("e", Seq(V("s"), V("t"))))),
      Rule(Atom("reach", Seq(V("s"), V("t"))),
        Seq(Atom("reach", Seq(V("s"), V("m"))), Atom("e", Seq(V("m"), V("t")))))))
      .run(Map("e" -> edges.select(col("u"), col("v"))), "reach").toDF("s", "t")
    val nodes = edges.select(col("u").as("nk"))
      .unionByName(edges.select(col("v").as("nk"))).distinct()
    val mutual = reach.join(
        reach.select(col("t").as("s"), col("s").as("t")),
        Seq("s", "t"), "left_semi")
      .select(col("s").as("nk"), col("t").as("m"))
    val scc = nodes.join(mutual, Seq("nk"), "left")
      .groupBy(col("nk"))
      .agg(min(least(col("nk"), coalesce(col("m"), col("nk"))))
        .cast("long").as("scc_id"))
      .localCheckpoint() // each caller reads it several times
    (reach, scc)
  }

  val q473Scc: QueryDef = QueryDef(
    "q473_scc",
    (s, dir) => {
      val edges = GraphBase.tradeEdgesDirected(s, dir)
        .select(col("u"), col("v"))
      val (_, scc) = reachAndScc(edges)
      val sizes = scc.groupBy(col("scc_id"))
        .agg(count(lit(1)).as("scc_size"))
      val labeled = edges
        .join(scc.select(col("nk").as("u"), col("scc_id").as("cu")), Seq("u"))
        .join(scc.select(col("nk").as("v"), col("scc_id").as("cv")), Seq("v"))
      val internal = labeled.filter(col("cu") === col("cv"))
        .groupBy(col("u").as("nk")).agg(count(lit(1)).as("internal_out_deg"))
      val condensation = labeled.filter(col("cu") =!= col("cv"))
        .select(col("cu"), col("cv")).distinct()
        .agg(count(lit(1)).as("n_condensation_edges"))
      val t = Tables(s, dir)
      scc
        .join(sizes, Seq("scc_id"))
        .join(internal, Seq("nk"), "left")
        .na.fill(0L, Seq("internal_out_deg"))
        .crossJoin(broadcast(condensation)) // 1-row report aggregate
        .join(broadcast(t.nation.select(col("n_nationkey").as("nk"),
          col("n_name").as("nation"))), Seq("nk"))
        .select(col("nation"), col("scc_id"), col("scc_size"),
          col("internal_out_deg"), col("n_condensation_edges"))
    },
    Some("""WITH RECURSIVE sh AS (SELECT l_partkey AS p, l_suppkey AS sid,
          epoch_us(l_shipdate) AS ts
        FROM lineitem),
      seq AS (SELECT sid,
          LEAD(sid) OVER (PARTITION BY p ORDER BY ts, sid) AS nv
        FROM sh),
      handoffs AS (SELECT a.s_nationkey AS u, b.s_nationkey AS v
        FROM seq
        JOIN supplier a ON a.s_suppkey = seq.sid
        JOIN supplier b ON b.s_suppkey = seq.nv
        WHERE seq.nv IS NOT NULL AND seq.nv <> seq.sid
          AND a.s_nationkey <> b.s_nationkey),
      edges AS (SELECT DISTINCT u, v FROM handoffs),
      r(s, t) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.s, e.v FROM r JOIN edges e ON e.u = r.t),
      nodes AS (SELECT u AS nk FROM edges UNION SELECT v FROM edges),
      mutual AS (SELECT r1.s AS nk, r1.t AS m
        FROM r r1 WHERE EXISTS (SELECT 1 FROM r r2
          WHERE r2.s = r1.t AND r2.t = r1.s)),
      scc AS (SELECT n.nk,
          CAST(MIN(LEAST(n.nk, COALESCE(b.m, n.nk))) AS BIGINT) AS scc_id
        FROM nodes n LEFT JOIN mutual b ON b.nk = n.nk GROUP BY 1),
      sizes AS (SELECT scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
        FROM scc GROUP BY 1),
      labeled AS (SELECT e.u, e.v, su.scc_id AS cu, sv.scc_id AS cv
        FROM edges e
        JOIN scc su ON su.nk = e.u
        JOIN scc sv ON sv.nk = e.v),
      internal AS (SELECT u AS nk, CAST(COUNT(*) AS BIGINT) AS internal_out_deg
        FROM labeled WHERE cu = cv GROUP BY 1),
      cond AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_condensation_edges
        FROM (SELECT DISTINCT cu, cv FROM labeled WHERE cu <> cv))
      SELECT n.n_name AS nation, s.scc_id, z.scc_size,
        COALESCE(i.internal_out_deg, 0) AS internal_out_deg,
        cond.n_condensation_edges
      FROM scc s
      JOIN sizes z ON z.scc_id = s.scc_id
      LEFT JOIN internal i ON i.nk = s.nk
      CROSS JOIN cond
      JOIN nation n ON n.n_nationkey = s.nk"""))

  val all: Seq[QueryDef] = Seq(q473Scc)
}
