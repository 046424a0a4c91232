package graft.ops

import org.apache.spark.sql.functions._
import graft.engine.JobStatus
import graft.plans.Datalog._

/** The datalog rule surface exercised against the test tables — the
  * query-language-diversity leg of the store's declarative backends
  * (reference store/datomic.clj:89-133: `dependent?` is a NON-LINEAR
  * recursive rule, `jobs-ready'` is negation over a `blocked?` rule
  * with a not= guard; both rule SHAPES evaluate here verbatim through
  * `graft.plans.Datalog`, compiled to DataFrame joins instead of a
  * fact-store index).
  *
  * Scale shape (q501): the doubling rule dep(X,A) ← dep(X,B) ∧ dep(B,A)
  * makes the closure converge in O(log diameter) semi-naive rounds —
  * each round one equi-join of the DELTA against the accumulated set +
  * one anti-join, checkpointed (the q21/GraphOps fixpoint discipline,
  * but DERIVED from the rule shape by the engine rather than
  * hand-written). q502 is join + anti-join, no iteration: negation
  * compiles to left_anti, the same plan StoreViews.jobsReady declares
  * by hand.
  *
  * Exactness: closure pairs and counts are BIGINT; no floats anywhere.
  */
object DatalogOps {

  val q501DatalogDependents: QueryDef = QueryDef(
    "q501_datalog_dependents",
    (s, dir) => {
      // the q101 dependency DAG: parts, child → {child/2, child/3}
      val p = Tables(s, dir).part
        .select(col("p_partkey").cast("long").as("child"))
      val edges = p.filter(col("child") > 1)
        .select(col("child"), expr("child div 2").as("parent"))
        .union(p.filter(col("child") > 2)
          .select(col("child"), expr("child div 3").as("parent"))
          .filter(col("parent") =!= expr("child div 2")))
        .localCheckpoint() // EDB is re-read every firing of every round
      // LEFT-LINEAR closure rule: dep(x,a) ← dep(x,b) ∧ edge(b,a). The
      // reference writes the NON-LINEAR doubling form (dep∘dep,
      // datomic.clj:93-96; DatalogSpec evaluates that shape verbatim) —
      // but under semi-naive evaluation the linear form derives each
      // closure pair once per its unique last edge, where doubling
      // re-derives every pair once per WITNESS midpoint. Measured at
      // sf0.1 (identical output): doubling 8.8 s in ~5 heavy rounds,
      // linear 6.9 s in ~15 light rounds — at bench SF the fixed
      // per-round cost (checkpoint + convergence probe) nearly cancels
      // the join-volume win, but the join volume is what grows with
      // data, so linear is the scale-correct choice.
      val program = Program(Seq(
        Rule(Atom("dep", Seq(V("x"), V("a"))),
          Seq(Atom("edge", Seq(V("x"), V("a"))))),
        Rule(Atom("dep", Seq(V("x"), V("a"))),
          Seq(Atom("dep", Seq(V("x"), V("b"))),
            Atom("edge", Seq(V("b"), V("a")))))))
      // the edge EDB is hierarchy-sized (|nodes|) while the closure is
      // |nodes| × avg-depth (~18× larger here): broadcasting the edge
      // side turns every round's delta∘edge join into a broadcast hash
      // join — no delta shuffle — which is the build-side choice any
      // stats-aware planner would make; the checkpointed frame has no
      // stats, so the hint restores it. At a scale where edges outgrow
      // executor memory, drop the hint and the engine's equi-join
      // shuffles both sides like any other big join.
      program.run(Map("edge" -> broadcast(edges)), "dep")
        .groupBy(col("_p1").as("node"))
        .agg(count(lit(1)).as("n_dependents"))
        .orderBy(col("n_dependents").desc, col("node"))
        .limit(20)
    },
    Some("""WITH RECURSIVE edges AS (
        SELECT p_partkey AS child, p_partkey // 2 AS parent FROM part
          WHERE p_partkey > 1
        UNION ALL
        SELECT p_partkey, p_partkey // 3 FROM part
          WHERE p_partkey > 2 AND p_partkey // 3 <> p_partkey // 2),
      dep(x, a) AS (
        SELECT child, parent FROM edges
        UNION
        SELECT d.x, e.parent FROM dep d JOIN edges e ON e.child = d.a)
      SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS n_dependents
      FROM dep GROUP BY 1
      ORDER BY n_dependents DESC, node LIMIT 20"""))

  /** jobs-ready' as the reference writes it (datomic.clj:105-117), over
    * job(id, status) and dep(job, parent):
    *   blocked(j) ← dep(j, d) ∧ job(d, s) ∧ s ≠ finished
    *   ready(j)   ← job(j, unstarted) ∧ ¬blocked(j)
    * Negation compiles to one left_anti over one join, the plan
    * [[graft.engine.StoreViews.jobsReady]] declares. */
  private[graft] val readyProgram = Program(Seq(
    Rule(Atom("blocked", Seq(V("j"))),
      Seq(Atom("dep", Seq(V("j"), V("d"))),
        Atom("job", Seq(V("d"), V("s")))),
      Seq(Guard("!=", V("s"), C(JobStatus.Finished)))),
    Rule(Atom("ready", Seq(V("j"))),
      Seq(Atom("job", Seq(V("j"), C(JobStatus.Unstarted))),
        Atom("blocked", Seq(V("j")), negated = true)))))

  val q502DatalogReady: QueryDef = QueryDef(
    "q502_datalog_ready",
    (s, dir) => {
      // jobs-from-orders fixture: order status → FSM status, dependency
      // child → child/2 (dangling parents block nothing, both engines)
      val jobs = Tables(s, dir).orders
        .select(col("o_orderkey").as("j"),
          when(col("o_orderstatus") === "F", lit("finished"))
            .when(col("o_orderstatus") === "P", lit("started"))
            .otherwise(lit("unstarted")).as("status"))
      val deps = jobs.select(col("j")).filter(col("j") > 1)
        .select(col("j"), expr("j div 2").as("d"))
      val ready = readyProgram.run(
        Map("job" -> jobs, "dep" -> deps), "ready")
        .agg(count(lit(1)).as("n_ready"), sum(col("_p0")).as("ready_key_sum"))
      val totals = jobs.agg(count(lit(1)).as("n_jobs"),
        sum(when(col("status") === "unstarted", lit(1L)).otherwise(lit(0L)))
          .as("n_unstarted"))
      totals.crossJoin(broadcast(ready))
        .select(col("n_jobs"), col("n_unstarted"), col("n_ready"),
          (col("n_unstarted") - col("n_ready")).as("n_blocked_unstarted"),
          col("ready_key_sum"))
    },
    Some("""WITH jobs AS (
        SELECT o_orderkey AS j,
          CASE WHEN o_orderstatus = 'F' THEN 'finished'
               WHEN o_orderstatus = 'P' THEN 'started'
               ELSE 'unstarted' END AS status
        FROM orders),
      deps AS (SELECT j, j // 2 AS d FROM jobs WHERE j > 1),
      blocked AS (
        SELECT DISTINCT dp.j FROM deps dp
        JOIN jobs pj ON pj.j = dp.d AND pj.status <> 'finished'),
      ready AS (
        SELECT j.j FROM jobs j
        WHERE j.status = 'unstarted'
          AND NOT EXISTS (SELECT 1 FROM blocked b WHERE b.j = j.j))
      SELECT CAST((SELECT COUNT(*) FROM jobs) AS BIGINT) AS n_jobs,
        CAST((SELECT COUNT(*) FROM jobs WHERE status = 'unstarted')
          AS BIGINT) AS n_unstarted,
        CAST((SELECT COUNT(*) FROM ready) AS BIGINT) AS n_ready,
        CAST((SELECT COUNT(*) FROM jobs WHERE status = 'unstarted')
          - (SELECT COUNT(*) FROM ready) AS BIGINT) AS n_blocked_unstarted,
        CAST((SELECT SUM(j) FROM ready) AS BIGINT) AS ready_key_sum"""))

  /** q555's weighted SSSP under its datalog name: the MIN-FOLD program
    *
    *   dist(n, d)   ← src(n, d)                         [fold min@1]
    *   dist(y, nd)  ← dist(x, d) ∧ edge(x, y, w), nd = d + w
    *
    * is [[GraphOps.pathFold]], and q555 runs the very same function
    * ([[SsspOps.ssspHistogram]]) and oracle — one definition, two
    * registered names. Improvement deltas are semi-naive evaluation under
    * the min semiring (Ross & Sagiv 1992): per round one frontier⋈edges
    * equi-join, a per-key min reduce, and an improvement-only merge
    * against the standing distance map at a fixed width; rounds ∝ DAG
    * depth, and the report is the distance histogram. The EDB carries NO
    * broadcast hint (r15): the engine knows each round's delta bytes
    * exactly and hints the DELTA side when it fits the broadcast
    * threshold, so a thin frontier joins as a broadcast probe with the
    * edges scanned in place. */
  val q561DatalogSssp: QueryDef = QueryDef(
    "q561_datalog_sssp", SsspOps.ssspHistogram, Some(SsspOps.ssspOracle))

  /** Path counting via the r15 SUM-FOLD (bag/counting) datalog mode:
    *
    *   cnt(n, c)  ← src(n, c)                       [fold sum@1]
    *   cnt(y, c)  ← cnt(x, c) ∧ edge(x, y)          [fold sum@1]
    *
    * counts the DISTINCT PATHS from the root to every node of the part
    * hierarchy — the canonical non-idempotent semiring the min-fold
    * mode refuses: under (ℕ, +), deltas must be additive CONTRIBUTIONS
    * (each derivation counted exactly once, at the round equal to its
    * depth), which is sound only for LINEAR rules on a DAG — both
    * enforced by the engine with loud refusals (DatalogSpec), plus 20
    * random DAGs vs a naive topological DP (DatalogPropertySpec).
    *
    * The node set is capped at partkey ≤ 4096 BY CONTRACT (the q569
    * fixture-bounded-verify discipline): the DuckDB oracle certifies by
    * enumerating every path (Σ npaths ≈ n^1.79 rows — census-priced
    * only under a cap), while the engine leg's cost is rounds ∝ DAG
    * depth × per-round work ∝ contributions — the shape that runs at
    * any scale; the cap bounds the ORACLE, not the engine. */
  val q573DatalogPathCount: QueryDef = QueryDef(
    "q573_datalog_path_count",
    (s, dir) => {
      val cap = 4096L
      val p = Tables(s, dir).part
        .select(col("p_partkey").cast("long").as("child"))
        .filter(col("child") <= cap)
      val edges = p.filter(col("child") > 1)
        .select(expr("child div 2").as("parent"), col("child"))
        .union(p.filter(col("child") > 2)
          .select(expr("child div 3").as("parent"), col("child"))
          .filter(col("parent") =!= expr("child div 2")))
        .localCheckpoint() // relaxed every round
      val src = s.range(1).select(lit(1L).as("node"), lit(1L).as("c"))
      val program = Program(Seq(
        Rule(Atom("cnt", Seq(V("n"), V("c"))),
          Seq(Atom("src", Seq(V("n"), V("c")))),
          fold = Some(Fold("sum", 1))),
        Rule(Atom("cnt", Seq(V("y"), V("c"))),
          Seq(Atom("cnt", Seq(V("x"), V("c"))),
            Atom("edge", Seq(V("x"), V("y")))),
          fold = Some(Fold("sum", 1)))))
      program.run(Map("edge" -> edges, "src" -> src), "cnt")
        .groupBy(col("_p1").as("n_paths"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("_p0")).as("node_sum"))
        .orderBy(col("n_paths"))
    },
    Some("""WITH RECURSIVE e AS (
        SELECT p_partkey // 2 AS parent, p_partkey AS child
        FROM part WHERE p_partkey > 1 AND p_partkey <= 4096
        UNION ALL
        SELECT p_partkey // 3, p_partkey
        FROM part WHERE p_partkey > 2 AND p_partkey <= 4096
          AND p_partkey // 3 <> p_partkey // 2),
      -- UNION ALL: every row is ONE path arrival, so COUNT(*) per node
      -- IS the path count — the enumeration the sum-fold engine must
      -- reproduce without enumerating
      paths(node) AS (
        SELECT CAST(1 AS BIGINT)
        UNION ALL
        SELECT e.child FROM paths p JOIN e ON e.parent = p.node),
      cnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM paths GROUP BY 1)
      SELECT n_paths, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        CAST(SUM(node) AS BIGINT) AS node_sum
      FROM cnt GROUP BY 1 ORDER BY 1"""))

  val all: Seq[QueryDef] =
    Seq(q501DatalogDependents, q502DatalogReady, q561DatalogSssp,
      q573DatalogPathCount)
}
