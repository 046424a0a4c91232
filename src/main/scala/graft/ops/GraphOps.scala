package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Datalog._

/** Iterative graph operators — the reference's transitive-closure BFS
  * (jdbc.clj:101-113, SURVEY.md §2D row 6) generalized to DataFrames.
  * Catalyst can't express recursion, so every fixpoint here is a
  * [[graft.plans.Datalog]] min- or max-fold program — [[pathFold]] for
  * depths and distances, [[connectedComponents]] for min labels — and
  * the engine owns the rounds, the per-round checkpoint and the
  * convergence probe.
  *
  * The closure [[descendantsWithDepth]] (3-hop frontier expansion,
  * min-depth fold) has one more mode in front of the engine:
  *
  *  - DRIVER-FRONTIER: frontier and visited set live on the driver as
  *    local relations; each round is ONE shuffle-free cluster job (hop
  *    table ⋈ broadcast frontier, collect). Fastest when the reachable
  *    set is metadata-scale (job graphs: the frontier was going to be
  *    broadcast anyway, so driver-residency adds no new memory bound).
  *  - DISTRIBUTED: the min-depth [[pathFold]] over the hop tables.
  *    Nothing is ever collected, so the reachable set is bounded by
  *    cluster storage, not driver heap — the mode a DATA-scale graph
  *    (q21 over an arbitrary edge table) needs.
  *
  * The driver mode switches itself to distributed the moment the tracked
  * node count crosses `maxDriverNodes`, seeding the fold with the rows
  * it has collected — by construction no more than that bound, so the
  * switch happens BEFORE the driver can be overwhelmed, not after. Large
  * frontiers also get their candidate set pre-aggregated (min per node)
  * on the cluster, so a single round's collect is bounded by the
  * new-node count rather than the raw candidate multiplicity.
  */
object GraphOps {

  /** Hop tables: 1-, 2- and 3-hop edges, materialized once — every round
    * re-reads them, and without this each round would re-run the source
    * scan + self-joins. ~3× the input edge count, vs the O(n²) transitive
    * edge set full path-doubling would materialize. */
  private def hopTables(edgesIn: DataFrame): DataFrame = {
    val edges1 = edgesIn.select(col("child"), col("parent"), lit(1L).as("hop"))
    val e2a = edgesIn.select(col("child").as("mid"), col("parent"))
    val e2b = edgesIn.select(col("child"), col("parent").as("mid"))
    val edges2 = e2b.join(e2a, "mid").select(col("child"), col("parent"), lit(2L).as("hop"))
    val edges3 = edges2.select(col("child"), col("parent").as("mid"))
      .join(e2a, "mid").select(col("child"), col("parent"), lit(3L).as("hop"))
    edges1.union(edges2).union(edges3).localCheckpoint()
  }

  /** BFS closure with per-node depth over an arbitrary (child, parent) edge
    * table. Cycle-safe: previously-visited nodes are dropped each round.
    *
    * Each round expands the frontier by 1-, 2-, AND 3-hop edges, cutting
    * the number of sequential rounds to ceil(depth/3) — the driver-side
    * round count, not the data volume, dominates deep closures. Min-depth
    * aggregation keeps depths exact for any hop width H: a node whose min
    * depth d falls in round r's window ((r−1)·H, r·H] has an ancestor at
    * depth d−h ∈ the previous window for some h ≤ H, discovered in the
    * previous frontier; and no node can be discovered before its window,
    * because that would imply a shorter path than its min depth.
    *
    * Starts driver-resident and auto-switches to the distributed fold
    * when visited+frontier exceeds `maxDriverNodes` (see object doc).
    */
  def descendantsWithDepth(
      spark: SparkSession,
      edgesIn: DataFrame,
      roots: DataFrame,
      maxDriverNodes: Int = 200000): DataFrame = {
    import scala.jdk.CollectionConverters._
    val edges = hopTables(edgesIn)
    val nodeType = roots.schema("node").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType),
      org.apache.spark.sql.types.StructField("depth", org.apache.spark.sql.types.LongType)))

    // a root set already past the driver bound goes straight to distributed
    val rootRows = roots.select(col("node")).limit(maxDriverNodes + 1).collect()
    if (rootRows.length > maxDriverNodes)
      return closure(edges, roots.select(col("node"), lit(0L).as("depth")))
    val visited = scala.collection.mutable.LinkedHashMap[Any, Long]()
    rootRows.foreach(r => visited(r.get(0)) = 0L)
    var frontier: Seq[org.apache.spark.sql.Row] =
      visited.keysIterator.map(n => org.apache.spark.sql.Row(n, 0L)).toSeq

    // every driver-side collect below is CAPPED; hitting a cap hands the
    // current (≤ maxDriverNodes) state to the distributed fold, which
    // re-runs the unfinished round — nothing oversized ever lands on the
    // driver. Every frontier row is already in `visited`, so the visited
    // rows alone seed the fold; its first round re-expands the inner
    // nodes too (≤ maxDriverNodes rows) and finds nothing shorter there.
    def visitedRows: DataFrame = spark.createDataFrame(
      visited.iterator.map { case (n, d) => org.apache.spark.sql.Row(n, d) }.toSeq.asJava,
      outSchema)
    def switchToDistributed(): DataFrame = closure(edges, visitedRows)
    // raw candidate rows tolerated in one collect (~64 MB of pairs);
    // beyond it the round pre-aggregates min-by-node on the cluster
    val rawCap = 4 * 1024 * 1024

    while (frontier.nonEmpty) {
      if (visited.size + frontier.size > maxDriverNodes)
        return switchToDistributed()
      val fDF = spark.createDataFrame(frontier.asJava, outSchema)
      val raw = edges
        .join(broadcast(fDF), edges("parent") === fDF("node"))
        .select(edges("child").as("node"), (fDF("depth") + edges("hop")).as("depth"))
      // fast path: collect raw candidates — ONE shuffle-free job; a limit
      // that comes back un-hit proves the set is complete. If candidate
      // multiplicity blows past the cap, fold min-by-node on the cluster
      // (one shuffle), bounding the collect by the NEW-node count; if even
      // that exceeds the driver budget, the reachable set is data-scale —
      // switch modes.
      val rawRows = raw.limit(rawCap + 1).collect()
      val candidates =
        if (rawRows.length <= rawCap) rawRows
        else {
          val newCap = maxDriverNodes - visited.size
          val agg = raw.groupBy(col("node")).agg(min(col("depth")).as("depth"))
            .limit(newCap + 1).collect()
          if (agg.length > newCap) return switchToDistributed()
          agg
        }
      val mins = scala.collection.mutable.HashMap[Any, Long]()
      candidates.foreach { r =>
        val n = r.get(0)
        if (!visited.contains(n)) {
          val d = r.getLong(1)
          if (d < mins.getOrElse(n, Long.MaxValue)) mins(n) = d
        }
      }
      mins.foreach { case (n, d) => visited(n) = d }
      frontier = mins.iterator.map { case (n, d) => org.apache.spark.sql.Row(n, d) }.toSeq
    }
    visitedRows
  }

  /** Fully distributed closure: the min-depth [[pathFold]] over the hop
    * tables, seeded with the roots at depth 0. Exposed for callers that
    * KNOW the reachable set is data-scale. */
  def descendantsWithDepthDistributed(
      spark: SparkSession, edgesIn: DataFrame, roots: DataFrame): DataFrame =
    closure(hopTables(edgesIn), roots.select(col("node"), lit(0L).as("depth")))

  /** (node, depth) seed rows closed over the hop tables by min depth. */
  private def closure(hops: DataFrame, seed: DataFrame): DataFrame =
    pathFold("min", seed, hops.select(col("parent"), col("child"), col("hop")))

  /** The one path fold every min/max-depth fixpoint here runs on:
    *
    *   dist(n, d)  ← seed(n, d)                             [fold op@1]
    *   dist(y, nd) ← dist(x, d) ∧ edge(x, y, w), nd = d + w [fold op@1]
    *
    * evaluated by [[graft.plans.Datalog]]'s semi-naive fixpoint: only
    * nodes whose value improved last round relax their out-edges, every
    * round is checkpointed, and nothing is collected. `op` is "min"
    * (shortest distance, BFS depth) or "max" (longest path, which needs
    * an acyclic graph to converge). `seed` is (node, value) and `edges`
    * (src, dst, weight), positionally; the result carries the seed's
    * column names, and edge targets are cast to the seed's node type so
    * every round's rows match the solution set's schema. */
  def pathFold(op: String, seed: DataFrame, edges: DataFrame): DataFrame = {
    val fold = Some(Fold(op, 1))
    val e = edges.toDF("x", "y", "w")
      .withColumn("y", col("y").cast(seed.schema.head.dataType))
    Program(Seq(
      Rule(Atom("dist", Seq(V("n"), V("d"))),
        Seq(Atom("seed", Seq(V("n"), V("d")))), fold = fold),
      Rule(Atom("dist", Seq(V("y"), V("nd"))),
        Seq(Atom("dist", Seq(V("x"), V("d"))),
          Atom("edge", Seq(V("x"), V("y"), V("w")))),
        lets = Seq(Let("nd", "d + w")), fold = fold)))
      .run(Map("seed" -> seed, "edge" -> e), "dist")
      .toDF(seed.columns.toSeq: _*)
  }

  /** Connected components over an undirected edge set by min-label
    * propagation, as a min-fold program over the symmetrized edges:
    *
    *   cc(x, l) ← node(x, l)              (every node labels itself)
    *   cc(x, l) ← cc(y, l) ∧ und(y, x)    [fold min@1]
    *
    * Semi-naive evaluation moves only the labels that improved last
    * round, so rounds are O(component diameter) — for dup-cluster
    * resolution (the intended use, [[Dedup.q79DupClusters]]) diameters
    * are tiny. Self edges and duplicate edges are harmless; only nodes
    * that appear in an edge are labeled. Returns (id, label) with
    * label = min node id in the component. */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    val und = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint() // read by the seed and every round
    val fold = Some(Fold("min", 1))
    Program(Seq(
      Rule(Atom("cc", Seq(V("x"), V("l"))),
        Seq(Atom("node", Seq(V("x"), V("l")))), fold = fold),
      Rule(Atom("cc", Seq(V("x"), V("l"))),
        Seq(Atom("cc", Seq(V("y"), V("l"))), Atom("und", Seq(V("y"), V("x")))),
        fold = fold)))
      .run(Map("node" -> und.select(col("src"), col("src").as("l")), "und" -> und), "cc")
      .toDF("id", "label")
  }

  /** Transitive closure demo on real data: the implicit binary tree
    * child → child div 2 over part keys; descendants of node 1 with BFS
    * depth. Oracle: DuckDB WITH RECURSIVE. */
  val q21Closure: QueryDef = QueryDef(
    "q21_transitive_closure",
    (s, dir) => {
      val edges = Tables(s, dir).part
        .select(col("p_partkey").as("child"),
                expr("p_partkey div 2").cast("long").as("parent"))
        .filter(col("child") > 1)
      val roots = s.range(1, 2).select(col("id").as("node"))
      descendantsWithDepth(s, edges, roots)
        .filter(col("depth") > 0)
        .select(col("node"), col("depth"))
    },
    Some("""WITH RECURSIVE edges AS (
        SELECT p_partkey AS child, p_partkey // 2 AS parent FROM part WHERE p_partkey > 1),
      d AS (
        SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
        UNION ALL
        SELECT e.child, d.depth + 1 FROM d JOIN edges e ON e.parent = d.node)
      SELECT node, depth FROM d WHERE depth > 0"""))

  val all: Seq[QueryDef] = Seq(q21Closure)
}
