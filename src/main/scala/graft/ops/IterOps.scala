package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iteration & context wave: SEMI-NAIVE delta iteration for recursive
  * closure (the evaluation strategy that makes Datalog/recursive CTEs
  * viable at scale — each round joins only the newly-derived DELTA, not
  * the whole closure; q21's fixpoint is the naive twin), and the
  * contrastive context-gain score (how much the bigram context improves
  * on the unigram model per document — the degeneracy/boilerplate
  * signal contrastive-decoding papers read, computed with q245's
  * type-level discipline).
  */
object IterOps {

  /** Semi-naive BFS over the part tree (child → child div 2, the q21
    * graph), from root 1, as the min-depth [[GraphOps.pathFold]] program
    *
    *   depth(n, d)  ← root(n, d)                        [fold min@1]
    *   depth(c, nd) ← depth(p, d) ∧ edge(p, c), nd = d + 1
    *
    * followed by a count per depth. [[graft.plans.Datalog]] evaluates it
    * semi-naively: each round joins ONLY the nodes first reached last
    * round (the delta) against the edge table and merges the candidates
    * into the standing depth map — the optimization that turns
    * O(closure × edges × depth) naive recursion into O(edges reached)
    * total work; rounds are bounded by the tree depth (⌈log₂ maxkey⌉).
    * Duplicate part keys fold into one node. Reports the BFS level
    * profile: depth, level size, cumulative reached — the oracle
    * recomputes it as min-depth classes of a recursive CTE. */
  val q354SeminaiveClosure: QueryDef = QueryDef(
    "q354_seminaive_closure",
    (s, dir) => {
      val edges = Tables(s, dir).part
        .filter(col("p_partkey") >= 2)
        .select(expr("p_partkey div 2").as("parent"),
          col("p_partkey").as("child"), lit(1L).as("w"))
        .localCheckpoint() // every round probes this one frame
      val root = s.range(1).select(lit(1L).as("node"), lit(0L).as("depth"))
      GraphOps.pathFold("min", root, edges)
        .groupBy(col("depth")).agg(count(lit(1)).as("n_nodes"))
        .withColumn("n_cum", sum(col("n_nodes")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("depth"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
              org.apache.spark.sql.expressions.Window.currentRow)))
        .orderBy(col("depth"))
    },
    Some("""WITH RECURSIVE bfs(node, depth) AS (
        SELECT CAST(1 AS BIGINT), 0
        UNION ALL
        SELECT p.p_partkey, b.depth + 1
        FROM bfs b JOIN part p ON p.p_partkey // 2 = b.node
        WHERE p.p_partkey >= 2),
      md AS (SELECT node, CAST(MIN(depth) AS BIGINT) AS depth FROM bfs GROUP BY 1),
      lv AS (SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM md GROUP BY 1)
      SELECT depth, n_nodes,
        CAST(SUM(n_nodes) OVER (ORDER BY depth
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum
      FROM lv ORDER BY depth"""))

  /** Contrastive context gain: score each DISTINCT bigram type once —
    * gain(w1,w2) = ln p(w2|w1) − ln p(w2) from the corpus bigram/unigram
    * counts (12-dp rounded) — then join the corpus-sized per-doc bigram
    * occurrence frame a single time (q245's type-level rework, the
    * measured 2× law for LM scoring) and aggregate per document. A high
    * mean gain = the doc's word order carries real information; ~0 =
    * bag-of-words/boilerplate — the contrastive-decoding quality signal
    * as a curation column. */
  val q355ContextGain: QueryDef = QueryDef(
    "q355_context_gain",
    (s, dir) => {
      val toks = Tables(s, dir).documents
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
        .localCheckpoint() // ONE tokenize pass (scan + text shuffle + regex)
                           // feeds BOTH the bigram and the unigram census —
                           // uncheckpointed, each census re-ran all three
      val occ = toks.select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(toks)-2), i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("b"))
        .groupBy(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("occ"))
        .localCheckpoint() // type counts AND the one join-back read this
      val bi = occ.groupBy(col("w1"), col("w2")).agg(sum(col("occ")).as("cb"))
      val w1tot = bi.groupBy(col("w1")).agg(sum(col("cb")).as("c1"))
      val uni = toks.select(explode(col("toks")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
      val nTok = broadcast(uni.agg(sum(col("cu")).as("n_total")))
      // per-type gains stay RAW doubles (the q94 discipline): sums of ln
      // values are generic reals that never sit on a round(6) boundary,
      // whereas a 12-dp DECIMAL per-type rounding produced terminating
      // quotients landing EXACTLY on .5 at the 7th digit (measured: 3 of
      // 600 docs split between HALF_UP and double rounding)
      val typeGain = bi.join(w1tot, Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cu")), Seq("w2"))
        .crossJoin(nTok)
        .select(col("w1"), col("w2"),
          (log(col("cb").cast("double") / col("c1")) -
            log(col("cu").cast("double") / col("n_total"))).as("gain"))
      occ.join(typeGain, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(sum(col("occ")).as("n_bigrams"),
          round(sum(col("gain") * col("occ")) / sum(col("occ")), 6)
            .as("mean_gain"))
        .select(col("doc_id"), col("n_bigrams"), col("mean_gain"))
    },
    Some("""WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS tk
          FROM documents WHERE len(regexp_extract_all(lower(text), '\w+')) >= 2),
      occ AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2,
          CAST(COUNT(*) AS BIGINT) AS occ
        FROM t, UNNEST(range(1, len(tk))) AS r(i) GROUP BY 1, 2, 3),
      bi AS (SELECT w1, w2, CAST(SUM(occ) AS BIGINT) AS cb FROM occ GROUP BY 1, 2),
      w1tot AS (SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1 FROM bi GROUP BY 1),
      uni AS (SELECT u.w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM t, UNNEST(tk) AS u(w) GROUP BY 1),
      nt AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_total FROM uni),
      tg AS (SELECT b.w1, b.w2,
          ln(CAST(b.cb AS DOUBLE) / w1tot.c1)
            - ln(CAST(u.cu AS DOUBLE) / nt.n_total) AS gain
        FROM bi b JOIN w1tot USING (w1)
        JOIN uni u ON u.w = b.w2 CROSS JOIN nt)
      SELECT o.doc_id, CAST(SUM(o.occ) AS BIGINT) AS n_bigrams,
        round(SUM(g.gain * o.occ) / SUM(o.occ), 6) AS mean_gain
      FROM occ o JOIN tg g ON g.w1 = o.w1 AND g.w2 = o.w2
      GROUP BY 1"""))

  val all: Seq[QueryDef] = Seq(q354SeminaiveClosure, q355ContextGain)
}
