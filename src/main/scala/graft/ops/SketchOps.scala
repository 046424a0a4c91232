package graft.ops

import org.apache.spark.sql.functions._

import graft.functions.GraftExtensions

/** Sketch-based operators: the probabilistic summaries a 100 TB engine
  * leans on when exact state would not fit or would shuffle too much —
  * bloom-filter join pruning, mergeable HLL cardinality sketches, and
  * count-min frequency sketches. Each query pairs the sketch path with
  * an exact yardstick so the DuckDB oracle stays hash-exact while the
  * sketch's accuracy contract is asserted as data (the q35 idiom: the
  * oracle hard-codes TRUE, so a bound violation shows up as a hash
  * mismatch, not a silently-wrong number).
  */
object SketchOps {

  /** Bloom-pruned semi join: lineitem rows whose order cleared a price
    * threshold. The bloom filter is built over the FILTERED key set
    * (small) and probed on the big side BEFORE the semi join — rows
    * failing `might_contain` never reach the shuffle, which is Spark's
    * own runtime-filter pattern (InjectRuntimeFilter) written out
    * explicitly so it applies on engines/paths where the optimizer
    * wouldn't inject it. False positives are removed by the exact semi
    * join, so the result is oracle-exact regardless of the filter's FPP.
    * At 100 TB the win is shuffle volume: the probe is a local scan-side
    * predicate (~1% survivors at this threshold), the semi join then
    * shuffles only survivors.
    */
  val q126BloomPruneJoin: QueryDef = QueryDef(
    "q126_bloom_prune_join",
    (s, dir) => {
      GraftExtensions.registerSql(s)
      val t = Tables(s, dir)
      t.orders.createOrReplaceTempView("g126_orders")
      t.lineitem.createOrReplaceTempView("g126_lineitem")
      s.sql("""
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM g126_lineitem
        WHERE might_contain(
                (SELECT bloom_filter_agg(o_orderkey, 100000L)
                 FROM g126_orders WHERE o_totalprice > 400000.0),
                l_orderkey)
          AND l_orderkey IN
                (SELECT o_orderkey FROM g126_orders WHERE o_totalprice > 400000.0)
        GROUP BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
      GROUP BY 1"""))

  /** HLL cardinality sketches: per-event-type distinct users via
    * `hll_sketch_agg` (Datasketches HLL, lgK=14 ≈ 0.8% rsd), then the
    * GLOBAL distinct via `hll_union_agg` over the five per-type sketches
    * — the mergeable-summary property that makes sketches the 100 TB
    * answer: the union row re-reads five 16 KB sketches, not the corpus.
    * The exact recounts exist only to validate the sketch against truth
    * (the oracle hard-codes the within-3% verdict, so a sketch drifting
    * out of its error bound fails the hash compare).
    */
  val q127HllUsers: QueryDef = QueryDef(
    "q127_hll_users",
    (s, dir) => {
      val events = EventOps.events(s, dir)
      val sk = events.groupBy(col("event_type")).agg(
        hll_sketch_agg(col("user_id"), lit(14)).as("sk"),
        count_distinct(col("user_id")).as("exact_users"))
      val perType = sk.select(
        col("event_type").as("scope"),
        col("exact_users"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_users")) <=
          col("exact_users") * 0.03).as("within_3pct"))
      val unionEst = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      val globalExact = events.agg(
        count_distinct(col("user_id")).as("exact_users"))
      val unionRow = globalExact.crossJoin(broadcast(unionEst)).select(
        lit("__union__").as("scope"),
        col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          col("exact_users") * 0.03).as("within_3pct"))
      perType.unionAll(unionRow)
    },
    Some("""SELECT event_type AS scope,
        COUNT(DISTINCT user_id) AS exact_users,
        TRUE AS within_3pct
      FROM events GROUP BY 1
      UNION ALL
      SELECT '__union__', COUNT(DISTINCT user_id), TRUE FROM events"""))

  /** Count-min-sketch frequency estimates, probed IN the plan: one
    * 1-row aggregate builds the sketch (`count_min_sketch`, built-in)
    * plus the total row count; the per-key exact counts cross-join that
    * broadcast row and each key probes the sketch via the custom
    * [[graft.functions.CmsEstimate]] expression. The CMS contract —
    * exact ≤ estimate ≤ exact + ε·N, here ε=0.001 — is emitted as a
    * boolean the oracle pins to TRUE. Merge-order independence (counter
    * arrays add) makes the estimate deterministic under any
    * partitioning, so this is safe to hash-compare.
    */
  val q128CmsFrequency: QueryDef = QueryDef(
    "q128_cms_frequency",
    (s, dir) => {
      GraftExtensions.registerSql(s)
      val events = EventOps.events(s, dir)
      val sketchRow = events.agg(
        expr("count_min_sketch(event_type, 0.001d, 0.999d, 42)").as("sk"),
        count(lit(1)).as("n_total"))
      val exact = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("exact_count"))
      exact.crossJoin(broadcast(sketchRow))
        .select(
          col("event_type"), col("exact_count"),
          (expr("cms_estimate(sk, event_type)") >= col("exact_count") &&
           expr("cms_estimate(sk, event_type)") <=
             col("exact_count") + ceil(col("n_total") * 0.001).cast("long"))
            .as("cms_within_bounds"))
    },
    Some("""SELECT event_type, COUNT(*) AS exact_count,
        TRUE AS cms_within_bounds
      FROM events GROUP BY 1"""))

  /** Pairwise audience overlap via HLL inclusion–exclusion:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where est(A∪B) is the UNION of
    * the two per-type sketches — never a rescan. This is how overlap
    * matrices get built when the sets are too big to intersect exactly:
    * n² pair intersections collapse to n sketches + cheap pairwise
    * unions. Exact per-pair intersections (a user-keyed self-join,
    * bounded by per-user type fan-out) certify the estimate within 5% of
    * the union size, oracle-pinned TRUE.
    */
  val q153HllOverlap: QueryDef = QueryDef(
    "q153_hll_overlap",
    (s, dir) => {
      val ut = EventOps.events(s, dir)
        .select(col("event_type"), col("user_id")).distinct()
      val sk = ut.groupBy(col("event_type")).agg(
        hll_sketch_agg(col("user_id"), lit(14)).as("sk"),
        count(lit(1)).as("exact"))
      val pairsSk = sk.as("a").join(sk.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
                col("b.event_type").as("type_b"),
                col("a.exact").as("exact_a"), col("b.exact").as("exact_b"),
                (hll_sketch_estimate(col("a.sk")) +
                 hll_sketch_estimate(col("b.sk")) -
                 hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))))
                  .as("est_inter"),
                hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))
                  .as("est_union"))
      val exactInter = ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
                 col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairsSk.join(exactInter, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          col("exact_a"), col("exact_b"), col("exact_inter"),
          (abs(col("est_inter") - col("exact_inter")) <=
            col("est_union") * 0.05).as("est_within_5pct"))
    },
    Some("""WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        c AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
        i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
            COUNT(*) AS exact_inter
          FROM ut x JOIN ut y ON x.user_id = y.user_id
            AND x.event_type < y.event_type
          GROUP BY 1, 2)
      SELECT i.type_a, i.type_b,
        ca.n AS exact_a, cb.n AS exact_b, i.exact_inter,
        TRUE AS est_within_5pct
      FROM i JOIN c ca ON i.type_a = ca.event_type
             JOIN c cb ON i.type_b = cb.event_type"""))

  val all: Seq[QueryDef] = Seq(q126BloomPruneJoin, q127HllUsers, q128CmsFrequency,
    q153HllOverlap)
}
