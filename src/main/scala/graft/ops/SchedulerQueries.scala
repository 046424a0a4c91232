package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.StoreViews

/** The reference's scheduler queries (SURVEY.md §2D) expressed as
  * DataFrame plans over the analytic tables, proving the §2B/§2C relational
  * core — readiness anti-join, liveness range-scan, approx-distinct — at
  * data scale rather than over the driver-local job store.
  */
object SchedulerQueries {

  /** jobs-ready (§2D row 4, jdbc.clj:230-242) over a job table derived from
    * orders: each order is a "job" whose dependency is the same customer's
    * previous order; status comes from o_orderstatus (F=finished, P=started,
    * O=unstarted). Ready = unstarted ∧ (no dep ∨ dep finished) — the
    * store's own readiness plan, [[StoreViews.jobsReady]], over these
    * tables. */
  val q33JobsReady: QueryDef = QueryDef(
    "q33_jobs_ready",
    (s, dir) => {
      val jobs = Tables(s, dir).orders.select(
        col("o_orderkey").as("id"), col("o_custkey"), col("o_orderdate"),
        when(col("o_orderstatus") === "F", lit("finished"))
          .when(col("o_orderstatus") === "P", lit("started"))
          .otherwise(lit("unstarted")).as("status"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("id").asc)
      val deps = jobs.withColumn("depId", lag(col("id"), 1).over(w))
        .filter(col("depId").isNotNull)
        .select(col("id").as("jobId"), col("depId"))
      StoreViews.jobsReady(jobs, deps).select(col("id"), col("o_custkey"))
    },
    Some("""WITH jobs AS (
        SELECT o_orderkey AS id, o_custkey, o_orderdate,
          CASE WHEN o_orderstatus = 'F' THEN 'finished'
               WHEN o_orderstatus = 'P' THEN 'started'
               ELSE 'unstarted' END AS status
        FROM orders),
      deps AS (
        SELECT id AS job_id,
          lag(id) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, id) AS dep_id
        FROM jobs),
      blocked AS (
        SELECT DISTINCT d.job_id AS id FROM deps d
        JOIN jobs p ON d.dep_id = p.id
        WHERE p.status <> 'finished')
      SELECT j.id, j.o_custkey FROM jobs j
      WHERE j.status = 'unstarted'
        AND NOT EXISTS (SELECT 1 FROM blocked b WHERE b.id = j.id)"""))

  /** jobs-dead analog (§2D row 5, liveness range filter): users whose last
    * event ("heartbeat") is more than 2h older than the newest event — the
    * threshold is a scalar aggregate broadcast against the per-user aggs,
    * exactly how a liveness monitor would compute `now - tolerance`. */
  val q34DeadHeartbeats: QueryDef = QueryDef(
    "q34_dead_heartbeats",
    (s, dir) => {
      val ev = EventOps.events(s, dir)
      val cutoff = ev.agg((max(unix_micros(col("ts"))) - lit(7200000000L)).as("cutoff_us"))
      ev.groupBy(col("user_id"))
        .agg(unix_micros(max(col("ts"))).as("last_us"), count(lit(1)).as("n_events"))
        .crossJoin(broadcast(cutoff))
        .filter(col("last_us") < col("cutoff_us"))
        .select(col("user_id"), col("last_us"), col("n_events"))
    },
    Some("""SELECT user_id, epoch_us(max(ts)) AS last_us, COUNT(*) AS n_events
      FROM events GROUP BY 1
      HAVING epoch_us(max(ts)) < (SELECT max(epoch_us(ts)) - 7200000000 FROM events)"""))

  /** Approximate distinct (HLL) — the at-scale counterpart of §2D's
    * DISTINCT. The raw sketch value is engine-specific, so the oracle-able
    * contract is: exact distinct counts plus a boolean asserting the HLL
    * estimate landed within its ±5% error bound (the oracle emits TRUE —
    * a drifting sketch now fails the driver gate, not just OpsSpec). */
  val q35ApproxDistinct: QueryDef = QueryDef(
    "q35_approx_distinct",
    (s, dir) => Tables(s, dir).lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
           countDistinct(col("l_orderkey")).as("exact_orders"),
           // rsd=0.01 so the ±5% assertion sits at 5σ, not 1σ (the
           // default rsd=0.05 misses a 5% bound ~1/3 of the time)
           approx_count_distinct(col("l_partkey"), 0.01).as("ap"),
           approx_count_distinct(col("l_orderkey"), 0.01).as("ao"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
        (abs(col("ap") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("parts_within_5pct"),
        (abs(col("ao") - col("exact_orders")) <=
          col("exact_orders") * 0.05).as("orders_within_5pct")),
    Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_parts,
        COUNT(DISTINCT l_orderkey) AS exact_orders,
        TRUE AS parts_within_5pct, TRUE AS orders_within_5pct
      FROM lineitem GROUP BY 1"""))

  val all: Seq[QueryDef] = Seq(q33JobsReady, q34DeadHeartbeats, q35ApproxDistinct)
}
