package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Datalog._

/** The store's relational surface as Spark DataFrames — every query the
  * reference issues against its own tables (SURVEY.md §2D), re-expressed as
  * Catalyst plans so it scales from a 10-row local store to a 100 TB job
  * table unchanged.
  *
  * At cluster scale the jobs/deps tables would be parquet-backed; here they
  * can also be materialized from an [[InMemoryJobStore]] snapshot. Either
  * way the operators below only see DataFrames.
  */
object StoreViews {

  def jobsDF(spark: SparkSession, store: JobStore): Dataset[Job] = {
    import spark.implicits._
    spark.createDataset(store.snapshotJobs)
  }

  def depsDF(spark: SparkSession, store: JobStore): Dataset[Dep] = {
    import spark.implicits._
    spark.createDataset(store.snapshotDeps)
  }

  /** §2D row 4 — the scheduler's readiness anti-join (jdbc.clj:230-242):
    * unstarted jobs with NO dependency whose parent is non-finished.
    * `blocked` = deps ⋈ jobs on dep_id where parent status ≠ finished;
    * ready = unstarted ∖ blocked via left_anti. At scale both joins shuffle
    * on job id; the jobs side is filtered to non-finished parents first so
    * the join input shrinks as the run progresses.
    */
  def jobsReady(jobs: DataFrame, deps: DataFrame): DataFrame = {
    val blocked = deps
      .join(jobs.filter(col("status") =!= JobStatus.Finished).select(col("id")),
            deps("depId") === col("id"), "left_semi")
      .select(col("jobId").as("id"))
      .distinct()
    jobs.filter(col("status") === JobStatus.Unstarted)
      .join(blocked, Seq("id"), "left_anti")
  }

  /** §2D row 5 — liveness range filter: started ∧ heartbeat < threshold. */
  def jobsDead(jobs: DataFrame, threshold: Long): DataFrame =
    jobs.filter(col("status") === JobStatus.Started && col("heartbeat") < lit(threshold))

  /** Status dashboard view — per-status id sets as a DataFrame (the
    * Monitoring.md equivalent at the relational layer): one hash
    * aggregate, no join. */
  def statusCounts(jobs: DataFrame): DataFrame =
    jobs.groupBy(col("status")).agg(count(lit(1)).as("n"))

  /** dependents as a rooted rule pair (reference jdbc.clj:101-113,
    * datomic.clj:93-96), with edge(x, y) = x depends on y:
    *   reach(x) ← root(r) ∧ edge(x, r)
    *   reach(x) ← reach(y) ∧ edge(x, y)
    */
  private val dependentsProgram = Program(Seq(
    Rule(Atom("reach", Seq(V("x"))),
      Seq(Atom("root", Seq(V("r"))), Atom("edge", Seq(V("x"), V("r"))))),
    Rule(Atom("reach", Seq(V("x"))),
      Seq(Atom("reach", Seq(V("y"))), Atom("edge", Seq(V("x"), V("y")))))))

  /** §2D row 6 — transitive dependents of `rootIds`, the roots themselves
    * excluded: [[dependentsProgram]] under [[graft.plans.Datalog]]'s
    * semi-naive fixpoint, so each round joins only the jobs first reached
    * last round, every round is checkpointed, and a cycle through a root
    * or through visited jobs derives nothing new. */
  def dependents(spark: SparkSession, deps: DataFrame, rootIds: Seq[String]): DataFrame = {
    import spark.implicits._
    val roots = rootIds.toDF("id")
    dependentsProgram
      .run(Map("root" -> roots, "edge" -> deps.select(col("jobId"), col("depId"))), "reach")
      .select(col("_p0").as("id"))
      .join(broadcast(roots), Seq("id"), "left_anti")
  }

  /** §2D row 7 — cascading bulk status update: closure ∪ self → overwrite of
    * the status column for the members the FSM table moves into aborted
    * (abort cascade). */
  def abortCascade(spark: SparkSession, jobs: DataFrame, deps: DataFrame, id: String): DataFrame = {
    val targets = dependents(spark, deps, Seq(id)).union(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(id)),
      new org.apache.spark.sql.types.StructType().add("id", "string")))
    jobs.join(targets.withColumnRenamed("id", "t_id"), col("id") === col("t_id"), "left")
      .withColumn("status",
        when(col("t_id").isNotNull &&
             col("status").isin(JobStatus.into(JobStatus.Aborted).toSeq: _*),
             lit(JobStatus.Aborted))
          .otherwise(col("status")))
      .drop("t_id")
  }
}
