package graft.engine

import graft.SparkTestBase
import graft.ops.DatalogOps

/** The compiled plan shape of the readiness rules: q502's rule pair
  * (reference store/datomic.clj:105-117) over a store snapshot must reach
  * the same join + left_anti shape [[StoreViews.jobsReady]] declares — the
  * rule indirection may not introduce extra joins or change the join
  * strategy class. That both give the store's answer on every backend is
  * ReadinessSpec's.
  */
class DatalogStoreSpec extends SparkTestBase {

  test("compiled readiness plan shape == hand-written plan shape (join + left_anti)") {
    val s = TruthTable.build(new InMemoryJobStore)
    val jobs = StoreViews.jobsDF(spark, s).toDF()
    val deps = StoreViews.depsDF(spark, s).toDF()
    def joinKinds(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val plan = df.queryExecution.optimizedPlan
      plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.joinType.sql
      }.sorted
    }
    import org.apache.spark.sql.functions.col
    val jobRel = jobs.select(col("id"), col("status"))
    val depRel = deps.select(col("jobId"), col("depId"))
    // materializeSeeds = false keeps the whole compiled plan visible
    // (no checkpoint truncation) — sound here: the program is
    // non-recursive, so no semi-naive rounds run
    val rulePlan = DatalogOps.readyProgram
      .run(Map("job" -> jobRel, "dep" -> depRel), "ready",
        materializeSeeds = false)
    val ruleKinds = joinKinds(rulePlan)
    val handKinds = joinKinds(StoreViews.jobsReady(jobs, deps))
    // both compile to exactly one anti join (¬blocked) over exactly one
    // semi/inner join (dep ⋈ job): the rule engine introduces no extra
    // join and no extra shuffle-producing operator
    assert(ruleKinds.count(_ == "LEFT ANTI") == 1, ruleKinds.toString)
    assert(handKinds.count(_ == "LEFT ANTI") == 1, handKinds.toString)
    assert(ruleKinds.size == 2 && handKinds.size == 2,
      s"expected join + left_anti on both paths: $ruleKinds vs $handKinds")
    // and the compiled rule plan agrees with the hand plan's rows
    assert(rulePlan.collect().map(_.getString(0)).toSet == TruthTable.ready)
  }
}
