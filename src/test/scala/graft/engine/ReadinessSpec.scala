package graft.engine

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkTestBase
import graft.ops.DatalogOps

/** The one store-query spec: every [[StoreViews]] query over a snapshot of
  * each of the four backends (`memory`, `log`, `shared-log`, `jdbc`) must
  * give the store's own answer — readiness through the hand plan and
  * through q502's rule pair, liveness, dependents, and the abort cascade
  * against the store's `abortJob`. Fixture: [[TruthTable]]. */
class ReadinessSpec extends SparkTestBase {
  import TruthTable.onEachBackend

  private def frames(s: JobStore): (DataFrame, DataFrame) =
    (StoreViews.jobsDF(spark, s).toDF(), StoreViews.depsDF(spark, s).toDF())

  private def ids(df: DataFrame): Set[String] =
    df.select("id").collect().map(_.getString(0)).toSet

  test("readiness matrix: store agrees with the truth table") {
    onEachBackend { (name, s) =>
      assert(TruthTable.build(s).jobsReady() == TruthTable.ready, name)
    }
  }

  test("readiness matrix: DataFrame anti-join agrees with the store") {
    onEachBackend { (name, s) =>
      val (jobs, deps) = frames(TruthTable.build(s))
      val viaPlan = ids(StoreViews.jobsReady(jobs, deps))
      val viaRules = DatalogOps.readyProgram
        .run(Map("job" -> jobs.select(col("id"), col("status")),
          "dep" -> deps.select(col("jobId"), col("depId"))), "ready")
        .collect().map(_.getString(0)).toSet
      assert(viaPlan == s.jobsReady(), name)
      assert(viaRules == viaPlan, name)
    }
  }

  test("jobs-dead DataFrame filter agrees with the store") {
    onEachBackend { (name, s) =>
      // j2 is the one started job; its heartbeat is its reserve time
      val (jobs, _) = frames(TruthTable.build(s))
      val after = System.currentTimeMillis() / 1000 + 100
      assert(ids(StoreViews.jobsDead(jobs, after)) == s.jobsDead(after), name)
      assert(s.jobsDead(after) == Set("j2"), name)
      assert(ids(StoreViews.jobsDead(jobs, 0L)).isEmpty, name)
    }
  }

  test("dependents fixpoint DataFrame agrees with driver BFS on the diamond + chain") {
    onEachBackend { (name, s) =>
      s.install()
      val g = JobGraph.jobGraph(Map(
        "b" -> Seq("a"), "c" -> Seq("a"), "d" -> Seq("b", "c"), "e" -> Seq("d")))
      s.transactGraph(g)
      val id = g.jobs.map(j => j.jobType -> j.id).toMap
      val (_, deps) = frames(s)
      val got = ids(StoreViews.dependents(spark, deps, Seq(id("a"))))
      assert(got == JobGraph.dependents(s.snapshotDeps, Set(id("a"))), name)
      assert(got == Set(id("b"), id("c"), id("d"), id("e")), name)
    }
  }

  test("abort cascade DataFrame marks exactly the closure (store_test.clj:106-124)") {
    onEachBackend { (name, s) =>
      TruthTable.build(s)
      // j4 is finished and stays so; j2 is started; j6 hangs off both
      Seq("j4", "j2").foreach { root =>
        val (jobs, deps) = frames(s)
        val cascade = StoreViews.abortCascade(spark, jobs, deps, root)
          .select("id", "status").collect().map(r => r.getString(0) -> r.getString(1)).toMap
        s.abortJob(root)
        assert(cascade == s.snapshotJobs.map(j => j.id -> j.status).toMap, s"$name abort $root")
      }
      assert(s.jobsWithStatus(JobStatus.Aborted) == Set("j2", "j3", "j5", "j6", "j7"), name)
      assert(s.jobsWithStatus(JobStatus.Finished) == Set("j4"), name)
    }
  }

  test("dependents: StoreViews equals JobGraph on 20 seeded random graphs with cycles") {
    (0 until 20).foreach { g =>
      val rnd = new Random(8100 + g)
      val nodes = 4 + rnd.nextInt(9)
      // random edges over a small id space, so cycles and self loops occur
      val deps = Seq.fill(nodes + rnd.nextInt(2 * nodes)) {
        Dep(s"n${rnd.nextInt(nodes)}", s"n${rnd.nextInt(nodes)}")
      }.distinct
      val roots = Seq.fill(1 + rnd.nextInt(3))(s"n${rnd.nextInt(nodes)}").distinct
      import spark.implicits._
      val got = ids(StoreViews.dependents(spark, deps.toDF(), roots))
      assert(got == JobGraph.dependents(deps, roots.toSet), s"graph $g: $deps from $roots")
    }
  }
}
