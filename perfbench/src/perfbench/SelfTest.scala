package perfbench

import scala.collection.mutable

import graft.engine.{Dep, InMemoryJobStore, JdbcJobStore, Job, JobGraph, JobStatus, JobStore}

/** The benchmark's own tests: generator determinism, the store wrapper's
  * pass-through, the tail-percentile rule, self time, and a small drain.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def eq[A](got: A, want: A, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def fingerprint(p: Plan) =
    (p.ids, p.graph.deps, p.outcome.toSeq, p.task, p.graph.jobs.map(_.jobType))

  def main(args: Array[String]): Unit = {
    val shape = DagShape(400, 10, 3)
    val mix = OutcomeMix(faults = 40, fails = 20, aborts = 8)

    test("same seed, same DAG, outcome plan and query placement") {
      val tasks = (0 until 400).map(i => s"q${i % 9}")
      eq(fingerprint(Gen.plan(7, shape, mix, tasks)), fingerprint(Gen.plan(7, shape, mix, tasks)))
    }

    test("another seed, another DAG") {
      val a = Gen.plan(7, shape, mix); val b = Gen.plan(8, shape, mix)
      assert(a.ids != b.ids, "ids")
      val edges = (p: Plan) => p.parents.map(_.toSeq)
      assert(edges(a) != edges(b), "edges")
      assert(a.outcome.toSeq != b.outcome.toSeq, "outcomes")
    }

    test("fan-in 1..3 from the previous layer only; outcome counts exact") {
      val p = Gen.plan(11, shape, mix)
      for (j <- 0 until p.size) {
        val l = shape.layerOf(j)
        if (l == 0) eq(p.parents(j).length, 0, s"parents of $j")
        else {
          assert(p.parents(j).length >= 1 && p.parents(j).length <= 3, s"fan-in of $j")
          assert(p.parents(j).forall(q => shape.layerOf(q) == l - 1), s"layer of parents of $j")
        }
      }
      eq(p.outcome.count(_ == Outcome.Fault), 40, "faults")
      eq(p.outcome.count(_ == Outcome.Fail), 20, "fails")
      eq(p.outcome.count(_ == Outcome.Abort), 8, "aborts")
      assert((0 until p.size).filter(p.outcome(_) == Outcome.Fail).forall(p.children(_).isEmpty),
        "failures only on jobs without dependents")
      assert(p.graph.isValid, "graph valid")
    }

    test("every planned status is final and aborts cascade") {
      val p = Gen.plan(12, shape, mix)
      val finals = Set(JobStatus.Finished, JobStatus.Failed, JobStatus.Aborted)
      assert(p.expectedStatus.forall(finals), "final")
      for (j <- 0 until p.size if p.expectedStatus(j) == JobStatus.Aborted)
        assert(p.outcome(j) == Outcome.Abort ||
          p.parents(j).exists(q => p.expectedStatus(q) == JobStatus.Aborted), s"abort of $j has a cause")
      eq(p.terminalCalls, p.runs.count(identity), "terminal calls")
    }

    test("tail percentile leaves at least 10 samples beyond it") {
      eq(Stats.tailPercentile(10000), Some(99.9), "n=10000")
      eq(Stats.tailPercentile(1000), Some(99.0), "n=1000")
      eq(Stats.tailPercentile(999), Some(95.0), "n=999")
      eq(Stats.tailPercentile(200), Some(95.0), "n=200")
      eq(Stats.tailPercentile(199), Some(90.0), "n=199")
      eq(Stats.tailPercentile(40), Some(75.0), "n=40")
      eq(Stats.tailPercentile(20), Some(50.0), "n=20")
      eq(Stats.tailPercentile(19), None, "n=19")
      for (n <- 1 to 3000; p <- Stats.tailPercentile(n)) assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      eq(Stats.percentile(Array(5.0, 1.0, 4.0, 2.0, 3.0), 50), 3.0, "median")
    }

    test("self time subtracts merged, clipped child intervals") {
      val spans = Seq(
        Span(1, 0, "worker.tick", "j", 0, 100),
        Span(2, 1, "store.reserve", "j", 10, 30),
        Span(3, 1, "handler", "j", 20, 60),
        Span(4, 3, "ops.q", "j", 50, 200))
      val self = Tracer.selfTimeMs(spans).map { case (k, v) => k -> math.round(v * 1e6) }
      eq(self("worker"), 50L, "worker") // 100 - [10,60)
      eq(self("store"), 20L, "store")
      eq(self("handler"), 30L, "handler") // 40 - [50,60)
      eq(self("ops"), 150L, "ops")
    }

    def passThrough(mk: () => JobStore): Unit = {
      val g = Gen.plan(3, DagShape(12, 3, 2)).graph
      val raw = mk(); raw.install()
      val plain = mk(); plain.install()
      val probe = new Probe(Gen.plan(3, DagShape(12, 3, 2)), new Tracer(true))
      val wrapped = new ProbedStore(plain, probe)
      def both[A](f: JobStore => A): A = {
        val x = f(raw); val y = f(wrapped); eq(y, x, "wrapped result"); y
      }
      def jobs(s: JobStore) = s.snapshotJobs.map(j => (j.id, j.status, j.failure, j.lockVersion)).sortBy(_._1)
      both(_.transactGraph(g))
      val ready = both(_.jobsReady(Int.MaxValue))
      eq(both(_.readyJobs(Int.MaxValue)).map(_.id).toSet, ready, "readyJobs ids")
      val ids = ready.toSeq.sorted
      both(_.reserveJob(ids(0)).map(_.status))
      both(_.reserveJob(ids(0)).map(_.status)) // lost race: None on both
      both(_.finishJob(ids(0)))
      both(_.reserveJob(ids(1)).map(_.status))
      both(_.resetJob(ids(1)).map(_.status))
      both(_.reserveJob(ids(1)).map(_.status))
      both(_.failJob(ids(1), Some("boom")))
      both(_.heartbeatJob(ids(2)))
      both(_.abortJob(ids(2)))
      both(_.jobInfo(ids(0)).map(_.status))
      both(_.jobsWithStatus(JobStatus.Aborted))
      both(_.jobsDead(Long.MaxValue, Int.MaxValue))
      eq(jobs(wrapped), jobs(raw), "snapshots")
      eq(wrapped.snapshotDeps.toSet, raw.snapshotDeps.toSet, "deps")
      eq(probe.calls("reserve").sum, 4L, "reserve calls")
      eq(probe.reserveLost.sum, 1L, "reserve lost")
      eq(probe.terminal.get(), 3, "terminal calls")
    }

    test("ProbedStore forwards every call unchanged (in-memory)") {
      passThrough(() => new InMemoryJobStore)
    }

    test("ProbedStore forwards every call unchanged (JDBC)") {
      var n = 0
      passThrough { () => n += 1; new JdbcJobStore(s"jdbc:derby:memory:selftest$n;create=true") }
    }

    test("a small drain with every outcome passes its checks") {
      val p = Gen.plan(5, DagShape(200, 8, 3), OutcomeMix(faults = 20, fails = 10, aborts = 4))
      val store = new InMemoryJobStore; store.install()
      val tracer = new Tracer(true)
      val d = Drive.drain(p, Vector.fill(3)(store), Set("noop"), (_, _) => (), tracer,
        new LoopCounters, 5, 60000L)
      eq(d.errors, Vector.empty, "errors")
      eq(d.probe.dispatchMs.length, (0 until p.size).map(p.expectedReserves).sum, "dispatch samples")
      assert(d.probe.dispatchMs.forall(_ >= 0), "dispatch waits are non-negative")
      assert(tracer.all.exists(_.name == "store.ready") && tracer.all.exists(_.name == "handler"), "spans")
    }

    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
