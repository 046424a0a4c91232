package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** Store-protocol behavior suite — the reference's store-agnostic tests
  * (SURVEY.md §5 layer 1-3; test/overseer/store_test.clj) written once
  * against the JobStore trait. */
trait JobStoreBehaviors { this: AnyFunSuite =>

  def freshStore(): JobStore

  /** For a backend that persists: a fresh store, and a function that
    * closes it and opens a new store over what it persisted. */
  def durableStore(): Option[(JobStore, () => JobStore)] = None

  def chain(): (JobStore, Map[String, String]) = {
    val s = freshStore()
    val g = JobGraph.jobGraph(Map("j1" -> Seq("j0"), "j2" -> Seq("j1")))
    s.transactGraph(g)
    (s, g.jobs.map(j => j.jobType -> j.id).toMap)
  }

  def storeProtocol(): Unit = {

    test("transact-graph inserts jobs+deps and is idempotent, never upserts (store_test.clj:27-40)") {
      val s = freshStore()
      val g = JobGraph.jobGraph(Map("b" -> Seq("a")), args = Some("""{"v":1}"""))
      s.transactGraph(g)
      assert(s.snapshotJobs.size == 2 && s.snapshotDeps.size == 1)
      // same ids with different args: swallowed, not updated
      val mutated = JobGraph(g.jobs.map(_.copy(args = Some("""{"v":2}"""))), g.deps)
      s.transactGraph(mutated)
      assert(s.snapshotJobs.size == 2)
      assert(s.snapshotJobs.forall(_.args.contains("""{"v":1}""")))
    }

    test("transact-graph is all or nothing: a graph naming an existing id inserts none of its jobs or deps (jdbc.clj:169-185)") {
      val durable = durableStore()
      val s = durable.fold(freshStore())(_._1)
      s.transactGraph(JobGraph.simpleGraph(Job("a", "t")))
      s.transactGraph(JobGraph(Seq(Job("a", "t"), Job("b", "t")), Seq(Dep("b", "a"))))
      s.transactGraph(JobGraph.simpleGraph(Job("c", "t"))) // the store goes on after it
      def holds(st: JobStore): Unit = {
        assert(st.snapshotJobs.map(_.id).toSet == Set("a", "c"))
        assert(st.snapshotDeps.isEmpty)
      }
      holds(s)
      durable.foreach { case (_, reopen) => holds(reopen()) }
    }

    test("transact-graph keeps a job's status, heartbeat and failure, also after reopening") {
      val durable = durableStore()
      val s = durable.fold(freshStore())(_._1)
      val jobs = Seq(
        Job("s", "t", status = JobStatus.Started, heartbeat = Some(5L)),
        Job("f", "t", status = JobStatus.Failed, args = Some("a"), failure = Some("""{"r":1}""")),
        Job("e", "t", status = JobStatus.Failed, failure = Some("")),
        Job("u", "t"))
      s.transactGraph(JobGraph(jobs, Seq(Dep("u", "s"))))
      def holds(st: JobStore): Unit = jobs.foreach { j =>
        val got = st.jobInfo(j.id).get
        assert((got.status, got.args, got.heartbeat, got.failure) ==
          ((j.status, j.args, j.heartbeat, j.failure)), j.id)
      }
      holds(s)
      durable.foreach { case (_, reopen) => holds(reopen()) }
    }

    test("job-info roundtrips args (store_test.clj:42-52)") {
      val s = freshStore()
      val args = Some("""{"email":"foo@example.com","age":30}""")
      val g = JobGraph.simpleGraph(Job(Squuid(), "intake", args = args))
      s.transactGraph(g)
      val j = s.jobInfo(g.jobs.head.id).get
      assert(j.args == args && j.jobType == "intake" && j.status == JobStatus.Unstarted)
      assert(s.jobInfo("missing").isEmpty)
    }

    test("reserve-job CAS: one winner under contention (store_test.clj:55-62)") {
      val s = freshStore()
      val id = Squuid()
      s.transactGraph(JobGraph.simpleGraph(Job(id, "t")))
      val pool  = Executors.newFixedThreadPool(8)
      val start = new CountDownLatch(1)
      val wins  = new java.util.concurrent.atomic.AtomicInteger(0)
      (1 to 8).foreach { _ =>
        pool.submit(new Runnable {
          def run(): Unit = { start.await(); if (s.reserveJob(id).isDefined) wins.incrementAndGet() }
        })
      }
      start.countDown()
      pool.shutdown()
      // generous bound: this suite runs in parallel with Spark suites that
      // saturate all cores, and a starved pool must not look like a bug
      assert(pool.awaitTermination(60, TimeUnit.SECONDS), "racer pool starved")
      assert(wins.get() == 1)
      assert(s.jobInfo(id).get.status == JobStatus.Started)
      assert(s.jobInfo(id).get.heartbeat.isDefined)
    }

    test("FSM transitions: finish/fail/reset require started (store_test.clj:76-104)") {
      val s = freshStore()
      val id = Squuid()
      s.transactGraph(JobGraph.simpleGraph(Job(id, "t")))
      intercept[IllegalStateException](s.finishJob(id)) // unstarted → finish is illegal
      assert(s.resetJob(id).isEmpty)                    // unstarted → reset is a no-op race-loss
      assert(s.reserveJob(id).isDefined)
      s.finishJob(id)
      assert(s.jobInfo(id).get.status == JobStatus.Finished)
      intercept[IllegalStateException](s.failJob(id, Some("boom"))) // finished → fail illegal

      val id2 = Squuid()
      s.transactGraph(JobGraph.simpleGraph(Job(id2, "t")))
      s.reserveJob(id2)
      s.failJob(id2, Some("""{"reason":"x"}"""))
      val j2 = s.jobInfo(id2).get
      assert(j2.status == JobStatus.Failed && j2.failure.contains("""{"reason":"x"}"""))

      val id3 = Squuid()
      s.transactGraph(JobGraph.simpleGraph(Job(id3, "t")))
      s.reserveJob(id3)
      assert(s.resetJob(id3).isDefined)
      val j3 = s.jobInfo(id3).get
      assert(j3.status == JobStatus.Unstarted && j3.heartbeat.isEmpty)
    }

    test("abort cascades to transitive dependents only (store_test.clj:106-124)") {
      val (s, id) = chain()
      s.reserveJob(id("j0"))
      s.abortJob(id("j1"))
      assert(s.jobInfo(id("j0")).get.status == JobStatus.Started)  // parent untouched
      assert(s.jobInfo(id("j1")).get.status == JobStatus.Aborted)
      assert(s.jobInfo(id("j2")).get.status == JobStatus.Aborted)  // transitive
    }

    test("jobs-ready progresses along the chain; failed/aborted parents block (store_test.clj:126-150)") {
      val (s, id) = chain()
      assert(s.jobsReady() == Set(id("j0")))
      s.reserveJob(id("j0"))
      assert(s.jobsReady() == Set.empty)
      s.finishJob(id("j0"))
      assert(s.jobsReady() == Set(id("j1")))
      s.reserveJob(id("j1"))
      s.failJob(id("j1"), None)
      assert(s.jobsReady() == Set.empty) // failed parent blocks j2 forever
    }

    test("jobs-dead: strict threshold on heartbeat (store_test.clj:152-164)") {
      val s = freshStore()
      val now = System.currentTimeMillis() / 1000
      val fresh = Job(Squuid(), "t", status = JobStatus.Started, heartbeat = Some(now - 1))
      val dead  = Job(Squuid(), "t", status = JobStatus.Started, heartbeat = Some(now - 50))
      val idle  = Job(Squuid(), "t", status = JobStatus.Unstarted, heartbeat = Some(now - 500))
      // jobs enter via transact as unstarted; force states via update
      s.transactGraph(JobGraph.simpleGraph(fresh, dead, idle))
      Seq(fresh, dead).foreach(j => s.updateJob(j.id, _ => true,
        _.copy(status = j.status, heartbeat = j.heartbeat)))
      s.updateJob(idle.id, _ => true, _.copy(heartbeat = idle.heartbeat))
      assert(s.jobsDead(now - 3) == Set(dead.id))
    }

    test("update-job optimistic lock: concurrent racers, exactly one conflict-free path (jdbc_test.clj:42-60)") {
      val s = freshStore()
      val id = Squuid()
      s.transactGraph(JobGraph.simpleGraph(Job(id, "t")))
      val v0 = s.jobInfo(id).get.lockVersion
      assert(s.updateJob(id, _.lockVersion == v0, _.copy(args = Some("a"))).isDefined)
      // second update conditioned on the stale version loses
      assert(s.updateJob(id, _.lockVersion == v0, _.copy(args = Some("b"))).isEmpty)
      val j = s.jobInfo(id).get
      assert(j.args.contains("a") && j.lockVersion == v0 + 1)
    }

    test("jobsWithStatus partitions the job set by FSM state (Monitoring.md equivalent)") {
      val s = freshStore()
      val g = JobGraph.jobGraph(Map("b" -> Seq("a"), "c" -> Seq.empty))
      s.transactGraph(g)
      val id = g.jobs.map(j => j.jobType -> j.id).toMap
      s.reserveJob(id("a")); s.finishJob(id("a"))
      s.reserveJob(id("c"))
      assert(s.jobsWithStatus(JobStatus.Finished) == Set(id("a")))
      assert(s.jobsWithStatus(JobStatus.Started) == Set(id("c")))
      assert(s.jobsWithStatus(JobStatus.Unstarted) == Set(id("b")))
      assert(s.jobsWithStatus(JobStatus.Failed).isEmpty)
    }

    test("install returns :ok once (core.clj:108-110)") {
      val s = freshStore() // installed once already
      intercept[IllegalArgumentException](s.install())
    }
  }
}

class InMemoryStoreSpec extends AnyFunSuite with JobStoreBehaviors {
  override def freshStore(): JobStore = { val s = new InMemoryJobStore; s.install(); s }
  storeProtocol()

  test("install is not idempotent (reference install asserts fresh schema)") {
    val s = new InMemoryJobStore
    assert(s.install() == ":ok")
    intercept[IllegalArgumentException](s.install())
  }
}
