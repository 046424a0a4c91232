package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The multi-process backend runs the SAME protocol suite as the other
  * three (the reference's store-agnostic test pattern,
  * store_test.clj:166-174), plus cross-INSTANCE coordination: two store
  * instances over one directory see each other's transitions and resolve
  * reservation races to exactly one winner — the in-JVM rehearsal of what
  * [[MultiProcessPoolSpec]] then proves across two forked JVMs. */
class SharedLogStoreSpec extends AnyFunSuite with JobStoreBehaviors {

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("sharedlog").toString

  override def freshStore(): JobStore = {
    val s = new SharedLogJobStore(freshDir())
    s.install()
    s
  }

  override def durableStore(): Option[(JobStore, () => JobStore)] = {
    val dir = freshDir()
    val s = new SharedLogJobStore(dir); s.install()
    Some((s, () => { s.close(); val r = new SharedLogJobStore(dir); r.install(); r }))
  }

  storeProtocol()

  test("two instances over one directory see each other's transitions") {
    val dir = freshDir()
    val a = new SharedLogJobStore(dir); a.install()
    val b = new SharedLogJobStore(dir); b.install()
    val g = JobGraph.jobGraph(Map("t" -> Seq("root"), "root" -> Seq.empty))
    a.transactGraph(g)
    val id = g.jobs.map(j => j.jobType -> j.id).toMap
    // b sees a's transact without any explicit refresh call
    assert(b.jobInfo(id("root")).map(_.status).contains(JobStatus.Unstarted))
    assert(b.jobsReady() == Set(id("root")))
    assert(b.reserveJob(id("root")).isDefined)
    b.finishJob(id("root"))
    // a sees b's finish: the dependent becomes ready on a's side
    assert(a.jobsReady() == Set(id("t")))
    assert(a.jobInfo(id("root")).map(_.status).contains(JobStatus.Finished))
  }

  test("cross-instance reservation race has exactly one winner per job") {
    val dir = freshDir()
    val a = new SharedLogJobStore(dir); a.install()
    val b = new SharedLogJobStore(dir); b.install()
    val jobs = (1 to 40).map(_ => Job(Squuid(), "t"))
    a.transactGraph(JobGraph.simpleGraph(jobs: _*))
    val winners = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val threads = Seq("a" -> a, "b" -> b).map { case (name, s) =>
      new Thread(() => jobs.foreach { j =>
        if (s.reserveJob(j.id).isDefined) {
          val prev = winners.put(j.id, name)
          assert(prev == null, s"job ${j.id} reserved twice ($prev then $name)")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(winners.size == 40, "every job reserved exactly once pool-wide")
  }

  test("a third instance opening late replays the full history") {
    val dir = freshDir()
    val a = new SharedLogJobStore(dir); a.install()
    val g = JobGraph.jobGraph(Map("b" -> Seq("a"), "c" -> Seq("b")))
    a.transactGraph(g)
    val id = g.jobs.map(j => j.jobType -> j.id).toMap
    a.reserveJob(id("a")); a.finishJob(id("a"))
    a.reserveJob(id("b")); a.failJob(id("b"), Some("""{"reason":"boom"}"""))
    val late = new SharedLogJobStore(dir); late.install()
    val snap = late.snapshotJobs.map(j => j.id -> j.status).toMap
    assert(snap(id("a")) == JobStatus.Finished)
    assert(snap(id("b")) == JobStatus.Failed)
    assert(snap(id("c")) == JobStatus.Unstarted)
    assert(late.snapshotDeps.toSet == a.snapshotDeps.toSet)
  }
}
