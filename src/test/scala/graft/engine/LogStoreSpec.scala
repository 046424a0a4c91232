package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** The durable backend runs the SAME protocol suite as the in-memory one
  * (the reference's store-agnostic test pattern, store_test.clj:166-174),
  * plus persistence: a new store over the same log replays to the exact
  * same state. */
class LogStoreSpec extends AnyFunSuite with JobStoreBehaviors {

  override def freshStore(): JobStore = {
    val dir = java.nio.file.Files.createTempDirectory("logstore").toString
    val s = new LogBackedJobStore(dir)
    s.install()
    s
  }

  override def durableStore(): Option[(JobStore, () => JobStore)] = {
    val dir = java.nio.file.Files.createTempDirectory("logstore").toString
    val s = new LogBackedJobStore(dir); s.install()
    Some((s, () => { s.close(); val r = new LogBackedJobStore(dir); r.install(); r }))
  }

  storeProtocol()

  test("reopening the log replays to the identical store state") {
    val dir = java.nio.file.Files.createTempDirectory("logstore-replay").toString
    val s1 = new LogBackedJobStore(dir); s1.install()
    val g = JobGraph.jobGraph(Map(
      "b" -> Seq("a"), "c" -> Seq("b"), "x" -> Seq.empty),
      args = Some("""{"run":"r1","note":"with \"quotes\" and\nnewline"}"""))
    s1.transactGraph(g)
    val id = g.jobs.map(j => j.jobType -> j.id).toMap
    s1.reserveJob(id("a")); s1.finishJob(id("a"))
    s1.reserveJob(id("b")); s1.failJob(id("b"), Some("""{"reason":"system/exception","message":"boom"}"""))
    s1.reserveJob(id("x")); s1.heartbeatJob(id("x"))
    s1.abortJob(id("c"))
    s1.close()

    val s2 = new LogBackedJobStore(dir); s2.install()
    val j1 = s1.snapshotJobs.map(j => j.id -> (j.status, j.args, j.failure, j.heartbeat)).toMap
    val j2 = s2.snapshotJobs.map(j => j.id -> (j.status, j.args, j.failure, j.heartbeat)).toMap
    assert(j1 == j2)
    assert(s2.snapshotDeps.toSet == s1.snapshotDeps.toSet)
    assert(s2.jobsReady() == s1.jobsReady())
    // and the replayed store keeps working
    assert(s2.jobsReady() == Set.empty) // a finished, b failed→blocks c? c aborted; x started
    s2.resetJob(id("x"))
    assert(s2.jobsReady() == Set(id("x")))
    s2.close()
  }

  test("a torn final log line (crash mid-append) is dropped and the store recovers") {
    val dir = java.nio.file.Files.createTempDirectory("logstore-torn").toString
    val s1 = new LogBackedJobStore(dir); s1.install()
    val g = JobGraph.jobGraph(Map("b" -> Seq("a")))
    s1.transactGraph(g)
    val id = g.jobs.map(j => j.jobType -> j.id).toMap
    s1.reserveJob(id("a")); s1.finishJob(id("a"))
    s1.close()
    // simulate a crash mid-append: a partial record without newline
    val log = java.nio.file.Paths.get(dir, "joblog.jsonl")
    java.nio.file.Files.write(log, "{\"op\":\"res".getBytes,
      java.nio.file.StandardOpenOption.APPEND)

    val s2 = new LogBackedJobStore(dir); s2.install()
    // state reflects every complete record; the torn one is gone
    assert(s2.jobInfo(id("a")).get.status == JobStatus.Finished)
    assert(s2.jobsReady() == Set(id("b")))
    // and appending keeps working on a clean line boundary
    s2.reserveJob(id("b")); s2.finishJob(id("b"))
    s2.close()
    val s3 = new LogBackedJobStore(dir); s3.install()
    assert(s3.snapshotJobs.forall(_.status == JobStatus.Finished))
    s3.close()
  }

  test("a corrupt line in the MIDDLE of the log fails loudly (not silent data loss)") {
    val dir = java.nio.file.Files.createTempDirectory("logstore-corrupt").toString
    val s1 = new LogBackedJobStore(dir); s1.install()
    val g = JobGraph.jobGraph(Map("x" -> Seq.empty))
    s1.transactGraph(g)
    s1.reserveJob(g.jobs.head.id)
    s1.close()
    val log = java.nio.file.Paths.get(dir, "joblog.jsonl")
    val lines = java.nio.file.Files.readAllLines(log)
    lines.add(1, "{\"op\":\"garbage\"}")
    java.nio.file.Files.write(log, lines)
    val s2 = new LogBackedJobStore(dir)
    intercept[IllegalStateException](s2.install())
  }

  test("a worker crash mid-run resumes from the log (idempotent handlers)") {
    val dir = java.nio.file.Files.createTempDirectory("logstore-crash").toString
    val s1 = new LogBackedJobStore(dir); s1.install()
    val g = JobGraph.jobGraph(Map("step2" -> Seq("step1"), "step3" -> Seq("step2")))
    s1.transactGraph(g)
    val id = g.jobs.map(j => j.jobType -> j.id).toMap
    // run only step1, then "crash" (drop the store without finishing the rest)
    val w1 = new Worker(s1, Map("step1" -> Handler(_ => 1), "step2" -> Handler(_ => 2),
      "step3" -> Handler(_ => 3)), WorkerConfig(seed = Some(7)))
    w1.detectOnce(); w1.tick()
    assert(s1.jobInfo(id("step1")).get.status == JobStatus.Finished)
    s1.close()

    val s2 = new LogBackedJobStore(dir); s2.install()
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    val w2 = new Worker(s2, Map(
      "step1" -> Handler(_ => ran += "step1"),
      "step2" -> Handler(_ => ran += "step2"),
      "step3" -> Handler(_ => ran += "step3")), WorkerConfig(seed = Some(7)))
    w2.runUntilIdle()
    assert(ran.toSeq == Seq("step2", "step3")) // step1 NOT re-run
    assert(s2.snapshotJobs.forall(_.status == JobStatus.Finished))
    s2.close()
  }
}
