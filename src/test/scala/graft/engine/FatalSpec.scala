package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicReference

/** Crash-only framework-error handling (reference errors.clj:83-92): a
  * store failure in a worker loop stops the worker and surfaces through
  * `onFatal` / `fatalError`; handler failures, by contrast, are job-level
  * FSM transitions and leave the worker running.
  */
class FatalSpec extends AnyFunSuite {

  /** InMemoryJobStore with a kill switch on the detector's query path. */
  private final class BrokenStore extends JobStore {
    private val inner = new InMemoryJobStore
    @volatile var broken = false
    override def install(): String = inner.install()
    override def transactGraph(g: JobGraph): JobGraph = inner.transactGraph(g)
    override def jobInfo(id: String): Option[Job] = inner.jobInfo(id)
    override def abortJob(id: String): Unit = inner.abortJob(id)
    override def jobsDead(threshold: Long, limit: Int): Set[String] = inner.jobsDead(threshold, limit)
    override def updateJob(id: String, p: Job => Boolean, f: Job => Job): Option[Job] =
      inner.updateJob(id, p, f)
    override def snapshotJobs: Seq[Job] = inner.snapshotJobs
    override def snapshotDeps: Seq[Dep] = inner.snapshotDeps
    override def readyJobs(limit: Int): Seq[Job] =
      if (broken) throw new RuntimeException("db connection lost")
      else inner.readyJobs(limit)
  }

  test("a store error in the detector loop stops the worker and fires onFatal") {
    val store = new BrokenStore; store.install()
    val seen = new AtomicReference[Option[Throwable]](None)
    val w = new Worker(store, Map("t" -> Handler(_ => ())),
      WorkerConfig(detectorSleepMs = 5, sleepMs = 5),
      onFatal = e => seen.set(Some(e))).start()
    try {
      assert(w.isRunning)
      store.broken = true
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline && w.isRunning) Thread.sleep(10)
      assert(!w.isRunning, "worker kept running through a framework error")
      assert(w.fatalError.exists(_.getMessage == "db connection lost"))
      assert(seen.get().exists(_.getMessage == "db connection lost"))
    } finally w.stop()
  }

  test("a handler error is a job-level failure; the worker keeps running") {
    val store = new InMemoryJobStore; store.install()
    store.transactGraph(JobGraph.jobGraph(Map("boom" -> Seq.empty)))
    val w = new Worker(store, Map("boom" -> Handler(_ => sys.error("handler bug"))),
      WorkerConfig(detectorSleepMs = 5, sleepMs = 5)).start()
    try {
      val deadline = System.currentTimeMillis() + 5000
      while (System.currentTimeMillis() < deadline &&
             store.jobsWithStatus(JobStatus.Failed).isEmpty) Thread.sleep(10)
      assert(store.jobsWithStatus(JobStatus.Failed).size == 1)
      assert(w.isRunning, "a job failure must not stop the worker")
      assert(w.fatalError.isEmpty)
    } finally w.stop()
  }
}
