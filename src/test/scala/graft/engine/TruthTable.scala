package graft.engine

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** The reference's 7-configuration readiness truth table
  * (test/overseer/store/datomic_test.clj:14-64) as one 9-job store fixture,
  * and the four backends it is built on:
  *
  *   j1 unstarted, no deps                  → ready
  *   j2 started                             → not ready
  *   j3 unstarted ← j2 (started)            → blocked
  *   j4 finished                            → not ready
  *   j5 unstarted ← j4 (finished)           → ready
  *   j6 unstarted ← {j3, j4}                → blocked by j3
  *   j7 aborted                             → not ready
  *   j8 unstarted ← j9 (failed)             → blocked
  */
object TruthTable {

  val ready: Set[String] = Set("j1", "j5")

  private val n = new AtomicLong(0)

  /** name -> a fresh, uninstalled store of that backend. */
  val backends: Seq[(String, () => JobStore)] = Seq(
    "memory" -> (() => new InMemoryJobStore),
    "log" -> (() => new LogBackedJobStore(Files.createTempDirectory("truthtable").toString)),
    "shared-log" -> (() => new SharedLogJobStore(Files.createTempDirectory("truthtable").toString)),
    "jdbc" -> (() => new JdbcJobStore(
      s"jdbc:derby:memory:truthtable${System.nanoTime()}_${n.incrementAndGet()};create=true")))

  /** Install `s` and build the table in it through the store's own writes. */
  def build(s: JobStore): JobStore = {
    s.install()
    val jobs = (1 to 9).map(i => Job(s"j$i", s"type-j$i"))
    val deps = Seq(Dep("j3", "j2"), Dep("j5", "j4"), Dep("j6", "j3"),
      Dep("j6", "j4"), Dep("j8", "j9"))
    s.transactGraph(JobGraph(jobs, deps))
    s.reserveJob("j2")
    s.reserveJob("j4"); s.finishJob("j4")
    s.abortJob("j7")
    s.reserveJob("j9"); s.failJob("j9", None)
    s
  }

  /** Run `body` on a fresh, uninstalled store of every backend, closing each. */
  def onEachBackend(body: (String, JobStore) => Unit): Unit =
    backends.foreach { case (name, open) =>
      val s = open()
      try body(name, s)
      finally s match {
        case c: AutoCloseable     => c.close()
        case l: LogBackedJobStore => l.close()
        case _                    => ()
      }
    }
}
