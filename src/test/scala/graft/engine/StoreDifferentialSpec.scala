package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.util.Random

/** Differential test of the four store backends: seeded random DAGs and
  * seeded sequences of the 12 store operations, applied one call at a time
  * to `memory`, `log`, `shared-log` and `jdbc`. Every return value, and
  * which calls throw, must equal `memory`'s; so must the final jobs, deps
  * and status partition.
  *
  * A job is compared without its timestamps (the heartbeat by presence
  * only). Its `lockVersion` is compared with the one known difference made
  * explicit: JDBC's heartbeat is a plain UPDATE that does not bump the
  * version (reference jdbc.clj:210-212), so a JDBC job's version trails
  * memory's by exactly the heartbeats it received.
  *
  * A log backend reopened over its directory must replay to the same
  * snapshot. `updateJob` with an arbitrary function is not logged (the log
  * backends' non-durable escape hatch), so only the histories that never
  * call it, every even-numbered one, are replayed.
  *
  * Graphs are transacted all-new, all-duplicate or partly duplicate (new
  * jobs plus one existing job they depend on), which every backend must
  * swallow whole. Some jobs of an all-new graph already carry a status,
  * a heartbeat or a failure, which every backend must keep, replay
  * included.
  */
class StoreDifferentialSpec extends AnyFunSuite {
  import StoreDifferentialSpec._

  private val histories: Seq[Seq[Op]] =
    (0 until Histories).map(h => history(new Random(7000 + h), durable = h % 2 == 0))

  private val n = new AtomicLong(0)
  private def tempDir(): String = Files.createTempDirectory("storediff").toString
  private def jdbc(): JobStore =
    new JdbcJobStore(s"jdbc:derby:memory:storediff${System.nanoTime()}_${n.incrementAndGet()};create=true")

  private def installed(s: JobStore): JobStore = { s.install(); s }
  private def close(s: JobStore): Unit = s match {
    case c: AutoCloseable     => c.close()
    case l: LogBackedJobStore => l.close()
    case _                    => ()
  }

  private lazy val expected: Seq[Run] =
    histories.map(ops => play(installed(new InMemoryJobStore), ops, heartbeatBumps = true))

  private def matchesMemory(name: String, open: () => JobStore, heartbeatBumps: Boolean): Unit =
    test(s"$name returns what memory returns, call by call, and ends in the same state") {
      histories.zip(expected).zipWithIndex.foreach { case ((ops, want), h) =>
        val s = installed(open())
        val got = play(s, ops, heartbeatBumps)
        ops.indices.foreach { i =>
          assert(got.results(i) == want.results(i), s"history $h step $i ${ops(i)}")
        }
        assert(got.end == want.end, s"history $h final state")
        close(s)
      }
    }

  matchesMemory("log", () => new LogBackedJobStore(tempDir()), heartbeatBumps = true)
  matchesMemory("shared-log", () => new SharedLogJobStore(tempDir()), heartbeatBumps = true)
  matchesMemory("jdbc", () => jdbc(), heartbeatBumps = false)

  private def replays(name: String, open: String => JobStore): Unit =
    test(s"$name reopened over its directory replays to the same snapshot") {
      histories.zip(expected).zipWithIndex.filter(_._2 % 2 == 0).foreach { case ((ops, want), h) =>
        val dir = tempDir()
        val s = installed(open(dir))
        play(s, ops, heartbeatBumps = true)
        close(s)
        val reopened = installed(open(dir))
        assert(state(reopened, _ => 0L) == want.end, s"history $h replayed")
        close(reopened)
      }
    }

  replays("log", new LogBackedJobStore(_))
  replays("shared-log", new SharedLogJobStore(_))

  test("a log written in the earlier per-backend line format replays on both log backends") {
    // joblog-fixture.jsonl was written by LogBackedJobStore before the two log
    // backends shared one encoder; line 2 is the empty transact it logged for
    // a fully duplicate graph.
    val fixture = new String(
      getClass.getResourceAsStream("joblog-fixture.jsonl").readAllBytes(), "UTF-8")
    Seq[String => JobStore](new LogBackedJobStore(_), new SharedLogJobStore(_)).foreach { open =>
      val dir = tempDir()
      Files.write(Paths.get(dir, "joblog.jsonl"), fixture.getBytes("UTF-8"))
      val s = installed(open(dir))
      val jobs = s.snapshotJobs.map(j => j.id -> j).toMap
      assert(jobs.keySet == Set("a", "b", "c", "d", "e"))
      assert(s.snapshotDeps.toSet == Set(Dep("b", "a"), Dep("c", "b")))
      val a = jobs("a")
      assert((a.status, a.args, a.heartbeat, a.lockVersion) ==
        ((JobStatus.Finished, Some("""{"run":1}"""), Some(1792382430L), 3L)))
      assert((jobs("b").status, jobs("b").failure) == ((JobStatus.Failed, Some("""{"reason":"boom"}"""))))
      assert(jobs("c").status == JobStatus.Aborted)
      val d = jobs("d")
      assert((d.status, d.args, d.heartbeat, d.lockVersion) ==
        ((JobStatus.Unstarted, Some("two\nlines, \"quoted\"\ttab"), None, 2L)))
      assert((jobs("e").status, jobs("e").failure) == ((JobStatus.Failed, None)))
      assert(s.jobsReady() == Set("d"))
      close(s)
    }
  }
}

object StoreDifferentialSpec {

  val Histories = 40
  val Steps = 30
  val Missing = "missing"

  sealed trait Op
  case object Install extends Op
  final case class Transact(g: JobGraph) extends Op
  final case class Info(id: String) extends Op
  final case class Reserve(id: String) extends Op
  final case class Finish(id: String) extends Op
  final case class Fail(id: String, failure: Option[String]) extends Op
  final case class Heartbeat(id: String) extends Op
  final case class Abort(id: String) extends Op
  final case class Reset(id: String) extends Op
  final case class Ready(limit: Int, hydrated: Boolean) extends Op
  final case class Dead(threshold: Long, limit: Int) extends Op
  /** updateJob(id, job in status `when` (any if None), set status/args). */
  final case class Update(id: String, when: Option[String], status: Option[String],
                          args: Option[String]) extends Op

  /** The graph of `StorePropertiesSpec.genDag` with ids `prefix-type`. */
  def graph(rnd: Random, prefix: String, args: Option[String]): JobGraph = {
    val adj = StorePropertiesSpec.genDag(rnd)
    val id = (t: String) => s"$prefix-$t"
    JobGraph(adj.keys.toSeq.sorted.map(t => Job(id(t), t, args = args)),
      adj.toSeq.sortBy(_._1).flatMap { case (c, ps) => ps.map(p => Dep(id(c), id(p))) })
  }

  /** One seeded history: a first graph, then [[Steps]] operations on its
    * jobs, on graphs added later, and now and then on a missing id. */
  def history(rnd: Random, durable: Boolean): Seq[Op] = {
    val g0 = graph(rnd, "g0", Some("""{"k":0}"""))
    var known = g0.jobs.map(_.id).toVector
    var graphs = 0
    def id() = if (rnd.nextInt(12) == 0) Missing else known(rnd.nextInt(known.size))
    def status() = JobStatus.all.toSeq.sorted.apply(rnd.nextInt(JobStatus.all.size))
    def limit() = if (rnd.nextBoolean()) Int.MaxValue else 1 + rnd.nextInt(3)
    val steps = (1 to Steps).map { _ =>
      rnd.nextInt(if (durable) 17 else 20) match {
        case 0 => Install
        case 1 => rnd.nextInt(3) match {
          case 0 => // all duplicate: swallowed, never upserted
            Transact(g0.copy(jobs = g0.jobs.map(_.copy(args = Some("""{"k":1}""")))))
          case 1 => // partly duplicate: swallowed whole, none of it inserted
            graphs += 1
            val g = graph(rnd, s"g$graphs", None)
            val old = g0.jobs(rnd.nextInt(g0.jobs.size))
            Transact(JobGraph(g.jobs :+ old, g.deps :+ Dep(g.jobs.head.id, old.id)))
          case _ => // all new; a third of the jobs arrive past unstarted
            graphs += 1
            val g = graph(rnd, s"g$graphs", None)
            known ++= g.jobs.map(_.id)
            Transact(g.copy(jobs = g.jobs.map(j =>
              if (rnd.nextInt(3) > 0) j
              else j.copy(status = status(),
                heartbeat = if (rnd.nextBoolean()) Some(rnd.nextInt(9).toLong) else None,
                failure = if (rnd.nextBoolean()) Some(s"""{"reason":"t${rnd.nextInt(9)}"}""") else None))))
        }
        case 2 | 3 => Info(id())
        case 4 | 5 | 6 => Reserve(id())
        case 7 | 8 | 9 => Finish(id())
        case 10 => Fail(id(), if (rnd.nextBoolean()) Some(s"""{"reason":"r${rnd.nextInt(9)}"}""") else None)
        case 11 => Heartbeat(id())
        case 12 => Abort(id())
        case 13 => Reset(id())
        case 14 | 15 => Ready(limit(), rnd.nextBoolean())
        case 16 => Dead(if (rnd.nextBoolean()) Long.MaxValue else 0L, limit())
        case _ =>
          Update(id(), if (rnd.nextBoolean()) None else Some(status()),
            if (rnd.nextBoolean()) Some(status()) else None, Some(s"u${rnd.nextInt(9)}"))
      }
    }
    Transact(g0) +: steps
  }

  final case class Run(results: Seq[Any], end: Any)

  /** What the comparison sees of a job: no timestamps, the heartbeat by
    * presence, and the lock version plus `extraVersions(id)`. */
  def norm(j: Job, extraVersions: String => Long): Any =
    (j.id, j.jobType, j.status, j.args, j.failure, j.heartbeat.isDefined,
      j.lockVersion + extraVersions(j.id))

  /** Jobs, deps and the status partition. */
  def state(s: JobStore, extraVersions: String => Long): Any =
    (s.snapshotJobs.map(norm(_, extraVersions)).toSet,
      s.snapshotDeps.sortBy(d => (d.jobId, d.depId)),
      JobStatus.all.toSeq.sorted.map(s.jobsWithStatus))

  /** A limited query's result as (size, within the unlimited result?), and
    * the unlimited result itself. */
  def limited[A](limit: Int, all: => Set[A])(q: Int => Set[A]): Any =
    if (limit == Int.MaxValue) q(limit)
    else { val r = q(limit); val full = all; (r.size, r.subsetOf(full), full) }

  /** Apply `ops` in order; each result, or the class of what it threw, is
    * reduced to a value comparable across backends. A backend whose
    * heartbeat does not bump the lock version has its versions shifted up
    * by the heartbeats each job received, so they compare with memory's. */
  def play(s: JobStore, ops: Seq[Op], heartbeatBumps: Boolean): Run = {
    val beats = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val extra: String => Long = id => if (heartbeatBumps) 0L else beats(id)
    def job(j: Job) = norm(j, extra)
    val results = ops.map { op =>
      try Right(op match {
        case Install         => s.install()
        case Transact(g)     => s.transactGraph(g) == g
        case Info(id)        => s.jobInfo(id).map(job)
        case Reserve(id)     => s.reserveJob(id).map(job)
        case Finish(id)      => s.finishJob(id)
        case Fail(id, f)     => s.failJob(id, f)
        case Heartbeat(id)   => s.heartbeatJob(id); if (id != Missing) beats(id) += 1
        case Abort(id)       => s.abortJob(id)
        case Reset(id)       => s.resetJob(id).map(job)
        case Ready(l, false) => limited(l, s.jobsReady())(s.jobsReady(_))
        case Ready(l, true)  => limited(l, s.readyJobs().map(job).toSet)(s.readyJobs(_).map(job).toSet)
        case Dead(t, l)      => limited(l, s.jobsDead(t))(s.jobsDead(t, _))
        case Update(id, when, status, args) =>
          s.updateJob(id, j => when.forall(_ == j.status),
            j => j.copy(status = status.getOrElse(j.status), args = args)).map(job)
      }) catch { case e: Exception => Left(e.getClass.getName) }
    }
    Run(results, state(s, extra))
  }
}
