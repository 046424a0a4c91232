package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicIntegerArray, AtomicLongArray, LongAdder}

import graft.engine.{Dep, Job, JobGraph, JobStore}

/** Store operations the benchmark times, by metric name. */
object StoreOps {
  val all: Seq[String] =
    Seq("transact", "ready", "reserve", "finish", "fail", "heartbeat", "abort", "reset", "info")
}

/** Growable sample buffer shared by threads. */
final class Samples {
  private var buf = new Array[Long](1024)
  private var n = 0
  def add(v: Long): Unit = synchronized {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
    buf(n) = v; n += 1
  }
  def toArray: Array[Long] = synchronized(java.util.Arrays.copyOf(buf, n))
}

/** What one drain of one plan observed at the store boundary. The timestamps
  * that define dispatch latency are kept in every run; per-operation timing
  * only when the tracer is on. */
final class Probe(val plan: Plan, val tracer: Tracer) {
  private val n = plan.size
  @volatile var transactEndNs: Long = 0L
  val finishRetNs  = new AtomicLongArray(n)
  val resetRetNs   = new AtomicLongArray(n)
  val reserveAtNs  = new AtomicLongArray(2 * n) // attempt 0 and 1 per job
  val reserves     = new AtomicIntegerArray(n)
  val resets       = new AtomicIntegerArray(n)
  val terminal     = new AtomicInteger(0)

  val calls   = StoreOps.all.map(_ -> new LongAdder).toMap
  val busyNs  = StoreOps.all.map(_ -> new LongAdder).toMap
  val samples = StoreOps.all.map(_ -> new Samples).toMap
  val readyRows   = new LongAdder
  val reserveLost = new LongAdder

  def idx(id: String): Int = plan.index.getOrElse(id, -1)

  @volatile var doneNs: Long = 0L

  def done: Boolean = terminal.get() >= plan.terminalCalls

  /** A finish, fail or abort returned; the last one ends the makespan. */
  def terminalCall(): Unit =
    if (terminal.incrementAndGet() == plan.terminalCalls) doneNs = System.nanoTime()

  /** Dispatch waits in ms, one per successful reservation: from the moment
    * the attempt's job became ready to the reservation's return. A job is
    * ready once its last parent's finish (or its own reset) returns; another
    * worker may reserve it in the instant between the store's commit and
    * that return, which reads as a wait of 0. */
  def dispatchMs: Array[Double] = {
    val out = Array.newBuilder[Double]
    for (j <- 0 until n; a <- 0 until math.min(2, reserves.get(j))) {
      val ready =
        if (a == 0) plan.parents(j).foldLeft(transactEndNs)((m, p) => math.max(m, finishRetNs.get(p)))
        else resetRetNs.get(j)
      out += math.max(0L, reserveAtNs.get(2 * j + a) - ready) / 1e6
    }
    out.result()
  }

  def timed[A](op: String, job: String)(body: => A): A =
    if (!tracer.enabled) body
    else tracer.span(s"store.$op", job) {
      val t0 = System.nanoTime()
      try body
      finally {
        val d = System.nanoTime() - t0
        calls(op).increment(); busyNs(op).add(d); samples(op).add(d)
      }
    }
}

/** A [[JobStore]] that forwards every call unchanged to `inner` and reports
  * what it saw to `probe`. One per store instance; many may share a probe. */
final class ProbedStore(inner: JobStore, probe: Probe) extends JobStore {

  override def install(): String = inner.install()

  override def transactGraph(g: JobGraph): JobGraph = {
    val r = probe.timed("transact", "")(inner.transactGraph(g))
    probe.transactEndNs = System.nanoTime()
    r
  }

  override def jobInfo(id: String): Option[Job] = probe.timed("info", id)(inner.jobInfo(id))

  override def reserveJob(id: String): Option[Job] = {
    val r = probe.timed("reserve", id)(inner.reserveJob(id))
    val t = System.nanoTime()
    val j = probe.idx(id)
    r match {
      case Some(_) if j >= 0 =>
        val a = probe.reserves.getAndIncrement(j)
        if (a < 2) probe.reserveAtNs.set(2 * j + a, t)
      case Some(_) => ()
      case None    => if (probe.tracer.enabled) probe.reserveLost.increment()
    }
    r
  }

  override def finishJob(id: String): Unit = {
    probe.timed("finish", id)(inner.finishJob(id))
    val j = probe.idx(id)
    if (j >= 0) probe.finishRetNs.set(j, System.nanoTime())
    probe.terminalCall()
  }

  override def failJob(id: String, failure: Option[String]): Unit = {
    probe.timed("fail", id)(inner.failJob(id, failure))
    probe.terminalCall()
  }

  override def heartbeatJob(id: String): Unit = probe.timed("heartbeat", id)(inner.heartbeatJob(id))

  override def abortJob(id: String): Unit = {
    probe.timed("abort", id)(inner.abortJob(id))
    probe.terminalCall()
  }

  override def resetJob(id: String): Option[Job] = {
    val r = probe.timed("reset", id)(inner.resetJob(id))
    val j = probe.idx(id)
    if (r.isDefined && j >= 0) { probe.resetRetNs.set(j, System.nanoTime()); probe.resets.incrementAndGet(j) }
    r
  }

  override def jobsReady(limit: Int): Set[String] = inner.jobsReady(limit)

  override def readyJobs(limit: Int): Seq[Job] = {
    val r = probe.timed("ready", "")(inner.readyJobs(limit))
    if (probe.tracer.enabled) probe.readyRows.add(r.size)
    r
  }

  override def jobsDead(threshold: Long, limit: Int): Set[String] = inner.jobsDead(threshold, limit)
  override def jobsWithStatus(status: String): Set[String] = inner.jobsWithStatus(status)
  override def updateJob(id: String, pred: Job => Boolean, f: Job => Job): Option[Job] =
    inner.updateJob(id, pred, f)
  override def snapshotJobs: Seq[Job] = inner.snapshotJobs
  override def snapshotDeps: Seq[Dep] = inner.snapshotDeps
}
