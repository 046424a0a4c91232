package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.engine.{AbortJob, Handler, Job, JobStore, TransientFault, Worker, WorkerConfig}

/** Worker-loop and handler counters, filled only while tracing. */
final class LoopCounters {
  val detectCalls = new LongAdder
  val detectNs    = new LongAdder
  val tickCalls   = new LongAdder
  val tickEmpty   = new LongAdder
  val idleNs      = new LongAdder
  val jobsRun     = new LongAdder
  val handlerCalls = new LongAdder
  val handlerNs    = new LongAdder
  val outcomes     = Outcome.names.map(_ -> new LongAdder).toMap
}

/** One drain's result. `errors` failed the output checks; `exceptions` are
  * engine exceptions the loop caught. Both fail the run. */
final case class Drain(plan: Plan, probe: Probe, makespanNs: Long, gcMs: Long,
                       errors: Seq[String], exceptions: Seq[String]) {
  def makespanS: Double = makespanNs / 1e9
}

/** The closed-loop driver: `stores.size` threads, each with its own
  * [[Worker]] over its own store instance, each repeating the
  * `runUntilIdle` step — `detectOnce()` then `tick()` — until every job the
  * plan runs has reached its terminal store call. A thread whose detect
  * finds nothing ready parks, starting at [[Drive.MinParkNs]] and doubling
  * up to [[Drive.MaxParkNs]]; any tick that runs a job resets the park. A
  * lost reservation race does not park: the next detect follows at once. */
object Drive {
  val MinParkNs: Long = 50000L   // 50 µs
  val MaxParkNs: Long = 1000000L // 1 ms

  /** With `monitor` on, an idle thread also runs the worker's monitor pass
    * (at most every MonitorEveryNs), the engine's own recovery for a job
    * left started by a failed finish/fail/abort: heartbeats are unix
    * seconds, so a job counts as dead 2-3 s after its last heartbeat. */
  val MonitorHeartbeatMs: Long = 1000L
  val MonitorTolerance: Int = 2
  val MonitorEveryNs: Long = 500000000L

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The planned behaviour of one attempt, applied before `work`. */
  def plannedHandler(plan: Plan, attempts: java.util.concurrent.atomic.AtomicIntegerArray)
                    (work: (Job, JobStore) => Unit): (Job, JobStore) => Unit = { (job, store) =>
    val j = plan.index(job.id)
    val attempt = attempts.getAndIncrement(j)
    plan.outcome(j) match {
      case Outcome.Fault if attempt == 0 => throw TransientFault(s"planned fault of ${job.id}")
      case Outcome.Fail  => throw new RuntimeException(s"planned failure of ${job.id}")
      case Outcome.Abort => throw AbortJob(s"planned abort of ${job.id}", silent = true)
      case _             => work(job, store)
    }
  }

  /** Wrap a handler with the traced `handler` span and outcome counts. */
  def timedHandler(h: Handler, tracer: Tracer, c: LoopCounters): Handler =
    Handler.harness(h) { process => job =>
      tracer.span("handler", job.id) {
        val t0 = System.nanoTime()
        try process(job)
        catch {
          case e: TransientFault => c.outcomes("fault").increment(); throw e
          case e: AbortJob       => c.outcomes("abort").increment(); throw e
          case NonFatal(e)       => c.outcomes("fail").increment(); throw e
        } finally {
          c.handlerCalls.increment(); c.handlerNs.add(System.nanoTime() - t0)
        }
      }
    }

  /** Drain `plan` through the given (installed, empty) stores.
    * `jobTypes` are the handler keys; `run` does one attempt's work. */
  def drain(plan: Plan, stores: IndexedSeq[JobStore], jobTypes: Set[String],
            run: (Job, JobStore) => Unit, tracer: Tracer, counters: LoopCounters,
            seed: Long, timeoutMs: Long, monitor: Boolean = false): Drain = {
    val probe = new Probe(plan, tracer)
    val attempts = new java.util.concurrent.atomic.AtomicIntegerArray(plan.size)
    val work = plannedHandler(plan, attempts)(run)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val exceptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val go = new CountDownLatch(1)
    @volatile var deadlineNs = Long.MaxValue
    val threads = stores.indices.map { i =>
      val store = new ProbedStore(stores(i), probe)
      val handlers = jobTypes.iterator.map { t =>
        val h = Handler((job: Job) => work(job, store))
        t -> (if (tracer.enabled) timedHandler(h, tracer, counters) else h)
      }.toMap
      val worker = new Worker(store, handlers, WorkerConfig(seed = Some(seed * 7919L + i),
        heartbeatSleepMs = MonitorHeartbeatMs, heartbeatTolerance = MonitorTolerance))
      var lastMonitorNs = 0L
      val t = new Thread(() => {
        go.await()
        var park = MinParkNs
        while (!probe.done && System.nanoTime() < deadlineNs) {
          // A failed poll is retried by the next one, so that the drain ends
          // and its outputs are still checked; the exception fails the run.
          val ready =
            try {
              if (!tracer.enabled) Some(worker.detectOnce())
              else {
                val t0 = System.nanoTime()
                val r = tracer.span("worker.detect")(worker.detectOnce())
                counters.detectCalls.increment(); counters.detectNs.add(System.nanoTime() - t0)
                Some(r)
              }
            } catch {
              case NonFatal(e) => exceptions.add(s"detect: ${describe(e)}"); None
            }
          try {
            val ran =
              if (ready.isEmpty) None
              else if (!tracer.enabled) worker.tick()
              else {
                val r = tracer.span("worker.tick")(worker.tick())
                counters.tickCalls.increment()
                if (r.isEmpty) counters.tickEmpty.increment() else counters.jobsRun.increment()
                r
              }
            if (ran.isDefined) park = MinParkNs
            else if (ready.forall(_.isEmpty) && !probe.done) {
              if (monitor && System.nanoTime() - lastMonitorNs > MonitorEveryNs) {
                lastMonitorNs = System.nanoTime()
                worker.monitorOnce()
              }
              val t0 = System.nanoTime()
              LockSupport.parkNanos(park)
              if (tracer.enabled) counters.idleNs.add(System.nanoTime() - t0)
              park = math.min(MaxParkNs, park * 2)
            }
          } catch {
            case NonFatal(e) =>
              exceptions.add(s"tick: ${describe(e)}")
              LockSupport.parkNanos(MaxParkNs)
          }
        }
      }, s"perfbench-worker-$i")
      t.setDaemon(true); t.start(); t
    }
    val store0 = new ProbedStore(stores(0), probe)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    deadlineNs = t0 + timeoutMs * 1000000L
    tracer.span("bench.transact")(store0.transactGraph(plan.graph))
    go.countDown()
    threads.foreach(_.join())
    val t1 = System.nanoTime()
    val gc = gcMs - gc0
    if (!probe.done) errors.add(s"drain timed out after $timeoutMs ms: " +
      s"${probe.terminal.get()}/${plan.terminalCalls} terminal calls")
    Drain(plan, probe, (if (probe.done) probe.doneNs else t1) - t0, gc,
      errors.asScala.toVector ++ check(plan, probe, stores(0)), exceptions.asScala.toVector)
  }

  /** An exception with the engine frames it came through. */
  def describe(e: Throwable): String = {
    val at = e.getStackTrace
      .filter(f => f.getClassName.startsWith("graft.") && !f.getMethodName.contains("$"))
      .map(f => s"${f.getClassName.split('.').last}.${f.getMethodName}").distinct.take(4)
    s"${at.mkString(" < ")}: ${e.toString.take(200)}"
  }

  /** The output checks: every job in its planned status, and reserved
    * exactly once per planned attempt: once, and once more after each reset
    * (the planned fault's, or the monitor's after a failed finalization). */
  def check(plan: Plan, probe: Probe, store: JobStore): Seq[String] = {
    val status = store.snapshotJobs.map(j => j.id -> j.status).toMap
    val bad = (0 until plan.size).flatMap { j =>
      val id = plan.ids(j)
      val got = status.getOrElse(id, "missing")
      val s =
        if (got != plan.expectedStatus(j)) Some(s"job $id: status $got, planned ${plan.expectedStatus(j)}")
        else None
      val resets = probe.resets.get(j)
      val want = if (plan.runs(j)) 1 + resets else 0
      val r =
        if (probe.reserves.get(j) != want || (plan.expectedReserves(j) == 2 && resets == 0))
          Some(s"job $id: reserved ${probe.reserves.get(j)}x after $resets resets, planned ${plan.expectedReserves(j)}x")
        else None
      s.toSeq ++ r
    }
    bad
  }
}
