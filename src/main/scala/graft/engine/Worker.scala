package graft.engine

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import scala.util.Random

/** Worker cadences — the reference's operational defaults
  * (src/overseer/config.clj:58-68, examples/config.yml). Milliseconds. */
final case class WorkerConfig(
    detectorSleepMs: Long = 2000L,   // ready-set refresh
    sleepMs: Long = 10000L,          // empty-queue executor sleep
    heartbeatSleepMs: Long = 60000L, // heartbeat persist interval
    heartbeatTolerance: Int = 5,     // missed beats before presumed dead
    seed: Option[Long] = None)       // deterministic random pick for tests

/** A masterless worker: four cooperating loops that coordinate only through
  * the store (reference src/overseer/worker.clj:24-50, doc/guide/Concepts.md):
  *
  *  - detector: poll jobsReady → hydrate → filter to locally-handled types →
  *    refresh the ready cache (worker.clj:14-22,30-36)
  *  - executor: random fair pick from cache → CAS reserve (skip on lost
  *    race) → run handler → finalize per exit status (executor.clj:41-78)
  *  - heartbeat: persist liveness for the current job (heartbeat.clj:19-31)
  *  - monitor: reset jobs whose heartbeat is older than
  *    tolerance × heartbeat interval, with a 1-10 s random start stagger so
  *    concurrent monitors don't clash (heartbeat.clj:35-68)
  *
  * Each worker runs exactly one job at a time (doc/guide/Scaling.md);
  * parallelism lives inside handlers (Spark jobs fanning out to executors)
  * and across workers.
  */
final class Worker(store: JobStore, handlers: Map[String, Handler],
                   config: WorkerConfig = WorkerConfig(),
                   reporter: Option[Reporter] = None,
                   onFatal: Throwable => Unit = Worker.stopOnly) {

  private val running    = new AtomicBoolean(false)
  private val readyCache = new AtomicReference[Set[String]](Set.empty)
  private val currentJob = new AtomicReference[Option[String]](None)
  private val fatal      = new AtomicReference[Option[Throwable]](None)
  private val rand       = config.seed.map(new Random(_)).getOrElse(new Random())
  private var threads    = Seq.empty[Thread]

  /** True while the four loops are live; false before start and after stop
    * or a fatal framework error. Embedders supervising in-process poll this
    * (plus [[fatalError]]) to decide whether to respawn. */
  def isRunning: Boolean = running.get()

  /** The framework error that stopped this worker, if any. */
  def fatalError: Option[Throwable] = fatal.get()

  /** One detector pass: ready jobs hydrated in one store round-trip and
    * filtered to the types this worker has handlers for (heterogeneous
    * pools, worker.clj:14-22 — batched, not the reference's per-id N+1). */
  def detectOnce(): Set[String] = {
    val ready = store.readyJobs()
      .filter(j => handlers.contains(j.jobType)).map(_.id).toSet
    readyCache.set(ready)
    ready
  }

  /** One executor tick (executor.clj:62-78): random pick — explicitly NO
    * ordering guarantee (doc/guide/InsertingJobs.md) — remove from cache,
    * CAS-reserve; on lost race skip; on success run + finalize.
    * Returns the id it ran, if any. */
  def tick(): Option[String] = {
    val cache = readyCache.get()
    if (cache.isEmpty) None
    else {
      val pick = cache.toVector(rand.nextInt(cache.size))
      readyCache.updateAndGet(_ - pick)
      store.reserveJob(pick) match {
        case None => None // lost the race to another worker
        case Some(job) =>
          currentJob.set(Some(job.id))
          try runJob(job) finally currentJob.set(None)
          Some(job.id)
      }
    }
  }

  /** Run a reserved job and finalize its FSM transition
    * (executor.clj:41-60). */
  def runJob(job: Job): JobResult = {
    val handler = handlers.getOrElse(job.jobType,
      throw new IllegalStateException(s"missing handler for type ${job.jobType}"))
    val result = Errors.tryThunk { e =>
      // log + conditionally ship to the reporting sink with sanitized
      // context (reference ->job-exception-handler, errors.clj:94-108)
      reporter.foreach(r => Reporter.dispatch(r, job, e, Map.empty))
      Errors.failureInfo(e)
    } {
      handler.invoke(job); JobResult(JobStatus.Finished)
    }
    result.status match {
      case JobStatus.Finished  => store.finishJob(job.id)
      case JobStatus.Failed    => store.failJob(job.id, result.failure)
      case JobStatus.Aborted   => store.abortJob(job.id)
      case JobStatus.Unstarted => store.resetJob(job.id)
      case other => throw new IllegalStateException(s"illegal exit status $other")
    }
    result
  }

  /** One monitor pass: dead = heartbeat < now − tolerance×interval → reset
    * each (heartbeat.clj:35-43). Returns the reset ids. */
  def monitorOnce(): Set[String] = {
    val thresh = (System.currentTimeMillis() -
      config.heartbeatTolerance * config.heartbeatSleepMs) / 1000L
    val dead = store.jobsDead(thresh)
    dead.foreach(store.resetJob)
    dead
  }

  /** One heartbeat pass for the in-flight job, if any (heartbeat.clj:19-31). */
  def heartbeatOnce(): Unit =
    currentJob.get().foreach(store.heartbeatJob)

  /** Drain synchronously: run detector+executor until no progress. For
    * batch-style pipelines and tests; the threaded loops below are the
    * service mode. Returns ids run in order. */
  def runUntilIdle(maxJobs: Int = Int.MaxValue): Seq[String] = {
    val ran = Vector.newBuilder[String]
    var n = 0
    var progress = true
    while (progress && n < maxJobs) {
      detectOnce()
      tick() match {
        case Some(id) => ran += id; n += 1
        case None     => progress = false
      }
    }
    ran.result()
  }

  /** Sleep `ms` in ≤100 ms slices, returning early when `running` drops.
    * Loops never block longer than a slice past stop() — and stop() never
    * has to interrupt them, which matters because a thread interrupt landing
    * inside a JDBC statement makes embedded Derby close the WHOLE shared
    * connection (SQLState 08000 "Connection closed by unknown interrupt"),
    * poisoning the store for every other loop and the embedder. The
    * reference never interrupts either: its loops are futures that re-check
    * a signal each iteration (worker.clj:24-36). */
  private def slicedSleep(ms: Long): Unit = {
    val deadline = System.nanoTime() + ms * 1000000L
    while (running.get() && System.nanoTime() < deadline) {
      val leftMs = (deadline - System.nanoTime()) / 1000000L
      Thread.sleep(math.max(1L, math.min(100L, leftMs)))
    }
  }

  /** Spawn the four perpetual loops (worker.clj:24-50). Framework errors in
    * a loop are crash-only: they stop the worker (reference exits the
    * process and relies on a supervisor, errors.clj:83-92). */
  def start(): Worker = {
    require(running.compareAndSet(false, true), "worker already started")
    def loop(name: String, sleepMs: => Long)(body: () => Unit): Thread = {
      val t = new Thread(() => {
        try while (running.get()) { body(); slicedSleep(sleepMs) }
        catch {
          case _: InterruptedException => ()
          case e: Throwable =>
            running.set(false)
            fatal.compareAndSet(None, Some(e))
            onFatal(e)
            throw e
        }
      }, s"graft-worker-$name")
      t.setDaemon(true); t.start(); t
    }
    val monitorStagger = 1000L + rand.nextInt(9000) // 1-10 s, heartbeat.clj:45-49
    threads = Seq(
      loop("detector", config.detectorSleepMs)(() => detectOnce()),
      loop("executor", if (readyCache.get().isEmpty) config.sleepMs else 0L)(() => { tick(); () }),
      loop("heartbeat", config.heartbeatSleepMs)(() => heartbeatOnce()),
      loop("monitor", { config.heartbeatSleepMs + monitorStagger })(() => { monitorOnce(); () }))
    this
  }

  /** Cooperative stop: drop the flag and join — NO thread interrupts (see
    * [[slicedSleep]]; an interrupt mid-statement kills the shared embedded-
    * Derby connection). Loops notice within ~100 ms; the join allows an
    * in-flight handler to finalize. Interrupt only as a last resort for a
    * loop still alive after the grace period (a wedged handler), accepting
    * that a shared embedded connection may then need the store's
    * reconnect-on-08xxx path. */
  def stop(graceMs: Long = 5000L): Unit = {
    running.set(false)
    val deadline = System.currentTimeMillis() + graceMs
    threads.foreach(t => t.join(math.max(1L, deadline - System.currentTimeMillis())))
    val stragglers = threads.filter(_.isAlive)
    stragglers.foreach(_.interrupt())
    stragglers.foreach(_.join(2000))
  }
}

object Worker {

  /** Default fatal-error mode for an embedded library worker: the loops
    * stop, the error is retained on [[Worker.fatalError]], and the host
    * process keeps running — the embedder decides whether to respawn. */
  val stopOnly: Throwable => Unit = _ => ()

  /** The reference's crash-only production mode (errors.clj:83-92
    * `->fatal-ex-handler`): log the irrecoverable framework error and exit
    * the process, relying on an external supervisor to respawn (the
    * reference ships an upstart unit with `respawn limit 5 300`,
    * examples/upstart/overseer.conf:11-12; see README "Supervision").
    * Opt in by passing as the Worker's `onFatal`. */
  val exitProcess: Throwable => Unit = { e =>
    System.err.println(s"[graft-worker] fatal framework error, exiting process: $e")
    System.exit(1)
  }
}
