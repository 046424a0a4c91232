package graft.engine

/** The store protocol — the job FSM's full transition surface plus the
  * readiness/liveness queries. 12 operations, mirroring the reference's
  * `Store` protocol (src/overseer/core.clj:107-152) with the JDBC backend's
  * optimistic-locking `update-job` (store/jdbc.clj:62-87).
  *
  * Coordination model: workers never talk to each other; the store is the
  * single point of coordination (reference doc/guide/Concepts.md "Worker").
  * In Spark terms the store is driver-local and transactional; its state is
  * exposed to distributed computation as DataFrame snapshots via
  * [[StoreViews]].
  *
  * The FSM transitions are written once, here, over [[updateJob]]. A
  * backend implements the storage primitives and overrides a transition
  * only where it stores it differently.
  */
trait JobStore {

  /** Create state tables; returns ":ok" (reference core.clj:108-110). */
  def install(): String

  /** Atomically insert all jobs + deps, all or nothing: a graph naming any
    * id that already exists inserts none of its jobs or deps, and an
    * existing job is NEVER updated (no upsert). Returns the graph
    * unchanged. Reference core.clj:112-115, jdbc.clj:169-185, semantics
    * test store_test.clj:27-40. */
  def transactGraph(g: JobGraph): JobGraph

  /** Point lookup by id (reference core.clj:117-118). */
  def jobInfo(id: String): Option[Job]

  /** CAS into started + set heartbeat=now; None on lost race
    * (reference core.clj:120-122). */
  def reserveJob(id: String): Option[Job] = {
    val hb = Some(now)
    move(id, JobStatus.Started)(_.copy(status = JobStatus.Started, heartbeat = hb))
  }

  /** CAS into finished; throws IllegalStateException if stale
    * (reference core.clj:124-126). */
  def finishJob(id: String): Unit =
    if (move(id, JobStatus.Finished)(_.copy(status = JobStatus.Finished)).isEmpty)
      throw new IllegalStateException(s"finish-job: job $id not in started state")

  /** CAS into failed + store failure payload (core.clj:128-131). */
  def failJob(id: String, failure: Option[String]): Unit =
    if (move(id, JobStatus.Failed)(_.copy(status = JobStatus.Failed, failure = failure)).isEmpty)
      throw new IllegalStateException(s"fail-job: job $id not in started state")

  /** Set heartbeat = now, unconditional w.r.t. status (core.clj:133-135). */
  def heartbeatJob(id: String): Unit = {
    updateJob(id, _ => true, _.copy(heartbeat = Some(now)))
    ()
  }

  /** Set aborted on the job AND all transitive dependents, one bulk update
    * (core.clj:137-139, jdbc.clj:214-221); only jobs the FSM table moves
    * into aborted change. */
  def abortJob(id: String): Unit

  /** CAS back into unstarted (fault/monitor retry); None if lost race
    * (core.clj:141-143). */
  def resetJob(id: String): Option[Job] =
    move(id, JobStatus.Unstarted)(_.copy(status = JobStatus.Unstarted, heartbeat = None))

  /** Jobs that are unstarted AND not blocked by any non-finished
    * dependency — the scheduler's anti-join (core.clj:145-147,
    * jdbc.clj:230-242), hydrated in one call so the detector makes no
    * per-id lookups (reference worker.clj:14-22 hydrates per id; this is
    * the batched form). */
  def readyJobs(limit: Int = Int.MaxValue): Seq[Job]

  /** Ids of [[readyJobs]]. */
  def jobsReady(limit: Int = Int.MaxValue): Set[String] =
    readyJobs(limit).map(_.id).toSet

  /** Ids started with heartbeat < threshold (core.clj:149-152). */
  def jobsDead(threshold: Long, limit: Int = Int.MaxValue): Set[String]

  /** All ids currently in `status` — the modern equivalent of the
    * reference's pre-0.9 Monitoring.md status queries (SURVEY.md §7
    * "doc drift"): the docs describe `overseer.status` helpers whose
    * implementation no longer exists in 0.9; this is the Store-protocol
    * form. */
  def jobsWithStatus(status: String): Set[String] =
    snapshotJobs.filter(_.status == status).map(_.id).toSet

  /** Optimistic-locking conditional update: re-reads the row, applies `f`
    * only if `pred` holds AND the lock version is unchanged since read;
    * bumps lockVersion + updatedAt. None unless exactly one row updated.
    * Reference jdbc.clj:62-87; race test jdbc_test.clj:42-60. */
  def updateJob(id: String, pred: Job => Boolean, f: Job => Job): Option[Job]

  /** Snapshot of all jobs / deps (for the DataFrame views). */
  def snapshotJobs: Seq[Job]
  def snapshotDeps: Seq[Dep]

  /** Unix seconds: the clock of heartbeats and `updatedAt`. */
  protected def now: Long = System.currentTimeMillis() / 1000L

  /** CAS `id` into status `to`: `f` applies only if [[JobStatus.transitions]]
    * has a move from the job's current status into `to`. */
  protected final def move(id: String, to: String)(f: Job => Job): Option[Job] =
    updateJob(id, JobStore.entering(to), f)
}

private[engine] object JobStore {
  /** Each target status's CAS predicate, built once from the FSM table so
    * that a transition reads no table and allocates nothing under a store
    * lock. */
  val entering: Map[String, Job => Boolean] = JobStatus.into.map { case (to, from) =>
    to -> ((j: Job) => from.contains(j.status))
  }
}

/** Driver-local transactional store: plain maps under a lock. The CAS
  * semantics (row-level compare-and-swap) are outside Spark's execution
  * model by design — see SURVEY.md §7 "hard parts". All distributed /
  * set-level computation over this state goes through [[StoreViews]]'
  * DataFrame snapshots instead.
  */
final class InMemoryJobStore extends JobStore {

  private val lock = new Object
  private val aborts = JobStore.entering(JobStatus.Aborted)
  private var jobs = Map.empty[String, Job]
  private var deps = Vector.empty[Dep]
  private var installed = false

  override def install(): String = lock.synchronized {
    require(!installed, "store already installed") // reference install is not idempotent
    installed = true
    ":ok"
  }

  override def transactGraph(g: JobGraph): JobGraph = lock.synchronized {
    require(g.isValid, s"invalid graph: $g") // assert at transact, jdbc.clj:170
    if (!g.jobs.exists(j => jobs.contains(j.id))) {
      val t = now
      jobs ++= g.jobs.map(j => j.id -> j.copy(createdAt = t, updatedAt = t))
      deps ++= g.deps
    }
    g
  }

  override def jobInfo(id: String): Option[Job] = lock.synchronized(jobs.get(id))

  override def updateJob(id: String, pred: Job => Boolean, f: Job => Job): Option[Job] =
    lock.synchronized {
      jobs.get(id).filter(pred).map { j =>
        val updated = f(j).copy(id = j.id, lockVersion = j.lockVersion + 1, updatedAt = now)
        jobs = jobs.updated(id, updated)
        updated
      }
    }

  override def abortJob(id: String): Unit = lock.synchronized {
    val targets = JobGraph.dependents(deps, Set(id)) + id
    val t = now
    // one bulk update of the members the FSM table moves into aborted
    jobs = jobs.map {
      case (k, j) if targets.contains(k) && aborts(j) =>
        k -> j.copy(status = JobStatus.Aborted, lockVersion = j.lockVersion + 1, updatedAt = t)
      case kv => kv
    }
  }

  override def readyJobs(limit: Int): Seq[Job] = lock.synchronized {
    // unstarted ∧ no dependency with status ≠ finished (aborted/failed parents
    // also block — datomic_test.clj:14-64)
    val blocked: Set[String] = deps.collect {
      case Dep(jobId, depId) if jobs.get(depId).exists(_.status != JobStatus.Finished) => jobId
    }.toSet
    jobs.valuesIterator
      .filter(j => j.status == JobStatus.Unstarted && !blocked.contains(j.id))
      .take(limit).toVector
  }

  override def jobsDead(threshold: Long, limit: Int): Set[String] = lock.synchronized {
    jobs.valuesIterator
      .filter(j => j.status == JobStatus.Started && j.heartbeat.exists(_ < threshold))
      .map(_.id).take(limit).toSet
  }

  override def snapshotJobs: Seq[Job] = lock.synchronized(jobs.values.toVector)
  override def snapshotDeps: Seq[Dep] = lock.synchronized(deps)
}
