package graft.engine

import java.util.UUID

/** Job record — the engine's unit of work.
  *
  * Mirrors the reference's job schema (reference: src/overseer/core.clj:22-29,
  * physical columns src/overseer/store/jdbc.clj:131-154): required unique id
  * and type, status in the 5-state FSM, optional args/failure payloads
  * (reference stores EDN strings; we standardize on JSON strings — see
  * SURVEY.md §1.3), unix-seconds heartbeat, and the JDBC backend's
  * optimistic-lock version + created/updated timestamps.
  */
final case class Job(
    id: String,
    jobType: String,
    status: String = JobStatus.Unstarted,
    args: Option[String] = None,
    failure: Option[String] = None,
    heartbeat: Option[Long] = None,
    lockVersion: Long = 0L,
    createdAt: Long = 0L,
    updatedAt: Long = 0L)

/** Dependency edge: `jobId` depends on (is blocked by) `depId`.
  * Reference: overseer_dependencies(job_id, dep_id), store/jdbc.clj:146-150. */
final case class Dep(jobId: String, depId: String)

/** The 5-state job FSM (reference: src/overseer/core.clj:86-106) with the
  * JDBC backend's tinyint codes (store/jdbc.clj:16-24). */
object JobStatus {
  val Unstarted = "unstarted"
  val Started   = "started"
  val Finished  = "finished"
  val Failed    = "failed"
  val Aborted   = "aborted"

  val all: Set[String] = Set(Unstarted, Started, Finished, Failed, Aborted)

  /** status string -> storage code, exactly the reference's table. */
  val code: Map[String, Int] =
    Map(Unstarted -> 0, Started -> 1, Finished -> 2, Failed -> 3, Aborted -> 4)
  val fromCode: Map[Int, String] = code.map(_.swap)

  /** Legal FSM transitions (core.clj:86-106), the one table every writer
    * consults:
    *  unstarted→started (reserve), started→finished|failed (system),
    *  started→unstarted (fault / monitor reset),
    *  {started,unstarted}→aborted (user, cascading). */
  val transitions: Set[(String, String)] = Set(
    Unstarted -> Started,
    Started   -> Finished,
    Started   -> Failed,
    Started   -> Unstarted,
    Started   -> Aborted,
    Unstarted -> Aborted)

  /** target status -> the statuses the table moves into it from. */
  val into: Map[String, Set[String]] =
    all.iterator.map(to => to -> transitions.collect { case (from, `to`) => from }).toMap

  /** A job is pending exactly when the table has a move out of its status. */
  val pending: Set[String] = transitions.map(_._1)
}

object Squuid {
  /** Sequential UUID: unix-seconds in the high 32 bits of the MSB so that
    * ids sort/append roughly by insert time (index locality).
    * Reference: src/overseer/core.clj:8-20. */
  def apply(): String = {
    val uuid = UUID.randomUUID()
    val secs = System.currentTimeMillis() / 1000L
    val msb  = (secs << 32) | (uuid.getMostSignificantBits & 0xFFFFFFFFL)
    new UUID(msb, uuid.getLeastSignificantBits).toString
  }

  /** Epoch-seconds prefix extracted back out of a squuid. */
  def seconds(id: String): Long =
    UUID.fromString(id).getMostSignificantBits >>> 32
}

object JobValidation {
  /** Herbert-schema equivalent (core.clj:22-32): non-empty id + type,
    * status in the enum. */
  def validJob(j: Job): Boolean =
    j.id != null && j.id.nonEmpty &&
      j.jobType != null && j.jobType.nonEmpty &&
      JobStatus.all.contains(j.status)

  /** Digraph + every-node-valid (core.clj:34-39): all jobs valid, unique
    * ids, every edge endpoint present. */
  def validGraph(g: JobGraph): Boolean = {
    val ids = g.jobs.map(_.id).toSet
    g.jobs.forall(validJob) &&
    ids.size == g.jobs.size &&
    g.deps.forall(d => ids.contains(d.jobId) && ids.contains(d.depId))
  }
}
