package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.engine.JobStatus

/** The job FSM as an event-sourced stateful stream (SURVEY.md §2E streaming
  * rows): transition events keyed by job id, folded with
  * `flatMapGroupsWithState`, with the dead-job monitor expressed as a
  * processing-time timeout (tolerance × heartbeat interval — reference
  * heartbeat.clj:35-43, config.clj:67-68).
  *
  * This is the 1000-executor form of the scheduler state: the driver-local
  * [[graft.engine.InMemoryJobStore]] coordinates a single node; a stream of
  * transition events + keyed state scales the same FSM horizontally, with
  * Spark handling shuffling by job id and state checkpointing.
  */
object FsmStream {

  /** One FSM transition request. `event` ∈ reserve|finish|fail|abort|reset|
    * heartbeat (the Store protocol's write surface, core.clj:107-152). */
  final case class JobEvent(jobId: String, event: String, atSec: Long)

  /** Current state of one job (the jobs-table row this stream maintains). */
  final case class JobState(jobId: String, status: String, heartbeat: Long, failures: Int)

  /** The status each write event moves a job into; heartbeat moves none. */
  private val target: Map[String, String] = Map(
    "reserve" -> JobStatus.Started, "finish" -> JobStatus.Finished,
    "fail" -> JobStatus.Failed, "reset" -> JobStatus.Unstarted,
    "abort" -> JobStatus.Aborted)

  /** Apply one event under the reference's legal-transition rules
    * (core.clj:86-106), read from [[JobStatus.transitions]]; illegal
    * transitions are ignored (the CAS-lost-race analog: the store form
    * returns nil, the stream form drops the event). */
  def step(st: JobState, ev: JobEvent): JobState =
    if (ev.event == "heartbeat") st.copy(heartbeat = ev.atSec)
    else target.get(ev.event).filter(to => JobStatus.into(to)(st.status)) match {
      case Some(JobStatus.Started)   => st.copy(status = JobStatus.Started, heartbeat = ev.atSec)
      case Some(JobStatus.Failed)    => st.copy(status = JobStatus.Failed, failures = st.failures + 1)
      case Some(JobStatus.Unstarted) => st.copy(status = JobStatus.Unstarted, heartbeat = 0L)
      case Some(to)                  => st.copy(status = to)
      case None                      => st // illegal: lost race / stale
    }

  /** Dead-job monitor semantics for a group-state timeout: a `started` job
    * that stayed silent for the timeout window is released for retry
    * (reference heartbeat.clj:51-68). */
  def onTimeout(st: JobState): JobState = step(st, JobEvent(st.jobId, "reset", 0L))

  /** Fold transition events into per-job state.
    *
    * With `deadTimeoutMs > 0` a ProcessingTime group-state timeout applies
    * [[onTimeout]] after that much silence — use with a real
    * `Trigger.ProcessingTime` interval in production (under the default
    * as-fast-as-possible trigger, registered timers make the micro-batch
    * engine spin empty batches back-to-back and `processAllAvailable`
    * never settles). With 0, no timers: pure event-fold. */
  def transitions(events: Dataset[JobEvent], deadTimeoutMs: Long = 0L): Dataset[JobState] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (deadTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.jobId)
      .flatMapGroupsWithState[JobState, JobState](OutputMode.Update, timeoutConf) {
        case (id, evs, state: GroupState[JobState]) =>
          var st = state.getOption.getOrElse(JobState(id, JobStatus.Unstarted, 0L, 0))
          if (deadTimeoutMs > 0 && state.hasTimedOut) {
            st = onTimeout(st)
          } else {
            evs.toSeq.sortBy(_.atSec).foreach(ev => st = step(st, ev))
          }
          state.update(st)
          if (deadTimeoutMs > 0) state.setTimeoutDuration(deadTimeoutMs)
          Iterator.single(st)
      }
  }
}
