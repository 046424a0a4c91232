package graft.engine

import scala.util.control.NonFatal

/** Control-flow-by-exception + exception→status mapping.
  *
  * The reference throws ex-info carrying `{:overseer/status ...}` for
  * abort/fault (src/overseer/api.clj:99-118) and maps any exception to a
  * failure-info map (src/overseer/errors.clj:70-81, shape asserted in
  * test/overseer/executor_test.clj:34-39).
  */
sealed abstract class OverseerSignal(msg: String) extends RuntimeException(msg) {
  def status: String
  def suppress: Boolean
}

/** Halt this job and cascade `aborted` to all transitive dependents
  * (reference api.clj:99-111). `silent` suppresses error reporting. */
final case class AbortJob(msg: String, silent: Boolean = false) extends OverseerSignal(msg) {
  val status   = JobStatus.Aborted
  val suppress = silent
}

/** Transient failure: release the job back to `unstarted` so it is retried
  * later (reference api.clj:113-118; e2e test api_test.clj:88-102). */
final case class TransientFault(msg: String) extends OverseerSignal(msg) {
  val status   = JobStatus.Unstarted
  val suppress = true
}

/** Exit-status of one handler run — the stage IR between executor and store
  * finalization (reference executor.clj:41-60). */
final case class JobResult(status: String, failure: Option[String] = None)

object Errors {

  /** JSON-encode the reference's failure-info shape
    * `{:reason :system/exception, :exception Class, :message ...}`
    * (errors.clj:70-81). */
  def failureJson(e: Throwable): String = {
    import Reporter.Json.quote
    s"""{"reason":"system/exception","exception":${quote(e.getClass.getName)},""" +
      s""""message":${quote(Option(e.getMessage).getOrElse(""))}}"""
  }

  /** Exception → FSM exit status (errors.clj:70-81): abort/fault signals
    * carry their own status; anything else is `failed` + failure payload. */
  def failureInfo(e: Throwable): JobResult = e match {
    case s: OverseerSignal => JobResult(s.status, Some(failureJson(s)))
    case other             => JobResult(JobStatus.Failed, Some(failureJson(other)))
  }

  /** The universal catch (errors.clj:12-18): run `f`, mapping any non-fatal
    * exception through `handler`. */
  def tryThunk[A](handler: Throwable => A)(f: => A): A =
    try f
    catch { case NonFatal(e) => handler(e) }
}
