package graft.engine

/** Line codec for the append-only job-transition log shared by
  * [[LogBackedJobStore]] (single-process durable backend) and
  * [[SharedLogJobStore]] (multi-process backend): one JSON object per line,
  * one line per FSM transition, replayable in order into an
  * [[InMemoryJobStore]]. [[LogJobStore]] below writes each line and
  * [[replay]] reads it back, so the two backends are interchangeable on the
  * same log file.
  */
private[engine] object JobLog {
  import Reporter.Json.quote

  // record/unit separators for packing multiple jobs/deps into one line
  val RS = '\u001e'
  val US = '\u001f'

  /** Encode one transition as a single log line (no trailing newline). */
  def encode(kind: String, fields: (String, String)*): String =
    (Seq("op" -> kind) ++ fields)
      .map { case (k, v) => s"${quote(k)}:${quote(v)}" }.mkString("{", ",", "}")

  // crude but dependency-free field extraction (log is machine-written)
  def extract(line: String, key: String): Option[String] = {
    val k = "\"" + key + "\":"
    val i = line.indexOf(k)
    if (i < 0) None
    else {
      val rest = line.substring(i + k.length)
      if (rest.startsWith("null")) None
      else {
        val sb = new StringBuilder
        var j = 1 // skip opening quote
        var done = false
        while (!done && j < rest.length) {
          rest.charAt(j) match {
            case '\\' =>
              rest.charAt(j + 1) match {
                case 'n' => sb += '\n'; case 'r' => sb += '\r'; case 't' => sb += '\t'
                case 'u' => sb += Integer.parseInt(rest.substring(j + 2, j + 6), 16).toChar; j += 4
                case c => sb += c
              }
              j += 2
            case '"' => done = true
            case c => sb += c; j += 1
          }
        }
        Some(sb.toString)
      }
    }
  }

  /** Apply one logged transition to the snapshot state. */
  def replay(line: String, inner: InMemoryJobStore): Unit = {
    val op = extract(line, "op").get
    op match {
      case "transact" =>
        val jobs = extract(line, "jobs").get.split(RS).filter(_.nonEmpty).map { rec =>
          val p = rec.split(US.toString, -1).padTo(3, "")
          Job(p(0), p(1), args = Some(p(2)).filter(_.nonEmpty),
            status = p.lift(3).getOrElse(JobStatus.Unstarted),
            heartbeat = p.lift(4).filter(_.nonEmpty).map(_.toLong),
            failure = p.lift(5))
        }
        val deps = extract(line, "deps").get.split(RS).filter(_.nonEmpty).map { rec =>
          val parts = rec.split(US)
          Dep(parts(0), parts(1))
        }
        inner.transactGraph(JobGraph(jobs.toSeq, deps.toSeq))
      case "reserve"   => inner.reserveJob(extract(line, "id").get)
      case "finish"    => inner.finishJob(extract(line, "id").get)
      case "fail"      => inner.failJob(extract(line, "id").get, extract(line, "failure"))
      case "heartbeat" =>
        val id = extract(line, "id").get
        val at = extract(line, "at").get.toLong
        inner.updateJob(id, _ => true, _.copy(heartbeat = Some(at)))
      case "abort"     => inner.abortJob(extract(line, "id").get)
      case "reset"     => inner.resetJob(extract(line, "id").get)
      case other       => throw new IllegalStateException(s"unknown log op $other")
    }
  }
}

/** The core both log backends share: an [[InMemoryJobStore]] snapshot, and
  * every FSM transition applied to it and encoded as the log line that
  * [[JobLog.replay]] decodes. A backend adds only its persistence policy:
  * how a transition is made atomic with its append, and how a read sees
  * the current log. */
private[engine] abstract class LogJobStore extends JobStore {
  import JobLog.{encode, RS, US}

  protected val inner = new InMemoryJobStore

  /** Run `op` against the snapshot and persist the line it returns, if any,
    * as one step with respect to every other writer of the log. */
  protected def logged[A](op: => (A, Option[String])): A

  /** Run `read` against a snapshot that includes every persisted line. */
  protected def current[A](read: => A): A

  /** id, type and args of a job; then status and heartbeat, and the
    * failure if any, only for a job that is not plain unstarted (lines
    * written before these trailing fields existed replay as unstarted). */
  private def record(j: Job): String = {
    val state =
      if (j.status == JobStatus.Unstarted && j.heartbeat.isEmpty && j.failure.isEmpty) Nil
      else Seq(j.status, j.heartbeat.fold("")(_.toString)) ++ j.failure
    (Seq(j.id, j.jobType, j.args.getOrElse("")) ++ state).mkString(US.toString)
  }

  override def transactGraph(g: JobGraph): JobGraph = logged {
    val inserts = g.jobs.nonEmpty && g.jobs.forall(j => inner.jobInfo(j.id).isEmpty)
    inner.transactGraph(g)
    val line = if (!inserts) None else Some(encode("transact",
      "jobs" -> g.jobs.map(record).mkString(RS.toString),
      "deps" -> g.deps.map(d => s"${d.jobId}$US${d.depId}").mkString(RS.toString)))
    (g, line)
  }

  override def reserveJob(id: String): Option[Job] = logged {
    val r = inner.reserveJob(id)
    (r, r.map(_ => encode("reserve", "id" -> id)))
  }

  override def finishJob(id: String): Unit = logged {
    inner.finishJob(id); ((), Some(encode("finish", "id" -> id)))
  }

  override def failJob(id: String, failure: Option[String]): Unit = logged {
    inner.failJob(id, failure)
    ((), Some(encode("fail", Seq("id" -> id) ++ failure.map("failure" -> _): _*)))
  }

  override def heartbeatJob(id: String): Unit = logged {
    inner.heartbeatJob(id)
    ((), inner.jobInfo(id).flatMap(_.heartbeat).map(h =>
      encode("heartbeat", "id" -> id, "at" -> h.toString)))
  }

  override def abortJob(id: String): Unit = logged {
    inner.abortJob(id); ((), Some(encode("abort", "id" -> id)))
  }

  override def resetJob(id: String): Option[Job] = logged {
    val r = inner.resetJob(id)
    (r, r.map(_ => encode("reset", "id" -> id)))
  }

  override def jobInfo(id: String): Option[Job] = current(inner.jobInfo(id))
  override def readyJobs(limit: Int): Seq[Job] = current(inner.readyJobs(limit))
  override def jobsDead(threshold: Long, limit: Int): Set[String] =
    current(inner.jobsDead(threshold, limit))
  override def snapshotJobs: Seq[Job] = current(inner.snapshotJobs)
  override def snapshotDeps: Seq[Dep] = current(inner.snapshotDeps)

  /** Arbitrary-function update is not log-encodable: this is the
    * non-durable escape hatch (tests); the FSM ops above are the durable
    * surface. */
  override def updateJob(id: String, pred: Job => Boolean, f: Job => Job): Option[Job] =
    current(inner.updateJob(id, pred, f))
}
