package graft.engine

import scala.collection.concurrent.TrieMap

/** Error-reporting surface (§2C′): the reference logs every handler
  * failure and ships non-suppressed ones to Sentry with job id/type and
  * only the serializable parts of the exception context attached
  * (errors.clj:94-108, filter-serializable errors.clj:20-34). Here the
  * sink is pluggable; the suppression and context-sanitizing rules are
  * the engine's.
  */
trait Reporter {
  def report(job: Job, e: Throwable, context: Map[String, Any]): Unit
}

object Reporter {

  /** Drop context values that would not survive serialization to a
    * reporting backend (the reference drops non-JSON-serializable k/vs —
    * filter-serializable, errors.clj:20-34; asserted errors_test.clj:15-19). */
  def filterSerializable(context: Map[String, Any]): Map[String, Any] =
    context.filter {
      case (_, _: String | _: java.lang.Number | _: java.lang.Boolean | null) => true
      case (_, v: Seq[_]) => v.forall(x => filterSerializable(Map("x" -> x)).nonEmpty)
      case (_, v: Map[_, _]) =>
        v.forall { case (k2, v2) => k2.isInstanceOf[String] &&
          filterSerializable(Map("x" -> v2)).nonEmpty }
      case _ => false
    }

  /** Decide-and-dispatch: abort-silent / fault carry `suppress` and are
    * never shipped; everything else goes to the sink with sanitized
    * context (errors.clj:94-108). Returns true if shipped. */
  def dispatch(sink: Reporter, job: Job, e: Throwable, context: Map[String, Any]): Boolean = {
    val suppressed = e match {
      case s: OverseerSignal => s.suppress
      case _ => false
    }
    if (!suppressed) {
      sink.report(job, e,
        filterSerializable(context) ++ Map("job/id" -> job.id, "job/type" -> job.jobType))
      true
    } else false
  }

  /** In-memory sink for tests / local runs. */
  final class Recording extends Reporter {
    val reports = new TrieMap[String, (Throwable, Map[String, Any])]()
    override def report(job: Job, e: Throwable, context: Map[String, Any]): Unit =
      reports.put(job.id, (e, context))
  }

  /** Stderr sink — the zero-dependency default for a DSN-configured
    * reporter (the reference ships failures to Sentry when the config
    * carries `:sentry {:dsn}`, errors.clj:90-98; this library has no
    * network deps, so the built-in scheme logs). */
  final class Logging(dsn: String) extends Reporter {
    override def report(job: Job, e: Throwable, context: Map[String, Any]): Unit =
      System.err.println(s"[graft-reporter $dsn] job=${job.id} type=${job.jobType} error=$e context=$context")
  }

  // -- Sentry wire client ----------------------------------------------------
  // The reference ships failures to Sentry via raven-clj (errors.clj:39-50
  // sentry-capture; project.clj:15). The protocol is public: POST an
  // envelope (newline-delimited JSON: envelope header, item header, event)
  // to {scheme}://{host}/api/{project}/envelope/ with an X-Sentry-Auth
  // header carrying the DSN's public key. This client is pure JDK
  // (HttpURLConnection) — no client library — and, like the reference's,
  // NEVER throws: a failing error sink must not take the worker down
  // (errors.clj:48-50 logs and swallows).

  /** Parsed Sentry DSN: `{scheme}://{key}[:{secret}]@{host}[:{port}]/{projectId}`. */
  final case class SentryDsn(raw: String, scheme: String, key: String,
                             host: String, port: Int, projectId: String) {
    def envelopeUrl: String =
      s"$scheme://$host${if (port > 0) s":$port" else ""}/api/$projectId/envelope/"
    def authHeader: String =
      s"Sentry sentry_version=7, sentry_client=graft/0.1, sentry_key=$key"
  }

  object SentryDsn {
    /** None when the URL is not DSN-shaped (no key@ userinfo or no project
      * path) — those fall back to the logging sink. */
    def parse(dsn: String): Option[SentryDsn] =
      try {
        val u = new java.net.URI(dsn)
        val project = Option(u.getPath).getOrElse("").stripPrefix("/")
        for {
          userInfo <- Option(u.getUserInfo)
          key = userInfo.split(":", 2).head
          host <- Option(u.getHost)
          if key.nonEmpty && project.nonEmpty
        } yield SentryDsn(dsn, u.getScheme, key, host, u.getPort, project)
      } catch { case _: Exception => None }
  }

  /** Minimal JSON writer for the wire payload — the value shapes are
    * exactly what [[filterSerializable]] admits (strings, numbers,
    * booleans, null, seqs, string-keyed maps). `quote` is the project's
    * one JSON string escaper (job log lines, failure payloads, the oracle
    * SQL dump): backslash, quote and every control character. */
  private[graft] object Json {
    def quote(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }
    def write(v: Any): String = v match {
      case null => "null"
      case s: String => quote(s)
      case b: java.lang.Boolean => b.toString
      case n: java.lang.Number =>
        val d = n.doubleValue()
        if (d.isNaN || d.isInfinite) quote(n.toString) else n.toString
      case m: Map[_, _] =>
        m.map { case (k, v2) => quote(k.toString) + ":" + write(v2) }
          .mkString("{", ",", "}")
      case s: Seq[_] => s.map(write).mkString("[", ",", "]")
      case other => quote(other.toString)
    }
  }

  /** Real Sentry-protocol sink: builds the raven-shaped event — message,
    * exception interface with stacktrace frames, `extra` context
    * (errors.clj:39-50's event-map + stacktrace interface) — wraps it in
    * an envelope and POSTs it to the DSN's project endpoint. */
  final class SentryWire(dsn: SentryDsn, timeoutMs: Int = 5000) extends Reporter {
    override def report(job: Job, e: Throwable, context: Map[String, Any]): Unit =
      try {
        val eventId = java.util.UUID.randomUUID().toString.replace("-", "")
        // Sentry wants oldest-call-first frames
        val frames = e.getStackTrace.toSeq.reverse.map { el =>
          Map(
            "function" -> el.getMethodName,
            "module" -> el.getClassName,
            "filename" -> Option(el.getFileName).getOrElse("unknown"),
            "lineno" -> el.getLineNumber)
        }
        val event = Map(
          "event_id" -> eventId,
          "timestamp" -> java.time.format.DateTimeFormatter.ISO_INSTANT
            .format(java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.SECONDS)),
          "platform" -> "java",
          "level" -> "error",
          "logger" -> "graft",
          "message" -> Option(e.getMessage).getOrElse(e.toString),
          "exception" -> Map("values" -> Seq(Map(
            "type" -> e.getClass.getName,
            "value" -> Option(e.getMessage).getOrElse(""),
            "stacktrace" -> Map("frames" -> frames)))),
          "extra" -> context)
        val envelope =
          Json.write(Map("event_id" -> eventId, "dsn" -> dsn.raw)) + "\n" +
          Json.write(Map("type" -> "event", "content_type" -> "application/json")) + "\n" +
          Json.write(event) + "\n"
        val conn = new java.net.URL(dsn.envelopeUrl).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(timeoutMs)
        conn.setReadTimeout(timeoutMs)
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/x-sentry-envelope")
        conn.setRequestProperty("X-Sentry-Auth", dsn.authHeader)
        val os = conn.getOutputStream
        try os.write(envelope.getBytes("UTF-8")) finally os.close()
        val code = conn.getResponseCode
        val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
        if (in != null) { in.readAllBytes(); in.close() }
        if (code >= 400)
          System.err.println(s"[graft-reporter] Sentry endpoint returned $code")
        conn.disconnect()
      } catch {
        case ex: Exception =>
          // the reference's sentry-capture logs and swallows (errors.clj:48-50)
          System.err.println(s"[graft-reporter] Sentry capture failed: $ex")
      }
  }

  // -- DSN dispatch ----------------------------------------------------------
  // The reference builds its Sentry sink from the configured DSN string
  // (config.clj:20-21 `sentry-dsn`, consumed by ->job-exception-handler,
  // errors.clj:90-98). Here the DSN's URI scheme picks a registered factory
  // so embedders can plug real backends (and tests a Recording sink)
  // without the engine depending on any client library. http(s) DSNs in
  // Sentry's key@host/project shape get the real wire client; anything
  // else falls back to the logging sink.

  private val schemes = TrieMap[String, String => Reporter](
    "log" -> (dsn => new Logging(dsn)),
    "http" -> sentryOrLogging,
    "https" -> sentryOrLogging)

  private def sentryOrLogging(dsn: String): Reporter =
    SentryDsn.parse(dsn).map(new SentryWire(_)).getOrElse(new Logging(dsn))

  /** Register a factory for a DSN scheme (e.g. `sentry` → a real client). */
  def registerScheme(scheme: String, factory: String => Reporter): Unit =
    schemes.put(scheme, factory)

  /** Build a reporter from a configured DSN: dispatch on the URI scheme,
    * falling back to the logging sink for unknown schemes (a misconfigured
    * DSN should never make error reporting itself throw). */
  def forDsn(dsn: String): Reporter = {
    val scheme = dsn.takeWhile(_ != ':')
    schemes.get(scheme).map(_(dsn)).getOrElse(new Logging(dsn))
  }
}
