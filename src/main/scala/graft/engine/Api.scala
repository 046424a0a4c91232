package graft.engine

/** Typed configuration — the reference's config map surface
  * (src/overseer/config.clj:1-74, examples/config.yml): a required
  * `store.adapter` with adapter-specific options, plus optional worker
  * cadences with the reference's defaults. [[GraftConfig.fromMap]] accepts
  * the parsed-YAML shape (nested maps with the reference's kebab-case keys)
  * so a config file deserialized by any means plugs straight in.
  */
final case class StoreConfig(adapter: String, options: Map[String, String] = Map.empty)

final case class GraftConfig(
    store: StoreConfig,
    worker: WorkerConfig = WorkerConfig(), // config.clj:62-72
    sentryDsn: Option[String] = None) // config.clj:20-21 `:sentry {:dsn}`

object GraftConfig {

  /** Parse the reference's config-map shape (examples/config.yml):
    * {{{
    * store:
    *   adapter: jdbc
    *   config: { url: "jdbc:derby:memory:g;create=true" }
    * detector-sleep-time: 2000
    * sleep-time: 10000
    * heartbeat: { sleep-time: 60000, tolerance: 5 }
    * }}}
    * Missing optional keys take the reference defaults; a missing adapter
    * fails with the reference's assertion message (config.clj:41-44).
    */
  def fromMap(m: Map[String, Any]): GraftConfig = {
    def sub(key: String): Map[String, Any] = m.get(key) match {
      case Some(mm: Map[_, _]) => mm.map { case (k, v) => k.toString -> (v: Any) }
      case _                   => Map.empty
    }
    def long(mm: Map[String, Any], key: String, dflt: Long): Long = mm.get(key) match {
      case Some(n: Number) => n.longValue()
      case Some(s: String) => s.toLong
      case _               => dflt
    }
    val storeMap = sub("store")
    val adapter = storeMap.get("adapter").map(_.toString)
      .getOrElse(throw new IllegalArgumentException("Store adapter is required"))
    val options = (storeMap.get("config") match {
      case Some(mm: Map[_, _]) => mm.map { case (k, v) => k.toString -> v.toString }
      case Some(s: String)     => Map("url" -> s) // bare JDBC URI form, config.clj:18
      case _                   => Map.empty[String, String]
    })
    val hb = sub("heartbeat")
    val dflt = WorkerConfig()
    GraftConfig(
      store = StoreConfig(adapter, options),
      worker = WorkerConfig(
        detectorSleepMs = long(m, "detector-sleep-time", dflt.detectorSleepMs),
        sleepMs = long(m, "sleep-time", dflt.sleepMs),
        heartbeatSleepMs = long(hb, "sleep-time", dflt.heartbeatSleepMs),
        heartbeatTolerance = long(hb, "tolerance", dflt.heartbeatTolerance.toLong).toInt),
      sentryDsn = sub("sentry").get("dsn").map(_.toString))
  }

  /** Load the reference's config.yml shape directly (examples/config.yml:
    * nested maps by indentation, scalar leaves, `#` comments). This is a
    * deliberate YAML SUBSET — exactly the shape the reference documents,
    * no anchors/lists/multi-line scalars — parsed without any dependency. */
  def fromYaml(text: String): GraftConfig = fromMap(parseYamlMap(text))

  def fromYamlFile(path: String): GraftConfig =
    fromYaml(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Indentation-structured `key: value` / `key:` blocks → nested maps.
    * Values stay strings; [[fromMap]] already coerces numerics. */
  private[engine] def parseYamlMap(text: String): Map[String, Any] = {
    def stripComment(line: String): String =
      if (line.trim.startsWith("#")) ""
      else {
        val i = line.indexOf(" #")
        if (i >= 0) line.substring(0, i) else line
      }
    val lines = text.linesIterator.map(stripComment)
      .filter(_.trim.nonEmpty).toVector
    def indentOf(l: String): Int = l.indexWhere(_ != ' ')
    def parse(start: Int, end: Int, indent: Int): Map[String, Any] = {
      var i = start
      val out = Map.newBuilder[String, Any]
      while (i < end) {
        val line = lines(i)
        require(indentOf(line) == indent, s"unexpected indentation: '$line'")
        val colon = line.indexOf(':')
        require(colon > indent, s"expected 'key: value': '$line'")
        val key = line.substring(indent, colon).trim
        val value = line.substring(colon + 1).trim
        if (value.nonEmpty) { out += key -> value; i += 1 }
        else {
          var j = i + 1
          while (j < end && indentOf(lines(j)) > indent) j += 1
          require(j > i + 1, s"empty block for key '$key'")
          out += key -> parse(i + 1, j, indentOf(lines(i + 1)))
          i = j
        }
      }
      out.result()
    }
    if (lines.isEmpty) Map.empty
    else parse(0, lines.size, indentOf(lines.head))
  }
}

/** The user-facing facade — the reference's `overseer.api`
  * (src/overseer/api.clj): config-driven store construction with
  * per-adapter dispatch (api.clj:25-42), worker startup (api.clj:44-48),
  * and the graph/control-flow helpers re-exported from their homes.
  *
  * A complete embedded deployment is three calls:
  * {{{
  * val store  = Graft.store(config)        // adapter-dispatched
  * store.install()
  * Graft.start(config, store, handlers)    // masterless worker, 4 loops
  * }}}
  */
object Graft {

  /** Adapter key → constructor, the api.clj:25-33 dispatch table. `jdbc`
    * is the driver-agnostic store (any JDBC URL, store/jdbc.clj);
    * `memory`/`log`/`shared-log` are this library's embedded backends.
    *
    * Only integration-tested adapters are advertised: Derby is the one
    * JDBC engine whose driver ships in this build, so the reference's
    * mysql/h2/sqlite adapter KEYS are deliberately not claimed here —
    * a config naming them fails loudly rather than implying a tested
    * code path. Their engine-specific error shapes (dup-PK,
    * already-exists) ARE still recognized by
    * [[JdbcJobStore.isDuplicateKey]]/[[JdbcJobStore.isAlreadyExists]]
    * (unit-tested against each vendor's documented error shape), so a
    * deployment that brings its own driver can use `adapter: jdbc` with
    * that engine's URL — but that path is explicitly best-effort, not
    * an advertised, integration-tested backend.
    *
    * Why no in-memory-H2 test leg (the cheap way to re-claim `h2`,
    * mirroring the reference's test_utils matrix): this build resolves
    * dependencies from an offline cache that carries no H2 artifact and
    * has no network egress, so a TEST-scope com.h2database:h2 dependency
    * cannot resolve here. The moment an H2 driver is on the classpath,
    * running the shared JobStoreBehaviors suite against
    * `jdbc:h2:mem:graft` is the intended (and sufficient) gate for
    * re-adding the key. */
  private val jdbcAdapters = Set("jdbc", "derby")

  def store(config: GraftConfig): JobStore = {
    val adapter = config.store.adapter
    def opt(key: String, what: String): String =
      config.store.options.getOrElse(key,
        throw new IllegalArgumentException(what))
    adapter match {
      case "memory"                 => new InMemoryJobStore
      case "log"                    => new LogBackedJobStore(opt("dir", "log adapter requires a :dir"))
      case "shared-log"             => new SharedLogJobStore(opt("dir", "shared-log adapter requires a :dir"))
      case a if jdbcAdapters(a)     => new JdbcJobStore(opt("url", "Valid JDBC adapter and config are required"))
      case other =>
        throw new IllegalArgumentException(
          s"Unknown store adapter $other; expected one of memory, log, shared-log, ${jdbcAdapters.toSeq.sorted.mkString(", ")}")
    }
  }

  /** Start a worker from config (api.clj:44-48 `start`): cadences from the
    * config map, coordination purely through the shared store. `onFatal`
    * picks the supervision mode — [[Worker.stopOnly]] (embedded default)
    * or [[Worker.exitProcess]] (the reference's crash-only service mode,
    * errors.clj:83-92). An explicit `reporter` wins; otherwise a configured
    * `sentry.dsn` builds one via [[Reporter.forDsn]] (the reference's error
    * sink comes from config the same way, errors.clj:90-98). */
  def start(config: GraftConfig, store: JobStore, handlers: Map[String, Handler],
            reporter: Option[Reporter] = None,
            onFatal: Throwable => Unit = Worker.stopOnly): Worker = {
    val sink = reporter.orElse(config.sentryDsn.map(Reporter.forDsn))
    new Worker(store, handlers, config.worker, sink, onFatal).start()
  }

  /** api.clj:50-79 graph constructors. */
  def jobGraph(adjacency: Map[String, Seq[String]], args: Option[String] = None): JobGraph =
    JobGraph.jobGraph(adjacency, args)

  def simpleGraph(jobs: Job*): JobGraph = JobGraph.simpleGraph(jobs: _*)

  /** api.clj:80-86 validate-graph-handlers: assert every type in the graph
    * has a handler. */
  def validateGraphHandlers(handlers: Map[String, Handler],
                            adjacency: Map[String, Seq[String]]): Unit = {
    val missing = JobGraph.missingHandlers(handlers.keySet, adjacency)
    require(missing.isEmpty, s"Invalid graph; missing handlers ${missing.mkString(", ")}")
  }

  /** Control-flow signals thrown from inside handlers (api.clj:99-118). */
  def abort(msg: String): Nothing       = throw AbortJob(msg)
  def abortSilent(msg: String): Nothing = throw AbortJob(msg, silent = true)
  def fault(msg: String): Nothing       = throw TransientFault(msg)
}
