package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.engine.{InMemoryJobStore, JdbcJobStore, Job, JobStore}

/** Command line of the benchmark JVM (run.py builds it). */
final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
                      trace: Boolean = false, spec: String = "", work: String = "",
                      pin: String = "", setupOnly: Boolean = false)

object Args {
  def parse(argv: Seq[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Seq("--workload", v)) => a.copy(workload = v)
    case (a, Seq("--seed", v))     => a.copy(seed = v.toLong)
    case (a, Seq("--seconds", v))  => a.copy(seconds = v.toDouble)
    case (a, Seq("--trace", v))    => a.copy(trace = v == "1")
    case (a, Seq("--spec", v))     => a.copy(spec = v)
    case (a, Seq("--work", v))     => a.copy(work = v)
    case (a, Seq("--pin", v))      => a.copy(pin = v)
    case (a, Seq("--setup-only", v)) => a.copy(setupOnly = v == "1")
    case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }
}

/** A workload: set up once, then run units (one DAG drain each). */
trait Workload {
  def threads: Int
  def setup(): Unit
  def unit(k: Int, tracer: Tracer, counters: LoopCounters): Drain
  /** Output checks beyond the engine's own (Spark results). */
  def outputErrors: Seq[String] = Nil
  /** Engine exceptions the workload's handlers caught; each fails the run. */
  def exceptions: Seq[String] = Nil
  def layerMetrics(traced: Int): Seq[(String, Double, String)] = Nil
  def close(): Unit = ()
}

object Main {

  val mapper = new ObjectMapper()

  /** The seed of unit `k` of a run seeded `seed`. */
  def unitSeed(seed: Long, k: Int): Long = seed * 1000003L + k

  def shapeOf(n: JsonNode): DagShape =
    DagShape(n.get("jobs").asInt, n.get("layers").asInt, n.get("max_fan_in").asInt)

  def mixOf(n: JsonNode): OutcomeMix =
    Option(n.get("outcomes")).map(o => OutcomeMix(o.get("faults").asInt, o.get("fails").asInt,
      o.get("aborts").asInt)).getOrElse(OutcomeMix())

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toSeq)
    val spec = mapper.readTree(new File(a.spec))
    val wspec = Option(spec.get("workloads").get(a.workload))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    new File(a.work).mkdirs()
    val w: Workload = a.workload match {
      case "dag_memory"     => new MemoryWorkload(a, wspec)
      case "dag_jdbc_churn" => new JdbcWorkload(a, wspec)
      case "spark_pipeline" => new SparkWorkload(a, wspec, spec.get("pins"))
    }
    if (a.pin.nonEmpty) {
      w.asInstanceOf[SparkWorkload].pin(a.pin); w.close(); return
    }
    // run.py times set-up from process start to the READY line; with
    // --setup-only 1 the JVM stops there.
    w.setup()
    println("READY"); System.out.flush()
    if (a.setupOnly) { w.close(); return }

    val untraced = new Tracer(false)
    val tracer = new Tracer(a.trace)
    val counters = new LoopCounters
    val plain = mutable.ArrayBuffer.empty[Drain]
    val traced = mutable.ArrayBuffer.empty[Drain]
    // at least min_units units, so that one stalled unit cannot be the median
    val minUnits = Option(wspec.get("min_units")).map(_.asInt).getOrElse(1)
    val t0 = System.nanoTime()
    var k = 0
    do {
      plain += w.unit(k, untraced, counters); k += 1
      if (a.trace) { traced += w.unit(k, tracer, counters); k += 1 }
    } while ((System.nanoTime() - t0) / 1e9 < a.seconds || plain.size < minUnits)

    val all = plain ++ traced
    val errors = all.flatMap(_.errors) ++ w.outputErrors
    val exceptions = all.flatMap(_.exceptions) ++ w.exceptions
    val failures = errors ++ exceptions
    errors.take(20).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    exceptions.take(20).foreach(e => System.err.println(s"[perfbench] engine exception: $e"))
    val attempted = all.map(_.plan.size).sum
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]

    val dispatch = plain.flatMap(_.probe.dispatchMs).toArray
    val tailP = wspec.get("tail_percentile").asDouble
    val ruleP = Stats.tailPercentile(dispatch.length)
    if (!ruleP.contains(tailP)) System.err.println(s"[perfbench] ${dispatch.length} dispatch " +
      s"samples give the tail rule ${ruleP.fold("no percentile")("p" + _)}, not the recorded p$tailP")
    metrics += (("makespan_s", Stats.median(plain.map(_.makespanS).toSeq), "s"))
    metrics += (("dispatch_p50_ms", Stats.percentile(dispatch, 50), "ms"))
    metrics += (("dispatch_tail_ms", Stats.percentile(dispatch, tailP), "ms"))
    metrics += (("error_rate", failures.size.toDouble / attempted, "ratio"))
    metrics += (("engine.exceptions", exceptions.size.toDouble, "count"))
    if (a.trace) metrics ++= layerMetrics(w, traced.toSeq, tracer, counters, plain.toSeq)
    metrics += (("peak_rss_mb", peakRssMb, "MB"))

    if (a.trace) writeTrace(a, tracer, traced.toSeq, plain.toSeq)
    w.close()
    val m = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val edges = plain.map(_.plan.edges).sum.toDouble / plain.size
    println(s"""RESULT {"correct":${failures.isEmpty},"attempted":$attempted,"failed":${failures.size},""" +
      s""""units":${plain.size},"edges_per_unit":$edges,"threads":${w.threads},""" +
      s""""unit_makespans_s":[${plain.map(d => f"${d.makespanS}%.3f").mkString(",")}],""" +
      s""""dispatch_samples":${dispatch.length},"metrics":{$m}}""")
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Per-layer metrics, each averaged per traced unit. */
  def layerMetrics(w: Workload, traced: Seq[Drain], tracer: Tracer, c: LoopCounters,
                   plain: Seq[Drain]): Seq[(String, Double, String)] = {
    val n = traced.size.toDouble
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    for (op <- StoreOps.all) {
      val samples = traced.flatMap(_.probe.samples(op).toArray).map(_ / 1e6).toArray
      out += ((s"store.$op.calls", traced.map(_.probe.calls(op).sum).sum / n, "count"))
      out += ((s"store.$op.ms", traced.map(_.probe.busyNs(op).sum).sum / 1e6 / n, "ms"))
      out += ((s"store.$op.p50_ms", if (samples.isEmpty) 0.0 else Stats.percentile(samples, 50), "ms"))
    }
    val lost = traced.map(_.probe.reserveLost.sum).sum.toDouble
    val attempts = traced.map(_.probe.calls("reserve").sum).sum.toDouble
    out += (("store.ready.rows", traced.map(_.probe.readyRows.sum).sum / n, "count"))
    out += (("store.reserve.lost", lost / n, "count"))
    out += (("store.reserve.win_ratio", if (attempts == 0) 0.0 else (attempts - lost) / attempts, "ratio"))
    out += (("worker.detect.calls", c.detectCalls.sum / n, "count"))
    out += (("worker.detect.ms", c.detectNs.sum / 1e6 / n, "ms"))
    out += (("worker.tick.calls", c.tickCalls.sum / n, "count"))
    out += (("worker.tick.empty", c.tickEmpty.sum / n, "count"))
    out += (("worker.idle_ms", c.idleNs.sum / 1e6 / n, "ms"))
    out += (("worker.useful_ratio", if (c.tickCalls.sum == 0) 0.0 else c.jobsRun.sum.toDouble / c.tickCalls.sum, "ratio"))
    out += (("handler.calls", c.handlerCalls.sum / n, "count"))
    out += (("handler.ms", c.handlerNs.sum / 1e6 / n, "ms"))
    for (o <- Seq("fault", "fail", "abort")) out += ((s"handler.$o", c.outcomes(o).sum / n, "count"))
    out ++= w.layerMetrics(traced.size)
    out += (("jvm.gc_ms", traced.map(_.gcMs).sum / n, "ms"))
    val self = Tracer.selfTimeMs(tracer.all)
    for (l <- Seq("worker", "store", "handler", "ops", "streaming", "spark"))
      out += ((s"self.$l.ms", self.getOrElse(l, 0.0) / n, "ms"))
    out += (("trace.overhead_s",
      Stats.median(traced.map(_.makespanS)) - Stats.median(plain.map(_.makespanS)), "s"))
    out.toSeq
  }

  /** Spans, each layer's self time and the tracing overhead, written once
    * the run ends. */
  def writeTrace(a: Args, tracer: Tracer, traced: Seq[Drain], plain: Seq[Drain]): Unit = {
    val dir = new File(new File(a.work).getParentFile, "traces")
    dir.mkdirs()
    val f = new File(dir, s"trace-${a.workload}-seed${a.seed}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      val spans = tracer.all.sortBy(_.startNs)
      val base = spans.headOption.map(_.startNs).getOrElse(0L)
      val self = Tracer.selfTimeMs(spans)
      w.println("{")
      w.println(s"""  "workload": "${a.workload}", "seed": ${a.seed},""")
      w.println(s"""  "traced_makespan_s": [${traced.map(_.makespanS).mkString(",")}],""")
      w.println(s"""  "untraced_makespan_s": [${plain.map(_.makespanS).mkString(",")}],""")
      w.println(s"""  "overhead_s": ${num(Stats.median(traced.map(_.makespanS)) - Stats.median(plain.map(_.makespanS)))},""")
      w.println(s"""  "self_time_ms": {${self.toSeq.sortBy(_._1).map { case (l, v) => s""""$l": ${num(v)}""" }.mkString(", ")}},""")
      w.println("""  "spans": [""")
      w.println(spans.map(s =>
        s"""    {"id":${s.id},"parent":${s.parent},"name":"${s.name}","job":"${s.job}",""" +
        s""""start_us":${(s.startNs - base) / 1000},"end_us":${(s.endNs - base) / 1000}}""").mkString(",\n"))
      w.println("  ]")
      w.println("}")
    } finally w.close()
    System.err.println(s"[perfbench] trace written to $f (${tracer.all.size} spans)")
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Several thousand no-op jobs with a seeded mix of outcomes on one shared
  * in-memory store. Nothing to set up: the JVM's warm-up falls in the first
  * units, and makespan_s is the median over all of them. */
final class MemoryWorkload(a: Args, spec: JsonNode) extends Workload {
  private val shape = Main.shapeOf(spec)
  private val mix = Main.mixOf(spec)
  val threads: Int = Main.cpus
  private val noop: (Job, JobStore) => Unit = (_, _) => ()

  def setup(): Unit = ()

  def unit(k: Int, tracer: Tracer, c: LoopCounters): Drain = {
    val s = Main.unitSeed(a.seed, k)
    val store = new InMemoryJobStore
    store.install()
    Drive.drain(Gen.plan(s, shape, mix), Vector.fill(threads)(store), Set("noop"), noop,
      tracer, c, s, 60000L)
  }
}

/** A few hundred jobs with a seeded mix of outcomes on on-disk Derby, one
  * store instance (one connection) per worker thread. */
final class JdbcWorkload(a: Args, spec: JsonNode) extends Workload {
  private val shape = Main.shapeOf(spec)
  private val mix = Main.mixOf(spec)
  val threads: Int = math.min(Main.cpus, spec.get("max_connections").asInt)
  private val dbRoot = new File(a.work, "derby")
  private val heartbeatErrors = new ConcurrentLinkedQueue[String]()
  // Liveness is best effort: a heartbeat the database rejects (a deadlock
  // victim) is counted, and the job goes on to its planned outcome.
  private val heartbeatOnce: (Job, JobStore) => Unit = (job, store) =>
    try store.heartbeatJob(job.id)
    catch { case e: SQLException => heartbeatErrors.add(s"heartbeat: ${Drive.describe(e)}") }

  override def exceptions: Seq[String] = heartbeatErrors.asScala.toVector

  /** A fresh database with the schema installed and one store per thread,
    * shut down and deleted after `body`. */
  private def withDb[A](name: String)(body: IndexedSeq[JobStore] => A): A = {
    val dir = new File(dbRoot, name)
    Main.deleteTree(dir)
    val url = s"jdbc:derby:${dir.getPath};create=true"
    val stores = (0 until threads).map(_ => new JdbcJobStore(url))
    try {
      stores(0).install()
      body(stores)
    } finally {
      stores.foreach(_.close())
      try DriverManager.getConnection(s"jdbc:derby:${dir.getPath};shutdown=true")
      catch { case _: SQLException => () } // a clean shutdown always reports 08006
      Main.deleteTree(dir)
    }
  }

  /** Boots Derby and creates one database; each unit then makes its own. */
  def setup(): Unit = {
    System.setProperty("derby.system.home", dbRoot.getPath)
    dbRoot.mkdirs()
    withDb("setup")(_ => ())
  }

  def unit(k: Int, tracer: Tracer, c: LoopCounters): Drain = {
    val s = Main.unitSeed(a.seed, k)
    withDb(s"u$k")(stores => Drive.drain(Gen.plan(s, shape, mix), stores, Set("noop"),
      heartbeatOnce, tracer, c, s, 30000L, monitor = true))
  }
}

/** Registered queries and streams as handlers of a small DAG, on one
  * in-memory store and one shared Spark session. */
final class SparkWorkload(a: Args, spec: JsonNode, pins: JsonNode) extends Workload {
  private val shape = Main.shapeOf(spec)
  val threads: Int = math.min(Main.cpus, spec.get("threads").asInt)
  private val dataDir = spec.get("data_dir").asText
  private val streamSrc = new File(a.work, "stream-src").getPath
  private val queries = spec.get("queries").fieldNames.asScala.toVector
  private val streams = spec.get("streams").elements.asScala.map(_.asText).toVector
  private val tasks = queries ++ streams.map("stream:" + _)
  private val errors = new ConcurrentLinkedQueue[String]()
  private val opsNs = queries.map(_ -> new java.util.concurrent.atomic.LongAdder).toMap
  private val opsRows = queries.map(_ -> new java.util.concurrent.atomic.LongAdder).toMap
  private val streamNs = streams.map(_ -> new java.util.concurrent.atomic.LongAdder).toMap
  private val streamRows = streams.map(_ -> new java.util.concurrent.atomic.LongAdder).toMap
  private var spark: SparkSession = _
  private var collector: SparkCollector = _
  private val streamCollector = new StreamCollector
  private var pipeline = 0

  require(shape.jobs == tasks.size, s"spark_pipeline has ${tasks.size} tasks for ${shape.jobs} jobs")

  private def pinOf(task: String): Option[Digest] = Option(pins.get(task)).map(p =>
    Digest(p.get("rows").asLong, p.get("hash").asLong, p.get("fsum").asDouble, p.get("fabs").asDouble))

  def setup(): Unit = {
    require(new File(dataDir, "lineitem.parquet").exists, s"no data at $dataDir")
    new File(streamSrc).mkdirs()
    Files.copy(Paths.get(dataDir, "events.parquet"), Paths.get(streamSrc, "events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val t0 = System.nanoTime()
    spark = SparkSide.session(Main.cpus, a.work)
    collector = new SparkCollector
    spark.sparkContext.addSparkListener(collector)
    spark.streams.addListener(streamCollector)
    val t1 = System.nanoTime()
    spark.range(1000).selectExpr("sum(id)").collect()
    System.err.println(f"[perfbench] setup: session ${(t1 - t0) / 1e9}%.2f s, first job " +
      f"${(System.nanoTime() - t1) / 1e9}%.2f s, JVM uptime ${Main.uptimeS}%.2f s")
  }

  /** One attempt of one task: run it, digest the output, check the digest. */
  private def runTask(tracer: Tracer)(job: Job, store: JobStore): Unit = {
    val task = job.jobType
    val sc = spark.sparkContext
    if (task.startsWith("stream:")) {
      val name = task.stripPrefix("stream:")
      val t0 = System.nanoTime()
      val d = tracer.span(s"streaming.$name", job.id) {
        sc.setLocalProperty(SparkCollector.SpanKey, tracer.currentSpan.toString)
        val sink = s"${name}_p${pipeline}_${job.id.take(8)}"
        try SparkSide.runStream(spark, streamSrc, name, sink, new File(a.work, s"checkpoints/$sink").getPath)
        finally sc.setLocalProperty(SparkCollector.SpanKey, null)
      }
      if (tracer.enabled) { streamNs(name).add(System.nanoTime() - t0); streamRows(name).add(d.rows) }
      check(task, d)
    } else {
      val t0 = System.nanoTime()
      val d = tracer.span(s"ops.$task", job.id) {
        sc.setLocalProperty(SparkCollector.SpanKey, tracer.currentSpan.toString)
        try Digest.of(graft.SparkEntry.queries(task)(spark, dataDir))
        finally sc.setLocalProperty(SparkCollector.SpanKey, null)
      }
      if (tracer.enabled) { opsNs(task).add(System.nanoTime() - t0); opsRows(task).add(d.rows) }
      check(task, d)
    }
  }

  private def check(task: String, d: Digest): Unit = pinOf(task) match {
    case Some(p) if d.matches(p) => ()
    case Some(p) => errors.add(s"$task: output $d differs from pinned $p")
    case None    => errors.add(s"$task: no pinned digest")
  }

  def unit(k: Int, tracer: Tracer, c: LoopCounters): Drain = {
    val s = Main.unitSeed(a.seed, k)
    pipeline = k
    collector.enabled.set(tracer.enabled)
    collector.tracer = tracer
    val plan = Gen.plan(s, shape, OutcomeMix(), tasks)
    val store = new InMemoryJobStore
    store.install()
    val d = Drive.drain(plan, Vector.fill(threads)(store), tasks.toSet, runTask(tracer),
      tracer, c, s, 100000L)
    collector.enabled.set(false)
    d
  }

  override def outputErrors: Seq[String] = errors.asScala.toVector

  override def layerMetrics(traced: Int): Seq[(String, Double, String)] = {
    val n = traced.toDouble
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    for (q <- queries) {
      out += ((s"ops.$q.ms", opsNs(q).sum / 1e6 / n, "ms"))
      out += ((s"ops.$q.rows", opsRows(q).sum / n, "count"))
    }
    val cl = collector
    out += (("spark.jobs", cl.jobs.sum / n, "count"))
    out += (("spark.stages", cl.stages.sum / n, "count"))
    out += (("spark.tasks", cl.tasks.sum / n, "count"))
    out += (("spark.executor_run_ms", cl.runMs.sum / n, "ms"))
    out += (("spark.executor_cpu_ms", cl.cpuNs.sum / 1e6 / n, "ms"))
    out += (("spark.gc_ms", cl.gcMs.sum / n, "ms"))
    out += (("spark.input_bytes", cl.inputBytes.sum / n, "bytes"))
    out += (("spark.shuffle_read_bytes", cl.shuffleRead.sum / n, "bytes"))
    out += (("spark.shuffle_write_bytes", cl.shuffleWrite.sum / n, "bytes"))
    out += (("spark.spill_bytes", cl.spill.sum / n, "bytes"))
    out += (("spark.task_skew", cl.taskSkew, "ratio"))
    for (s <- streams) {
      val ms = streamNs(s).sum / 1e6 / n
      val batches = streamCollector.batches.asScala.collect {
        case (name, b) if name.startsWith(s + "_p") => b.sum }.sum
      val rowsIn = streamCollector.rows.asScala.collect {
        case (name, r) if name.startsWith(s + "_p") => r.sum }.sum
      out += ((s"streaming.$s.ms", ms, "ms"))
      out += ((s"streaming.$s.batches", batches / n, "count"))
      out += ((s"streaming.$s.rows_per_s", if (ms == 0) 0.0 else rowsIn / n / (ms / 1000.0), "1/s"))
    }
    out.toSeq
  }

  /** Digest every query and stream once, and write each result as parquet
    * next to the oracle SQL, for perfbench/pin.py to check against DuckDB. */
  def pin(outDir: String): Unit = {
    setup()
    new File(outDir).mkdirs()
    val oracle = graft.SparkEntry.oracleSql
    val lines = mutable.ArrayBuffer.empty[String]
    val smallDir = spec.get("oracle_fallback_dir").asText
    for (q <- queries) {
      val df = graft.SparkEntry.queries(q)(spark, dataDir)
      val d = Digest.of(df)
      df.write.mode("overwrite").parquet(s"$outDir/$q")
      graft.SparkEntry.queries(q)(spark, smallDir).write.mode("overwrite").parquet(s"$outDir/small/$q")
      val sql = oracle.get(q).map(mapper.writeValueAsString).getOrElse("null")
      lines += s""""$q": {"rows": ${d.rows}, "hash": ${d.hash}, "fsum": ${d.fsum}, "fabs": ${d.fabs}, "oracle": $sql}"""
    }
    for (s <- streams) {
      val d = SparkSide.runStream(spark, streamSrc, s, s"pin_$s", new File(a.work, s"checkpoints/pin_$s").getPath)
      val batch = Digest.of(SparkSide.streams(s)(graft.ops.EventOps.events(spark, dataDir)))
      require(d == batch || d.matches(batch), s"stream $s: streamed $d, batch form $batch")
      lines += s""""stream:$s": {"rows": ${d.rows}, "hash": ${d.hash}, "fsum": ${d.fsum}, "fabs": ${d.fabs}, "oracle": null}"""
    }
    Files.write(Paths.get(outDir, "pins.json"), lines.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }

  private def mapper = Main.mapper

  override def close(): Unit = if (spark != null) { spark.stop(); spark = null }
}
