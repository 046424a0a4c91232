package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a result: row count, a 64-bit sum of per-row
  * hashes over the exact columns, and a sum of the floating-point columns,
  * which are compared with a tolerance because concurrent tasks may add
  * them in another order. */
final case class Digest(rows: Long, hash: Long, fsum: Double, fabs: Double) {
  def matches(pin: Digest): Boolean =
    rows == pin.rows && hash == pin.hash &&
      math.abs(fsum - pin.fsum) <= 1e-7 * math.max(1.0, math.max(fabs, pin.fabs))
}

object Digest {

  private def isFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: DecimalType => true
    case _                                       => false
  }

  private def exact(v: Any): String = v match {
    case null                      => "∅"
    case t: java.sql.Timestamp     => (t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString
    case t: java.time.Instant      => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.lang.Double       => f"${d.doubleValue}%.9g"
    case d: java.lang.Float        => f"${d.doubleValue}%.6g"
    case d: java.math.BigDecimal   => f"${d.doubleValue}%.9g"
    case b: Array[Byte]            => b.mkString("b[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(exact).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => exact(k) + ":" + exact(x) }.sorted.mkString("{", ",", "}")
    case r: Row                    => r.toSeq.map(exact).mkString("(", ",", ")")
    case other                     => other.toString
  }

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val exactCols = fields.filterNot(f => isFloat(f._1.dataType)).map(_._2)
    val floatCols = fields.filter(f => isFloat(f._1.dataType)).map(_._2)
    var rows = 0L; var hash = 0L; var fsum = 0.0; var fabs = 0.0
    df.toLocalIterator().asScala.foreach { r =>
      rows += 1
      val s = exactCols.map(i => exact(r.get(i))).mkString("\u001f")
      hash += (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x0b1d) & 0xffffffffL)
      floatCols.foreach { i =>
        if (!r.isNullAt(i)) {
          val x = r.get(i) match {
            case d: java.math.BigDecimal => d.doubleValue
            case n: Number               => n.doubleValue
          }
          if (!x.isNaN && !x.isInfinite) { fsum += x; fabs += math.abs(x) }
        }
      }
    }
    Digest(rows, hash, fsum, fabs)
  }
}

/** Spark-side counters read through public listeners. Disabled listeners
  * ignore their events. */
final class SparkCollector extends SparkListener {
  val enabled = new AtomicBoolean(false)
  @volatile var tracer: Tracer = new Tracer(false)
  val jobs, stages, tasks = new LongAdder
  val runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = new LongAdder
  private val taskTimes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]() // jobId -> (startNs, parent span)
  // listener times are wall-clock ms; spans are on the nanoTime axis
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled.get()) {
    jobs.increment()
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCollector.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (e.time * 1000000L + wallToNano, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled.get()) {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
      tracer.record("spark.job", parent, "", t0, e.time * 1000000L + wallToNano)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled.get()) stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled.get() && e.taskMetrics != null) {
    val m = e.taskMetrics
    tasks.increment()
    runMs.add(m.executorRunTime); cpuNs.add(m.executorCpuTime); gcMs.add(m.jvmGCTime)
    inputBytes.add(m.inputMetrics.bytesRead)
    shuffleRead.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
    shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
    spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    val buf = taskTimes.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
    buf.synchronized(buf += e.taskInfo.duration)
  }

  /** The worst stage's max / median task time, over stages of 2+ tasks. */
  def taskSkew: Double = {
    val ratios = taskTimes.values.asScala.toSeq.map(b => b.synchronized(b.toVector)).filter(_.size >= 2).map { ts =>
      val med = math.max(1.0, Stats.median(ts.map(_.toDouble)))
      ts.max / med
    }
    if (ratios.isEmpty) 0.0 else ratios.max
  }
}

object SparkCollector {
  val SpanKey = "perfbench.span"
}

/** Per-stream progress read from [[StreamingQueryListener]] events. */
final class StreamCollector extends StreamingQueryListener {
  val batches = new ConcurrentHashMap[String, LongAdder]()
  val rows    = new ConcurrentHashMap[String, LongAdder]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val name = Option(e.progress.name).getOrElse("")
    batches.computeIfAbsent(name, _ => new LongAdder).increment()
    rows.computeIfAbsent(name, _ => new LongAdder).add(e.progress.numInputRows)
  }
}

object SparkSide {

  /** Spark session in local mode, every working path inside `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The streaming operators a pipeline job may run to completion. */
  val streams: Map[String, DataFrame => DataFrame] = Map(
    "tumbling_hourly" -> (ev => graft.streaming.EventStream.tumblingHourly(ev)),
    "sliding_rate"    -> (ev => graft.streaming.EventStream.slidingRate(ev)))

  /** Run one stream over `srcDir` (a directory holding the events file; a
    * file stream source reads directories) with an available-now trigger,
    * into an in-memory sink, and digest what the sink holds at the end. */
  def runStream(spark: SparkSession, srcDir: String, name: String, sinkName: String,
                checkpoint: String): Digest = {
    val ev = graft.streaming.EventStream.eventFileStream(spark, srcDir)
    val q = streams(name)(ev).writeStream
      .format("memory").queryName(sinkName).outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val d = Digest.of(spark.table(sinkName))
    spark.sql(s"DROP VIEW IF EXISTS $sinkName")
    d
  }
}
