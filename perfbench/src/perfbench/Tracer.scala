package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `layer` is the name's prefix up
  * to the first dot; `job` is the job id the interval served ("" if none). */
final case class Span(id: Long, parent: Long, name: String, job: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** Spans and per-name duration samples, kept in memory until the run ends.
  * A disabled tracer records nothing and costs one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val nextId  = new AtomicLong(1L)
  private val spans   = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def currentSpan: Long = current.get()

  def span[A](name: String, job: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        spans.add(Span(id, parent, name, job, t0, t1))
      }
    }

  /** Record an interval observed elsewhere (listener callbacks). */
  def record(name: String, parent: Long, job: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(nextId.getAndIncrement(), parent, name, job, startNs, endNs))

  def all: Vector[Span] = spans.asScala.toVector
}

object Tracer {

  /** Self time of each layer: every span's duration minus the part of it
    * that its children cover (children clipped to the parent, overlaps
    * merged), summed per layer. */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      out(s.layer) += (s.durNs - covered) / 1e6
    }
    out.toMap
  }
}

/** Percentiles and the tail rule shared by every metric. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def percentile(xs: Array[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = Stats.rank(s.length, p)
    s(math.min(s.length - 1, math.max(0, rank - 1)))
  }

  /** Middle value; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly beyond the nearest-rank p-th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** 1-based nearest rank, robust to p·n landing a hair above an integer. */
  def rank(n: Int, p: Double): Int = math.ceil(p / 100.0 * n - 1e-9).toInt

  /** The tail percentile rule: the highest of `ladder` that leaves at least
    * `minBeyond` samples beyond it. */
  def tailPercentile(n: Int, ladder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9, 99.99),
                     minBeyond: Int = 10): Option[Double] =
    ladder.filter(p => beyond(n, p) >= minBeyond).lastOption
}
