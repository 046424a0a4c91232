package perfbench

import java.util.UUID
import scala.util.Random

import graft.engine.{Dep, Job, JobGraph, JobStatus}

/** What a job's handler does on each attempt, fixed by the seed. */
object Outcome {
  val Finish = 0 // return normally
  val Fault  = 1 // throw TransientFault on the first attempt, finish on the retry
  val Fail   = 2 // throw a plain exception: the job fails
  val Abort  = 3 // throw AbortJob: the job and all its dependents abort

  val names: IndexedSeq[String] = Vector("finish", "fault", "fail", "abort")
}

/** Layered DAG shape: `layers` layers of equal width, every job outside the
  * first layer depending on 1..maxFanIn distinct jobs of the layer before. */
final case class DagShape(jobs: Int, layers: Int, maxFanIn: Int) {
  require(jobs >= layers && layers >= 1 && maxFanIn >= 1)
  def layerOf(i: Int): Int = (i.toLong * layers / jobs).toInt
}

/** Fixed outcome counts (not probabilities), so every seed draws the same
  * mix and only the placement moves. Failures land on jobs without
  * dependents, so every job of the graph still reaches a final status;
  * abort roots land in the last three layers, so a cascade reaches at most
  * two layers down. */
final case class OutcomeMix(faults: Int = 0, fails: Int = 0, aborts: Int = 0)

/** One generated input: the graph handed to the engine, plus everything the
  * benchmark keeps to itself to check the engine's output. */
final case class Plan(
    graph: JobGraph,
    ids: IndexedSeq[String],
    parents: IndexedSeq[Array[Int]],
    outcome: Array[Int],
    task: IndexedSeq[String]) {

  val size: Int = ids.length
  val index: Map[String, Int] = ids.zipWithIndex.toMap

  lazy val children: IndexedSeq[Array[Int]] = {
    val b = Array.fill(size)(Array.newBuilder[Int])
    for (j <- 0 until size; p <- parents(j)) b(p) += j
    b.map(_.result()).toIndexedSeq
  }

  /** A job runs iff every ancestor finishes; ids are in topological order. */
  lazy val runs: Array[Boolean] = {
    val r = new Array[Boolean](size)
    for (j <- 0 until size)
      r(j) = parents(j).forall(p => r(p) && finishes(p))
    r
  }

  private def finishes(j: Int): Boolean =
    outcome(j) == Outcome.Finish || outcome(j) == Outcome.Fault

  /** The status each job must end in, whatever order the workers take. */
  lazy val expectedStatus: IndexedSeq[String] = {
    val st = Array.fill(size)(JobStatus.Unstarted)
    for (j <- 0 until size if runs(j)) st(j) = outcome(j) match {
      case Outcome.Fail  => JobStatus.Failed
      case Outcome.Abort => JobStatus.Aborted
      case _             => JobStatus.Finished
    }
    // a job that never runs sits below an abort root that did run
    for (j <- 0 until size if runs(j) && outcome(j) == Outcome.Abort) {
      var frontier = children(j).toList
      while (frontier.nonEmpty) {
        val c = frontier.head; frontier = frontier.tail
        if (st(c) != JobStatus.Aborted) { st(c) = JobStatus.Aborted; frontier = children(c).toList ::: frontier }
      }
    }
    st.toIndexedSeq
  }

  /** Successful reservations each job must see: one per attempt. */
  def expectedReserves(j: Int): Int =
    if (!runs(j)) 0 else if (outcome(j) == Outcome.Fault) 2 else 1

  /** Terminal store calls (finish/fail/abort) the drain must observe. */
  lazy val terminalCalls: Int = runs.count(identity)

  def edges: Int = graph.deps.size
}

object Gen {

  /** Generate a plan. `tasks` is the multiset of handler tasks to place
    * (one per job, shuffled by the seed); empty means every job is a no-op. */
  def plan(seed: Long, shape: DagShape, mix: OutcomeMix = OutcomeMix(),
           tasks: IndexedSeq[String] = Vector.empty): Plan = {
    val rnd = new Random(seed)
    val n = shape.jobs
    val ids = Vector.fill(n)(new UUID(rnd.nextLong(), rnd.nextLong()).toString)
    val layerStart = (0 to shape.layers).map(l => (0 until n).indexWhere(shape.layerOf(_) >= l) match {
      case -1 => n
      case i  => i
    })
    val parents = (0 until n).map { j =>
      val l = shape.layerOf(j)
      if (l == 0) Array.emptyIntArray
      else {
        val lo = layerStart(l - 1); val width = layerStart(l) - lo
        val k = math.min(width, 1 + rnd.nextInt(shape.maxFanIn))
        rnd.shuffle((lo until lo + width).toVector).take(k).sorted.toArray
      }
    }
    val hasChildren = new Array[Boolean](n)
    parents.foreach(_.foreach(hasChildren(_) = true))

    val outcome = Array.fill(n)(Outcome.Finish)
    def place(count: Int, what: Int, eligible: Int => Boolean): Unit = {
      val pool = rnd.shuffle((0 until n).filter(j => outcome(j) == Outcome.Finish && eligible(j)).toVector)
      require(pool.size >= count, s"only ${pool.size} jobs can take outcome ${Outcome.names(what)}")
      pool.take(count).foreach(outcome(_) = what)
    }
    place(mix.aborts, Outcome.Abort, j => hasChildren(j) && shape.layerOf(j) >= shape.layers - 3)
    place(mix.fails, Outcome.Fail, j => !hasChildren(j))
    place(mix.faults, Outcome.Fault, _ => true)

    val task =
      if (tasks.isEmpty) Vector.fill(n)("")
      else {
        require(tasks.size == n, s"${tasks.size} tasks for $n jobs")
        rnd.shuffle(tasks)
      }
    val jobs = (0 until n).map(j => Job(id = ids(j), jobType = if (task(j).isEmpty) "noop" else task(j)))
    val deps = for (j <- 0 until n; p <- parents(j)) yield Dep(jobId = ids(j), depId = ids(p))
    Plan(JobGraph(jobs, deps), ids, parents, outcome, task)
  }
}
