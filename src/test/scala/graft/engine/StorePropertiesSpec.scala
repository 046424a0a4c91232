package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property layer (SURVEY.md §5 "our plan"): FSM and closure invariants
  * over randomized DAGs — seeded generation, 60 cases per property. */
class StorePropertiesSpec extends AnyFunSuite {
  import StorePropertiesSpec.genDag

  def freshStore(adj: Map[String, Seq[String]]): (InMemoryJobStore, Map[String, String]) = {
    val s = new InMemoryJobStore; s.install()
    val g = JobGraph.jobGraph(adj)
    s.transactGraph(g)
    (s, g.jobs.map(j => j.jobType -> j.id).toMap)
  }

  test("property: ready jobs are always unstarted with all parents finished") {
    val rnd = new Random(1)
    (1 to 60).foreach { _ =>
      val adj = genDag(rnd)
      val (s, id) = freshStore(adj)
      val parentOf = adj.map { case (k, v) => id(k) -> v.map(id) }
      (1 to 6).foreach { _ =>
        val ready = s.jobsReady().toSeq.sorted
        if (ready.nonEmpty) {
          val pick = ready(rnd.nextInt(ready.size))
          s.reserveJob(pick)
          if (rnd.nextBoolean()) s.finishJob(pick)
        }
      }
      s.jobsReady().foreach { r =>
        assert(s.jobInfo(r).get.status == JobStatus.Unstarted)
        parentOf.getOrElse(r, Seq.empty).foreach { p =>
          assert(s.jobInfo(p).get.status == JobStatus.Finished, s"ready $r has unfinished parent $p")
        }
      }
    }
  }

  test("property: scheduler drains every acyclic graph completely") {
    val rnd = new Random(2)
    (1 to 60).foreach { _ =>
      val adj = genDag(rnd)
      val (s, _) = freshStore(adj)
      val handlers = adj.keys.map(t => t -> Handler(_ => t)).toMap
      new Worker(s, handlers, WorkerConfig(seed = Some(7))).runUntilIdle()
      assert(s.snapshotJobs.forall(_.status == JobStatus.Finished), s"undrained: $adj")
    }
  }

  test("property: abort cascade = {job} ∪ transitive dependents, nothing else") {
    val rnd = new Random(3)
    (1 to 60).foreach { _ =>
      val adj = genDag(rnd)
      val (s, id) = freshStore(adj)
      val target = adj.keys.toSeq.sorted.apply(rnd.nextInt(adj.size))
      val expected = JobGraph.dependents(s.snapshotDeps, Set(id(target))) + id(target)
      s.abortJob(id(target))
      s.snapshotJobs.foreach { j =>
        if (expected.contains(j.id)) assert(j.status == JobStatus.Aborted)
        else assert(j.status == JobStatus.Unstarted, s"collateral abort of ${j.id} in $adj")
      }
    }
  }

  test("property: driver BFS closure is idempotent and cycle-safe (random digraphs)") {
    val rnd = new Random(4)
    (1 to 60).foreach { _ =>
      val deps = Seq.fill(rnd.nextInt(25))(Dep(s"n${rnd.nextInt(9)}", s"n${rnd.nextInt(9)}"))
      val roots = Set("n0")
      val c1 = JobGraph.dependents(deps, roots)
      val c2 = JobGraph.dependents(deps, roots ++ c1)
      assert((c2 -- c1 -- roots).isEmpty, s"not closed: $deps")
    }
  }
}

object StorePropertiesSpec {

  /** Random DAG: node i may depend only on lower-indexed nodes (acyclic by
    * construction). */
  def genDag(rnd: Random): Map[String, Seq[String]] = {
    val n = 1 + rnd.nextInt(12)
    (0 until n).map { i =>
      val parents = (0 until i).filter(_ => rnd.nextDouble() < 0.35).map(j => s"t$j")
      s"t$i" -> parents
    }.toMap
  }
}
