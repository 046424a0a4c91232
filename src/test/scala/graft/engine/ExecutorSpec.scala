package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Executor / handler lifecycle / failure semantics
  * (SURVEY.md §5 layer 5; test/overseer/executor_test.clj, api_test.clj). */
class ExecutorSpec extends AnyFunSuite {

  def fixture(handler: Handler): (InMemoryJobStore, Worker, String) = {
    val store = new InMemoryJobStore; store.install()
    val g = JobGraph.jobGraph(Map("work" -> Seq.empty))
    store.transactGraph(g)
    (store, new Worker(store, Map("work" -> handler), WorkerConfig(seed = Some(7))), g.jobs.head.id)
  }

  test("success → finished (executor_test.clj:10-22)") {
    val (store, w, id) = fixture(Handler(_ => 42))
    assert(w.runUntilIdle() == Seq(id))
    assert(store.jobInfo(id).get.status == JobStatus.Finished)
  }

  test("exception → failed with exact failure shape (executor_test.clj:23-39)") {
    val (store, w, id) = fixture(Handler(_ => throw new Exception("boom")))
    w.runUntilIdle()
    val j = store.jobInfo(id).get
    assert(j.status == JobStatus.Failed)
    assert(j.failure.contains(
      """{"reason":"system/exception","exception":"java.lang.Exception","message":"boom"}"""))
  }

  test("abort inside a handler cascades to dependents (api.clj:99-111)") {
    val store = new InMemoryJobStore; store.install()
    val g = JobGraph.jobGraph(Map("child" -> Seq("parent")))
    store.transactGraph(g)
    val id = g.jobs.map(j => j.jobType -> j.id).toMap
    val w = new Worker(store,
      Map("parent" -> Handler(_ => throw AbortJob("stop")),
          "child"  -> Handler(_ => 1)), WorkerConfig(seed = Some(7)))
    w.runUntilIdle()
    assert(store.jobInfo(id("parent")).get.status == JobStatus.Aborted)
    assert(store.jobInfo(id("child")).get.status == JobStatus.Aborted)
  }

  test("fault resets the job to unstarted for retry (api_test.clj:88-102)") {
    var attempts = 0
    val (store, w, id) = fixture(Handler { _ =>
      attempts += 1
      if (attempts == 1) throw TransientFault("later") else "ok"
    })
    w.detectOnce(); w.tick()
    assert(store.jobInfo(id).get.status == JobStatus.Unstarted) // released
    w.detectOnce(); w.tick()
    assert(store.jobInfo(id).get.status == JobStatus.Finished) // retried, done
    assert(attempts == 2)
  }

  test("handler stages: pre → process → post(job, result) (executor_test.clj:41-54)") {
    val order = scala.collection.mutable.ArrayBuffer[String]()
    val h = Handler(
      preProcess = _ => order += "pre",
      process = _ => { order += "process"; 10 },
      postProcess = (_, r) => { order += s"post:$r"; r.asInstanceOf[Int] * 2 })
    val res = h.invoke(Job("x", "t"))
    assert(order.toSeq == Seq("pre", "process", "post:10"))
    assert(res == 20)
  }

  test("harness wraps a stage, composes, defaults to process (api_test.clj:19-86)") {
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val base = Handler(_ => { seen += "process"; 1 })
    val wrapped = Handler.harness(base) { f => j => { seen += "before"; val r = f(j); seen += "after"; r } }
    assert(wrapped.invoke(Job("x", "t")) == 1)
    assert(seen.toSeq == Seq("before", "process", "after"))

    seen.clear()
    // harness on a stage the handler didn't define: identity stage, still wrappable
    val preWrapped = Handler.harness(base, Handler.Pre) { f => j => { seen += "pre-h"; f(j) } }
    preWrapped.invoke(Job("x", "t"))
    assert(seen.toSeq == Seq("pre-h", "process"))

    seen.clear()
    val postWrapped = Handler.harness(base, Handler.Post) { f => j => { seen += "post-h"; f(j) } }
    assert(postWrapped.invoke(Job("x", "t")) == 1)
    assert(seen.toSeq == Seq("process", "post-h"))
  }

  test("worker only picks types it has handlers for (worker.clj:14-22)") {
    val store = new InMemoryJobStore; store.install()
    val g = JobGraph.jobGraph(Map("mine" -> Seq.empty, "theirs" -> Seq.empty))
    store.transactGraph(g)
    val w = new Worker(store, Map("mine" -> Handler(_ => 1)), WorkerConfig(seed = Some(7)))
    w.runUntilIdle()
    val byType = store.snapshotJobs.map(j => j.jobType -> j.status).toMap
    assert(byType("mine") == JobStatus.Finished)
    assert(byType("theirs") == JobStatus.Unstarted)
  }

  test("diamond drains fully and respects dependency order (FIXTURES.md A.2)") {
    val store = new InMemoryJobStore; store.install()
    val g = JobGraph.jobGraph(Map(
      "result1" -> Seq("start"), "result2" -> Seq("start"),
      "finish" -> Seq("result1", "result2")))
    store.transactGraph(g)
    val typeOf = g.jobs.map(j => j.id -> j.jobType).toMap
    val handlers = Seq("start", "result1", "result2", "finish")
      .map(t => t -> Handler(_ => t)).toMap
    val ran = new Worker(store, handlers, WorkerConfig(seed = Some(7))).runUntilIdle().map(typeOf)
    assert(ran.size == 4)
    assert(ran.head == "start" && ran.last == "finish")
    assert(store.snapshotJobs.forall(_.status == JobStatus.Finished))
  }

  test("background worker drains a job within the liveness bound (executor_test.clj:72-74)") {
    val (store, w, id) = fixture(Handler(_ => "ok"))
    val fast = new Worker(store, Map("work" -> Handler(_ => "ok")),
      WorkerConfig(detectorSleepMs = 20, sleepMs = 20, seed = Some(7)))
    fast.start()
    try {
      val deadline = System.currentTimeMillis() + 2000
      while (System.currentTimeMillis() < deadline &&
             store.jobInfo(id).get.status != JobStatus.Finished) Thread.sleep(10)
      assert(store.jobInfo(id).get.status == JobStatus.Finished)
    } finally fast.stop()
  }

  test("monitor resets dead jobs (heartbeat_test.clj:14-48)") {
    val store = new InMemoryJobStore; store.install()
    val id = Squuid()
    store.transactGraph(JobGraph.simpleGraph(Job(id, "t")))
    store.reserveJob(id)
    // age the heartbeat 30 days
    store.updateJob(id, _ => true,
      _.copy(heartbeat = Some(System.currentTimeMillis() / 1000 - 30L * 86400)))
    val w = new Worker(store, Map.empty, WorkerConfig(seed = Some(7)))
    assert(w.monitorOnce() == Set(id))
    assert(store.jobInfo(id).get.status == JobStatus.Unstarted)
  }

  test("monitor tolerance honours sub-second heartbeat intervals") {
    val store = new InMemoryJobStore; store.install()
    val id = Squuid()
    store.transactGraph(JobGraph.simpleGraph(Job(id, "t")))
    store.reserveJob(id)
    def ageHeartbeat(secs: Long): Unit = store.updateJob(id, _ => true,
      _.copy(heartbeat = Some(System.currentTimeMillis() / 1000 - secs)))
    // 5 missed beats of 500 ms: dead after 2.5 s of silence
    val w = new Worker(store, Map.empty,
      WorkerConfig(heartbeatSleepMs = 500, heartbeatTolerance = 5, seed = Some(7)))
    ageHeartbeat(1)
    assert(w.monitorOnce().isEmpty)
    assert(store.jobInfo(id).get.status == JobStatus.Started)
    ageHeartbeat(10)
    assert(w.monitorOnce() == Set(id))
    assert(store.jobInfo(id).get.status == JobStatus.Unstarted)
  }
}
