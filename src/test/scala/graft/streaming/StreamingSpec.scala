package graft.streaming

import graft.SparkTestBase
import graft.engine.JobStatus
import graft.streaming.FsmStream.{JobEvent, JobState}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured Streaming forms of the worker loops and event windows
  * (SURVEY.md §7 phase 4), driven synchronously via MemoryStream. */
class StreamingSpec extends SparkTestBase {

  test("FSM stream: legal transitions fold to the right state; illegal ones drop") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[JobEvent]
    val q = FsmStream.transitions(input.toDS())
      .writeStream.format("memory").queryName("fsm").outputMode(OutputMode.Update).start()
    try {
      input.addData(
        JobEvent("a", "reserve", 100), JobEvent("a", "heartbeat", 160),
        JobEvent("b", "reserve", 100),
        JobEvent("c", "finish", 100)) // illegal: unstarted → finish
      q.processAllAvailable()
      input.addData(JobEvent("a", "finish", 200), JobEvent("b", "fail", 150))
      q.processAllAvailable()
      val st = spark.table("fsm").as[JobState].collect()
        .groupBy(_.jobId).map { case (k, v) => k -> v.last }
      assert(st("a").status == JobStatus.Finished)
      assert(st("b").status == JobStatus.Failed && st("b").failures == 1)
      assert(st("c").status == JobStatus.Unstarted) // illegal event ignored
    } finally q.stop()
  }

  test("timeout branch releases silent started jobs (monitor semantics)") {
    assert(FsmStream.onTimeout(JobState("x", JobStatus.Started, 99, 0)) ==
      JobState("x", JobStatus.Unstarted, 0, 0))
    assert(FsmStream.onTimeout(JobState("x", JobStatus.Finished, 99, 0)).status == JobStatus.Finished)
    assert(FsmStream.onTimeout(JobState("x", JobStatus.Unstarted, 0, 0)).status == JobStatus.Unstarted)
  }

  test("FSM step function implements exactly the reference's transition table") {
    def s(status: String) = JobState("x", status, 0, 0)
    assert(FsmStream.step(s(JobStatus.Unstarted), JobEvent("x", "reserve", 5)).status == JobStatus.Started)
    assert(FsmStream.step(s(JobStatus.Unstarted), JobEvent("x", "reserve", 5)).heartbeat == 5)
    assert(FsmStream.step(s(JobStatus.Started), JobEvent("x", "finish", 0)).status == JobStatus.Finished)
    assert(FsmStream.step(s(JobStatus.Started), JobEvent("x", "fail", 0)).status == JobStatus.Failed)
    assert(FsmStream.step(s(JobStatus.Started), JobEvent("x", "reset", 0)).status == JobStatus.Unstarted)
    assert(FsmStream.step(s(JobStatus.Started), JobEvent("x", "abort", 0)).status == JobStatus.Aborted)
    assert(FsmStream.step(s(JobStatus.Unstarted), JobEvent("x", "abort", 0)).status == JobStatus.Aborted)
    // illegal: no-ops
    assert(FsmStream.step(s(JobStatus.Finished), JobEvent("x", "reserve", 0)).status == JobStatus.Finished)
    assert(FsmStream.step(s(JobStatus.Aborted), JobEvent("x", "finish", 0)).status == JobStatus.Aborted)
    // heartbeat is unconditional w.r.t. status (core.clj:133-135)
    assert(FsmStream.step(s(JobStatus.Started), JobEvent("x", "heartbeat", 77)).heartbeat == 77)
  }

  test("FSM step agrees with the store's transition on every status × event") {
    import graft.engine.{InMemoryJobStore, Job, JobGraph}
    import scala.util.Try
    val events = Seq("reserve", "finish", "fail", "abort", "reset", "heartbeat")
    val moves = for (from <- JobStatus.all.toSeq; ev <- events) yield {
      val store = new InMemoryJobStore; store.install()
      store.transactGraph(JobGraph(Seq(Job("x", "t", status = from)), Nil))
      val storeLegal = ev match {
        case "reserve"   => store.reserveJob("x").isDefined
        case "finish"    => Try(store.finishJob("x")).isSuccess
        case "fail"      => Try(store.failJob("x", None)).isSuccess
        case "reset"     => store.resetJob("x").isDefined
        case "abort"     => store.abortJob("x"); store.jobInfo("x").get.status != from
        case "heartbeat" => store.heartbeatJob("x"); true
      }
      val before = JobState("x", from, 0, 0)
      val after = FsmStream.step(before, JobEvent("x", ev, 5))
      val to = store.jobInfo("x").get.status
      assert(after.status == to, s"$from × $ev: stream ${after.status}, store $to")
      assert((after != before) == storeLegal, s"$from × $ev: stream and store disagree on legality")
      (from, to)
    }
    // every legal move is in the table, and every table entry is a move
    assert(moves.filter { case (from, to) => from != to }.toSet == JobStatus.transitions)
  }

  test("detector parity: readiness anti-join over replayed FSM-stream state " +
       "equals the store's ready set on the truth-table matrix") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.engine._

    // the truth-table matrix, driven through the STORE...
    val s = TruthTable.build(new InMemoryJobStore)
    val jobs = s.snapshotJobs.map(_.copy(status = JobStatus.Unstarted, heartbeat = None))
    val deps = s.snapshotDeps

    // ...and the SAME mutations replayed as a transition-event log through
    // the streaming FSM
    val input = MemoryStream[JobEvent]
    val q = FsmStream.transitions(input.toDS())
      .writeStream.format("memory").queryName("fsmparity")
      .outputMode(OutputMode.Update).start()
    val finalStates = try {
      input.addData(
        JobEvent("j2", "reserve", 100),
        JobEvent("j4", "reserve", 100),
        JobEvent("j7", "abort", 100),
        JobEvent("j9", "reserve", 100))
      q.processAllAvailable()
      input.addData(JobEvent("j4", "finish", 110), JobEvent("j9", "fail", 110))
      q.processAllAvailable()
      spark.table("fsmparity").as[JobState].collect()
        .groupBy(_.jobId).map { case (k, v) => k -> v.last }
    } finally q.stop()

    // stream output is a changelog over the all-unstarted base table
    val streamedJobs = jobs.map { j =>
      finalStates.get(j.id) match {
        case Some(st) => j.copy(status = st.status, heartbeat = Some(st.heartbeat))
        case None     => j
      }
    }
    val jobsDF = spark.createDataset(streamedJobs).toDF()
    val depsDF = spark.createDataset(deps).toDF()
    val streamReady = StoreViews.jobsReady(jobsDF, depsDF)
      .select("id").collect().map(_.getString(0)).toSet

    assert(streamReady == s.jobsReady(), "stream-state detector disagrees with the store")
    assert(streamReady == TruthTable.ready)
  }

  test("streaming HLL sketch: windowed distinct-user estimate equals batch") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("evhll")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      tmp.resolve("part-0.parquet"))
    val stream = EventStream.eventFileStream(spark, tmp.toString)
    val q = EventStream.hourlyDistinctSketch(stream)
      .writeStream.format("memory").queryName("evhll")
      .outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("evhll")
        .selectExpr("unix_micros(window.start) AS h", "approx_users")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchEvents = graft.ops.EventOps.events(spark, sfDir)
      // HLL union is order-independent: stream estimate == batch estimate
      val batchRows = batchEvents
        .groupBy(window(col("ts"), "1 hour"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(14))).as("approx_users"),
             countDistinct(col("user_id")).as("exact_users"))
        .selectExpr("unix_micros(window.start) AS h", "approx_users", "exact_users")
        .collect()
      assert(batchRows.nonEmpty)
      batchRows.foreach { r =>
        assert(streamed(r.getLong(0)) == r.getLong(1),
          s"stream/batch sketch diverge at ${r.getLong(0)}")
        val (est, exact) = (r.getLong(1), r.getLong(2))
        assert(math.abs(est - exact) <= math.max(1L, (exact * 0.05).toLong),
          s"estimate $est vs exact $exact")
      }
    } finally q.stop()
  }

  test("stream-static join: live anomaly gate equals the batch z-score gate") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.01" // q129's n>=30 gate needs sf0.01 support
    val batchEv = graft.ops.EventOps.events(spark, dir)
    val baseline = graft.ops.SignalOps.hourBaseline(
      batchEv.select(col("event_type"), hour(col("ts")).as("hr"), col("value")))
      .localCheckpoint() // static model table, computed once
    val tmp = java.nio.file.Files.createTempDirectory("evgate")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      tmp.resolve("part-0.parquet"))
    val stream = EventStream.eventFileStream(spark, tmp.toString)
    val q = EventStream.anomalyGate(stream, baseline)
      .writeStream.format("memory").queryName("evgate")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("evgate")
        .select(col("event_id")).collect().map(_.getLong(0)).toSet
      val batch = EventStream.anomalyGate(batchEv, baseline)
        .select(col("event_id")).collect().map(_.getLong(0)).toSet
      assert(batch.nonEmpty, "batch gate flagged nothing at sf0.01")
      assert(streamed == batch, "stream-static gate diverges from batch")
    } finally q.stop()
  }

  test("tumbling window stream aggregates by hour and type") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.tumblingHourly(df)
      .writeStream.format("memory").queryName("tumbling").outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:55:00"), 2L, "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), 1L, "click", 4.0),
        (Timestamp.valueOf("2024-01-01 10:30:00"), 3L, "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .selectExpr("window.start as s", "event_type", "n", "total_value")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00.0", "click", 2L, 3.0),
        ("2024-01-01 11:00:00.0", "click", 1L, 4.0),
        ("2024-01-01 10:00:00.0", "view", 1L, 8.0)))
    } finally q.stop()
  }

  test("file-source stream over events parquet matches the batch aggregation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      tmp.resolve("part-0.parquet"))
    val stream = EventStream.eventFileStream(spark, tmp.toString)
    val q = EventStream.tumblingHourly(stream)
      .writeStream.format("memory").queryName("evfile").outputMode(OutputMode.Complete).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("evfile")
        .selectExpr("unix_micros(window.start) as hour_us", "event_type", "n", "total_value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.ops.EventOps.q20Tumbling.fn(spark, sfDir)
        .selectExpr("hour_us", "event_type", "n", "total_value")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("session window stream splits on the 30-minute gap") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.sessions(df)
      .writeStream.format("memory").queryName("sessions").outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:10:00"), 1L, "click", 1.0),
        (Timestamp.valueOf("2024-01-01 12:00:00"), 1L, "click", 1.0), // new session
        (Timestamp.valueOf("2024-01-01 10:00:00"), 2L, "view", 1.0))
      q.processAllAvailable()
      val byUser = spark.table("sessions").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      assert(byUser == Map(1L -> 2, 2L -> 1))
    } finally q.stop()
  }

  test("streaming dedup drops repeats of (user, type) within the watermark horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val df = input.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = EventStream.dedupWithinWatermark(df)
      .writeStream.format("memory").queryName("streamdedup").outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:01:00"), 1L, "click", 2.0), // dup key
        (Timestamp.valueOf("2024-01-01 10:02:00"), 1L, "view", 3.0),
        (Timestamp.valueOf("2024-01-01 10:03:00"), 2L, "click", 4.0))
      q.processAllAvailable()
      val keys = spark.table("streamdedup")
        .selectExpr("user_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(keys.length == 3)
      assert(keys.toSet == Set((1L, "click"), (1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("foreachBatch sink writes idempotent batch-keyed parquet") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val out = java.nio.file.Files.createTempDirectory("fbsink").toString
    val agg = EventStream.tumblingHourly(
      input.toDF().toDF("ts", "user_id", "event_type", "value"))
    val q = EventStream.writeBatches(agg, out)
      .option("checkpointLocation", s"$out/ckpt").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:30:00"), 2L, "click", 2.0))
      q.processAllAvailable()
      val dirs = new java.io.File(out).listFiles.filter(_.getName.startsWith("batch_"))
      assert(dirs.nonEmpty)
      val batches = dirs.map(d => spark.read.parquet(d.toString))
      // batch outputs are deterministic and re-readable; the union holds
      // the aggregate rows seen so far
      val n = batches.map(_.count()).sum
      assert(n >= 1)
    } finally q.stop()
  }

  test("stream-stream join buffers both sides and joins within the time band") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String, Double)]
    val views = MemoryStream[(Timestamp, Long, String, Double)]
    val q = EventStream.streamStreamJoin(
        clicks.toDF().toDF("ts", "user_id", "event_type", "value"),
        views.toDF().toDF("ts", "user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("ssjoin").outputMode(OutputMode.Append).start()
    try {
      clicks.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 1.0))
      views.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), 1L, "view", 0.0),  // in band
        (Timestamp.valueOf("2024-01-01 10:30:00"), 1L, "view", 0.0),  // out of band
        (Timestamp.valueOf("2024-01-01 10:05:00"), 2L, "view", 0.0))  // other user
      q.processAllAvailable()
      val rows = spark.table("ssjoin")
        .selectExpr("user_id", "b_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString))
      assert(rows.toSet == Set((1L, "2024-01-01 10:05:00.0")))
    } finally q.stop()
  }
}
