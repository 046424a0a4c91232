package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The JDBC backend through the same store-agnostic protocol suite as the
  * other two backends, plus what only this backend can do: several store
  * INSTANCES — each owning its own connection, standing in for separate
  * worker processes — coordinating through one shared database, with every
  * race resolved by the SQL-level optimistic CAS rather than a JVM lock
  * (reference store/jdbc.clj + test/overseer/store/jdbc_test.clj:42-60).
  *
  * Embedded Derby is single-JVM by nature, so "multi-process" here means
  * multi-connection against one shared database — the exact SQL a MySQL URL
  * would run across real processes.
  */
class JdbcStoreSpec extends AnyFunSuite with JobStoreBehaviors {

  private val n = new AtomicLong(0)
  private def freshUrl(): String =
    s"jdbc:derby:memory:graftstore${System.nanoTime()}_${n.incrementAndGet()};create=true"

  override def freshStore(): JobStore = {
    val s = new JdbcJobStore(freshUrl()); s.install(); s
  }

  storeProtocol()

  test("install is not idempotent (schema already exists)") {
    val url = freshUrl()
    val s = new JdbcJobStore(url)
    assert(s.install() == ":ok")
    intercept[IllegalArgumentException](s.install())
    s.close()
  }

  test("two connections, one database: reserve CAS admits exactly one racer per job") {
    val url = freshUrl()
    val s1 = new JdbcJobStore(url); s1.install()
    val s2 = new JdbcJobStore(url) // second "process": no install, shared schema
    try {
      val ids = (1 to 20).map(_ => Squuid())
      s1.transactGraph(JobGraph(ids.map(Job(_, "t")), Seq.empty))
      // both connections see the same ready set
      assert(s2.jobsReady() == ids.toSet)

      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val winners = new ConcurrentHashMap[String, AtomicInteger]()
      def racer(s: JdbcJobStore) = new Runnable {
        def run(): Unit = {
          start.await()
          ids.foreach { id =>
            if (s.reserveJob(id).isDefined)
              winners.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
          }
        }
      }
      pool.submit(racer(s1)); pool.submit(racer(s2))
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      // every job reserved exactly once across both connections
      assert(winners.size() == ids.size)
      ids.foreach(id => assert(winners.get(id).get() == 1, s"$id double-reserved"))
      assert(s1.jobsWithStatus(JobStatus.Started) == ids.toSet)
    } finally { s1.close(); s2.close() }
  }

  test("optimistic lock across connections: stale writer loses (jdbc_test.clj:42-60)") {
    val url = freshUrl()
    val s1 = new JdbcJobStore(url); s1.install()
    val s2 = new JdbcJobStore(url)
    try {
      val id = Squuid()
      s1.transactGraph(JobGraph.simpleGraph(Job(id, "t")))
      val v0 = s1.jobInfo(id).get.lockVersion
      // connection 2 writes first; connection 1's update conditioned on the
      // version it read beforehand must fail at the database
      assert(s2.updateJob(id, _.lockVersion == v0, _.copy(args = Some("from-s2"))).isDefined)
      assert(s1.updateJob(id, _.lockVersion == v0, _.copy(args = Some("from-s1"))).isEmpty)
      val j = s1.jobInfo(id).get
      assert(j.args.contains("from-s2") && j.lockVersion == v0 + 1)
    } finally { s1.close(); s2.close() }
  }

  test("durability: a reopened connection sees committed state (on-disk database)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-derby").toString
    val dbUrl = s"jdbc:derby:$dir/store;create=true"
    val id = Squuid()
    val s1 = new JdbcJobStore(dbUrl); s1.install()
    s1.transactGraph(JobGraph.simpleGraph(Job(id, "t", args = Some("""{"k":1}"""))))
    s1.reserveJob(id); s1.finishJob(id)
    s1.close()
    val s2 = new JdbcJobStore(s"jdbc:derby:$dir/store")
    try {
      val j = s2.jobInfo(id).get
      assert(j.status == JobStatus.Finished && j.args.contains("""{"k":1}"""))
    } finally s2.close()
  }

  test("masterless pool across connections: 4 workers × 4 connections, one shared DAG, exactly-once") {
    // The Concepts.md "Worker" contract end-to-end over the shared backend:
    // each worker owns its OWN store instance (own connection — the stand-in
    // for a separate process), never talks to the others, and every
    // reservation race resolves at the database CAS.
    val url = freshUrl()
    val install = new JdbcJobStore(url); install.install()
    val adj: Map[String, Seq[String]] =
      (1 until 6).map(i => s"a$i" -> Seq(s"a${i - 1}")).toMap ++
      Map("a0" -> Seq.empty, "b0" -> Seq.empty,
          "d1" -> Seq("a0", "b0"), "d2" -> Seq("a0"), "d3" -> Seq("d1", "d2"))
    install.transactGraph(JobGraph.jobGraph(adj))

    val runs = new ConcurrentHashMap[String, AtomicInteger]()
    val order = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val handlers = adj.keys.map { t =>
      t -> Handler { j =>
        runs.computeIfAbsent(j.jobType, _ => new AtomicInteger).incrementAndGet()
        order.add(j.jobType)
        Thread.sleep(1) // widen the race window
        t
      }
    }.toMap

    val stores = (1 to 4).map(_ => new JdbcJobStore(url))
    val workers = stores.zipWithIndex.map { case (s, i) =>
      new Worker(s, handlers,
        WorkerConfig(detectorSleepMs = 5, sleepMs = 5, seed = Some(500L + i))).start()
    }
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < deadline &&
             !install.snapshotJobs.forall(_.status == JobStatus.Finished)) Thread.sleep(20)
    } finally { workers.foreach(_.stop()); stores.foreach(_.close()) }

    assert(install.snapshotJobs.forall(_.status == JobStatus.Finished),
      s"not drained: ${install.snapshotJobs.filterNot(_.status == JobStatus.Finished).map(j => j.jobType -> j.status)}")
    adj.keys.foreach { t =>
      assert(runs.get(t).get() == 1, s"$t ran ${runs.get(t).get()} times")
    }
    val pos = {
      import scala.jdk.CollectionConverters._
      order.asScala.zipWithIndex.toMap
    }
    adj.foreach { case (child, parents) =>
      parents.foreach(p => assert(pos(p) < pos(child), s"$p !< $child in $order"))
    }
    install.close()
  }

  test("readyJobs hydrates in one round-trip and honors the limit") {
    val s = freshStore()
    val g = JobGraph.jobGraph(Map("a" -> Seq.empty, "b" -> Seq.empty, "c" -> Seq("a")))
    s.transactGraph(g)
    val ready = s.readyJobs()
    assert(ready.map(_.jobType).toSet == Set("a", "b"))
    assert(ready.forall(_.status == JobStatus.Unstarted))
    assert(s.readyJobs(limit = 1).size == 1)
  }

  // --- per-adapter duplicate-key recognition (jdbc.clj:156-162) ---------
  // The trio's drivers aren't installable here (offline environment), so
  // each adapter's DOCUMENTED error shape is tested directly: exactly the
  // reason/SQLState/errno triple the real driver raises on a dup PK.

  import java.sql.SQLException

  test("dup-key: Derby/H2/Postgres unique violation (SQLState 23505) matches") {
    // Derby: ERROR 23505 on the PK index; H2: errno 23505 too
    assert(JdbcJobStore.isDuplicateKey(new SQLException(
      "The statement was aborted because it would have caused a duplicate key value in a unique or primary key constraint", "23505", 20000)))
    assert(JdbcJobStore.isDuplicateKey(new SQLException(
      "Unique index or primary key violation: \"PRIMARY KEY ON PUBLIC.OVERSEER_JOBS(ID)\"", "23505", 23505)))
  }

  test("dup-key: MySQL/MariaDB ER_DUP_ENTRY (SQLState 23000, errno 1062) matches") {
    assert(JdbcJobStore.isDuplicateKey(new SQLException(
      "Duplicate entry 'abc123' for key 'overseer_jobs.PRIMARY'", "23000", 1062)))
  }

  test("dup-key: SQLite SQLITE_CONSTRAINT message shapes match despite unreliable SQLState") {
    assert(JdbcJobStore.isDuplicateKey(new SQLException(
      "[SQLITE_CONSTRAINT_PRIMARYKEY] A PRIMARY KEY constraint failed (UNIQUE constraint failed: overseer_jobs.id)", null, 1555)))
    assert(JdbcJobStore.isDuplicateKey(new SQLException(
      "[SQLITE_CONSTRAINT] Abort due to constraint violation (UNIQUE constraint failed: overseer_jobs.id)", null, 19)))
  }

  test("dup-key: other integrity violations do NOT match (never swallow an FK failure)") {
    // MySQL FK failure shares SQLState 23000 with ER_DUP_ENTRY — only the
    // errno separates them; swallowing it would turn a real corruption
    // into a silent no-op transact
    assert(!JdbcJobStore.isDuplicateKey(new SQLException(
      "Cannot add or update a child row: a foreign key constraint fails", "23000", 1452)))
    assert(!JdbcJobStore.isDuplicateKey(new SQLException(
      "INSERT on table 'OVERSEER_DEPENDENCIES' caused a violation of foreign key constraint", "23503", 20000)))
    assert(!JdbcJobStore.isDuplicateKey(new SQLException("connection reset", "08006", 0)))
  }

  test("dup-key: the chained (batch) SQLException is scanned to its real cause") {
    val outer = new SQLException("Batch entry 0 failed", "HY000", 0)
    outer.setNextException(new SQLException(
      "Duplicate entry 'j1' for key 'PRIMARY'", "23000", 1062))
    assert(JdbcJobStore.isDuplicateKey(outer))
  }

  test("already-exists: Derby X0Y32, H2/MySQL 42S01, Postgres 42P07, SQLite message") {
    assert(JdbcJobStore.isAlreadyExists(new SQLException("Table/View 'OVERSEER_JOBS' already exists", "X0Y32", 20000)))
    assert(JdbcJobStore.isAlreadyExists(new SQLException("Table \"OVERSEER_JOBS\" already exists", "42S01", 42101)))
    assert(JdbcJobStore.isAlreadyExists(new SQLException("relation \"overseer_jobs\" already exists", "42P07", 0)))
    assert(JdbcJobStore.isAlreadyExists(new SQLException("[SQLITE_ERROR] SQL error or missing database (table overseer_jobs already exists)", null, 1)))
    assert(!JdbcJobStore.isAlreadyExists(new SQLException("syntax error", "42000", 0)))
  }

  test("deadlock retry: a body that loses one deadlock (40001) succeeds on the next attempt") {
    val calls = new AtomicInteger(0)
    val r = JdbcJobStore.retryOnDeadlock {
      if (calls.incrementAndGet() == 1)
        throw new SQLException("A lock could not be obtained due to a deadlock", "40001", 30000)
      "ok"
    }
    assert(r == "ok" && calls.get == 2)
    // the chained (batch) form is recognized too
    val outer = new SQLException("batch failed", "XJ208", 0)
    outer.setNextException(new SQLException("deadlock", "40001", 30000))
    assert(JdbcJobStore.isDeadlock(outer))
  }

  test("deadlock retry: other SQLStates propagate at once, and the attempts are bounded") {
    val calls = new AtomicInteger(0)
    val e = intercept[SQLException](JdbcJobStore.retryOnDeadlock {
      calls.incrementAndGet()
      throw new SQLException("lock wait timeout", "40XL1", 30000)
    })
    assert(e.getSQLState == "40XL1" && calls.get == 1)
    calls.set(0)
    val d = intercept[SQLException](JdbcJobStore.retryOnDeadlock {
      calls.incrementAndGet()
      throw new SQLException("deadlock", "40001", 30000)
    })
    assert(d.getSQLState == "40001" && calls.get == JdbcJobStore.DeadlockAttempts)
  }
}
