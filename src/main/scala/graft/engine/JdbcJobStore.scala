package graft.engine

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet, SQLException}
import scala.collection.mutable

/** The shared, durable, multi-process store backend — the reference's
  * production deployment story (reference src/overseer/store/jdbc.clj,
  * doc/guide/Concepts.md "Worker": a masterless worker pool coordinating
  * only through a shared SQL database with optimistic locking).
  *
  * Physical schema mirrors jdbc.clj:131-154: `overseer_jobs(id PK, type,
  * args, status, failure, heartbeat, lock_version, created_at, updated_at)`
  * + `overseer_dependencies(job_id, dep_id)` with the reference's three
  * indexes; status stored as the reference's integer codes
  * (jdbc.clj:16-24 via [[JobStatus.code]]).
  *
  * Concurrency model: each instance owns ONE JDBC connection — one instance
  * per worker process. Cross-instance safety does NOT come from JVM locks:
  * every conditional transition is a single `UPDATE ... WHERE id = ? AND
  * lock_version = ?` (jdbc.clj:62-87), so two racing workers resolve at the
  * database — exactly one statement reports 1 row updated, the loser gets
  * None. `transactGraph` is a transaction that swallows duplicate-primary-key
  * failures whole (insert-everything-or-nothing, never upsert,
  * jdbc.clj:169-185 / dup-primary-key-ex?).
  *
  * Integration-tested against embedded Derby (`jdbc:derby:memory:...` /
  * `jdbc:derby:/path`), the one engine whose driver ships in this
  * environment; the SQL here is deliberately vanilla (no Derby-isms
  * beyond FETCH FIRST) so a server URL (MySQL et al., the reference's
  * production adapter) gives true multi-process coordination with no
  * code change. The two places engines genuinely differ — how a
  * duplicate-primary-key and an object-already-exists failure look — go
  * through [[JdbcJobStore.isDuplicateKey]] / [[JdbcJobStore.isAlreadyExists]],
  * which mirror the reference's per-backend recognition (jdbc.clj:156-162)
  * for MySQL/H2/SQLite/Postgres and are unit-tested against each
  * adapter's documented error shape.
  */
object JdbcJobStore {

  private def chain(e: SQLException): Iterator[SQLException] =
    Iterator.iterate(e)(_.getNextException).takeWhile(_ != null)

  /** Per-adapter duplicate-primary-key recognition, mirroring the
    * reference's per-backend dispatch (jdbc.clj:156-162 recognizes
    * MySQL, H2 and SQLite each by their own error shape). A single
    * SQLState check is NOT portable:
    *
    *  - Derby / H2 / Postgres / HSQLDB raise SQLState 23505
    *    (unique-constraint violation — precise, never a FK failure).
    *  - MySQL / MariaDB raise SQLState 23000 for EVERY integrity
    *    violation; the duplicate-entry case is vendor errno 1062
    *    (ER_DUP_ENTRY), and errno 1452 (FK failure) must NOT match.
    *  - SQLite (xerial driver) raises SQLITE_CONSTRAINT codes with the
    *    "UNIQUE constraint failed" / "PRIMARY KEY constraint failed"
    *    message and an unreliable SQLState, so it is matched on the
    *    message.
    *
    * Batch drivers wrap the real failure in a chained SQLException, so
    * the whole getNextException chain is scanned. */
  def isDuplicateKey(e: SQLException): Boolean =
    chain(e).exists { ex =>
      val state = Option(ex.getSQLState).getOrElse("")
      val msg = Option(ex.getMessage).getOrElse("")
      state == "23505" ||
      (state == "23000" && ex.getErrorCode == 1062) ||
      msg.contains("UNIQUE constraint failed") ||
      msg.contains("PRIMARY KEY constraint failed")
    }

  /** "Schema object already exists" per adapter — the non-idempotent
    * install contract's detection (Derby X0Y32; H2/MySQL 42S01 table
    * exists; Postgres 42P07; SQLite by message). */
  def isAlreadyExists(e: SQLException): Boolean =
    chain(e).exists { ex =>
      val state = Option(ex.getSQLState).getOrElse("")
      val msg = Option(ex.getMessage).getOrElse("")
      state == "X0Y32" || state == "42S01" || state == "42P07" ||
      // SQLite (xerial) reports no usable SQLState; only there is the
      // message match needed — a vendor-stated SQLState must decide on
      // its own, or an unrelated failure whose message happens to
      // contain the phrase would be misreported as "already installed".
      (state.isEmpty && msg.contains("already exists"))
    }

  /** SQLState 40001 (serialization failure): the database chose this
    * statement as a deadlock victim and rolled it back. Derby raises it
    * when concurrent connections lock-wait on each other's rows. */
  def isDeadlock(e: SQLException): Boolean =
    chain(e).exists(ex => ex.getSQLState == "40001")

  /** Run `body` again, up to [[DeadlockAttempts]] times in all, while it
    * loses a deadlock. Only for idempotent autocommit statements: a victim's
    * statement was rolled back whole, so re-running it is the retry the
    * database expects. Any other failure, and the last deadlock, propagate. */
  def retryOnDeadlock[A](body: => A): A = {
    def attempt(left: Int): A =
      try body
      catch {
        case e: SQLException if left > 1 && isDeadlock(e) => attempt(left - 1)
      }
    attempt(DeadlockAttempts)
  }

  /** Attempts per idempotent statement that may lose a deadlock. */
  private[engine] val DeadlockAttempts = 5
}

final class JdbcJobStore(url: String) extends JobStore with AutoCloseable {

  private def open(): Connection = {
    val c = DriverManager.getConnection(url)
    c.setAutoCommit(true)
    c
  }

  private var conn: Connection = open()
  @volatile private var closed = false
  // JDBC connections are not thread-safe; serialize statements on this
  // instance. Cross-instance races are resolved by the database CAS.
  private val lock = new Object

  /** SQLState class 08 = connection exception (08000 "closed by unknown
    * interrupt" is what embedded Derby raises when a thread interrupt lands
    * mid-statement; 08003 "no current connection" is every later statement
    * on that connection). Recoverable by reopening: autocommit single
    * statements mean no transaction state is lost. */
  private def connectionDead(e: SQLException): Boolean = {
    var t: Throwable = e
    while (t != null) {
      t match {
        case s: SQLException if Option(s.getSQLState).exists(_.startsWith("08")) => return true
        case _ => ()
      }
      t = t.getCause
    }
    false
  }

  /** Run `body` against a live connection, reopening once (belt-and-braces
    * alongside Worker's no-interrupt cooperative stop) if the connection was
    * killed out from under us. Must be called with `lock` held. */
  private def withConn[A](body: Connection => A): A = {
    if (closed) throw new SQLException("store closed", "08003")
    val c = try { if (conn.isClosed) { conn = open() }; conn }
            catch { case _: SQLException => conn = open(); conn }
    try body(c)
    catch {
      case e: SQLException if connectionDead(e) && !closed =>
        try conn.close() catch { case _: SQLException => () }
        conn = open()
        body(conn)
    }
  }

  // -- row codec -------------------------------------------------------------

  private def readJob(rs: ResultSet): Job = Job(
    id = rs.getString("id"),
    jobType = rs.getString("type"),
    status = JobStatus.fromCode(rs.getInt("status")),
    args = Option(rs.getString("args")),
    failure = Option(rs.getString("failure")),
    heartbeat = { val h = rs.getLong("heartbeat"); if (rs.wasNull()) None else Some(h) },
    lockVersion = rs.getLong("lock_version"),
    createdAt = rs.getLong("created_at"),
    updatedAt = rs.getLong("updated_at"))

  private def setNullable(ps: PreparedStatement, i: Int, v: Option[String]): Unit =
    v match {
      case Some(s) => ps.setString(i, s)
      case None    => ps.setNull(i, java.sql.Types.VARCHAR)
    }

  private def query[A](sql: String, binds: Seq[Any] = Nil)(read: ResultSet => A): Vector[A] =
    lock.synchronized {
      withConn { c =>
        val ps = c.prepareStatement(sql)
        try {
          bind(ps, binds)
          val rs = ps.executeQuery()
          val out = Vector.newBuilder[A]
          while (rs.next()) out += read(rs)
          out.result()
        } finally ps.close()
      }
    }

  private def exec(sql: String, binds: Seq[Any] = Nil): Int = lock.synchronized {
    withConn { c =>
      val ps = c.prepareStatement(sql)
      try { bind(ps, binds); ps.executeUpdate() } finally ps.close()
    }
  }

  private def bind(ps: PreparedStatement, binds: Seq[Any]): Unit =
    binds.zipWithIndex.foreach {
      case (v: String, i) => ps.setString(i + 1, v)
      case (v: Int, i)    => ps.setInt(i + 1, v)
      case (v: Long, i)   => ps.setLong(i + 1, v)
      case (v, _)         => throw new IllegalArgumentException(s"unbindable $v")
    }

  // -- Store protocol ----------------------------------------------------------

  /** DDL per jdbc.clj:131-154 (install'), Derby dialect: SMALLINT for the
    * status code (Derby has no TINYINT), BIGINT unix-seconds timestamps to
    * match the Job model. Not idempotent, like the reference. */
  override def install(): String = lock.synchronized {
    try withConn { c =>
      val st = c.createStatement()
      try {
        st.executeUpdate(
          """CREATE TABLE overseer_jobs (
            |  id VARCHAR(64) PRIMARY KEY,
            |  type VARCHAR(255),
            |  args VARCHAR(2048),
            |  status SMALLINT,
            |  failure VARCHAR(2048),
            |  heartbeat BIGINT,
            |  lock_version BIGINT NOT NULL DEFAULT 0,
            |  created_at BIGINT,
            |  updated_at BIGINT)""".stripMargin)
        st.executeUpdate(
          "CREATE TABLE overseer_dependencies (job_id VARCHAR(64), dep_id VARCHAR(64))")
        st.executeUpdate(
          "CREATE INDEX index_overseer_jobs_on_status ON overseer_jobs (status)")
        st.executeUpdate(
          "CREATE INDEX index_overseer_dependencies_on_job_id ON overseer_dependencies (job_id)")
        st.executeUpdate(
          "CREATE INDEX index_overseer_dependencies_on_dep_id ON overseer_dependencies (dep_id)")
      } finally st.close()
      ":ok"
    }
    catch {
      // object already exists (per-adapter shapes, JdbcJobStore.isAlreadyExists)
      // — surface as the suite's "install is not idempotent" contract
      case e: SQLException if JdbcJobStore.isAlreadyExists(e) =>
        throw new IllegalArgumentException("store already installed", e)
    }
  }

  /** All-or-nothing transactional insert; a duplicate primary key rolls the
    * whole graph back and is swallowed (idempotent re-transact, never
    * upsert) — jdbc.clj:169-185. */
  override def transactGraph(g: JobGraph): JobGraph = lock.synchronized {
    require(g.isValid, s"invalid graph: $g")
    val t = now
    withConn { conn =>
    conn.setAutoCommit(false)
    try {
      val jobPs = conn.prepareStatement(
        """INSERT INTO overseer_jobs
          |  (id, type, args, status, failure, heartbeat, lock_version, created_at, updated_at)
          |VALUES (?, ?, ?, ?, ?, ?, 0, ?, ?)""".stripMargin)
      try {
        g.jobs.foreach { j =>
          jobPs.setString(1, j.id)
          jobPs.setString(2, j.jobType)
          setNullable(jobPs, 3, j.args)
          jobPs.setInt(4, JobStatus.code(j.status))
          setNullable(jobPs, 5, j.failure)
          j.heartbeat match {
            case Some(h) => jobPs.setLong(6, h)
            case None    => jobPs.setNull(6, java.sql.Types.BIGINT)
          }
          jobPs.setLong(7, t)
          jobPs.setLong(8, t)
          jobPs.executeUpdate()
        }
      } finally jobPs.close()
      val depPs = conn.prepareStatement(
        "INSERT INTO overseer_dependencies (job_id, dep_id) VALUES (?, ?)")
      try {
        g.deps.foreach { d =>
          depPs.setString(1, d.jobId); depPs.setString(2, d.depId); depPs.executeUpdate()
        }
      } finally depPs.close()
      conn.commit()
      g
    } catch {
      case e: SQLException if JdbcJobStore.isDuplicateKey(e) => // duplicate PK, any adapter
        conn.rollback(); g
      case e: Throwable =>
        conn.rollback(); throw e
    } finally conn.setAutoCommit(true)
    }
  }

  override def jobInfo(id: String): Option[Job] =
    query("SELECT * FROM overseer_jobs WHERE id = ?", Seq(id))(readJob).headOption

  /** Read → apply pred/f in memory → ONE conditional UPDATE guarded by the
    * read lock_version (jdbc.clj:62-87). A concurrent writer from any other
    * connection bumps the version and this statement updates 0 rows → None.
    * This is the database-level CAS every FSM transition rides on. */
  override def updateJob(id: String, pred: Job => Boolean, f: Job => Job): Option[Job] =
    jobInfo(id).filter(pred).flatMap { j =>
      val u = f(j).copy(id = j.id, lockVersion = j.lockVersion + 1, updatedAt = now)
      val n = lock.synchronized {
        withConn { c =>
        val ps = c.prepareStatement(
          """UPDATE overseer_jobs
            |SET type = ?, args = ?, status = ?, failure = ?, heartbeat = ?,
            |    lock_version = ?, updated_at = ?
            |WHERE id = ? AND lock_version = ?""".stripMargin)
        try {
          ps.setString(1, u.jobType)
          setNullable(ps, 2, u.args)
          ps.setInt(3, JobStatus.code(u.status))
          setNullable(ps, 4, u.failure)
          u.heartbeat match {
            case Some(h) => ps.setLong(5, h)
            case None    => ps.setNull(5, java.sql.Types.BIGINT)
          }
          ps.setLong(6, u.lockVersion)
          ps.setLong(7, u.updatedAt)
          ps.setString(8, j.id)
          ps.setLong(9, j.lockVersion)
          ps.executeUpdate()
        } finally ps.close()
        }
      }
      if (n == 1) Some(u) else None
    }

  /** One unconditional UPDATE, exactly the reference's heartbeat
    * (jdbc.clj:210-212) — liveness is not a CAS-worthy transition, and a
    * single statement halves the round-trips of a read-then-CAS and can
    * never be silently dropped on a version race; retried if it loses a
    * deadlock. */
  override def heartbeatJob(id: String): Unit = {
    JdbcJobStore.retryOnDeadlock {
      exec("UPDATE overseer_jobs SET heartbeat = ?, updated_at = ? WHERE id = ?",
        Seq(now, now, id))
    }
    ()
  }

  /** Transitive dependents via the reference's iterative frontier over
    * `overseer_dependencies` (jdbc.clj:96-116), then one bulk UPDATE. Only
    * non-terminal rows transition ({unstarted,started}→aborted), matching
    * the FSM and the other backends. The frontier reads and the UPDATE are
    * idempotent, so an abort that loses a deadlock is re-run whole. */
  override def abortJob(id: String): Unit = lock.synchronized {
    JdbcJobStore.retryOnDeadlock(abortOnce(id))
  }

  private def abortOnce(id: String): Unit = {
    val targets = mutable.Set(id)
    var frontier = Set(id)
    while (frontier.nonEmpty) {
      val in = frontier.toSeq
      val next = query(
        s"SELECT DISTINCT job_id FROM overseer_dependencies WHERE dep_id IN (${placeholders(in.size)})",
        in)(_.getString(1)).toSet -- targets
      targets ++= next
      frontier = next
    }
    val ids = targets.toSeq
    exec(
      s"""UPDATE overseer_jobs
         |SET status = ${JobStatus.code(JobStatus.Aborted)},
         |    lock_version = lock_version + 1, updated_at = ?
         |WHERE id IN (${placeholders(ids.size)})
         |  AND status IN (${JobStatus.code(JobStatus.Unstarted)}, ${JobStatus.code(JobStatus.Started)})""".stripMargin,
      now +: ids)
    ()
  }

  /** The scheduler's readiness anti-join, pushed to the database exactly as
    * the reference does (jdbc.clj:230-242): unstarted AND id not among jobs
    * with any non-finished dependency. */
  override def readyJobs(limit: Int): Seq[Job] =
    query(
      s"""SELECT * FROM overseer_jobs
         |WHERE status = ${JobStatus.code(JobStatus.Unstarted)}
         |  AND id NOT IN (
         |    SELECT d.job_id FROM overseer_dependencies d
         |    JOIN overseer_jobs p ON p.id = d.dep_id
         |    WHERE p.status <> ${JobStatus.code(JobStatus.Finished)})
         |${fetchFirst(limit)}""".stripMargin)(readJob)

  override def jobsDead(threshold: Long, limit: Int): Set[String] =
    query(
      s"""SELECT id FROM overseer_jobs
         |WHERE status = ${JobStatus.code(JobStatus.Started)} AND heartbeat < ?
         |${fetchFirst(limit)}""".stripMargin, Seq(threshold))(_.getString(1)).toSet

  override def jobsWithStatus(status: String): Set[String] =
    query("SELECT id FROM overseer_jobs WHERE status = ?",
      Seq(JobStatus.code(status)))(_.getString(1)).toSet

  override def snapshotJobs: Seq[Job] =
    query("SELECT * FROM overseer_jobs")(readJob)

  override def snapshotDeps: Seq[Dep] =
    query("SELECT job_id, dep_id FROM overseer_dependencies")(rs =>
      Dep(rs.getString(1), rs.getString(2)))

  private def placeholders(n: Int): String = Seq.fill(n)("?").mkString(", ")
  private def fetchFirst(limit: Int): String =
    if (limit == Int.MaxValue) "" else s"FETCH FIRST $limit ROWS ONLY"

  override def close(): Unit = lock.synchronized { closed = true; conn.close() }
}
