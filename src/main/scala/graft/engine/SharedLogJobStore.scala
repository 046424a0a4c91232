package graft.engine

import java.io.RandomAccessFile
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** Multi-PROCESS store backend over one shared append-only transition log —
  * the embedded-filesystem analogue of the reference's production story
  * (doc/guide/Concepts.md "Worker": a masterless pool of worker processes
  * whose ONLY coordination point is a shared store with optimistic
  * transitions; its adapter is a SQL server, ours is a file when no server
  * is available).
  *
  * Protocol: every operation takes an exclusive OS file lock
  * ([[java.nio.channels.FileChannel#lock()]] — advisory, cross-process),
  * catches up by replaying log lines appended by other processes since its
  * last position, applies the transition to its in-memory snapshot (where
  * the FSM's CAS predicates run against now-current state), appends the
  * transition line, flushes, and releases. Exactly-once therefore holds
  * ACROSS OS PROCESSES: two workers racing to reserve the same job
  * serialize on the file lock, the loser replays the winner's `reserve`
  * line before its own predicate runs, and its CAS fails with None —
  * the same resolution the JDBC backend gets from
  * `UPDATE ... WHERE lock_version = ?` (store/jdbc.clj:62-87), moved to
  * the filesystem. [[MultiProcessPoolSpec]] proves it with two forked JVMs.
  *
  * Scale note: lock-per-transition serializes the pool on one file, which
  * is the right trade for its role — an embedded, zero-dependency way to
  * run a small multi-process pool (the store traffic of a pipeline DAG is
  * tiny; the heavy lifting happens inside handlers as Spark jobs). A big
  * pool should use [[JdbcJobStore]] against a database server.
  *
  * Persistence policy over the shared [[LogJobStore]] core: the file lock,
  * catch-up before every operation, an fsync per append, and torn
  * fragments healed and skipped rather than failing the reader.
  */
final class SharedLogJobStore(dir: String) extends LogJobStore with AutoCloseable {

  private val logPath  = Paths.get(dir, "joblog.jsonl")
  private val lockPath = Paths.get(dir, "joblog.lck")
  private var pos = 0L // bytes of complete lines already replayed into `inner`
  // FileChannel locks are held per-JVM: a second in-process instance locking
  // the same file would hit OverlappingFileLockException, so instances in
  // one JVM additionally serialize on a per-path monitor.
  private val monitor = SharedLogJobStore.monitorFor(lockPath.toAbsolutePath.toString)

  override def install(): String = {
    Files.createDirectories(Paths.get(dir))
    inner.install()
    monitor.synchronized {
      if (!Files.exists(logPath)) {
        try Files.createFile(logPath)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    }
    withFileLock(catchUp())
    ":ok"
  }

  private def withFileLock[A](body: => A): A = monitor.synchronized {
    val raf = new RandomAccessFile(lockPath.toFile, "rw")
    try {
      val fl = raf.getChannel.lock()
      try body finally fl.release()
    } finally raf.close()
  }

  /** Replay every COMPLETE line appended since our last position. A trailing
    * fragment without a newline is a torn write from a crashed process —
    * left un-replayed until a later appender terminates it; if that yields
    * a malformed line it is skipped with a warning (appends happen under
    * the exclusive lock, so torn writes are the only malformed source). */
  private def catchUp(): Unit = {
    val raf = new RandomAccessFile(logPath.toFile, "r")
    try {
      val len = raf.length()
      if (len > pos) {
        raf.seek(pos)
        val buf = new Array[Byte]((len - pos).toInt)
        raf.readFully(buf)
        val lastNl = buf.lastIndexOf('\n'.toByte)
        if (lastNl >= 0) {
          new String(buf, 0, lastNl + 1, UTF_8).split("\n").filter(_.nonEmpty).foreach { line =>
            try JobLog.replay(line, inner)
            catch {
              case e: Exception =>
                System.err.println(
                  s"[sharedlog] skipping torn log line (${e.getClass.getSimpleName})")
            }
          }
          pos += lastNl + 1
        }
      }
    } finally raf.close()
  }

  /** Append one transition line and advance our own position past it (we
    * just applied it locally; replaying it back would double-apply). Must
    * hold the file lock. If the file does not end in a newline (a crashed
    * process's torn write), terminate the fragment first so this line
    * stays parseable. */
  private def append(line: String): Unit = {
    val raf = new RandomAccessFile(logPath.toFile, "rw")
    try {
      val len = raf.length()
      if (len > pos) { // catchUp left bytes behind ⇒ a torn, newline-less
        raf.seek(len - 1) // fragment; terminate it so our line stays parseable
        if (raf.readByte() != '\n'.toByte) raf.write('\n'.toInt)
      }
      raf.seek(raf.length())
      raf.write((line + "\n").getBytes(UTF_8))
      raf.getFD.sync()
      // everything now on disk is either replayed (complete lines before
      // `pos`), healed garbage (the fragment, never a complete line), or the
      // line we just applied locally — skip it all
      pos = raf.length()
    } finally raf.close()
  }

  override protected def logged[A](op: => (A, Option[String])): A = withFileLock {
    catchUp()
    val (result, line) = op
    line.foreach(append)
    result
  }

  override protected def current[A](read: => A): A = { withFileLock(catchUp()); read }

  override def close(): Unit = ()
}

object SharedLogJobStore {
  private val monitors = new ConcurrentHashMap[String, Object]()
  private def monitorFor(path: String): Object =
    monitors.computeIfAbsent(path, _ => new Object)
}
