package graft.engine

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Durable store backend: the same FSM semantics as [[InMemoryJobStore]],
  * persisted as an append-only JSON-lines transition log ([[JobLog]] codec),
  * replayed on open.
  *
  * This is the second Store backend (the reference ships two — JDBC and
  * Datomic — exercised by one shared protocol suite,
  * test/overseer/store_test.clj; ours is driven by the same
  * JobStoreBehaviors trait). Event-sourcing matches the Spark design note
  * in SURVEY.md §7: the log is the source of truth, the in-memory map is
  * the snapshot view, and the same log could be replayed into DataFrames
  * (`StoreViews`) or the streaming FSM (`FsmStream.transitions`) unchanged.
  * Single-writer by design — one process owns the log; for a multi-process
  * pool over the same log see [[SharedLogJobStore]]. Persistence policy
  * over the shared [[LogJobStore]] core: a process lock around each
  * transition and its flushed append; replay on open fails loudly on a
  * corrupt line, except a torn final line, which is dropped and truncated.
  */
final class LogBackedJobStore(dir: String) extends LogJobStore {

  private val logPath: Path = Paths.get(dir, "joblog.jsonl")
  private var writer: BufferedWriter = _
  private val lock = new Object

  override protected def logged[A](op: => (A, Option[String])): A = lock.synchronized {
    val (result, line) = op
    line.foreach { l => writer.write(l); writer.newLine(); writer.flush() }
    result
  }

  // a single writer's snapshot is always current
  override protected def current[A](read: => A): A = read

  // -- Store protocol ------------------------------------------------------

  override def install(): String = lock.synchronized {
    Files.createDirectories(Paths.get(dir))
    val existed = Files.exists(logPath)
    if (existed) {
      inner.install()
      val lines = Files.readAllLines(logPath).asScala.filter(_.nonEmpty).toSeq
      var torn = false
      lines.zipWithIndex.foreach { case (line, i) =>
        if (!torn) {
          try JobLog.replay(line, inner)
          catch {
            // a malformed FINAL line is a torn append from a crash — drop
            // it and truncate, so the reopened writer does not continue
            // writing onto the partial record. Malformed lines anywhere
            // else are real corruption and must fail loudly.
            case e: Exception if i == lines.size - 1 =>
              System.err.println(
                s"[logstore] dropping torn final log line (${e.getClass.getSimpleName})")
              torn = true
            case e: Exception =>
              throw new IllegalStateException(s"corrupt log line ${i + 1}: ${e.getMessage}", e)
          }
        }
      }
      if (torn) {
        val good = lines.dropRight(1)
        Files.write(logPath,
          (if (good.isEmpty) "" else good.mkString("", "\n", "\n"))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } else {
      inner.install()
      Files.createFile(logPath)
    }
    writer = new BufferedWriter(new FileWriter(logPath.toFile, true))
    ":ok"
  }

  def close(): Unit = lock.synchronized(if (writer != null) writer.close())
}
