package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One OS process of a masterless worker pool — the reference's production
  * deployment shape (doc/guide/Concepts.md "Worker": N independent worker
  * processes, no leader, coordinating only through the shared store).
  *
  * Run two or more of these against the same directory and they drain the
  * DAG together, each job executed exactly once pool-wide (the
  * [[SharedLogJobStore]] file-lock CAS resolves races between processes).
  * [[MultiProcessPoolSpec]] forks two of these as real JVMs and asserts
  * exactly-once; it is also runnable by hand:
  *
  * {{{
  *   java -cp <classes> graft.engine.PoolDemo /tmp/pool /tmp/pool/ran-a.txt &
  *   java -cp <classes> graft.engine.PoolDemo /tmp/pool /tmp/pool/ran-b.txt &
  * }}}
  *
  * Args: `<storeDir> <resultFile> [maxWaitMs]`. Exits 0 once every job in
  * the store is terminal, writing the ids THIS process ran (one per line)
  * to `resultFile`; exits 2 on timeout.
  */
object PoolDemo {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val resultFile = args(1)
    val maxWaitMs = if (args.length > 2) args(2).toLong else 60000L

    val store = new SharedLogJobStore(dir)
    store.install()
    val ran = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val handlers = Map("work" -> Handler { j =>
      Thread.sleep(5) // a visible slice of work, so both processes get some
      ran.add(j.id); ()
    })
    val worker = new Worker(store, handlers,
      WorkerConfig(detectorSleepMs = 2, sleepMs = 2)).start()

    val deadline = System.currentTimeMillis() + maxWaitMs
    def pending(): Boolean = store.snapshotJobs.exists(j => JobStatus.pending(j.status))
    while (System.currentTimeMillis() < deadline && pending()) Thread.sleep(20)
    val timedOut = pending()
    worker.stop()
    Files.write(Paths.get(resultFile),
      (ran.asScala.mkString("\n") + "\n").getBytes(UTF_8))
    store.close()
    sys.exit(if (timedOut) 2 else 0)
  }
}
