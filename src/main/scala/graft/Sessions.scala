package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder for the `graft` mains and the test
  * base: `cpus` local cores and as many shuffle partitions, session time
  * zone UTC (timestamps read and print the same on every host), no UI,
  * and no async streaming checkpoint checksum (Spark 4.1's writer
  * deadlocks executor threads in local mode: tasks park in
  * ChecksumCancellableFSDataOutputStream.close). */
object Sessions {
  /** The mains' local core count: SPARK_GRAFT_CPUS, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
}
