package graft

import org.apache.hadoop.fs.{FileSystem, Path}

/** Re-layout generated parquet dirs for scan parallelism.
  *
  * A single-file single-row-group parquet table is UNSPLITTABLE: every
  * scan of it runs on one thread no matter how many cores the session
  * has (observed: the sf10 orders table landed as one 15M-row row group
  * and made every orders-scanning query scan-bound on one core —
  * q488 read 14 s where the work was ~2 s). Real cluster layouts arrive
  * in many files; the local scale dirs should look like one. This
  * utility rewrites any table with fewer files than its row count
  * warrants (one split per ~250k rows, capped at 64) via a staging dir
  * and a rename-aside swap (a crash mid-swap always leaves a complete
  * table on disk).
  *
  * Usage: runMain graft.Repack <dataDir> [<dataDir> ...]
  */
object Repack {

  /** One split per ~250k rows, clamped to [1, 64] — sized so the md5-
    * heavy scans (the CPU-bound worst case) still spread over local[32],
    * while dimension tables stay single-file. */
  def targetParts(rows: Long): Int =
    math.max(1L, math.min(64L, (rows + 249999) / 250000)).toInt

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Repack <dataDir> [<dataDir>...]")
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    args.foreach { root =>
      fs.listStatus(new Path(root))
        .filter(st => st.isDirectory && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .foreach { st =>
          val p = st.getPath
          val files = fs.listStatus(p)
            .count(f => f.getPath.getName.endsWith(".parquet"))
          val df = spark.read.parquet(p.toString)
          val rows = df.count()
          val parts = targetParts(rows)
          if (files >= parts) {
            println(s"[repack] ${root}/${p.getName}: ok ($files files, $rows rows)")
          } else {
            val stage = new Path(p.toString + ".repack")
            val old = new Path(p.toString + ".old")
            df.repartition(parts).write.mode("overwrite").parquet(stage.toString)
            fs.delete(old, true)
            require(fs.rename(p, old), s"rename aside failed for $p")
            require(fs.rename(stage, p),
              s"rename into place failed for $p (recover from $old)")
            fs.delete(old, true)
            println(s"[repack] ${root}/${p.getName}: $files -> $parts files ($rows rows)")
          }
        }
    }
    spark.stop()
  }
}
