package graft

/** Time a subset of the registered queries against an arbitrary data dir —
  * the harness for the sf1 scale experiment (BASELINE.md): same protocol as
  * [[Bench]] (session warm, per-query codegen warm at sf0.001, two runs,
  * min), but over caller-chosen queries so the deliberately-quadratic
  * yardsticks can be included or excluded explicitly.
  *
  * Usage: runMain graft.ScaleBench <dataDir> <query> [<query> ...]
  */
object ScaleBench {

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail.toSeq
    require(names.nonEmpty, "usage: ScaleBench <dataDir> <query> [<query>...]")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val warmDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      try { SparkEntry.queries(n)(spark, warmDir).count() }
      catch { case _: Throwable => () }
    }

    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"[scalebench] $name ${times.min}%.2f s")
      // free this query's localCheckpoint blocks and wait for the removal
      // (same reason as Bench: async unpersist leaves the blocks resident
      // exactly while the next query allocates)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      name -> times.min
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_total","value":${results.map(_._2).sum},"unit":"sec","queries":$qs,"runs_per_query":2,"agg":"min","sf":"$dir"}""")
    spark.stop()
  }
}
