package graft.ops

import graft.SparkTestBase
import graft.functions.GraftExtensions
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Measured — not argued — scale evidence: the bloom prefilter must cut
  * the rows that reach the semi join's shuffle. Runs the q126 shape with
  * the broadcast path disabled (forcing a real exchange, as a fact-fact
  * join at 100 TB would plan) and compares shuffle-write records with
  * and without the bloom probe via a task-metrics listener.
  */
class ShuffleVolumeSpec extends SparkTestBase {

  private def shuffleRecords(body: => Unit): Long = {
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // drain the async bus fully — a fixed sleep drops late task-end
      // events on a loaded machine
      org.apache.spark.sql.graftbridge.ColumnBridge.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    records.get()
  }

  test("bloom prefilter cuts the semi join's shuffled row count") {
    GraftExtensions.registerSql(spark)
    val dir = "/root/testdata/sf0.01"
    val t = Tables(spark, dir)
    t.orders.createOrReplaceTempView("sv_orders")
    t.lineitem.createOrReplaceTempView("sv_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val without = shuffleRecords {
        spark.sql(
          """SELECT l_returnflag, count(*) FROM sv_lineitem
             WHERE l_orderkey IN
               (SELECT o_orderkey FROM sv_orders WHERE o_totalprice > 400000.0)
             GROUP BY 1""").collect()
      }
      val withBloom = shuffleRecords {
        spark.sql(
          """SELECT l_returnflag, count(*) FROM sv_lineitem
             WHERE might_contain(
                 (SELECT bloom_filter_agg(o_orderkey, 100000L)
                  FROM sv_orders WHERE o_totalprice > 400000.0), l_orderkey)
               AND l_orderkey IN
               (SELECT o_orderkey FROM sv_orders WHERE o_totalprice > 400000.0)
             GROUP BY 1""").collect()
      }
      assert(withBloom > 0, "no shuffle at all — the forced-SMJ setup broke")
      assert(withBloom * 2 < without,
        s"bloom prune did not halve the shuffled rows: $withBloom vs $without")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def maxShuffleReadPerTask(body: => Unit): Long = {
    val maxRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          maxRead.accumulateAndGet(m.shuffleReadMetrics.recordsRead, Math.max(_, _))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.sql.graftbridge.ColumnBridge.flushListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    maxRead.get()
  }

  /** The skew story, measured instead of argued (round-7 verdict #8), in
    * two halves on a fixture where one key holds ~86% of the rows:
    *
    * 1. q105's algebraic shape (sum/count by key) does NOT need salting
    *    for shuffle volume: map-side partial aggregation sends one row
    *    per (key, map-partition), so the hot key's reducer reads ~as
    *    many records as there are map partitions — measured below. The
    *    salt in q105 guards partial-buffer memory in high-cardinality-
    *    key regimes, not this shuffle.
    *
    * 2. Where skew genuinely bites is the HOLISTIC shape: a global-key
    *    window (share-of-key-total) must co-locate every row of the hot
    *    key on one task, and AQE does not rescue it (skew-split applies
    *    to joins). The scalable rewrite is pre-aggregate + broadcast
    *    join back — identical output, max per-task read bounded by the
    *    partition layout instead of the key distribution. */
  test("skewed hot key: algebraic agg shuffles flat; window rewrite beats the skewed window") {
    import org.apache.spark.sql.functions._
    val skewed = spark.range(400000L).select(lit(0L).as("k"), col("id").as("v"))
      .union(spark.range(64000L)
        .select((col("id") % 64 + 1).as("k"), (col("id") + 1000000L).as("v")))
      .repartition(32)  // fix the map-side layout deterministically
      .localCheckpoint() // …and keep that shuffle out of the measurements

    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      // 1. algebraic aggregate: partial combine flattens the shuffle
      val maxAgg = maxShuffleReadPerTask {
        skewed.groupBy(col("k")).agg(sum(col("v")).as("s")).collect()
      }
      assert(maxAgg < 4096,
        s"map-side combine failed: hot-key reducer read $maxAgg records")

      // 2. holistic window vs the pre-agg + join rewrite
      val windowed = skewed.withColumn("share",
        col("v").cast("double") /
          sum(col("v")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
      val keyTotals = skewed.groupBy(col("k")).agg(sum(col("v")).as("kt"))
      val rewritten = skewed.join(broadcast(keyTotals), Seq("k"))
        .withColumn("share", col("v").cast("double") / col("kt"))
        .drop("kt")

      // the measured action must CONSUME share, or pruning deletes the
      // window; summing it also proves the two paths agree
      var shareW = 0.0
      var shareJ = 0.0
      val maxWindow = maxShuffleReadPerTask {
        shareW = windowed.agg(sum(col("share"))).head.getDouble(0)
      }
      val maxJoin = maxShuffleReadPerTask {
        shareJ = rewritten.agg(sum(col("share"))).head.getDouble(0)
      }
      assert(math.abs(shareW - shareJ) < 1e-6, s"rewrite diverged: $shareW vs $shareJ")
      assert(maxWindow > 300000,
        s"fixture lost its skew — hot-key window task read only $maxWindow records")
      assert(maxJoin * 8 < maxWindow,
        s"pre-agg rewrite did not spread the hot key: $maxJoin vs $maxWindow")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }
}
