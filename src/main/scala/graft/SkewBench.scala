package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew experiment harness (r9 verdict #6): measure how the registered
  * plans behave on a Zipf-hot-key corpus (`ScaleGen ... zipf`: user 1
  * owns ~20% of events, 'view' ~60% of event types, customer 1 ~20% of
  * orders) vs the driver's uniform keys, and establish with MEASUREMENTS
  * — not folklore — where skew actually bites a Spark plan and which
  * rewrite wins. Findings at sf10 (10M events / 1.5M orders, local[32];
  * the BASELINE.md "Zipf skew experiment" table):
  *
  *  1. q105 salted agg vs the plain one-stage agg: TIE under a 60%-hot
  *     key (plain 0.7 s both key shapes; salted pays its extra stage).
  *     For ALGEBRAIC aggregates Spark's partial hash aggregation is
  *     already an implicit salt — every map task pre-folds its slice,
  *     so a hot key's reducer receives O(tasks) partials regardless of
  *     skew. q105's explicit two-stage shape documents the algebra, but
  *     Spark does not need it for count/sum.
  *
  *  2. Exact top-5-earliest events per user, three plans, identical
  *     checksummed output: the window row_number plan turns out
  *     skew-IMMUNE too — Spark 4's WindowGroupLimit pushes the rank
  *     filter below the exchange, so only ~750k of 10M rows shuffle and
  *     the whale's partition arrives pre-pruned. The typed bounded-state
  *     Aggregator ([[graft.functions.Aggregators.TopKEarliest]]) still
  *     beats it ~25% and shuffles 5× less (150k vs 750k records — the
  *     number that is network at cluster scale). The hand-salted
  *     collect_list two-stage is an ANTI-PATTERN: 2-3× slower than the
  *     window (unbounded partial arrays cost more than they save).
  *
  *  3. The real victim: q33's readiness anti-join degrades 6.0 → 12.0 s
  *     under the whale customer; the probe isolates its lag window
  *     (4.2 → 6.7 s — no group-limit pushdown exists for lag). The
  *     measured fix is the HOT/COLD SPLIT (claim 3b in the body):
  *     audit-detected whale keys route through a bucketed lag with
  *     boundary stitching, cold keys keep the plain window — 6.7 →
  *     4.7 s (−30%) with checksummed-identical output. Salting every
  *     key indiscriminately LOSES (11.5 s): the edge frame degenerates
  *     to ~|rows|; the audit-driven split is what makes salting work,
  *     exactly like AQE's skew-join splits only oversized partitions.
  *
  * Also prints q143's skew audit rows, which DETECT the hot keys (skew
  * factor 1.5 → 30017 for events.user_id) — the pre-flight that routes
  * a 100 TB job to the split plan.
  *
  * Usage: runMain graft.SkewBench <dataDir>   (one JSON line to stdout)
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def events = graft.ops.EventOps.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tus"), col("value"))

    // min-of-2, same protocol as Bench
    def time(f: => Unit): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min

    // shuffle-write records across all jobs of `body` (the metric that is
    // network at cluster scale; local RAM here) — ShuffleVolumeSpec's
    // listener, inlined
    def shuffleRecords(body: => Unit): Long = {
      val records = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      // drain the async bus before reading the counter — a fixed sleep
      // silently drops late task-end events on a loaded machine
      try { body; org.apache.spark.sql.graftbridge.ColumnBridge.flushListenerBus(spark) }
      finally spark.sparkContext.removeSparkListener(listener)
      records.get()
    }

    // ——— claim 1: q105 salted vs plain one-stage agg ———
    val salted = time {
      graft.ops.ScaleOps.q105SaltedSkewAgg.fn(spark, dir).count()
    }
    val plainDf = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("total_value"))
    val plain = time { plainDf.count() }

    // ——— claim 2: naive window top-5 per user vs salted two-stage ———
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("event_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val naiveTop = events
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))))
      .filter(col("rn") <= 5)
      .select(col("user_id"), col("event_id"))
    val saltedTop = events
      .withColumn("salt", pmod(col("event_id"), lit(32)))
      .groupBy(col("user_id"), col("salt"))
      .agg(slice(sort_array(collect_list(struct(col("tus"), col("event_id")))),
        1, 5).as("top"))
      .select(col("user_id"), explode(col("top")).as("e"))
      .groupBy(col("user_id"))
      .agg(slice(sort_array(collect_list(col("e"))), 1, 5).as("top"))
      .select(col("user_id"), explode(col("top")).as("e"))
      .select(col("user_id"), col("e.event_id").as("event_id"))
    // the skew-IMMUNE plan: bounded ≤5-pair partial state per (task, key),
    // so partial aggregation ships O(tasks × k) rows per key however hot
    // the key is — the shape that survives a whale key at 100 TB
    import spark.implicits._
    val boundedTop = {
      val agg = new graft.functions.Aggregators.TopKEarliest(5).toColumn
      events.select(col("user_id"), col("tus"), col("event_id"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(agg.name("top"))
        .flatMap { case (u, pairs) => pairs.map(p => (u, p._2)) }
        .toDF("user_id", "event_id")
    }
    val naiveT = time { naiveTop.count() }
    val saltedT = time { saltedTop.count() }
    val boundedT = time { boundedTop.count() }
    val naiveShuffle = shuffleRecords { naiveTop.count() }
    val boundedShuffle = shuffleRecords { boundedTop.count() }
    val (nc, ns) = checksum(naiveTop)
    val (sc2, ss) = checksum(saltedTop)
    val (bc, bs) = checksum(boundedTop)
    require(nc == sc2 && ns == ss,
      s"salted top-k diverged from the window plan: ($nc,$ns) vs ($sc2,$ss)")
    require(nc == bc && ns == bs,
      s"bounded-agg top-k diverged from the window plan: ($nc,$ns) vs ($bc,$bs)")

    // ——— claim 3: readiness anti-join under the hot customer ———
    val readiness = time {
      graft.ops.SchedulerQueries.q33JobsReady.fn(spark, dir).count()
    }

    // claim 3b: the straggler inside q33 is the lag window over the whale
    // customer's partition (measured: the probe isolates it — 4.2 s
    // uniform vs 6.6 s zipf for the deps build alone). The production
    // fix is the HOT/COLD SPLIT the q143 audit exists to drive: keys
    // above a fair-share threshold route through a salted sequence —
    // lag within (customer, month) buckets, parallel over the whale's
    // months, boundaries stitched from a per-bucket edge frame that is
    // model-sized BECAUSE only whale keys take this path — while the
    // cold mass keeps the plain window. (A first cut salted EVERY key;
    // its edge frame degenerated to ~|rows| for the 150k normal
    // customers and measured 11.5 s vs the naive 6.2 s — the split is
    // what makes the recipe work, exactly like AQE's skew-join splits
    // only oversized partitions.) Identical output, checksummed.
    val jobsFrame = graft.ops.Tables(spark, dir).orders.select(
      col("o_orderkey").as("id"), col("o_custkey"), col("o_orderdate"))
    val wFull = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("id").asc)
    val depsNaive = jobsFrame
      .withColumn("dep_id", lag(col("id"), 1).over(wFull))
      .filter(col("dep_id").isNotNull)
      .select(col("id"), col("dep_id"))
    // hot = any key above one fair share of a 32-way stage (the audit's
    // skew pre-flight, collected driver-side: whale sets are tiny by
    // definition — a key set that ISN'T tiny isn't skew)
    val nRows = jobsFrame.count()
    val hotKeys = jobsFrame.groupBy(col("o_custkey")).count()
      .filter(col("count") > lit(nRows / 32))
      .select(col("o_custkey")).collect().map(_.getLong(0))
    require(hotKeys.length < 100, s"${hotKeys.length} hot keys — not skew")
    val depsSplit = {
      def lagPlain(df: DataFrame) = df
        .withColumn("dep_id", lag(col("id"), 1).over(wFull))
      val cold = lagPlain(jobsFrame.filter(!col("o_custkey").isin(hotKeys: _*)))
      val hot = {
        val b = jobsFrame.filter(col("o_custkey").isin(hotKeys: _*))
          .withColumn("bkt",
            year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        val wB = Window.partitionBy(col("o_custkey"), col("bkt"))
          .orderBy(col("o_orderdate").asc, col("id").asc)
        val inner = b.withColumn("dep_id", lag(col("id"), 1).over(wB))
        val edges = b.groupBy(col("o_custkey"), col("bkt"))
          .agg(min(struct(col("o_orderdate"), col("id"))).as("first"),
               max(struct(col("o_orderdate"), col("id"))).as("last"))
        val wE = Window.partitionBy(col("o_custkey")).orderBy(col("bkt"))
        val bounds = edges
          .withColumn("prev_last", lag(col("last.id"), 1).over(wE))
          .select(col("o_custkey"), col("bkt"),
            col("first.id").as("first_id"), col("prev_last"))
        inner.join(broadcast(bounds), Seq("o_custkey", "bkt"), "left")
          .withColumn("dep_id",
            when(col("id") === col("first_id") && col("dep_id").isNull,
              col("prev_last")).otherwise(col("dep_id")))
          .drop("bkt", "first_id", "prev_last")
      }
      cold.unionByName(hot)
        .filter(col("dep_id").isNotNull)
        .select(col("id"), col("dep_id"))
    }
    val depsNaiveT = time { depsNaive.count() }
    val depsSaltedT =
      if (hotKeys.isEmpty) depsNaiveT // uniform corpus: split is a no-op
      else time { depsSplit.count() }
    def depsChecksum(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("id") * 31 + col("dep_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    if (hotKeys.nonEmpty) {
      val (dn, dns) = depsChecksum(depsNaive)
      val (ds, dss) = depsChecksum(depsSplit)
      require(dn == ds && dns == dss,
        s"hot/cold split sequence-lag diverged from the window plan: ($dn,$dns) vs ($ds,$dss)")
    }

    // ——— claim 4: priority-sample subset-sum error on the whale customer ———
    // q488's estimator pitch IS skew robustness: any item with w_i ≥ τ is
    // kept deterministically, so a whale subset cannot silently lose its
    // mass the way Bernoulli row sampling can. Measured: estimate the top
    // customer's revenue from a k-item priority sample (q488's exact
    // priorities) against the exact subset total, k ∈ {64, 1024}. Under
    // the Zipf corpus the whale holds ~20% of orders — the subset the
    // estimator bounds are supposed to protect.
    val ordersW = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("w"))
      .withColumn("h", conv(substring(md5(concat(lit("ps|"),
        col("o_orderkey").cast("string"))), 1, 15), 16, 10).cast("long"))
      .withColumn("q", col("w").cast("double") *
        lit(1.152921504606846976e18) / (col("h").cast("double") + 1.0))
      .localCheckpoint()
    val whaleRow = ordersW.groupBy(col("o_custkey")).count()
      .orderBy(col("count").desc, col("o_custkey")).head()
    val (whaleKey, whaleOrders) = (whaleRow.getLong(0), whaleRow.getLong(1))
    val whaleStats = ordersW.agg(
      sum(when(col("o_custkey") === whaleKey, col("w")).otherwise(lit(0L))),
      sum(col("w"))).head()
    val (exactWhale, totalW) = (whaleStats.getLong(0), whaleStats.getLong(1))
    def psSubsetErr(k: Int): (Double, Int) = {
      val top = ordersW.orderBy(col("q").desc, col("o_orderkey"))
        .limit(k + 1).collect()
      val tau = top.last.getAs[Double]("q")
      val kept = top.take(k).filter(_.getAs[Long]("o_custkey") == whaleKey)
      val est = kept.map(r =>
        math.max(r.getAs[Long]("w").toDouble, tau)).sum
      (math.abs(est - exactWhale) / exactWhale, kept.length)
    }
    val (psErr64, psKept64) = psSubsetErr(64)
    val (psErr1024, psKept1024) = psSubsetErr(1024)

    // ——— claim 5: CDC chunking under a whale document source ———
    // q521's gear gate is CONTENT-keyed: chunk identity never depends on
    // the source column, so a whale source (src0 ≈ 20% of token mass
    // under `ScaleGen ... zipf`) concentrates only the FINAL per-source
    // rollup — ≤|sources| groups after the map-side combine — while the
    // corpus-sized census stays keyed by chunk text, whose distribution
    // the source remap does not touch. Prediction: q521 holds its time
    // under the whale. The measurement is the claim.
    val cdcT = time {
      graft.ops.CdcChunkOps.q521CdcChunking.fn(spark, dir).count()
    }
    val srcShare = {
      val byS = graft.ops.Tables(spark, dir).documents
        .groupBy(col("source")).agg(sum(col("n_chars")).as("ch"))
        .orderBy(col("ch").desc).limit(1).head()
      val tot = graft.ops.Tables(spark, dir).documents
        .agg(sum(col("n_chars"))).head().getLong(0)
      (byS.getString(0), byS.getLong(1).toDouble / tot)
    }

    // ——— the pre-flight that detects the skew ———
    val skewRows = graft.ops.AuditOps.q143SkewAudit.fn(spark, dir).collect()
      .map(r => s"""{"key":"${r.getString(0)}","skew":${r.getDouble(4)}}""")
      .mkString("[", ",", "]")

    println(s"""{"metric":"skewbench","sf":"$dir","q521_cdc_chunking":$cdcT,"whale_source":"${srcShare._1}","whale_token_share":${srcShare._2},"q105_salted":$salted,"q105_plain":$plain,"topk_window_naive":$naiveT,"topk_salted_two_stage":$saltedT,"topk_bounded_agg":$boundedT,"topk_shuffle_rows_window":$naiveShuffle,"topk_shuffle_rows_bounded":$boundedShuffle,"topk_rows":$nc,"readiness_anti_join":$readiness,"deps_lag_window_naive":$depsNaiveT,"deps_lag_hotcold_split":$depsSaltedT,"hot_keys":${hotKeys.length},"ps_whale_orders":$whaleOrders,"ps_whale_mass":${exactWhale.toDouble / totalW},"ps_kept_k64":$psKept64,"ps_err_k64":$psErr64,"ps_kept_k1024":$psKept1024,"ps_err_k1024":$psErr1024,"skew_audit":$skewRows}""")
    spark.stop()
  }
}
