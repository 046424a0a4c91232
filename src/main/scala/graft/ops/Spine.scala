package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed prefix-sum / global-rank spine — the two-pass
  * range-partitioned replacement for `Window.orderBy(...)` with no
  * partition clause over a frame that GROWS with the corpus (docs,
  * vocabulary): a global window plans `Exchange SinglePartition`, which
  * serializes the whole frame through one task and dies at cluster
  * scale; the spine keeps the frame distributed end to end.
  *
  * Pass structure (the classic parallel scan, at DataFrame altitude):
  *  1. `repartitionByRange(ord)` + per-partition sort, then ONE
  *     localCheckpoint — the sampled range boundaries must be pinned,
  *     because the totals pass and the scan pass must see the SAME
  *     layout (repartitionByRange resamples per execution otherwise).
  *  2. Totals pass: per partition, (row count, per-column sums) — a
  *     #partitions-row result to the driver (model-sized by
  *     construction: one row per partition, NOT per data row).
  *  3. Exclusive offsets are computed on the driver and broadcast; the
  *     scan pass streams each partition once, emitting the global
  *     1-based rank and running sums seeded at the partition offset.
  *
  * Contracts: `ord` must be a TOTAL order for deterministic ranks
  * (equal keys land in one partition, but their relative rank follows
  * the partition sort, same caveat as `row_number`); sum columns are
  * BIGINT-only and null entries add 0 (SQL running-sum parity holds
  * whenever the column is non-null, the only shape the callers use).
  */
object Spine {

  /** Window-vs-spine cutover in rows. 8M ≈ a ~200 MB single-task sort —
    * comfortable executor headroom at bench scale. Both branches are
    * bit-identical (SpineSpec), so the cutover is physical, never
    * semantic; a caller that needs the other branch passes `threshold`. */
  val DefaultThreshold: Long = 8000000L

  /** [[lnFactorialLadder]]'s cutover is LOWER than the rank sites': its
    * window branch is a single-task sort + running-sum of the WHOLE
    * ladder (length = the corpus-coupled max n), with none of the
    * pre-partitioned-frame reuse the rank sites get. The r16 sf1
    * measurement put the crossover below ~1.5M rows (q456: 4.14 s window
    * vs 2.45 s spine at sf1; sf0.1 ladders are ~10× smaller and keep the
    * window). */
  val LadderThreshold: Long = 1000000L

  /** Append a global rank column (`rankCol`, 1-based BIGINT, ordered by
    * `ord`) and one running-sum column `cum_<c>` per entry of `sumCols`
    * (inclusive of the current row) to `df`, with no single-partition
    * exchange. `width` defaults to the session's shuffle parallelism.
    * `totalCol`, if set, adds the frame's total row count as a constant
    * column — free, it falls out of the totals pass (the `n` that
    * [[ntileFromRank]] needs, without a second action or crossJoin). */
  def prefixSpine(df: DataFrame, ord: Seq[Column], sumCols: Seq[String],
                  rankCol: String = "pos", width: Int = 0,
                  totalCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(1,
      if (width > 0) width
      else spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val parted = df.repartitionByRange(n, ord: _*)
      .sortWithinPartitions(ord: _*)
      .localCheckpoint() // pin the sampled range boundaries across passes
    val schema = parted.schema
    val sumIdx = sumCols.map(schema.fieldIndex).toArray
    sumIdx.foreach { i =>
      require(schema(i).dataType == LongType,
        s"prefixSpine sums are BIGINT-only (${schema(i).name}: ${schema(i).dataType})")
    }
    val nSums = sumIdx.length
    val partStats = parted.rdd.mapPartitionsWithIndex { (i, it) =>
      var c = 0L
      val s = new Array[Long](nSums)
      it.foreach { r =>
        c += 1
        var j = 0
        while (j < nSums) {
          if (!r.isNullAt(sumIdx(j))) s(j) += r.getLong(sumIdx(j)); j += 1
        }
      }
      Iterator((i, c, s))
    }.collect().sortBy(_._1)
    val rankOff = new Array[Long](n)
    val sumOff = Array.ofDim[Long](n, nSums)
    var runRank = 0L
    val runSum = new Array[Long](nSums)
    partStats.foreach { case (i, c, s) =>
      rankOff(i) = runRank
      System.arraycopy(runSum, 0, sumOff(i), 0, nSums)
      runRank += c
      var j = 0
      while (j < nSums) { runSum(j) += s(j); j += 1 }
    }
    val bcOff = spark.sparkContext.broadcast((rankOff, sumOff))
    val outSchema = StructType(schema.fields ++
      (StructField(rankCol, LongType, nullable = false) +:
        sumCols.map(c => StructField(s"cum_$c", LongType, nullable = false))))
    val out = parted.rdd.mapPartitionsWithIndex { (i, it) =>
      val (ro, so) = bcOff.value
      var rank = ro(i)
      val run = so(i).clone()
      it.map { r =>
        rank += 1
        var j = 0
        while (j < nSums) {
          if (!r.isNullAt(sumIdx(j))) run(j) += r.getLong(sumIdx(j)); j += 1
        }
        Row.fromSeq(r.toSeq ++ (rank +: run.toSeq))
      }
    }
    val base = spark.createDataFrame(out, outSchema)
    totalCol match {
      case Some(c) =>
        import org.apache.spark.sql.functions.lit
        base.withColumn(c, lit(runRank))
      case None => base
    }
  }

  /** Size-adaptive exact global ntile — the join-selection discipline
    * applied to ranking: at or below `threshold` rows the classic
    * single-partition window runs (ONE in-memory sort of a frame that
    * provably fits a task — measured 10–25× cheaper than any
    * distributed spine at bench scale), above it the two-pass
    * [[prefixSpine]] + [[ntileFromRank]] keeps the frame distributed.
    * Both paths are exact and bit-identical (SpineSpec pins the
    * equivalence), so the choice is physical, not semantic — exactly
    * how Catalyst picks broadcast vs shuffle joins. The size probe is
    * `df.count()` unless the caller supplies `knownCount` — pass it
    * whenever the frame's cardinality is provable from a cheaper frame
    * (a metadata-count parquet scan, a cardinality-preserving left
    * join), so the probe costs nothing; otherwise keep `df` cheap to
    * re-execute or pre-checkpointed. Default threshold 8M rows ≈ a
    * ~200 MB sort in one task — comfortable executor headroom;
    * raise/lower per deployment. */
  def adaptiveNtile(df: DataFrame, ord: Seq[Column], k: Int,
                    bucketCol: String,
                    threshold: Long = DefaultThreshold,
                    knownCount: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, ntile}
    val n = if (knownCount >= 0) knownCount else df.count()
    if (n <= threshold)
      df.withColumn(bucketCol,
        ntile(k).over(Window.orderBy(ord: _*)).cast("long"))
    else
      prefixSpine(df, ord, Nil, totalCol = Some("__n_all"))
        .withColumn(bucketCol, ntileFromRank(col("pos"), col("__n_all"), k))
        .drop("pos", "__n_all")
  }

  /** Size-adaptive exact global rank + running sums — [[adaptiveNtile]]'s
    * general sibling for the audit queue's row_number/cumulative-sum
    * sites: at or below `threshold` rows the classic global window runs
    * (optimal while the frame fits one task), above it [[prefixSpine]]
    * keeps the frame distributed. Identical output either way: a
    * `rankCol` BIGINT global rank ordered by `ord` plus one `cum_<c>`
    * inclusive running sum per `sumCols` entry. Pass `knownCount` when
    * the cardinality is provable cheaply (a metadata count, an
    * already-materialized localCheckpoint, a count the query computes
    * anyway) so the probe costs nothing. `knownCount` may be any UPPER
    * BOUND on the frame size, not necessarily the exact cardinality —
    * it drives ONLY the window-vs-spine threshold decision (r15 callers
    * pass |orders| / |part| metadata bounds); never read it as a value.
    * When the exact count is needed as a value, use `totalCol`, which
    * rides the plan. */
  def adaptiveRank(df: DataFrame, ord: Seq[Column],
                   sumCols: Seq[String] = Nil, rankCol: String = "pos",
                   threshold: Long = DefaultThreshold,
                   knownCount: Long = -1L,
                   totalCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, row_number, sum}
    val n = if (knownCount >= 0) knownCount else df.count()
    if (n <= threshold) {
      val w = Window.orderBy(ord: _*)
      val ranked = df.withColumn(rankCol, row_number().over(w).cast("long"))
      val summed = sumCols.foldLeft(ranked) { (d, c) =>
        d.withColumn(s"cum_$c", sum(col(c)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
      // totalCol rides the window path as a whole-frame count window
      // (same exchange the rank already established) — callers that
      // need |frame| as a VALUE (quantile cuts, shares) get it without
      // a separate count job; the spine path emits it for free.
      totalCol match {
        case Some(c) => summed.withColumn(c,
          count(lit(1)).over(Window.partitionBy()))
        case None => summed
      }
    } else prefixSpine(df, ord, sumCols, rankCol, totalCol = totalCol)
  }

  /** Two-pass range-partitioned forward carry — the sequential-scan
    * sibling of [[prefixSpine]] for `last(col, ignoreNulls)` over a
    * global order: pass 1 collects each partition's LAST non-null value
    * (one row per partition — model-sized), the exclusive carry-in per
    * partition is computed on the driver and broadcast, pass 2 streams
    * each partition once seeding the carry. Inclusive of the current
    * row, exactly the window form. Any value type (structs included). */
  def carryForward(df: DataFrame, ord: Seq[Column], valueCol: String,
                   outCol: String, width: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(1,
      if (width > 0) width
      else spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val parted = df.repartitionByRange(n, ord: _*)
      .sortWithinPartitions(ord: _*)
      .localCheckpoint() // pin the sampled range boundaries across passes
    val schema = parted.schema
    val vi = schema.fieldIndex(valueCol)
    val lasts = parted.rdd.mapPartitionsWithIndex { (i, it) =>
      var last: Any = null
      it.foreach { r => if (!r.isNullAt(vi)) last = r.get(vi) }
      Iterator((i, last))
    }.collect().sortBy(_._1)
    val carryIn = new Array[Any](n)
    var cur: Any = null
    lasts.foreach { case (i, l) => carryIn(i) = cur; if (l != null) cur = l }
    val bc = spark.sparkContext.broadcast(carryIn)
    val outSchema = StructType(schema.fields :+
      StructField(outCol, schema(vi).dataType, nullable = true))
    val rows = parted.rdd.mapPartitionsWithIndex { (i, it) =>
      var carry: Any = bc.value(i)
      it.map { r =>
        if (!r.isNullAt(vi)) carry = r.get(vi)
        Row.fromSeq(r.toSeq :+ carry)
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Size-adaptive forward carry: the classic running
    * `last(ignoreNulls)` window at or below `threshold` rows,
    * [[carryForward]] above — identical output either way. */
  def adaptiveCarry(df: DataFrame, ord: Seq[Column], valueCol: String,
                    outCol: String, threshold: Long = DefaultThreshold,
                    knownCount: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, last}
    val n = if (knownCount >= 0) knownCount else df.count()
    if (n <= threshold)
      df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(
        Window.orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    else carryForward(df, ord, valueCol, outCol)
  }

  /** Exact ln-factorial ladder 1..n as (j BIGINT, lf DOUBLE) with
    * lf(j) = cast(Σ_{i≤j} round(ln i, 9)::DECIMAL(38,9) AS DOUBLE) —
    * bit-identical to the classic
    * `explode(sequence(1,n)) + SUM(DECIMAL) OVER (ORDER BY j)` ladder
    * (the DECIMAL prefix is exact arithmetic in both forms, and the
    * final double cast correctly rounds the same rational), but with
    * NO single-partition window and NO single-task explode: the ladder
    * is generated distributed (`spark.range`), each term is computed in
    * a Catalyst projection (same `round(log(j),9)` semantics), and the
    * prefix runs as the two-pass scan — per-partition exact BigDecimal
    * totals to the driver (one row per partition, model-sized), offsets
    * broadcast, one streamed pass. The Fisher/Beta/binomial-tail family
    * (q437/q456/q435) probes this ladder by point joins; its length is
    * corpus-coupled (cell counts), which is exactly why the
    * single-partition forms had to go. */
  def lnFactorialLadder(spark: org.apache.spark.sql.SparkSession,
                        n: Long,
                        threshold: Long = LadderThreshold): DataFrame = {
    import org.apache.spark.sql.functions.{col, log, round, sum}
    import org.apache.spark.sql.types.DecimalType
    if (n <= threshold) {
      // bench-scale path: ONE tiny window sort — the distributed ladder
      // measured ~0.3 s SLOWER per query at sf0.1 (4 extra jobs:
      // checkpoint, totals collect, broadcast, scan) for frames a single
      // task sorts in milliseconds; same adaptive discipline as
      // adaptiveRank, same bit-identical guarantee (the DECIMAL prefix
      // sum is exact arithmetic in both forms)
      import org.apache.spark.sql.expressions.Window
      return spark.range(1L, n + 1L).toDF("j")
        .withColumn("lf",
          sum(round(log(col("j").cast("double")), 9)
            .cast(DecimalType(38, 9))).over(Window.orderBy(col("j"))))
        .select(col("j"), col("lf").cast("double").as("lf"))
    }
    val parted = spark.range(1L, n + 1L).toDF("j")
      .withColumn("term",
        round(log(col("j").cast("double")), 9).cast(DecimalType(38, 9)))
      .localCheckpoint() // pin layout across the totals + scan passes
    val ji = parted.schema.fieldIndex("j")
    val ti = parted.schema.fieldIndex("term")
    val partials = parted.rdd.mapPartitionsWithIndex { (i, it) =>
      var s = java.math.BigDecimal.ZERO
      it.foreach { r => s = s.add(r.getDecimal(ti)) }
      Iterator((i, s))
    }.collect().sortBy(_._1)
    val offs = new Array[java.math.BigDecimal](math.max(partials.length, 1))
    var run = java.math.BigDecimal.ZERO
    partials.foreach { case (i, s) => offs(i) = run; run = run.add(s) }
    val bc = spark.sparkContext.broadcast(offs)
    val outSchema = StructType(Seq(
      StructField("j", LongType, nullable = false),
      StructField("lf_dec", DecimalType(38, 9), nullable = true)))
    val rows = parted.rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = bc.value(i)
      it.map { r =>
        cum = cum.add(r.getDecimal(ti))
        Row(r.getLong(ji), cum)
      }
    }
    spark.createDataFrame(rows, outSchema)
      .select(col("j"), col("lf_dec").cast("double").as("lf"))
  }

  /** Exact ANSI `ntile(k)` from a spine rank: with n = qk + r, the
    * first r buckets take q+1 rows, the rest q — so ntile over a
    * corpus-growing frame becomes [[prefixSpine]] + this pure
    * expression instead of a single-partition window. `rank` is the
    * 1-based global rank, `n` the frame's row count (both BIGINT).
    *
    * Exactness of the double round-trips: q = (n − n%k)/k divides
    * exactly, so the correctly-rounded double IS the integer; the two
    * bucket quotients are ≤ k+1 with inter-integer gaps ≥ 1/(q+1) —
    * ten orders above double rounding error at any realistic n. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    val kL = lit(k.toLong)
    val q = ((n - n % kL) / kL).cast("long")
    val r = n % kL
    val cut = r * (q + lit(1L))
    when(rank <= cut, ((rank + q) / (q + lit(1L))).cast("long"))
      .otherwise(r + (((rank - cut) + q - lit(1L)) / q).cast("long"))
  }
}
