package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Build a larger scale factor from the driver-generated testdata by
  * replicating fact tables N× with disjoint key ranges (dimension tables
  * are carried over unchanged — TPC-H-style fact scaling). Used for the
  * sf1/sf10 scale experiments recorded in BASELINE.md: the point is to
  * measure how the registered plans behave at 10×/100× the driver's
  * largest SF, with workload shape preserved:
  *
  *  - every fact key is offset by copy × (max_key + 1), so copies are
  *    disjoint but foreign keys into the unchanged dimensions still land
  *  - part's implicit binary tree (child → child div 2, q21) stays rooted
  *    at 1 and simply deepens — closure work scales with the key space
  *  - events keep timestamps; user_id/event_id are offset, so sessions and
  *    as-of structure replicate per copy
  *
  * Replicated CONTENT is perturbed, not cloned. Earlier rounds replicated
  * documents/embeddings/lineitem as exact twins, which super-linearly
  * inflated near-dup pair counts for exactly the operators whose scale
  * story matters most (q74/q79/q109/q122/q131 — every copy pair of a doc
  * was a guaranteed candidate AND a guaranteed match, so pairs grew as
  * copies² while data grew as copies). Now each copy c > 0 diverges from
  * its source at a rate controlled by c, so a bounded number of copy
  * pairs sit above the operators' similarity thresholds and pair counts
  * grow ~linearly with copies — the realistic crawl-corpus regime
  * (near-dups exist at every distance; only a few are above threshold):
  *
  *  - documents: append a tail of globally-unique tokens (unique per
  *    (source doc, copy, position)), length = (len/4) × min(c, 6). Tails
  *    are disjoint between copies, so 3-shingle Jaccard between copies a,b
  *    of an average doc is ≈ 1/(1 + 0.25(min(a,6)+min(b,6))): copy pairs
  *    with small indices stay ≥ 0.5 (q28/q79's threshold), distant ones
  *    fall below it, and the min(·,6) cap bounds both the per-doc text
  *    growth and the above-threshold pair count per source doc at ANY
  *    copy factor.
  *  - embeddings: deterministic hash noise of amplitude 0.6×min(c,4) on
  *    the last 16 dims. Cosine between copies a,b of a ~unit vector is
  *    ≈ 1/√((1+0.52a²)(1+0.52b²)): a handful of close-copy pairs stay
  *    above q74's 0.4 threshold, the rest fall well below.
  *  - both keep every 10th source row's copies EXACT twins — real corpora
  *    carry an exact-duplicate mass too (mirrors, reposts), and exact
  *    dedup (q26) should keep seeing it.
  *  - lineitem: l_partkey is rotated per copy within the base part range
  *    (a bijection, so per-copy frequency shape is preserved and FKs still
  *    land). Baskets in different copies stop being identical item sets,
  *    so association-rule supports (q122) spread over rotated pairs
  *    instead of re-counting the same basket 10×.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <outDir> <copies>
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(df: DataFrame, name: String): Unit = {
      // at least as many files as local cores: a single-file single-
      // row-group table is UNSPLITTABLE, so every downstream scan of it
      // runs on one thread regardless of data size (observed: sf10
      // orders landed as one 15M-row row group and made every
      // orders-scanning query scan-bound on one core). Real 100 TB
      // layouts arrive in many files; the generator should look like one.
      val parts = Repack.targetParts(df.count())
      val fixed =
        if (df.rdd.getNumPartitions < parts) df.repartition(parts) else df
      fixed.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] wrote $name ($parts+ files)")
    }

    /** N× the rows; each copy's `keys` shifted into a disjoint range.
      * `perturb` runs BEFORE the key shift, so it sees the ORIGINAL ids
      * plus the `__copy` index — (id, __copy) is unique, which is what
      * the content perturbations key their determinism on. */
    def replicate(df: DataFrame, keys: Seq[String],
                  perturb: DataFrame => DataFrame = identity): DataFrame = {
      val spans = keys.map { k =>
        k -> (df.agg(max(col(k))).head().getLong(0) + 1L)
      }
      val copied = df.crossJoin(
        broadcast(spark.range(copies).select(col("id").as("__copy"))))
      keys.foldLeft(perturb(copied)) { case (d, k) =>
        d.withColumn(k, col(k) + col("__copy") * lit(spans.toMap.apply(k)))
      }.drop("__copy")
    }

    /** Exact-twin carve-out: every 10th source row's copies stay clones. */
    def exactTwin(idCol: String): Column =
      col("__copy") === 0 || col(idCol) % 10 === 0

    val t = graft.ops.Tables(spark, src)
    Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
        "supplier" -> t.supplier).foreach { case (n, df) => write(df, n) }

    val basePartSpan = t.part.agg(max(col("p_partkey"))).head().getLong(0)

    write(replicate(t.part, Seq("p_partkey")), "part")
    write(replicate(t.orders, Seq("o_orderkey")), "orders")
    write(replicate(t.lineitem, Seq("l_orderkey"), d =>
      // rotate basket composition per copy (bijective within the base
      // part key range [1, basePartSpan]; 7919 is just a fixed stride)
      d.withColumn("l_partkey",
        (col("l_partkey") - 1 + col("__copy") * lit(7919L)) % lit(basePartSpan) + 1)),
      "lineitem")

    // Optional 4th arg "heaps": tail tokens draw (Zipf-skewed) from a
    // FIXED 8192-word auxiliary vocabulary instead of being globally
    // unique. Same dilution of shingle sets (3-shingles over an 8192³
    // space almost never collide across docs, so near-dup semantics are
    // unchanged), but token/bigram type counts now grow SUB-linearly —
    // the Heaps-law control corpus for the LM-family scale experiments
    // in BASELINE.md. Default mode is unchanged (worst-case
    // vocabulary-linear growth).
    val heapsTails = args.length > 3 && args(3) == "heaps"
    write(replicate(t.documents, Seq("doc_id"), d =>
      d.withColumn("text", when(exactTwin("doc_id"), col("text"))
        .otherwise {
          // tail length ∝ doc length × min(copy, 6); tokens unique per
          // (doc, copy, position) so tails never collide across docs or
          // copies — they only DILUTE shingle sets, never link them
          val tailLen = greatest(lit(1),
            (size(split(col("text"), " ")) / 4).cast("int") *
              least(col("__copy"), lit(6)).cast("int"))
          val tailTok: Column => Column =
            if (heapsTails) { i =>
              // u² skews draws toward low ids (Zipf-ish), so frequent
              // aux tokens repeat and type growth saturates
              val u = pmod(hash(col("doc_id"), col("__copy"), i), lit(100000))
                .cast("double") / 100000.0
              concat(lit("aux"), floor(u * u * 8192).cast("long"))
            } else { i =>
              concat(lit("z"), col("doc_id"), lit("c"), col("__copy"),
                     lit("p"), i)
            }
          concat(col("text"), lit(" "), array_join(
            transform(sequence(lit(1), tailLen), tailTok), " "))
        })), "documents")

    write(replicate(t.embeddings, Seq("vec_id"), d =>
      d.withColumn("embedding", when(exactTwin("vec_id"), col("embedding"))
        .otherwise {
          // ±0.3 × min(copy,4) deterministic noise on the last 16 dims:
          // hash(vec, copy, dim) → uniform in [-0.5, 0.5), scaled
          val amp = least(col("__copy"), lit(4)).cast("double") * 0.6
          transform(col("embedding"), (x, i) =>
            when(i >= size(col("embedding")) - 16,
              (x + (pmod(hash(col("vec_id"), col("__copy"), i), lit(1000))
                      .cast("double") / 1000.0 - 0.5) * amp).cast("float"))
            .otherwise(x))
        })), "embeddings")

    // ts round-trips in whatever physical type the source generation uses
    // (long nanos via nanosAsLong, or plain µs TIMESTAMP) — EventOps.events
    // dispatches on the scanned type either way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val evScaled = replicate(ev, Seq("event_id", "user_id"))

    // Optional 4th arg "zipf": AFTER replication, concentrate hot keys the
    // way production traffic does (ScaleGen's default keeps the driver's
    // uniform key shapes, so skew mitigations could only ever TIE, never
    // win — r9 verdict #6). Deterministic gates on the globally-unique
    // post-shift ids:
    //  - events.user_id: ~20% of all events remapped to user 1 (a whale
    //    account) — the single-task window-sort victim
    //  - events.event_type: ~50% of the remaining gate remapped to 'view'
    //    (~60% total) — the hot aggregate key q105 salts
    //  - orders.o_custkey: ~20% of all orders remapped to customer 1 —
    //    the readiness anti-join / lag-window victim (q33)
    //  - documents.source: ~20% of all docs remapped to src0 (one whale
    //    source owning ~20% of token mass) — the per-source rollup /
    //    census victim for the content-keyed dedup family (q521)
    // Dimension FKs still land (user 1 / customer 1 exist in every copy).
    val zipf = args.length > 3 && args(3) == "zipf"
    if (zipf) {
      val hotEv = evScaled
        .withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(5)) === 0, lit(1L))
            .otherwise(col("user_id")))
        .withColumn("event_type",
          when(pmod(xxhash64(col("event_id"), lit(7)), lit(2)) === 0, lit("view"))
            .otherwise(col("event_type")))
      write(hotEv, "events")
      val hotOrders = spark.read.parquet(s"$out/orders.parquet")
        .withColumn("o_custkey",
          when(pmod(xxhash64(col("o_orderkey")), lit(5)) === 0, lit(1L))
            .otherwise(col("o_custkey")))
      // rewrite via a temp dir (Spark cannot overwrite a path it is
      // reading), then swap rename-aside-first: move the live table to
      // orders_old, rename the staging dir into place, delete orders_old.
      // A crash mid-swap always leaves a complete table on disk (either
      // orders_old or orders.parquet) rather than only the staging dir.
      hotOrders.write.mode("overwrite").parquet(s"$out/orders_zipf.parquet")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val live  = new org.apache.hadoop.fs.Path(s"$out/orders.parquet")
      val stage = new org.apache.hadoop.fs.Path(s"$out/orders_zipf.parquet")
      val old   = new org.apache.hadoop.fs.Path(s"$out/orders_old.parquet")
      fs.delete(old, true) // clear any remnant from a prior crashed swap
      require(fs.rename(live, old), s"rename orders -> orders_old failed under $out")
      require(fs.rename(stage, live),
        s"rename orders_zipf -> orders failed under $out (recover from orders_old)")
      fs.delete(old, true)
      // whale document source: same staged swap as orders (the table is
      // already on disk from the replicate() pass above)
      val hotDocs = spark.read.parquet(s"$out/documents.parquet")
        .withColumn("source",
          when(pmod(xxhash64(col("doc_id"), lit(13)), lit(5)) === 0,
            lit("src0")).otherwise(col("source")))
      hotDocs.write.mode("overwrite").parquet(s"$out/documents_zipf.parquet")
      val liveD  = new org.apache.hadoop.fs.Path(s"$out/documents.parquet")
      val stageD = new org.apache.hadoop.fs.Path(s"$out/documents_zipf.parquet")
      val oldD   = new org.apache.hadoop.fs.Path(s"$out/documents_old.parquet")
      fs.delete(oldD, true)
      require(fs.rename(liveD, oldD),
        s"rename documents -> documents_old failed under $out")
      require(fs.rename(stageD, liveD),
        s"rename documents_zipf -> documents failed under $out (recover from documents_old)")
      fs.delete(oldD, true)
      println("[scalegen] zipf: hot user_id/event_type/o_custkey/source applied")
    } else write(evScaled, "events")

    println(s"[scalegen] done: $out = $copies x $src")
    spark.stop()
  }
}
