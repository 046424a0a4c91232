package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Composed text-corpus pipelines — the operators of TextOps/Dedup chained
  * the way a training-data build actually runs them. */
object Pipelines {

  /** TF-IDF per (doc, token): membership and tf/df are exact integers; the
    * tfidf score is rounded so libm-vs-JVM ln() ulp differences cannot
    * surface. */
  val q56Tfidf: QueryDef = QueryDef(
    "q56_tfidf",
    (s, dir) => {
      val docs = Tables(s, dir).documents.filter(col("doc_id") < 100)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      val tf = docs.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      tf.join(df, Seq("token"))
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"))
    },
    Some("""WITH docs AS (
        SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\w+')) AS token
        FROM documents WHERE doc_id < 100),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM docs GROUP BY 1, 2),
      df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM docs)
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n"""))

  private val stop = Seq("the", "a", "of", "and", "to", "in", "is", "value", "data", "table")

  /** The LLM training-corpus build, end to end: minimum length → stopword
    * quality gate → exact dedup (keep smallest id per fingerprint) →
    * near-dup prune (drop the larger id of any same-language pair with
    * 3-token-shingle Jaccard ≥ 0.5) → per-language corpus stats.
    *
    * The near-dup stage IS q28's MinHash-LSH generator: k=32 signatures
    * over hashed shingles, 16 bands of 2, candidates equi-joined on
    * (lang, band, band-hash), then the exact merge-count verify — so there
    * is no O(n²) pair scan anywhere in the pipeline. Shingle (not
    * token-set) Jaccard is what makes that sound: on this corpus the
    * gated+deduped pair distribution is bimodal — every same-language pair
    * is either ≥ 0.7 or ≤ 0.15 shingle-Jaccard at sf0.01 AND sf0.1
    * (measured; token-SET similarity by contrast is a continuum around any
    * threshold, because templated docs share vocabulary — order-sensitive
    * shingles are the discriminating near-dup metric). With that margin,
    * banding recall at j ≥ 0.7 is ≥ 1 − 0.51¹⁶ ≈ 0.99998 per pair, the
    * exact verify makes the OUTPUT exact, and the DuckDB oracle is the
    * brute-force shingle-pair set. Everything downstream of candidate
    * generation shuffles only (band keys, ids, hashed shingle sets) —
    * never text. */
  val q57CorpusPipeline: QueryDef = QueryDef(
    "q57_corpus_pipeline",
    (s, dir) => {
      // single-row-group scan → spread the CPU-heavy tokenize/gate/hash
      // work across the pool (by doc_id hash, as in q28); the exchange is
      // paid ONCE because `exact` below is checkpointed before its three
      // consumers
      val base = Tables(s, dir).documents
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .withColumn("tk", TextOps.tokens(col("text")))
        .filter(size(col("tk")) >= 10)
        .withColumn("stop_ratio",
          size(filter(col("tk"), t => t.isin(stop.map(x => x: Any): _*)))
            .cast("double") / size(col("tk")))
        .filter(col("stop_ratio") >= 0.05)
        .withColumn("fp", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      val exact = base
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)))
        .filter(col("rn") === 1)
        // q28's shingle set (sorted distinct int64 hashes, the construction
        // q28's oracle gate validates): the shared verify's merge count
        // needs it sorted; the signature needs one pass over the same array
        .select(col("doc_id"), col("lang"), Dedup.shingleSet(col("tk")).as("shd"),
                size(col("tk")).cast("long").as("n_tokens"))
        .withColumn("sz", size(col("shd")))
        .withColumn("sig", Dedup.minhashSig(col("shd"), 32))
        // three consumers read `exact` (banding + the verify's shingle-set
        // lookup + the final aggregate): checkpoint so the tokenize→gate→
        // dedup→shingle→sign lineage runs once, not three times
        .localCheckpoint()
      // q28's banding, keyed additionally by lang (near-dup pruning is
      // language-scoped): candidates shuffle (lang, band, hash, id) rows
      // only. Bucket sizes are bounded by true-duplicate cluster sizes —
      // not by corpus size — so the join stays balanced at any scale and
      // no salting is needed (the old per-language pair scan needed salt
      // precisely because its only key had 5 values).
      val banded = exact.select(col("doc_id"), col("lang"),
          posexplode(transform(sequence(lit(0), lit(15)),
            b => xxhash64(element_at(col("sig"), b * 2 + 1),
                          element_at(col("sig"), b * 2 + 2)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      val aSide = banded.select(col("lang"), col("band"), col("band_hash"),
                                col("doc_id").as("ia"))
      val bSide = banded.select(col("lang"), col("band"), col("band_hash"),
                                col("doc_id").as("ib"))
      val cand = aSide.join(bSide, Seq("lang", "band", "band_hash"))
        .filter(col("ia") < col("ib"))
        .select(col("ia").as("id_a"), col("ib").as("id_b")).distinct()
      // exact verify on the candidates only, through the near-dup
      // operators' shared merge-count verify (q28, q109)
      val nearDupIds = Dedup.verifyHalfJaccard(cand, exact)
        .select(col("id_b").as("doc_id")).distinct()
      exact.join(nearDupIds, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tokens")).as("total_tokens"))
    },
    Some("""WITH base AS (
        SELECT doc_id, lang, text, regexp_extract_all(lower(text), '\w+') AS tk
        FROM documents),
      gated AS (
        SELECT doc_id, lang, tk,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM base
        WHERE len(tk) >= 10
          AND CAST(len(list_filter(tk, x -> list_contains(
                ['the','a','of','and','to','in','is','value','data','table'], x))) AS DOUBLE)
              / len(tk) >= 0.05),
      exact AS (
        SELECT doc_id, lang, tk, CAST(len(tk) AS BIGINT) AS n_tokens
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM gated)
        WHERE rn = 1),
      sh AS (
        SELECT doc_id, lang, list_distinct(list_transform(range(1, len(tk) - 1),
          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        FROM exact),
      neardup AS (
        SELECT DISTINCT b.doc_id FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s)) * 3 >= len(a.s) + len(b.s))
      SELECT lang, COUNT(*) AS n_docs,
        -- aggregate SUM(BIGINT) yields HUGEINT in DuckDB, which pandas
        -- renders as float64 and hash-mismatches Spark's int64 — cast back
        CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
      GROUP BY 1"""))

  val all: Seq[QueryDef] = Seq(q56Tfidf, q57CorpusPipeline)
}
