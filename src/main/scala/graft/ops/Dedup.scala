package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-data pipelines: exact (hash groupBy),
  * n-gram Jaccard, MinHash+LSH, SimHash. Design point is 100 TB of
  * documents: exact dedup is one hash shuffle on a 16-byte digest; LSH
  * turns the quadratic near-dup problem into an equi-join on band keys so
  * only same-bucket candidates are compared.
  */
object Dedup {

  /** Exact dedup: group by normalized-content digest, keep the smallest
    * doc_id, count copies. Shuffles only (digest → count) — never the text
    * itself beyond the first projection. */
  val q26ExactDedup: QueryDef = QueryDef(
    "q26_exact_dedup",
    (s, dir) => Tables(s, dir).documents
      .select(col("doc_id"),
              md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
      MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1"""))

  /** Pairwise n-gram (token-set) Jaccard inside language blocks. The
    * blocked self-join is the correctness baseline the LSH path
    * approximates; blocking keys bound the quadratic term. */
  val q27NgramJaccard: QueryDef = QueryDef(
    "q27_ngram_jaccard",
    (s, dir) => {
      val t = Tables(s, dir).documents
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("lang"),
                array_distinct(TextOps.tokens(col("text"))).as("toks"))
      val a = t.select(col("lang"), col("doc_id").as("id_a"), col("toks").as("toks_a"))
      val b = t.select(col("lang"), col("doc_id").as("id_b"), col("toks").as("toks_b"))
      a.join(b, Seq("lang")).filter(col("id_a") < col("id_b"))
        .withColumn("jac",
          size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
            size(array_union(col("toks_a"), col("toks_b"))))
        .filter(col("jac") >= 0.5)
        .select(col("id_a"), col("id_b"), col("jac"))
    },
    Some("""WITH t AS (SELECT doc_id, lang,
          list_distinct(regexp_extract_all(lower(text), '\w+')) AS toks
        FROM documents WHERE doc_id < 300)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(a.toks, b.toks))) AS jac
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5"""))

  /** MinHash signature from pre-hashed shingles (int64): delegates to the
    * native codegen'd [[graft.functions.MinhashSig]] expression — one
    * tight primitive loop per row. (An equivalent
    * `aggregate(zip_with(transform(...)))` HOF composition runs
    * interpreted and allocates two boxed arrays per shingle; measured ~2×
    * slower end-to-end on the q28 pipeline.) */
  def minhashSig(hashedShingles: Column, k: Int): Column =
    graft.functions.VectorFunctions.minhash_sig(hashedShingles, k)

  /** A document's 3-token shingle SET as int64 hashes, sorted ascending and
    * distinct: the one representation the near-dup operators (q28, q57,
    * q109) sign, band, prefix-index and verify. Each hash is
    * `xxhash64(t1, t2, t3)`, which chains the three token hashes, so the
    * shingle string "t1 t2 t3" is never materialized (tokens are \w+, so
    * the triple↔string map is bijective and set sizes are preserved modulo
    * 64-bit collisions). Shingles come from the ORIGINAL token sequence,
    * never a deduped array: shingles are adjacency-dependent. Built by the
    * native codegen'd [[graft.functions.ShingleSet]]. Callers keep only
    * docs with at least 3 tokens; on those the result is bit-identical to
    * the `transform(sequence(...), i -> xxhash64(...))` HOF spelling, which
    * runs interpreted. */
  def shingleSet(toks: Column): Column =
    graft.functions.VectorFunctions.shingle_set(toks)

  /** Exact Jaccard ≥ 0.5 verify of candidate pairs `(id_a, id_b)` against
    * the shingle-set frame `sets(doc_id, shd, sz)` (shd from [[shingleSet]]):
    * one codegen'd two-pointer merge count per candidate
    * ([[graft.functions.SortedIntersectCount]], no hash set, no
    * intersection or union array), c = |A∩B|, kept iff 2c ≥ na + nb − c
    * (|A∪B| = na + nb − c), i.e. 3c ≥ na + nb. `jac = c / (na + nb − c)`
    * divides the same two integers `size(array_intersect)/size(array_union)`
    * did, so the value is bit-identical. Duplicate candidates stay
    * duplicate. */
  def verifyHalfJaccard(cand: DataFrame, sets: DataFrame): DataFrame = {
    def side(id: String, sh: String, n: String) =
      sets.select(col("doc_id").as(id), col("shd").as(sh), col("sz").as(n))
    cand.join(side("id_a", "sh_a", "na"), "id_a")
      .join(side("id_b", "sh_b", "nb"), "id_b")
      .withColumn("c", graft.functions.VectorFunctions.sorted_intersect_count(col("sh_a"), col("sh_b")))
      // 3c ≥ na + nb is 2c ≥ na + nb − c with c named once: the optimizer
      // inlines c into the filter it pushes into the join condition, so
      // each reference there is one more merge per candidate
      .filter(col("c") * 3 >= col("na") + col("nb"))
      .select(col("id_a"), col("id_b"),
              (col("c").cast("double") / (col("na") + col("nb") - col("c"))).as("jac"))
  }

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard.
    * Pipeline: 3-token shingle set ([[shingleSet]], built and checkpointed
    * ONCE — signing and the verify both read it) → k=32 minhashes → 16
    * bands of 2 → equi-join on (band, band-key) → the shared merge-count
    * verify [[verifyHalfJaccard]] (2·|A∩B| ≥ |A∪B|) on the candidates only.
    * Banding is the scale path (no quadratic pair scan); the exact verify
    * makes the OUTPUT exact, so the DuckDB oracle is the brute-force pair
    * set. Recall at 16×2 for a true pair at jac j is 1−(1−j²)¹⁶ ≈ 0.99998
    * at j=0.7; this corpus's pairs are all ≥ 0.7 or ≤ 0.2 (no pair in
    * between), and the hash functions are fixed, so candidate generation
    * is deterministic and verified complete by OpsSpec + the DuckDB oracle gate.
    * The signature is a min over the SET, so signing the sorted distinct
    * array gives the same bands as signing the raw shingle sequence. */
  val q28MinhashLsh: QueryDef = QueryDef(
    "q28_minhash_lsh",
    (s, dir) => {
      val k = 32
      val bands = 16
      // single-row-group scan → repartition before the CPU-heavy shingle
      // hashing + signature work so it spans the pool (see q57); by doc_id
      // hash, since a round-robin repartition first sorts every row's bytes
      // (spark.sql.execution.sortBeforeRepartition) in the one scan task
      val sets = Tables(s, dir).documents
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), shingleSet(col("toks")).as("shd"))
        .select(col("doc_id"), col("shd"), size(col("shd")).as("sz"),
                minhashSig(col("shd"), k).as("sig"))
        .localCheckpoint() // banding AND the verify read it: one shingle pass
      val banded = sets.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(bands - 1)),
            b => xxhash64(element_at(col("sig"), b * 2 + 1),
                          element_at(col("sig"), b * 2 + 2)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
      // candidate pairs shuffle only (band, hash, id) — the shingle arrays
      // are joined back exactly once per surviving pair, not carried
      // through the self-join + distinct
      val aSide = banded.select(col("band"), col("band_hash"), col("doc_id").as("id_a"))
      val bSide = banded.select(col("band"), col("band_hash"), col("doc_id").as("id_b"))
      val pairs = aSide.join(bSide, Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      verifyHalfJaccard(pairs, sets)
    },
    Some("""WITH t AS (SELECT doc_id,
          regexp_extract_all(lower(text), '\w+') AS toks
        FROM documents),
      s AS (SELECT doc_id,
          list_transform(range(1, len(toks)-1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        FROM t WHERE len(toks) >= 3)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5"""))

  /** SimHash: 64-bit signature from token hashes — per-bit majority vote
    * over the tokens (bit b of the signature = sign of Σ ±1 votes from bit
    * b of each token hash). Near-dup docs differ in few bits; banding the
    * 64 bits into 4×16-bit keys gives the Hamming-distance blocking join.
    *
    * The vote fold is the native codegen [[graft.functions.SimhashSig]]
    * expression — one primitive |tokens|×64 loop per row. (The equivalent
    * `aggregate(sequence(0,63), … aggregate(toks, …))` HOF nesting this
    * replaced runs interpreted, 64×|tokens| boxed lambda evaluations per
    * row.) Token hashes are md5-derived ((hi32 << 32) | lo32 of the first
    * 16 digest hex chars) rather than xxhash64 precisely so the DuckDB
    * oracle can rebuild the identical 64-bit values in SQL — md5 is the
    * one hash both engines implement — and hash-match signatures and band
    * keys bit-for-bit. The oracle folds votes by (doc, bit) over the
    * unnested token list; `>>` is arithmetic in both engines, and `& 1`
    * reads the same bit either way, so the vote terms are identical; the
    * b=63 signature bit is added as −2^63 (signed wrap) because DuckDB's
    * `<<` throws on overflow instead of wrapping. */
  val q29Simhash: QueryDef = QueryDef(
    "q29_simhash",
    (s, dir) => {
      import graft.functions.VectorFunctions.{md5Long, simhash_sig}
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      // md5 per token is the dominant cost and runs once per token inside
      // the (interpreted) transform; the 64-bit vote fold — the part that
      // is quadratic in (tokens × bits) — is the codegen'd SimhashSig
      val withSig = docs.withColumn("sig",
        simhash_sig(transform(col("toks"), t => md5Long(t))))
      val bandCols = (0 until 4).map(i =>
        shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as(s"band$i"))
      withSig.select(Seq(col("doc_id"), col("sig")) ++ bandCols: _*)
    },
    Some("""WITH toks AS (
        SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\w+')) AS t
        FROM documents),
      hashes AS (
        SELECT doc_id,
          (h_hi - CASE WHEN h_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
            * 4294967296 + h_lo AS h
        FROM (SELECT doc_id,
                ('0x' || substr(md5(t), 1, 8))::BIGINT AS h_hi,
                ('0x' || substr(md5(t), 9, 8))::BIGINT AS h_lo
              FROM toks)),
      votes AS (
        SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) > 0 AS bit
        FROM hashes CROSS JOIN range(0, 64) r(b)
        GROUP BY 1, 2),
      sigs AS (
        -- aggregate SUM promotes to HUGEINT (→ float64 in the comparator):
        -- cast back; the value always fits, it IS a 64-bit bit pattern
        SELECT doc_id,
          CAST(SUM(CASE WHEN bit AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
            + CASE WHEN bool_or(bit AND b = 63)
                   THEN -9223372036854775808 ELSE 0 END AS BIGINT) AS sig
        FROM votes GROUP BY 1)
      SELECT doc_id, sig,
        (sig >> 0)  & 65535 AS band0,
        (sig >> 16) & 65535 AS band1,
        (sig >> 32) & 65535 AS band2,
        (sig >> 48) & 65535 AS band3
      FROM sigs"""))

  /** Benchmark decontamination — the train/eval n-gram overlap check every
    * LLM corpus build runs before training: any training document sharing a
    * trigram with the held-out set is flagged with its contamination ratio.
    * The eval side of the join is a benchmark — tiny at any corpus scale —
    * so it broadcasts and the training corpus NEVER shuffles its shingles:
    * explode → broadcast-hash semi-join on an 8-byte md5-derived hash →
    * per-doc partial count. Trigram hashes use [[graft.functions
    * .VectorFunctions.md5Long]] (q29's construction) so the DuckDB oracle
    * rebuilds them bit-for-bit; "eval" here is the deterministic 1% slice
    * doc_id % 100 == 0. */
  val q78Decontamination: QueryDef = QueryDef(
    "q78_decontamination",
    (s, dir) => {
      // md5 once per shingle (md5Long would digest twice), hex → int64 in a
      // second transform; the frame is checkpointed because BOTH the eval
      // and train sides consume it — without these the md5 pass runs twice
      // over doubled digests (measured 8.7 s → 1.7 s at sf0.1, same output)
      val withTris = Tables(s, dir).documents
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .withColumn("tris", array_distinct(transform(
          transform(
            expr("transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"),
            t => md5(t)),
          h => shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
            .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long")))))
        .select(col("doc_id"), col("tris"))
        .localCheckpoint()
      val evalSet = withTris.filter(col("doc_id") % 100 === 0)
        .select(explode(col("tris")).as("h")).distinct()
      val train = withTris.filter(col("doc_id") % 100 =!= 0)
        .select(col("doc_id"), size(col("tris")).cast("long").as("n_shingles"),
                explode(col("tris")).as("h"))
      train.join(broadcast(evalSet), Seq("h"))
        .groupBy(col("doc_id"), col("n_shingles"))
        // tris are distinct per doc, so plain count = distinct hit count
        .agg(count(lit(1)).as("n_hit"))
        .withColumn("contam_ratio", col("n_hit").cast("double") / col("n_shingles"))
        .select(col("doc_id"), col("n_shingles"), col("n_hit"), col("contam_ratio"))
    },
    Some("""WITH t AS (
        SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks FROM documents),
      g AS (
        SELECT doc_id, list_distinct(list_transform(range(0, len(toks) - 2),
          i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS tris
        FROM t WHERE len(toks) >= 3),
      u AS (SELECT doc_id, len(tris) AS n_shingles, UNNEST(tris) AS s FROM g),
      hh AS (
        SELECT doc_id, n_shingles,
          (('0x' || substr(md5(s), 1, 8))::BIGINT
             - CASE WHEN ('0x' || substr(md5(s), 1, 8))::BIGINT >= 2147483648
                    THEN 4294967296 ELSE 0 END) * 4294967296
          + ('0x' || substr(md5(s), 9, 8))::BIGINT AS h
        FROM u),
      ev AS (SELECT DISTINCT h FROM hh WHERE doc_id % 100 = 0),
      tr AS (SELECT * FROM hh WHERE doc_id % 100 <> 0)
      SELECT tr.doc_id, tr.n_shingles, COUNT(*) AS n_hit,
        CAST(COUNT(*) AS DOUBLE) / tr.n_shingles AS contam_ratio
      FROM tr JOIN ev USING (h)
      GROUP BY 1, 2"""))

  /** Near-dup CLUSTER resolution — the step after pair generation that
    * "keep the smallest id per pair" cannot express: transitively linked
    * docs (A~B, B~C) collapse into one cluster even when A and C never
    * pair directly. Edges are q28's exactly-verified MinHash-LSH pairs;
    * components come from [[GraphOps.connectedComponents]] min-label
    * propagation (O(diameter) rounds, (id, label) shuffles only). Output:
    * every clustered doc with its cluster representative (min doc id in
    * the component) and the cluster size — dedup then keeps rows where
    * doc_id = cluster_id. The DuckDB oracle recomputes the brute-force
    * pair set (≡ q28's output, proven by its own gate) and clusters it
    * with a recursive reachability query. */
  val q79DupClusters: QueryDef = QueryDef(
    "q79_dup_clusters",
    (s, dir) => {
      // localCheckpoint the verified pairs: label propagation re-scans its
      // edge set every round (O(diameter) actions), and without the cut each
      // scan would recompute q28's whole tokenize→shingle→sign→band→verify
      // pipeline from raw text (the q78/q57 shared-stage pattern; at 100 TB
      // this is a persist of the tiny pair set vs re-reading the corpus)
      val pairs = q28MinhashLsh.fn(s, dir).select(col("id_a"), col("id_b"))
        .localCheckpoint()
      val labels = GraphOps.connectedComponents(s, pairs)
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, Seq("label"))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"),
                col("cluster_size"))
    },
    Some("""WITH RECURSIVE t AS (SELECT doc_id,
          regexp_extract_all(lower(text), '\w+') AS toks
        FROM documents),
      s AS (SELECT doc_id,
          list_transform(range(1, len(toks)-1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        FROM t WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
      e AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT src AS id, src AS r FROM e
        UNION
        SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
      cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY 1)
      SELECT id AS doc_id, cluster_id,
        COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cl"""))

  /** Golden-record survivorship (the MDM step after dedup): within each
    * q79 duplicate cluster, elect the canonical record by rule — longest
    * text, ties to the lowest id — and roll the cluster up to one
    * surviving row with merged attributes. One ranking window over the
    * cluster frame plus a broadcast-sized stats agg; the expensive part
    * (clustering) is q79's label propagation, reused as-is.
    */
  val q157GoldenRecord: QueryDef = QueryDef(
    "q157_golden_record",
    (s, dir) => {
      val clustered = q79DupClusters.fn(s, dir)
        .join(Tables(s, dir).documents
                .select(col("doc_id"), col("lang"), col("n_chars")),
              Seq("doc_id"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val survivors = clustered.withColumn("rk", row_number().over(w))
      survivors.groupBy(col("cluster_id"))
        .agg(min(when(col("rk") === 1, col("doc_id"))).as("survivor_id"),
             first(col("cluster_size")).as("cluster_size"),
             sum(col("n_chars")).as("total_chars"),
             countDistinct(col("lang")).as("n_langs"))
    },
    Some("""WITH RECURSIVE t AS (SELECT doc_id,
          regexp_extract_all(lower(text), '\w+') AS toks
        FROM documents),
      s AS (SELECT doc_id,
          list_transform(range(1, len(toks)-1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        FROM t WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
      e AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT src AS id, src AS r FROM e
        UNION
        SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
      cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
      j AS (SELECT cl.id AS doc_id, cl.cluster_id, d.lang, d.n_chars
        FROM cl JOIN documents d ON cl.id = d.doc_id),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
          ORDER BY n_chars DESC, doc_id ASC) AS rk FROM j)
      SELECT cluster_id,
        MIN(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
        COUNT(*) AS cluster_size,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        COUNT(DISTINCT lang) AS n_langs
      FROM rk GROUP BY 1"""))

  /** EXACT similarity self-join at scale via prefix filtering (the
    * AllPairs/PPJoin family, Bayardo et al. WWW'07; Xiao et al. WWW'08) —
    * the deterministic twin of q28: same contract (shingle-Jaccard ≥ 0.5
    * pairs, exact values, same oracle), but completeness holds BY
    * CONSTRUCTION instead of by MinHash recall. Each doc's shingle set
    * ([[shingleSet]], built and checkpointed once: the prefix build and
    * the verify both read it) is ordered rarest-first (ascending document
    * frequency, ties by hash); a pair with Jaccard ≥ t = 1/2 MUST share a
    * shingle within the first |d| − ⌈|d|/2⌉ + 1 of that ordering, so
    * candidates come from an equi-join on PREFIX shingles only — the
    * common shingles that drive the quadratic blowup never join. Two
    * filters ride in the join condition, both integer forms at t = 1/2:
    *  - length: |a|/2 ≤ |b| ≤ 2·|a|;
    *  - position (PPJoin): a pair's FIRST shared shingle, at rank pos_a in
    *    a and pos_b in b, lies in both prefixes and bounds the overlap by
    *    1 + min(|a| − pos_a, |b| − pos_b), while J ≥ 1/2 needs
    *    |A∩B| ≥ (|a| + |b|)/3; a joined row survives only if
    *    3·(1 + min(|a| − pos_a, |b| − pos_b)) ≥ |a| + |b|. Rows on later
    *    shared shingles may fail it — the first one never does, so no
    *    true pair is lost (sf0.1: 329k joined rows → 132k).
    * Candidates go straight to the shared merge-count verify
    * [[verifyHalfJaccard]] and only the verified rows are deduplicated:
    * the positional filter leaves few duplicate rows (132k rows for 125k
    * pairs at sf0.1), so this costs ~5% extra merge counts and saves a
    * shuffle of every candidate, and the CPU-heavy verify runs in a map
    * stage on every core instead of in the result stage. Shingles (not
    * tokens): this corpus's docs share most of their VOCABULARY
    * (token-Jaccard ≥ 0.5 for 74% of all pairs — inherently quadratic
    * output), while 3-token shingles separate true near-dups from
    * template overlap. At 100 TB: df is a count over the h-partitioned
    * (doc, h) rows, prefixes
    * shrink the join to rare shingles, the verify touches candidates only
    * — no quadratic stage (PlanGuard-checked), no probabilistic recall
    * argument needed.
    */
  val q109PrefixFilterJoin: QueryDef = QueryDef(
    "q109_prefix_filter_join",
    (s, dir) => {
      val n = s.sparkContext.defaultParallelism
      val sets = Tables(s, dir).documents
        .repartition(n, col("doc_id"))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), shingleSet(col("toks")).as("shd"))
        .select(col("doc_id"), col("shd"), size(col("shd")).as("sz"))
        .localCheckpoint() // shared by prefix build AND verify — one shingle pass
      // document frequency as a count window over h-partitions: the
      // (doc, h) rows shuffle once by h, with no df hash-agg to broadcast
      // and join back
      val sh = sets.select(col("doc_id"), explode(col("shd")).as("h"), col("sz"))
        .repartition(n, col("h"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      // (r16 examined: a collect_list + sort_array + slice prefix build
      // measured SLOWER than this window — 2.65 → 4.12 s dedicated — the
      // object-agg buffers and interpreted array sort cost more than the
      // window's sort at every scale tested; kept the window.)
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("df").asc, col("h").asc)
      // prefix length |d| − ⌈|d|/2⌉ + 1 = ⌊|d|/2⌋ + 1. Both windows sit on
      // explicit repartitions (AQE would coalesce their shuffles to 1-2
      // partitions, idling cores), and the prefix is checkpointed: both
      // sides of the self-join read it, and without the cut the verify is
      // planned into the result stage (measured 2.4 s vs 1.5 s at sf0.1)
      val prefix = sh.repartition(n, col("doc_id"))
        .withColumn("pos", row_number().over(wDoc))
        .filter(col("pos") <= floor(col("sz") / 2) + 1)
        .select(col("h"), col("doc_id"), col("sz"), col("pos"))
        .localCheckpoint()
      val cand = prefix.as("a")
        .join(prefix.as("b"),
          col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("b.sz") <= col("a.sz") * 2 &&
            col("a.sz") <= col("b.sz") * 2 &&
            (least(col("a.sz") - col("a.pos"), col("b.sz") - col("b.pos")) + 1) * 3 >=
              col("a.sz") + col("b.sz"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      verifyHalfJaccard(cand, sets).distinct()
    },
    // same brute-force oracle contract as q28: the shingle string ↔
    // xxhash64 triple map is bijective modulo 64-bit collisions
    Some("""WITH t AS (SELECT doc_id,
          regexp_extract_all(lower(text), '\w+') AS toks
        FROM documents),
      s AS (SELECT doc_id,
          list_transform(range(1, len(toks)-1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        FROM t WHERE len(toks) >= 3)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) AS jac
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5"""))

  /** Sorted-neighborhood near-dup detection (SNM, the record-linkage
    * classic): block by (lang, 16-char normalized prefix), sort each
    * block, and Jaccard-compare each document ONLY to its predecessor —
    * a lag window instead of a pair join, so the compare count is
    * exactly n−(#blocks) however large the corpus. Complements
    * MinHash-LSH (q28): SNM catches prefix-aligned template families at
    * one compare per row; LSH catches arbitrary-offset overlap. Blocks
    * parallelize the window (no global sort), the fixture's templated
    * docs cluster under shared prefixes by construction.
    */
  val q135SortedNeighborhood: QueryDef = QueryDef(
    "q135_sorted_neighborhood",
    (s, dir) => {
      val t = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"),
          lower(col("text")).as("ntext"),
          array_distinct(TextOps.tokens(col("text"))).as("toks"))
        .withColumn("blk", substring(col("ntext"), 1, 16))
      val w = Window.partitionBy(col("lang"), col("blk"))
        .orderBy(col("ntext").asc, col("doc_id").asc)
      t.withColumn("prev_id", lag(col("doc_id"), 1).over(w))
        .withColumn("prev_toks", lag(col("toks"), 1).over(w))
        .filter(col("prev_id").isNotNull)
        .withColumn("jac",
          size(array_intersect(col("toks"), col("prev_toks"))).cast("double") /
            size(array_union(col("toks"), col("prev_toks"))))
        .filter(col("jac") >= 0.5)
        .select(col("prev_id").as("id_a"), col("doc_id").as("id_b"),
                col("jac"))
    },
    Some("""WITH t AS (SELECT doc_id, lang, lower(text) AS ntext,
            list_distinct(regexp_extract_all(lower(text), '\w+')) AS toks,
            substr(lower(text), 1, 16) AS blk
          FROM documents),
        n AS (SELECT doc_id, toks,
            LAG(doc_id) OVER w AS prev_id,
            LAG(toks) OVER w AS prev_toks
          FROM t
          WINDOW w AS (PARTITION BY lang, blk ORDER BY ntext, doc_id))
      SELECT prev_id AS id_a, doc_id AS id_b,
        CAST(len(list_intersect(toks, prev_toks)) AS DOUBLE)
          / len(list_distinct(list_concat(toks, prev_toks))) AS jac
      FROM n WHERE prev_id IS NOT NULL
        AND CAST(len(list_intersect(toks, prev_toks)) AS DOUBLE)
          / len(list_distinct(list_concat(toks, prev_toks))) >= 0.5"""))

  /** SimHash Hamming-neighbor join (Manku et al.'s multi-index trick,
    * completing q29's signature computation with the SEARCH): split each
    * 64-bit signature into 4×16-bit bands — any pair within Hamming
    * distance 3 must agree on at least one band (3 flipped bits touch at
    * most 3 of the 4) — so candidates come from four band EQUI-joins and
    * the exact `bit_count(xor)` verify runs per candidate only. Recall
    * is 1.0 by the pigeonhole argument, which is why the brute-force
    * DuckDB pair set is a valid oracle. The banded self-join is the
    * 100 TB plan; the signatures are 8 bytes per doc.
    */
  val q151SimhashNeighbors: QueryDef = QueryDef(
    "q151_simhash_neighbors",
    (s, dir) => {
      val sigs = q29Simhash.fn(s, dir).localCheckpoint() // one signature pass
      val bands = sigs.selectExpr("doc_id", "sig",
        "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) AS (band_id, band_val)")
      val cand = bands.as("a")
        .join(bands.as("b"),
          col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
                col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
        .distinct()
      cand
        .withColumn("hamming",
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
        .filter(col("hamming") <= 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '\w+')) AS t
        FROM documents),
      hashes AS (
        SELECT doc_id,
          (h_hi - CASE WHEN h_hi >= 2147483648 THEN 4294967296 ELSE 0 END)
            * 4294967296 + h_lo AS h
        FROM (SELECT doc_id,
                ('0x' || substr(md5(t), 1, 8))::BIGINT AS h_hi,
                ('0x' || substr(md5(t), 9, 8))::BIGINT AS h_lo
              FROM toks)),
      votes AS (
        SELECT doc_id, b, SUM(((h >> b) & 1) * 2 - 1) > 0 AS bit
        FROM hashes CROSS JOIN range(0, 64) r(b)
        GROUP BY 1, 2),
      sigs AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN bit AND b < 63 THEN (1::BIGINT << b) ELSE 0 END)
            + CASE WHEN bool_or(bit AND b = 63)
                   THEN -9223372036854775808 ELSE 0 END AS BIGINT) AS sig
        FROM votes GROUP BY 1)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3"""))

  val all: Seq[QueryDef] = Seq(q26ExactDedup, q27NgramJaccard, q28MinhashLsh, q29Simhash,
    q135SortedNeighborhood, q151SimhashNeighbors,
    q78Decontamination, q79DupClusters, q109PrefixFilterJoin, q157GoldenRecord)
}
