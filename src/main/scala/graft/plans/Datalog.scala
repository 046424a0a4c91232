package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform

/** A minimal datalog engine compiled to DataFrame plans — the
  * query-language-diversity analog of the reference's second declarative
  * backend (store/datomic.clj:89-133 expresses dependents / readiness /
  * liveness as datalog rules; here the SAME rule shapes evaluate against
  * ANY DataFrame relations, so the rule surface runs distributed on
  * Spark instead of against a fact store).
  *
  * Supported: conjunctive rule bodies over positional relations,
  * constants and repeated variables in atoms, comparison guards
  * (<, <=, >, >=, =, !=), STRATIFIED negation (`not` body atoms), and
  * recursion — including the reference's NON-LINEAR doubling form of
  * transitive closure, which semi-naive evaluation turns into
  * O(log diameter) rounds (the GraphOps hop-doubling discipline, derived
  * here from the rule shape instead of hand-written).
  *
  * Evaluation is textbook stratified semi-naive:
  *  - strata: every IDB relation gets the smallest stratum such that
  *    positive same-stratum recursion is allowed and negated
  *    dependencies are STRICTLY lower; a negation cycle fails loudly.
  *  - within a stratum: non-recursive contributions seed the relations,
  *    then rounds fire each rule once per recursive-atom position with
  *    that position bound to the last DELTA and the rest to the full
  *    relation — new facts are anti-joined against the accumulated set,
  *    so work per round is proportional to what is NEW, not to what is
  *    known (the property that makes fixpoints survive 100 TB closures).
  *  - every round localCheckpoints the DELTA (lazily — the convergence
  *    probe's count() is the materializing action, so the round costs one
  *    job per changed head, not three); the accumulated frame is a union
  *    of those checkpointed deltas, compacted every few rounds. Without
  *    checkpointing, Catalyst analysis of the growing self-referential
  *    plan goes exponential (the q21 lesson, SURVEY §5).
  *
  * Relations are POSITIONAL (columns _p0.._pN), matching datalog's
  * tuple view; atoms bind positions to variables, which become join
  * keys by NAME — exactly Datomic's unification semantics, compiled to
  * hash equi-joins + left-anti joins that Catalyst plans like any other.
  */
object Datalog {

  /** One monitor per SparkSession guarding the recursive-stratum conf
    * clamp (see run()). Weak keys: a stopped session's monitor must not
    * pin the session in memory. */
  private val clampMonitors =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, AnyRef]()
  private def clampMonitor(s: org.apache.spark.sql.SparkSession): AnyRef =
    clampMonitors.synchronized {
      val m = clampMonitors.get(s)
      if (m != null) m
      else { val n = new AnyRef; clampMonitors.put(s, n); n }
    }

  /** Total order on UnsafeRow bytes (size first, then 8-byte chunks —
    * rows are 8-byte padded): consistent with UnsafeRow.equals, which is
    * all the solution-set sort-merge needs; the order itself carries no
    * meaning. */
  private[plans] def compareRows(a: UnsafeRow, b: UnsafeRow): Int = {
    val la = a.getSizeInBytes
    val lb = b.getSizeInBytes
    if (la != lb) return Integer.compare(la, lb)
    val ao = a.getBaseObject; val aof = a.getBaseOffset
    val bo = b.getBaseObject; val bof = b.getBaseOffset
    var i = 0
    while (i < la) {
      val va = Platform.getLong(ao, aof + i)
      val vb = Platform.getLong(bo, bof + i)
      if (va != vb) return java.lang.Long.compare(va, vb)
      i += 8
    }
    0
  }

  /** A partition-local sorted run of UnsafeRow payloads held as TWO
    * primitive arrays (packed bytes + entry offsets). This is what the
    * recursive solution set is made of: a 2.5M-row partition slice is 2
    * heap objects totalling ~entry bytes — the block manager accounts
    * it at its true byte size (an object-per-row structure was
    * size-estimated at ~4× and the old+new coexistence during a round's
    * merge blew the storage pool, serialization-evicting live blocks
    * every round on the 100× leg), the collector scans it in O(1), a
    * spill is a bulk write, and a merge is memcpy-speed appendRange
    * calls. Entries are UnsafeRow bytes (8-byte padded), kept in
    * compareRows order. 2 GB per partition slice bounds an arena —
    * ~80M two-long tuples; the width formula keeps slices ~500k rows. */
  private[plans] final class Arena(val bytes: Array[Byte],
                                   val offs: Array[Int]) extends Serializable {
    def count: Int = offs.length - 1
    def len(i: Int): Int = offs(i + 1) - offs(i)
  }
  private[plans] object Arena {
    val empty = new Arena(Array.emptyByteArray, Array(0))
  }

  private[plans] final class ArenaBuilder(byteHint: Int, entryHint: Int) {
    private var bs = new Array[Byte](math.max(64, byteHint))
    private var os = new Array[Int](math.max(16, entryHint + 1))
    private var nEntries = 0
    private var nBytes = 0
    private def ensureBytes(extra: Int): Unit =
      if (nBytes.toLong + extra > bs.length) {
        var cap = math.max(bs.length.toLong * 2, 64L)
        while (cap < nBytes.toLong + extra) cap *= 2
        require(cap <= Int.MaxValue - 16,
          "arena partition slice exceeds 2 GB — raise the fixpoint hash width")
        bs = java.util.Arrays.copyOf(bs, cap.toInt)
      }
    private def ensureEntries(extra: Int): Unit =
      if (nEntries + extra + 1 > os.length)
        os = java.util.Arrays.copyOf(os,
          math.max(os.length * 2, nEntries + extra + 2))
    def appendRow(u: UnsafeRow): Unit = {
      val l = u.getSizeInBytes
      ensureBytes(l); ensureEntries(1)
      Platform.copyMemory(u.getBaseObject, u.getBaseOffset,
        bs, Platform.BYTE_ARRAY_OFFSET + nBytes, l)
      nBytes += l; nEntries += 1; os(nEntries) = nBytes
    }
    /** Bulk-copy entries [from, to) of `a` — one arraycopy for the bytes. */
    def appendRange(a: Arena, from: Int, to: Int): Unit = if (to > from) {
      val bFrom = a.offs(from); val l = a.offs(to) - bFrom
      ensureBytes(l); ensureEntries(to - from)
      System.arraycopy(a.bytes, bFrom, bs, nBytes, l)
      val shift = nBytes - bFrom
      var i = from + 1
      while (i <= to) { nEntries += 1; os(nEntries) = a.offs(i) + shift; i += 1 }
      nBytes += l
    }
    def result(): Arena = new Arena(
      java.util.Arrays.copyOf(bs, nBytes),
      java.util.Arrays.copyOf(os, nEntries + 1))
  }

  /** compareRows order between arena entry `i` and an UnsafeRow. */
  private[plans] def compareEntry(a: Arena, i: Int, u: UnsafeRow): Int = {
    val off = a.offs(i); val la = a.offs(i + 1) - off
    val lb = u.getSizeInBytes
    if (la != lb) return Integer.compare(la, lb)
    val bo = u.getBaseObject; val bof = u.getBaseOffset
    var p = 0
    while (p < la) {
      val va = Platform.getLong(a.bytes, Platform.BYTE_ARRAY_OFFSET + off + p)
      val vb = Platform.getLong(bo, bof + p)
      if (va != vb) return java.lang.Long.compare(va, vb)
      p += 8
    }
    0
  }

  /** The round merge of every head kind. `old` is a partition's state:
    * keys sorted in compareRows order and rows in matching entry order —
    * ONE arena in both slots unless `keyed` (a set head's key is its
    * whole row, so its memory stays one copy). `cand` holds the round's
    * (key, row) candidates; one walk against the sorted candidates skips
    * adjacent duplicate keys, copies each unchanged run of `old` with one
    * appendRange, lands a new key's candidate as is, and on a key match
    * stores `combine(old row, candidate)`, or keeps the old row when
    * that is null. Whatever a candidate changes is novel, and the novel
    * arena holds the CANDIDATE itself (a sum head's contribution, not its
    * new total). A round with no novel rows returns `old` untouched:
    * published arenas are never mutated, so a task retry or speculative
    * re-run replays against the same base and emits the same novel rows. */
  private[plans] def mergeWalk(
      old: (Arena, Arena), keyed: Boolean,
      cand: Array[(UnsafeRow, UnsafeRow)], numFields: Int,
      combine: (UnsafeRow, UnsafeRow) => UnsafeRow): ((Arena, Arena), Arena) =
    if (cand.isEmpty) (old, Arena.empty)
    else {
      val (okeys, orows) = old
      java.util.Arrays.sort(cand, ((p, q) => compareRows(p._1, q._1)):
        java.util.Comparator[(UnsafeRow, UnsafeRow)])
      val mk = new ArenaBuilder(okeys.bytes.length + 32 * cand.length,
        okeys.count + cand.length)
      val mr = if (!keyed) mk else new ArenaBuilder(
        orows.bytes.length + 32 * cand.length, okeys.count + cand.length)
      val nov = new ArenaBuilder(1024, 64)
      val cursor = new UnsafeRow(numFields)
      def keep(from: Int, to: Int): Unit = {
        mk.appendRange(okeys, from, to)
        if (keyed) mr.appendRange(orows, from, to)
      }
      var i = 0; var lo = 0; var j = 0
      while (j < cand.length) {
        val (k, r) = cand(j)
        if (j == 0 || compareRows(k, cand(j - 1)._1) != 0) {
          var cmp = 1
          while (i < okeys.count && { cmp = compareEntry(okeys, i, k); cmp < 0 })
            i += 1
          keep(lo, i) // unchanged run, one memcpy
          val hit = i < okeys.count && cmp == 0
          val out =
            if (!hit) r
            else {
              cursor.pointTo(orows.bytes,
                Platform.BYTE_ARRAY_OFFSET + orows.offs(i), orows.len(i))
              combine(cursor, r)
            }
          if (out == null) keep(i, i + 1)
          else { mk.appendRow(k); if (keyed) mr.appendRow(out); nov.appendRow(r) }
          if (hit) i += 1
          lo = i
        }
        j += 1
      }
      keep(lo, okeys.count)
      val novA = nov.result()
      if (novA.count == 0) (old, novA)
      else {
        val ks = mk.result()
        ((ks, if (keyed) mr.result() else ks), novA)
      }
    }

  /** Scan an arena as InternalRows through ONE reused cursor (the
    * standard Spark row-iterator contract: valid until next()). */
  private[plans] def arenaRows(a: Arena, numFields: Int)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private val row = new UnsafeRow(numFields)
      private var i = 0
      def hasNext: Boolean = i < a.count
      def next(): org.apache.spark.sql.catalyst.InternalRow = {
        row.pointTo(a.bytes, Platform.BYTE_ARRAY_OFFSET + a.offs(i), a.len(i))
        i += 1
        row
      }
    }

  sealed trait Term
  final case class V(name: String) extends Term
  final case class C(value: Any) extends Term

  /** One atom: `rel(terms...)`; `negated` only legal in bodies. */
  final case class Atom(rel: String, terms: Seq[Term],
                        negated: Boolean = false)

  /** Comparison guard over bound variables/constants. */
  final case class Guard(op: String, left: Term, right: Term)

  /** Computed binding: after the body joins, bind `name` to the SQL
    * expression `sqlExpr` over the bound variables (the arithmetic
    * datalog needs for semiring recursion — e.g. `nd = d + w`). The
    * name must be fresh (no collision with any variable in the rule). */
  final case class Let(name: String, sqlExpr: String)

  /** Aggregate head (semiring recursion): the head term at position
    * `at` is FOLDED with `op` grouped by the remaining head terms.
    *
    * "min" | "max" — the relation is a map key→value where a fact is
    * subsumed by a better-valued fact for the same key. Both are
    * idempotent, commutative, associative AND monotone under the
    * improvement order, so semi-naive evaluation with improvement-only
    * deltas reaches the same fixpoint as naive evaluation (Ross &
    * Sagiv 1992's monotonic aggregation; exactly the Flink
    * delta-iteration / SsspOps loop, derived from the rule).
    *
    * "sum" (r15) — COUNTING/BAG semantics: the value accumulates by
    * addition and each round's delta carries the round's CONTRIBUTIONS
    * (not the accumulated totals), so a recursive consumer propagates
    * increments. Sound because with LINEAR recursion every derivation
    * tree is enumerated exactly once, at the round equal to its depth
    * — the differential/bag form of semi-naive, specialised to the
    * (ℕ, +) monoid. The engine REFUSES the unsound shapes loudly:
    * non-linear counting rules (a delta×delta firing would need
    * inclusion–exclusion), strata mixing sum-fold heads with other
    * recursive heads, non-integral value columns (cross-engine sum
    * exactness), and non-convergence within the round cap (a cycle
    * reaching the counted region has infinitely many paths — the sum
    * semiring has no fixpoint there, so failing IS the right answer).
    *
    * Every rule for a folded head must declare the same Fold; the
    * value column must be integral (min/max also allow double) and the
    * head needs at least one key term. */
  final case class Fold(op: String, at: Int) {
    require(op == "min" || op == "max" || op == "sum",
      s"fold op $op (min|max|sum only)")
  }

  final case class Rule(head: Atom, body: Seq[Atom],
                        guards: Seq[Guard] = Nil,
                        lets: Seq[Let] = Nil,
                        fold: Option[Fold] = None)

  final case class Program(rules: Seq[Rule]) {

    private val idb: Set[String] = rules.map(_.head.rel).toSet

    /** Fold per folded head rel; every rule for a head must agree. */
    private val foldSpec: Map[String, Fold] = {
      val byHead = rules.groupBy(_.head.rel)
      byHead.flatMap { case (rel, rs) =>
        val fs = rs.map(_.fold).distinct
        require(fs.size == 1,
          s"$rel: every rule for a head must declare the same fold (got $fs)")
        fs.head.foreach { f =>
          val arity = rs.head.head.terms.length
          require(f.at >= 0 && f.at < arity, s"$rel: fold.at ${f.at} out of arity $arity")
          require(arity >= 2, s"$rel: a folded head needs at least one key term")
          require(rs.forall(_.head.terms(f.at).isInstanceOf[V]),
            s"$rel: the folded head term must be a variable")
        }
        fs.head.map(rel -> _)
      }
    }
    rules.foreach { r =>
      // a let must be FRESH w.r.t. the body's variables (the head
      // naming it is the point — that is how the computed value flows
      // out); colliding with a body var would silently shadow a join key
      val bodyVars = r.body.flatMap(_.terms).collect { case V(n) => n }.toSet
      r.lets.foreach(l => require(!bodyVars.contains(l.name),
        s"rule for ${r.head.rel}: let ${l.name} collides with a body variable"))
    }

    /** Stratum per IDB relation (Ullman's iterated assignment).
      * Fails on recursion through negation. */
    private[plans] def strata: Map[String, Int] = {
      var s = idb.map(_ -> 0).toMap
      var changed = true
      var guard = 0
      while (changed) {
        changed = false
        guard += 1
        require(guard <= idb.size * idb.size + 2,
          "negation cycle: program is not stratifiable")
        rules.foreach { r =>
          val h = r.head.rel
          r.body.filter(a => idb.contains(a.rel)).foreach { a =>
            val need = if (a.negated) s(a.rel) + 1 else s(a.rel)
            if (s(h) < need) { s = s.updated(h, need); changed = true }
          }
        }
      }
      s
    }

    /** Bind one atom against its relation frame: constants filter,
      * repeated variables unify, output = one column per variable. */
    private def bind(df: DataFrame, atom: Atom): DataFrame = {
      require(df.columns.length == atom.terms.length,
        s"${atom.rel}: arity ${atom.terms.length} vs ${df.columns.length}")
      var out = df.toDF(df.columns.indices.map(i => s"_p$i"): _*)
      atom.terms.zipWithIndex.foreach {
        case (C(v), i) => out = out.filter(col(s"_p$i") === lit(v))
        case _         => ()
      }
      val varPos = atom.terms.zipWithIndex.collect { case (V(n), i) => (n, i) }
      varPos.groupBy(_._1).valuesIterator.filter(_.size > 1).foreach { ps =>
        ps.map(_._2).sliding(2).foreach { w =>
          out = out.filter(col(s"_p${w(0)}") === col(s"_p${w(1)}"))
        }
      }
      val proj = varPos.map(_._1).distinct.map { n =>
        col(s"_p${varPos.find(_._1 == n).get._2}").as(n)
      }
      out.select(proj: _*)
    }

    private def guardCol(vars: Set[String], g: Guard): Column = {
      def side(t: Term): Column = t match {
        case V(n) => require(vars.contains(n), s"guard on unbound var $n")
          col(n)
        case C(v) => lit(v)
      }
      val (l, r) = (side(g.left), side(g.right))
      g.op match {
        case "<" => l < r;   case "<=" => l <= r
        case ">" => l > r;   case ">=" => l >= r
        case "=" => l === r; case "!="  => l =!= r
        case other => throw new IllegalArgumentException(s"guard op $other")
      }
    }

    /** Evaluate one rule with positive IDB atom number `deltaPos`
      * (index into the rule's positive same-stratum atoms) bound to the
      * delta frame; -1 = all full (non-recursive firing). */
    private def fire(rule: Rule, rels: Map[String, DataFrame],
                     recursive: Set[String], deltaPos: Int,
                     delta: Map[String, DataFrame]): DataFrame = {
      val positives = rule.body.filterNot(_.negated)
      var recSeen = -1
      var acc: DataFrame = null
      positives.foreach { a =>
        val isRec = recursive.contains(a.rel)
        if (isRec) recSeen += 1
        val src = if (isRec && recSeen == deltaPos) delta(a.rel)
                  else rels(a.rel)
        val f = bind(src, a)
        acc =
          if (acc == null) f
          else {
            val shared = acc.columns.intersect(f.columns).toSeq
            require(shared.nonEmpty,
              s"rule for ${rule.head.rel}: cartesian body (no shared vars)")
            acc.join(f, shared)
          }
      }
      // computed bindings: fresh names over the bound vars, visible to
      // guards and the head projection
      rule.lets.foreach { l =>
        require(!acc.columns.contains(l.name),
          s"rule for ${rule.head.rel}: let ${l.name} shadows a bound var")
        acc = acc.withColumn(l.name, expr(l.sqlExpr))
      }
      val bound = acc.columns.toSet
      rule.guards.foreach { g => acc = acc.filter(guardCol(bound, g)) }
      rule.body.filter(_.negated).foreach { a =>
        val f = bind(rels(a.rel), a)
        val shared = acc.columns.intersect(f.columns).toSeq
        require(shared.nonEmpty,
          s"rule for ${rule.head.rel}: unsafe negation (no shared vars)")
        acc = acc.join(f.select(shared.map(col): _*).distinct(),
          shared, "left_anti")
      }
      val proj = rule.head.terms.zipWithIndex.map {
        case (V(n), i) =>
          require(bound.contains(n), s"head var $n unbound"); col(n).as(s"_p$i")
        case (C(v), i) => lit(v).as(s"_p$i")
      }
      // RAW projection — the caller dedups ONCE per head per round (one
      // distinct + one anti-join instead of one per firing)
      acc.select(proj: _*)
    }

    /** Reduce a folded head's candidates to one row per key —
      * groupBy(keys).agg(min|max|sum(value)), columns restored to
      * ordinal order. Sum folds additionally drop zero contributions
      * (the semiring's absorbing zero — identity under +, so dropping is
      * sound and keeps empty rounds empty). */
    private def reduceFold(df: DataFrame, f: Fold): DataFrame = {
      val cols = df.columns.sortBy(_.drop(2).toInt).toSeq
      val valCol = s"_p${f.at}"
      val keyCols = cols.filterNot(_ == valCol)
      val agg = f.op match {
        case "min" => min(col(valCol))
        case "max" => max(col(valCol))
        case "sum" => sum(col(valCol)).cast(df.schema(valCol).dataType)
      }
      val reduced = df.groupBy(keyCols.map(col): _*).agg(agg.as(valCol))
        .select(cols.map(col): _*)
      if (f.op == "sum") reduced.filter(col(valCol) =!= 0) else reduced
    }

    /** Run the program over extensional relations `edb`; returns the
      * fixpoint of `target` (positional columns _p0.._pN).
      *
      * `materializeSeeds = false` skips the per-stratum seed checkpoint so
      * the full compiled plan stays visible to Catalyst — ONLY sound for
      * non-recursive programs (plan-shape introspection, tiny inputs);
      * recursive strata always checkpoint their deltas regardless. */
    def run(edb: Map[String, DataFrame], target: String,
            materializeSeeds: Boolean = true): DataFrame = {
      require(idb.contains(target) || edb.contains(target),
        s"unknown relation $target")
      val layer = strata
      var rels: Map[String, DataFrame] = edb
      layer.values.toSeq.distinct.sorted.foreach { st =>
        val stratumRels = idb.filter(layer(_) == st)
        val stratumRules = rules.filter(r => stratumRels.contains(r.head.rel))
        val recursive = stratumRels.filter { rel =>
          stratumRules.exists(_.body.exists(a => !a.negated && a.rel == rel))
        }
        // sum-fold (counting) soundness gates — refuse loudly, never
        // silently mis-count (see Fold's scaladoc for the argument)
        val sumHeads = stratumRules
          .filter(_.fold.exists(_.op == "sum")).map(_.head.rel).toSet
        if (sumHeads.nonEmpty && recursive.nonEmpty) {
          require(recursive.subsetOf(sumHeads),
            s"stratum mixes sum-fold counting heads ($sumHeads) with other " +
              s"recursive heads (${recursive -- sumHeads}) — bag and " +
              "set/min semantics cannot share one fixpoint soundly; " +
              "split the strata or fold the others")
          stratumRules.filter(r => sumHeads.contains(r.head.rel)).foreach { r =>
            val nRec = r.body.count(a => !a.negated && recursive.contains(a.rel))
            require(nRec <= 1,
              s"rule for ${r.head.rel}: non-linear counting recursion " +
                s"($nRec recursive atoms) — delta×delta firings double-count " +
                "derivations (inclusion–exclusion territory); counting heads " +
                "must be LINEAR")
          }
        }
        // ——— the fixpoint driver (Flink delta-iteration discipline) ———
        //
        // The accumulated relation ("solution set") is NEVER re-shuffled
        // or re-materialized: it lives as the Vector of per-round DELTA
        // legs, each localCheckpointed at one FIXED hash width N on the
        // tuple columns. checkpoint preserves outputPartitioning, so the
        // per-round novelty check — the new facts anti-joined leg by leg
        // — is exchange-free: both sides are co-partitioned, and the
        // shuffle_hash hint makes each probe a partition-local hash
        // build of one delta-sized leg. Per-round shuffle volume is
        // therefore ∝ NEW facts only (the distinct), while the solution
        // set costs local probes — the r12 shape re-shuffled the whole
        // closure every round, which went superlinear at the 100× leg
        // (429 s at 64 g, OOM at 32 g; this shape measured 340 s — the
        // remaining per-round cost is the partition-LOCAL leg probes,
        // CPU not network; BASELINE.md has the full ledger).
        //
        // Rounds plan STATICALLY (AQE off, restored after): round
        // queries are short and fixed-shape, and adaptive replanning
        // measured ~0.25 s/round of pure latency — while AQE's runtime
        // coalescing would also break the fixed-width co-partitioning
        // this whole design rests on. N is sized once from the EDB
        // relations the recursive rules read (≈ expansion 16 ×
        // edb / 500k rows per partition, floor 4, cap 4096), so leg
        // hash maps stay bounded at any closure size.
        // a program can derive facts purely from constant rules (empty
        // EDB map) — fall back to the active session instead of NPE-ing
        // on an empty relation map
        val spark = rels.values.headOption.map(_.sparkSession)
          .getOrElse(org.apache.spark.sql.SparkSession.active)
        val isRec = recursive.nonEmpty
        // Recursive strata clamp SESSION-GLOBAL SQL confs for the
        // duration of the fixpoint. Conf writes are visible to every
        // query on the session, so two interleaved clamped sections
        // would each save the other's clamp as "previous" and leave the
        // session clamped after both restore — the clamp is therefore
        // serialized on a per-session monitor. JVM monitors are
        // reentrant, so a nested run() on the same thread composes: the
        // inner save/restore round-trips back to the outer clamp and the
        // outermost restores the true originals. Residual (documented):
        // queries fired on the same session from OTHER threads while a
        // fixpoint is in flight plan under the clamp — single-writer-
        // session semantics.
        def withClamp[T](body: => T): T =
          if (!isRec) body
          else clampMonitor(spark).synchronized {
            val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
            val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            val edbRefs = stratumRules
              .flatMap(_.body.filterNot(_.negated).map(_.rel))
              .distinct.filterNot(idb.contains).filter(rels.contains)
            val edbRows = edbRefs.map(rels(_).count()).sum
            val n = math.min(4096L, math.max(4L, edbRows * 16 / 500000L))
            spark.conf.set("spark.sql.shuffle.partitions", n.toString)
            try body
            finally {
              spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
              spark.conf.set("spark.sql.shuffle.partitions", prevParts)
            }
          }
        var full = Map.empty[String, DataFrame]
        withClamp {
          // seed: fire every rule with recursive atoms bound to EMPTY —
          // i.e. only firings that need no same-stratum fact yet
          var seeds = Map.empty[String, Seq[DataFrame]]
          stratumRules.foreach { r =>
            val usesRec = r.body.exists(a =>
              !a.negated && recursive.contains(a.rel))
            if (!usesRec) {
              val f = fire(r, rels, Set.empty, -1, Map.empty)
              seeds = seeds.updated(r.head.rel,
                seeds.getOrElse(r.head.rel, Nil) :+ f)
            }
          }
          if (!isRec) {
            full = seeds.map { case (k, fs) =>
              val unioned = fs.reduceLeft(_.unionByName(_))
              val merged = foldSpec.get(k) match {
                case Some(f) => reduceFold(unioned, f) // one best per key
                case None    => unioned.distinct()
              }
              k -> (if (materializeSeeds) merged.localCheckpoint() else merged)
            }
          } else {
            // ——— the in-place partitioned solution set (r14) ———
            //
            // Per head, the solution set is ONE cached RDD holding, per
            // partition, (hash set of every known fact, the facts that
            // were NEW in the latest round) — partitions laid out by
            // HashPartitioning(all tuple columns, N) so each round's
            // candidates land on the partition that owns their identity.
            // The per-round novelty check, dedup AND merge are a single
            // zipPartitions pass: ONE consumer (the set) per task instead
            // of the r13 chain of ≤32 per-leg hash builds, whose
            // simultaneous memory reservations starved the 100× leg at a
            // 32 g driver ("got 0" acquire failures; BASELINE.md ledger).
            // The merged facts flow back to Catalyst through a LogicalRDD
            // bridge that declares the layout the rows physically have,
            // so downstream consumers see an exchange-free scan. The
            // r12→r13 invariants hold: per-round shuffle volume ∝ NEW
            // candidates (the one repartition — the r13 per-round
            // distinct exchange is gone, dedup rides the set insert),
            // the accumulated state is never re-shuffled, and rule
            // evaluation still reads plain DataFrames.
            import org.apache.spark.rdd.RDD
            import org.apache.spark.sql.catalyst.InternalRow
            import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
            import org.apache.spark.sql.graftbridge.ColumnBridge
            import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}
            // Per-partition state: a sorted key arena plus the row arena
            // in matching entry order — one arena in both slots for set
            // heads. Every head kind merges through the one sort-merge
            // walk (mergeWalk above): sort the delta-sized candidates,
            // one linear walk against the standing arena with bulk
            // appendRange copies between insertion points, publish a
            // FRESH arena (or the untouched old one when nothing
            // landed). Chosen after measuring three structures on the
            // 100× leg at 32 g: a java.util.HashSet clone made round
            // cost grow with the CLOSURE (rounds 5/6/7 = 30/56/78 s);
            // an immutable CHAMP trie traded the copy for per-insert
            // node churn that GC-thrashed past ~100M rows (round 8 =
            // 112 s, round 9 = 197 s); object-per-row sorted arrays
            // merged fast but were size-ESTIMATED at ~4× their bytes,
            // so the old+new block coexistence during a round blew the
            // storage pool and serialization-evicted live blocks every
            // round (~100 s/round flat). The arena is accounted at its
            // true byte size, the collector scans 2 objects per slice,
            // and a spill (if ever) is one bulk write.
            type State = (Arena, Arena) // (sorted keys, rows)
            type Pair = (State, Arena)  // (state, the round's novel rows)
            case class Sol(pair: RDD[Pair], schema: StructType)
            var sol = Map.empty[String, Sol]
            var delta = Map.empty[String, DataFrame]
            val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
            def ordinal(cols: Array[String]): Seq[String] =
              cols.sortBy(_.drop(2).toInt).toSeq // _p0.._pN by position

            // one streaming pass per task: gather the partition's
            // candidates, then dedup, novelty/improvement check and merge
            // in the one walk
            def mergeInto(cand: DataFrame, prev: Option[Sol], k: String): Sol = {
              val schema = prev.map(_.schema).getOrElse(
                StructType(cand.schema.fields.map(_.copy(nullable = true))))
              val cols = ordinal(cand.columns)
              val types = schema.fields.map(_.dataType)
              val nf = schema.size
              val fold = foldSpec.get(k)
              val vi = fold.fold(-1)(_.at)
              val keyIdx = cols.indices.filterNot(_ == vi)
              // what a key match stores; null keeps the old row
              val combine: (UnsafeRow, UnsafeRow) => UnsafeRow = fold match {
                case None => (_, _) => null // set head: a known fact
                case Some(f) if f.op == "sum" =>
                  // counting/bag: candidates are the round's per-key
                  // CONTRIBUTIONS (reduceFold pre-summed); a known key
                  // accumulates by addition, and the walk's novel row is
                  // the contribution, so the next round propagates
                  // increments, not totals
                  types(vi) match {
                    case LongType => (o, c) => {
                      val acc = o.copy() // fresh bytes, safe to mutate
                      acc.setLong(vi, o.getLong(vi) + c.getLong(vi)); acc
                    }
                    case IntegerType => (o, c) => {
                      val acc = o.copy()
                      acc.setInt(vi, o.getInt(vi) + c.getInt(vi)); acc
                    }
                    case other => throw new IllegalArgumentException(
                      s"$k: sum-fold value type $other (long/int only — " +
                        "cross-engine sum exactness)")
                  }
                case Some(f) =>
                  val isMin = f.op == "min"
                  val better: (UnsafeRow, UnsafeRow) => Boolean =
                    types(vi) match {
                      case LongType =>
                        if (isMin) (a, b) => a.getLong(vi) < b.getLong(vi)
                        else (a, b) => a.getLong(vi) > b.getLong(vi)
                      case IntegerType =>
                        if (isMin) (a, b) => a.getInt(vi) < b.getInt(vi)
                        else (a, b) => a.getInt(vi) > b.getInt(vi)
                      case DoubleType =>
                        if (isMin) (a, b) => a.getDouble(vi) < b.getDouble(vi)
                        else (a, b) => a.getDouble(vi) > b.getDouble(vi)
                      case other => throw new IllegalArgumentException(
                        s"$k: fold value type $other (long/int/double only)")
                    }
                  (o, c) => if (better(c, o)) c else null
              }
              val absorb = (cIt: Iterator[InternalRow], old: State) => {
                // a folded head is keyed by the row minus its value column
                val keyOf: UnsafeRow => UnsafeRow =
                  if (fold.isEmpty) u => u
                  else {
                    val proj = UnsafeProjection.create(keyIdx
                      .map(i => BoundReference(i, types(i), nullable = true)))
                    u => proj(u).copy()
                  }
                val buf = scala.collection.mutable.ArrayBuffer
                  .empty[(UnsafeRow, UnsafeRow)]
                cIt.foreach { ir =>
                  val u = ir.asInstanceOf[UnsafeRow]
                  if (vi < 0 || !u.isNullAt(vi)) { // SQL agg: nulls fold away
                    val r = u.copy() // exchange iterators reuse buffers
                    buf += ((keyOf(r), r))
                  }
                }
                Iterator(mergeWalk(old, fold.nonEmpty, buf.toArray, nf, combine))
              }
              val empty: State = (Arena.empty, Arena.empty)
              // layout: folded heads pre-reduce per key (one min/max per
              // key per round reaches the merge), then repartition on the
              // keys at width n: EnsureRequirements drops that exchange
              // when the groupBy's own already produced hash(keys, n), and
              // keeps it when the input arrived clustered on the keys at
              // another width (no groupBy exchange then); set heads lay
              // out by the whole tuple. Set-head identity is RAW UnsafeRow
              // bytes, so floating-point columns are canonicalized first
              // (-0.0 → +0.0, any NaN → the canonical NaN) — SQL
              // .distinct() equates these and the byte walk must agree,
              // and the repartition hash must co-locate them. Fold heads
              // need no projection: reduceFold's groupBy normalizes its
              // grouping keys (NormalizeFloatingNumbers) and the value
              // column is compared numerically, not byte-wise.
              val laidOut = fold match {
                case Some(f) => reduceFold(cand, f).repartition(n, keyIdx.map(i => col(cols(i))): _*)
                case None =>
                  import org.apache.spark.sql.types.FloatType
                  val canon = cand.schema.fields.foldLeft(cand) { (df, fld) =>
                    fld.dataType match {
                      case DoubleType => df.withColumn(fld.name,
                        when(isnan(col(fld.name)), lit(Double.NaN))
                          .otherwise(col(fld.name) + lit(0.0d)))
                      case FloatType => df.withColumn(fld.name,
                        when(isnan(col(fld.name)), lit(Float.NaN))
                          .otherwise(col(fld.name) + lit(0.0f)))
                      case _ => df
                    }
                  }
                  canon.repartition(n, cols.map(col): _*)
              }
              val candRdd = {
                val raw = laidOut.queryExecution.toRdd
                if (raw.getNumPartitions == n) raw
                else {
                  // PropagateEmptyRelation collapses a provably-empty
                  // candidate plan (e.g. a rule over an empty EDB
                  // LocalRelation) to a 0/1-partition LocalTableScan —
                  // the only way the explicit n-wide layout disappears.
                  // Substitute an n-wide empty RDD so the zip stays legal.
                  require(raw.isEmpty(),
                    s"candidate layout lost its $n-partition hash layout " +
                      s"on a NON-empty plan: ${laidOut.queryExecution}")
                  spark.sparkContext.parallelize(Seq.empty[InternalRow], n)
                }
              }
              val pair = prev match {
                case Some(p) =>
                  candRdd.zipPartitions(p.pair.map(_._1),
                    preservesPartitioning = true) { (cIt, sIt) =>
                    absorb(cIt, if (sIt.hasNext) sIt.next() else empty)
                  }
                case None =>
                  candRdd.mapPartitions(
                    cIt => absorb(cIt, empty),
                    preservesPartitioning = true)
              }
              pair.localCheckpoint() // lineage cut at the cached blocks
              Sol(pair, schema)
            }
            // materializes the pair (the round's ONE job per head) and
            // probes convergence in the same pass; bytes ride along so
            // the round knows whether the delta is broadcast-sized
            def novelStats(s: Sol): (Long, Long) =
              s.pair.map(p => (p._2.count.toLong, p._2.bytes.length.toLong))
                .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
            // Small-delta broadcast discipline: the delta frame is a
            // LogicalRDD with no usable stats, so Catalyst would never
            // pick it as a broadcast side on its own — every round's
            // delta⋈EDB join then either re-broadcasts the (large) EDB
            // side each round (if the caller hinted it) or exchanges the
            // EDB at the clamped width. The engine KNOWS the delta's
            // exact bytes (the arena), so when it fits the session's
            // broadcast threshold the delta frame itself carries the
            // hint — each round's frontier join becomes a broadcast hash
            // join with the EDB scanned in place, the SsspOps shape
            // derived instead of hand-written. Fat rounds (delta over
            // threshold) fall back to the ordinary exchange, which is
            // the honest plan at that size.
            val bcThreshold: Long = {
              val v = spark.conf
                .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
              try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
              catch { case _: Exception => 10L * 1024 * 1024 }
            }
            def maybeBroadcast(df: DataFrame, bytes: Long): DataFrame =
              if (bcThreshold > 0 && bytes <= bcThreshold) broadcast(df)
              else df
            def hashCols(k: String, schema: StructType): Seq[String] = {
              val cols = ordinal(schema.fieldNames)
              foldSpec.get(k) match {
                case Some(f) => cols.filterNot(_ == s"_p${f.at}")
                case None    => cols
              }
            }
            // one arena of each partition's pair as a frame: the rows of
            // the state (full) or the round's novel rows (delta)
            def frame(k: String, s: Sol, arena: Pair => Arena): DataFrame = {
              val nf = s.schema.size
              ColumnBridge.internalFrame(spark, s.pair.mapPartitions(it =>
                if (!it.hasNext) Iterator.empty
                else arenaRows(arena(it.next()), nf),
                preservesPartitioning = true), s.schema, hashCols(k, s.schema), n)
            }
            // Prior pairs replaced mid-round are dropped only once EVERY
            // head of the round has materialized: sibling heads' round
            // plans were built against the round-start full/delta frames,
            // which bridge over the OLD pair blocks — and localCheckpoint
            // already cut their lineage, so an eager unpersist loses the
            // blocks unrecoverably (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on
            // any same-stratum dependent or mutually recursive head).
            val staleDrops =
              scala.collection.mutable.ArrayBuffer.empty[RDD[Pair]]
            def dropStale(): Unit = {
              staleDrops.foreach(_.unpersist(false))
              staleDrops.clear()
            }
            def absorbHead(k: String, fs: Seq[DataFrame]): Unit = {
              val merged = fs.reduceLeft(_.unionByName(_))
              val prev = sol.get(k)
              val s1 = mergeInto(merged, prev, k)
              val (nNew, novBytes) = novelStats(s1)
              if (nNew == 0) {
                s1.pair.unpersist(false) // fresh this call — nothing refs it
                delta = delta.removed(k)
              } else {
                // s1 is materialized and lineage-cut; the prior pair is
                // dead for FUTURE rounds but this round's sibling plans
                // may still read it — defer to the round boundary
                prev.foreach(p => staleDrops += p.pair)
                sol = sol.updated(k, s1)
                full = full.updated(k, frame(k, s1, _._1._2))
                delta = delta.updated(k,
                  maybeBroadcast(frame(k, s1, _._2), novBytes))
              }
            }

            seeds.foreach { case (k, fs) => absorbHead(k, fs) }
            dropStale()
            var changed = delta.nonEmpty
            var round = 0
            // a cycle reaching a counted region has no finite path
            // count — the sum semiring has no fixpoint, so failing loud
            // at the cap IS the sound behaviour (min/max strata need no
            // cap: improvement deltas shrink monotonically)
            val maxRounds = if (sumHeads.isEmpty) Int.MaxValue
              else sys.props.getOrElse("graft.dl.sumMaxRounds", "4096").toInt
            while (changed) {
              round += 1
              require(round <= maxRounds,
                s"sum-fold stratum did not converge in $maxRounds rounds — " +
                  "cyclic input reaching a counted head (path count is " +
                  "infinite there); counting requires a DAG")
              val avail = rels ++ full
              // RAW firings per head; dedup + novelty ONCE per head
              var raw = Map.empty[String, Seq[DataFrame]]
              stratumRules.foreach { r =>
                val recPositions = r.body.filter(a =>
                  !a.negated && recursive.contains(a.rel))
                recPositions.indices.foreach { pos =>
                  // every source must exist: a same-stratum rel with no
                  // seed yet (no base-rule facts) is empty — skip firings
                  // that read it outside the delta slot
                  if (delta.contains(recPositions(pos).rel) &&
                      r.body.forall(a => avail.contains(a.rel))) {
                    val f = fire(r, avail, recursive.toSet, pos, delta)
                    raw = raw.updated(r.head.rel,
                      raw.getOrElse(r.head.rel, Nil) :+ f)
                  }
                }
              }
              // after this loop, delta holds EXACTLY the heads that
              // gained facts this round: fired heads are set/removed by
              // absorbHead, last round's unfired heads are consumed
              (raw.keySet ++ delta.keySet).foreach { k =>
                raw.get(k) match {
                  case Some(fs) => absorbHead(k, fs)
                  case None     => delta = delta.removed(k)
                }
              }
              dropStale() // every head materialized — old pairs now dead
              changed = delta.nonEmpty
            }
          }
        }
        // defined-but-EMPTY relations must still exist (a later stratum
        // may bind or negate them; run(target) may name them): type each
        // one by firing a rule whose sources are all available and
        // taking limit(0) — plan-only, never executed, schema-exact.
        // Resolution iterates so chains of empty predicates type each
        // other; only a recursive clique with no base rule anywhere is
        // untypeable, and that is rejected loudly.
        var templates = Map.empty[String, DataFrame]
        var missing = stratumRels.filterNot(full.contains)
        var progress = true
        while (missing.nonEmpty && progress) {
          progress = false
          missing.foreach { rel =>
            val avail = rels ++ full ++ templates
            stratumRules.find(r => r.head.rel == rel &&
                r.body.forall(a => avail.contains(a.rel))).foreach { r =>
              templates = templates.updated(rel,
                fire(r, avail, Set.empty, -1, Map.empty).limit(0))
              progress = true
            }
          }
          missing = stratumRels.filterNot(r =>
            full.contains(r) || templates.contains(r))
        }
        require(missing.isEmpty,
          s"predicates $missing have no base rule anywhere in their " +
            "recursive clique: empty by construction but untypeable")
        rels = rels ++ full ++ templates
      }
      rels(target)
    }
  }
}
