package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float-array columns in
  * double precision, accumulated left-to-right (index order — matching both
  * the `aggregate(zip_with(...))` composition and DuckDB's sequential list
  * fold, so results are bit-identical across all three).
  *
  * Why an Expression and not the higher-order-function composition: HOFs
  * (`ArrayTransform`/`ArrayAggregate`) are interpreted per element with
  * boxed lambdas and block whole-stage codegen; this generates a tight
  * primitive loop inside the stage. The hot path of brute-force similarity
  * scoring is exactly this expression, evaluated |queries|×|corpus| times.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vector_dot requires array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      // null elements contribute nothing — same rule in eval and codegen
      // (unguarded getFloat would NPE on GenericArrayData but silently read
      // 0 on UnsafeArrayData, i.e. diverge by backing format)
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) continue;
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH signature as one codegen'd expression: bit b of
  * the result = sign(dot(v, planes(b))). Replaces nBits separate
  * interpreted `aggregate(zip_with(...))` projections with a single tight
  * double loop; the plane matrix rides along as a referenced object in the
  * generated class. */
case class VectorLshBits(child: Expression, planes: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    var sig = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(v.numElements(), p.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i)) acc += v.getFloat(i).toDouble * p(i)
        i += 1
      }
      if (acc > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v => {
      val sig = ctx.freshName("sig")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val p = ctx.freshName("p")
      s"""
         |long $sig = 0L;
         |for (int $b = 0; $b < $planesRef.length; $b++) {
         |  double[] $p = $planesRef[$b];
         |  int $n = java.lang.Math.min($v.numElements(), $p.length);
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($v.isNullAt($i)) continue;
         |    $acc += ((double) $v.getFloat($i)) * $p[$i];
         |  }
         |  if ($acc > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): VectorLshBits = copy(child = c)
}

/** Intersection SIZE of two SORTED long-array columns by two-pointer
  * merge — zero allocation, O(|a|+|b|), inside whole-stage codegen.
  * `size(array_intersect(a, b))` computes the same count but builds a
  * hash set and materializes the intersection array per row; on a
  * near-dup pair scan (millions of pairs × hundreds of elements) the
  * merge count is the difference between compute-bound and
  * allocation-bound. Inputs MUST be sorted ascending (array_sort) and
  * duplicate-free (array_distinct) — callers own that invariant. */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count requires array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      // skip null elements (sorted-last by array_sort) — consistent with
      // the generated code, instead of format-dependent getLong behavior
      if (x.isNullAt(i)) i += 1
      else if (y.isNullAt(j)) j += 1
      else {
        val xv = x.getLong(i)
        val yv = y.getLong(j)
        if (xv == yv) { c += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  if ($a.isNullAt($i)) { $i++; continue; }
         |  if ($b.isNullAt($j)) { $j++; continue; }
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersectCount =
    copy(left = l, right = r)
}

/** A token array's 3-token shingle SET as int64 hashes, sorted ascending
  * and distinct, as ONE expression. Each shingle's hash is exactly
  * `xxhash64(t(i), t(i+1), t(i+2))` (XXH64 over each token's UTF-8 bytes,
  * seeded 42 and chained, null tokens skipped). For arrays of at least 3
  * tokens the values equal the `array_sort(array_distinct(transform(
  * sequence(0, n-3), i -> xxhash64(...))))` spelling bit for bit; that
  * spelling runs interpreted, with 3 boxed lambda evaluations per shingle,
  * then hashes every element into a set and sorts through a comparator.
  * Below 3 tokens the two differ: `sequence(0, n-3)` counts down and hashes
  * out-of-range tokens, while ShingleSet returns the empty set by design.
  * Both eval paths call [[ShingleKernel.hashes]]. */
case class ShingleSet(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.{LongType, StringType}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // other collations hash a collation key in xxhash64, not the bytes
      case ArrayType(st: StringType, _) if st.collationId == StringType.collationId =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_set requires array<string> (UTF8_BINARY), got $t")
    }

  override def nullSafeEval(input: Any): Any =
    ShingleKernel.hashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.ShingleKernel.hashes($a)")

  override protected def withNewChildInternal(c: Expression): ShingleSet = copy(child = c)
}

object ShingleKernel {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}

  /** Seed of Spark's `xxhash64` function. */
  private val Seed = 42L

  /** Tokens per shingle. */
  private val K = 3

  def hashes(toks: ArrayData): ArrayData = {
    val m = math.max(0, toks.numElements() - K + 1)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = Seed
      var j = i
      while (j < i + K) {
        if (!toks.isNullAt(j)) {
          val t = toks.getUTF8String(j)
          h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h)
        }
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var d = 0
    i = 0
    while (i < m) {
      if (d == 0 || hs(i) != hs(d - 1)) { hs(d) = hs(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (d == m) hs else java.util.Arrays.copyOf(hs, d))
  }
}

/** MinHash signature over pre-hashed shingles (array<long>) as ONE
  * codegen'd expression: for each input hash h and each of k seeds i,
  * fold min(xxh64(h, i)) — a tight primitive double loop, no per-element
  * array allocation. The `aggregate(zip_with(transform(...)))` HOF
  * composition computes the same thing but allocates two boxed arrays per
  * shingle and runs interpreted; this is the corpus-dedup hot path
  * (|docs| × |shingles| × k hashes). */
case class MinhashSig(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<bigint>, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var i = 0
        while (i < k) {
          val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h, i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mins")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $j = 0; $j < $a.numElements(); $j++) {
         |  if ($a.isNullAt($j)) continue;
         |  long $h = $a.getLong($j);
         |  for (int $i = 0; $i < $k; $i++) {
         |    long $v = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong($h, (long) $i);
         |    if ($v < $mins[$i]) $mins[$i] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinhashSig = copy(child = c)
}

/** MinHash signature with an ORACLE-REPLICABLE hash family: element i of
  * the result is min over the input hashes h of (h XOR consts(i)). XOR
  * with a full-width constant is a measure-preserving bijection of the
  * hash space, so each index selects its own pseudo-random set minimum;
  * unlike [[MinhashSig]]'s XXH64 re-hash (faster per byte, but private to
  * Spark), the mix is one integer op BOTH engines implement, so a DuckDB
  * oracle rebuilds the identical signature from the same base hashes and
  * constants (q233's construction: base = md5Long(shingle), consts(i) =
  * md5Long("bandseed|i")). One primitive |hashes| × k loop in codegen —
  * the HOF spelling (`transform(consts, c -> array_min(transform(...)))`)
  * runs interpreted with k × |hashes| boxed lambda evaluations per row
  * (measured ~2 s of the 3.9 s q233 bench before this expression). */
case class MinhashXorSig(child: Expression, consts: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_xor_sig requires array<bigint>, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val k = consts.length
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var i = 0
        while (i < k) {
          val v = h ^ consts(i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cs = ctx.addReferenceObj("minhashXorConsts", consts, "long[]")
      val k = consts.length
      val mins = ctx.freshName("mins")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$k];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $j = 0; $j < $a.numElements(); $j++) {
         |  if ($a.isNullAt($j)) continue;
         |  long $h = $a.getLong($j);
         |  for (int $i = 0; $i < $k; $i++) {
         |    long $v = $h ^ $cs[$i];
         |    if ($v < $mins[$i]) $mins[$i] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): MinhashXorSig = copy(child = c)
}

/** SimHash signature over pre-hashed tokens (array<long>) as ONE codegen'd
  * expression: bit b of the result = sign of Σ over tokens of
  * (bit b of hash ? +1 : −1). The equivalent
  * `aggregate(sequence(0,63), … aggregate(toks, …))` HOF nesting runs
  * interpreted with 64 × |tokens| boxed lambda evaluations per row; this
  * is a single primitive loop (|tokens| × 64 bit ops on a stack array).
  * Token hashes are the caller's choice — q29 derives them from md5 so the
  * DuckDB oracle can replicate the signature bit-for-bit. */
case class SimhashSig(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_sig requires array<bigint>, got $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Long](64)
    var j = 0
    while (j < arr.numElements()) {
      if (!arr.isNullAt(j)) {
        val h = arr.getLong(j)
        var b = 0
        while (b < 64) {
          counts(b) += ((h >>> b) & 1L) * 2L - 1L
          b += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val counts = ctx.freshName("counts")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""
         |long[] $counts = new long[64];
         |for (int $j = 0; $j < $a.numElements(); $j++) {
         |  if ($a.isNullAt($j)) continue;
         |  long $h = $a.getLong($j);
         |  for (int $b = 0; $b < 64; $b++) {
         |    $counts[$b] += ((($h >>> $b) & 1L) * 2L) - 1L;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($counts[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): SimhashSig = copy(child = c)
}

/** Order-exact DECIMAL(28,14) squared L2 distance between two
  * array<double> columns — a codegen replacement for the interpreted
  * `aggregate(zip_with(a, b, (x,y) -> cast(round((x-y)*(x-y), 12) as
  * decimal(28,14))), 0, +)` fold that q250/q251 price every
  * corpus×centroid pair with (the "PQ exactness tax": per-term HALF_UP
  * rounding at 12 dp then DECIMAL accumulation, so partition order can
  * never flip an argmin and the DuckDB oracle ties bit-for-bit).
  *
  * The replicated semantics, step for step (verified against Spark's
  * RoundBase/Cast bytecode):
  *  - Round(double, 12) = BigDecimal.valueOf(d).setScale(12, HALF_UP)
  *    .doubleValue() with NaN/Inf passthrough;
  *  - Cast(double as decimal(28,14)) = BigDecimal.valueOf(d)
  *    .setScale(14, HALF_UP) (NaN/Inf and precision overflow → null);
  *  - zip_with length padding: unequal lengths or a null element null
  *    the whole sum, exactly like the padded-null term did.
  * Both eval and codegen call the same static [[DecimalSqDist.compute]],
  * so the two paths cannot diverge. The win over the HOF form is the
  * removal of per-element interpreted lambda dispatch and the zip_with
  * array materialization — the BigDecimal arithmetic itself is the
  * deliberate, oracle-tied cost that remains. */
case class DecimalSqDist(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.{DecimalType, Decimal}

  override def dataType: DataType = DecimalType(28, 14)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"decimal_sqdist requires array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalSqDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.DecimalSqDist.compute($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DecimalSqDist =
    copy(left = l, right = r)
}

object DecimalSqDist {
  import org.apache.spark.sql.types.Decimal
  private val ZERO14 = java.math.BigDecimal.ZERO.setScale(14)

  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(a: ArrayData, b: ArrayData): Decimal = {
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with pads null → null sum
    var acc = ZERO14
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val diff = a.getDouble(i) - b.getDouble(i)
      val sq = diff * diff
      val r12 =
        if (java.lang.Double.isNaN(sq) || java.lang.Double.isInfinite(sq)) sq
        else java.math.BigDecimal.valueOf(sq)
          .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
      if (java.lang.Double.isNaN(r12) || java.lang.Double.isInfinite(r12))
        return null // cast(NaN/Inf as decimal) → null
      acc = acc.add(java.math.BigDecimal.valueOf(r12)
        .setScale(14, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    if (acc.precision > 28) return null // decimal(28,14) overflow → null
    Decimal(acc)
  }
}

/** In-row argmin over a candidate-centroid array: for each candidate
  * struct (j, cv) in `right`, compute [[DecimalSqDist]](left, cv) and
  * return struct(dist, j) of the candidate minimizing (dist, j) — exactly
  * `min(struct(decimal_sqdist(sv, cv), j))` over a 16-way broadcast-join
  * fan-out, with the identical struct ordering (null dist sorts FIRST,
  * ascending, like Spark's interpreted struct ordering in `min`), so the
  * q250/q251 Lloyd E-steps keep bit-identical assignments.
  *
  * Why: `min(struct(...))` over a struct is NOT hash-aggregable — Spark
  * plans Sort + SortAggregate, i.e. a full sort of the corpus×|centroids|
  * fan-out plus an Exchange per Lloyd phase (the measured top cost of the
  * whole suite at r15: q251 4.46 s + q250 2.20 s). This expression folds
  * the argmin into the projection: no fan-out rows, no sort, no exchange.
  * Candidate j values are expected distinct (they are centroid ids); ties
  * on equal dist break to the smaller j either way.
  *
  * Null contract: a null candidate ELEMENT is skipped (its join row would
  * not exist); a null cv yields dist = null for that candidate, which
  * WINS the min (struct ordering, nulls first) — same as the join form.
  * A null left array nulls the whole result via nullSafeEval; callers
  * (subVecs) can never produce one (explode of transform(null) drops the
  * row in both the old and new shape). Empty candidate array → null. */
case class DecimalSqDistArgmin(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("dist", DecimalType(28, 14), nullable = true),
    StructField("j", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val leftOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val rightOk = right.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }
    if (leftOk && rightOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"decimal_sqdist_argmin requires (array<double>, array<struct<bigint, array<double>>>), " +
          s"got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    DecimalSqDistArgmin.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.DecimalSqDistArgmin.compute($a, $b);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DecimalSqDistArgmin =
    copy(left = l, right = r)
}

object DecimalSqDistArgmin {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types.Decimal

  /** struct(dist, j) ordering of Spark's min over structs: dist ascending
    * with nulls FIRST, then j ascending. Negative = (d1, j1) smaller. */
  private def less(d1: Decimal, j1: Long, d2: Decimal, j2: Long): Boolean = {
    val c =
      if (d1 eq null) { if (d2 eq null) 0 else -1 }
      else if (d2 eq null) 1
      else d1.compare(d2)
    if (c != 0) c < 0 else j1 < j2
  }

  /** Shared by interpreted eval and generated code (static forwarder). */
  def compute(v: ArrayData, cands: ArrayData): InternalRow = {
    val n = cands.numElements()
    var found = false
    var bestDist: Decimal = null
    var bestJ = 0L
    var i = 0
    while (i < n) {
      if (!cands.isNullAt(i)) {
        val c = cands.getStruct(i, 2)
        val j = c.getLong(0)
        val cv = if (c.isNullAt(1)) null else c.getArray(1)
        val d = if (cv eq null) null else DecimalSqDist.compute(v, cv)
        if (!found || less(d, j, bestDist, bestJ)) {
          found = true
          bestDist = d
          bestJ = j
        }
      }
      i += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestDist, bestJ))
  }
}

object VectorFunctions {
  /** Column-level API for [[VectorDot]]. */
  def vector_dot(a: Column, b: Column): Column =
    ColumnBridge.column(VectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def vector_norm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vector_dot(a, a))

  def vector_cosine(a: Column, b: Column): Column =
    vector_dot(a, b) / (vector_norm(a) * vector_norm(b))

  /** Deterministic pseudo-random hyperplanes derived from md5 — a hash BOTH
    * engines implement, so a DuckDB oracle can rebuild the identical plane
    * matrix in SQL and hash-match LSH signatures end-to-end:
    * plane(b)(d) = int(first 12 hex chars of md5("b_d")) / 2^47 − 1.
    * 48 bits / 2^47 is an exact dyadic rational → the double is identical
    * across engines; values are uniform in [−1, 1). */
  def lshPlanes(nBits: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nBits, dim) { (b, d) =>
      md.reset()
      val hex = md.digest(s"${b}_${d}".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 12), 16) / 140737488355328.0 - 1.0
    }
  }

  def vector_lsh_bits(v: Column, planes: Array[Array[Double]]): Column =
    ColumnBridge.column(VectorLshBits(ColumnBridge.expression(v), planes))

  /** Column-level API for [[DecimalSqDist]]. */
  def decimal_sqdist(a: Column, b: Column): Column =
    ColumnBridge.column(DecimalSqDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level API for [[DecimalSqDistArgmin]] — cands is
    * array<struct<j: bigint, cv: array<double>>>, result struct(dist, j). */
  def decimal_sqdist_argmin(v: Column, cands: Column): Column =
    ColumnBridge.column(DecimalSqDistArgmin(ColumnBridge.expression(v), ColumnBridge.expression(cands)))

  /** Column-level API for [[DecimalSqDistSkip]] (q405's join+SUM-semantics
    * squared distance, DECIMAL(30,12) terms, result cast double). */
  def decimal_sqdist_skip(a: Column, b: Column): Column =
    ColumnBridge.column(DecimalSqDistSkip(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level API for [[DecimalVecWSum]] (q405's vector-at-a-time
    * Weiszfeld re-center aggregate). */
  def decimal_vec_wsum(values: Column, divisor: Column): Column =
    ColumnBridge.column(DecimalVecWSum(ColumnBridge.expression(values),
      ColumnBridge.expression(divisor)).toAggregateExpression())

  /** Column-level API for [[MinPairLong]] — hash-aggregable
    * min(struct(a, b)) over BIGINT pairs; result struct(a, b). */
  def min_pair_long(a: Column, b: Column): Column =
    ColumnBridge.column(MinPairLong(ColumnBridge.expression(a),
      ColumnBridge.expression(b)).toAggregateExpression())

  /** Column-level API for [[MinhashSig]]. */
  def minhash_sig(hashedShingles: Column, k: Int): Column =
    ColumnBridge.column(MinhashSig(ColumnBridge.expression(hashedShingles), k))

  /** Column-level API for [[SimhashSig]] — input is array<bigint> token
    * hashes (q29 uses md5-derived longs for oracle parity). */
  def simhash_sig(hashedTokens: Column): Column =
    ColumnBridge.column(SimhashSig(ColumnBridge.expression(hashedTokens)))

  /** Column-level API for [[MinhashXorSig]] — input is array<bigint> base
    * hashes; consts is the per-index xor family (model-sized, embedded in
    * the generated code). */
  def minhash_xor_sig(hashes: Column, consts: Array[Long]): Column =
    ColumnBridge.column(MinhashXorSig(ColumnBridge.expression(hashes), consts))

  /** The same md5→int64 derivation as [[md5Long]], computed driver-side
    * for model parameters (e.g. q233's xor-family constants): hex chars
    * 1-8 as the high word, 9-16 as the low — identical to the first 8
    * digest bytes big-endian. */
  def md5LongLocal(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong(0)
  }

  /** md5-derived 64-bit token hash as a column expression, buildable in
    * BOTH engines: (hi32 << 32) | lo32 where hi/lo parse hex chars 1-8 /
    * 9-16 of md5(token). DuckDB: ('0x'||substr(md5(t),i,8))::BIGINT. */
  def md5Long(t: Column): Column = {
    import org.apache.spark.sql.functions._
    shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long"))
  }

  /** Column-level API for [[ShingleSet]]: the sorted distinct int64
    * hashes of `toks`' 3-token shingles. */
  def shingle_set(toks: Column): Column =
    ColumnBridge.column(ShingleSet(ColumnBridge.expression(toks)))

  /** Column-level API for [[SortedIntersectCount]] — inputs must be
    * sorted + distinct. */
  def sorted_intersect_count(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
