package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Session-extension registration — the library's SQL surface. Sessions
  * built with `spark.sql.extensions=graft.functions.GraftExtensions` get
  * every reusable primitive as a SQL function from the start (the
  * live-session path is `GraftExtensions.registerSql`): vector dot /
  * cosine, the order-exact PQ distance, MinHash/SimHash signatures,
  * Z-order interleave, sorted-set intersection, count-min probe, bloom
  * agg/probe — plus the Levenshtein plan guard and the native as-of join
  * strategy (the as-of OPERATOR itself is reached through
  * `graft.plans.AsofJoin` on DataFrames; SQL-side it would need a parser
  * extension, which nothing in the reference surface requires).
  *
  * Literal-parameter functions (minhash_sig's k) fold their argument at
  * registration-call time: `minhash_sig(hashes, 32)` requires a foldable
  * int, matching how Spark's own approx_count_distinct folds rsd.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach { case (name, cls, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    e.injectOptimizerRule(_ => LevenshteinLengthGuard)
    e.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  /** The library's SQL functions: name → (implementing class, builder).
    * The extension and the live-session [[registerSql]] both register
    * exactly this table. `bloom_filter_agg(key, estimatedNumItems)` and
    * `might_contain(bloom, key)` are Spark's internal bloom build/probe
    * pair (used by the runtime-filter injection but never SQL-registered);
    * the bloom side of a probe must be a constant or an uncorrelated
    * scalar subquery — the pre-shuffle pruning shape. */
  private[functions] val sqlFunctions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vector_dot", classOf[VectorDot], e => VectorDot(e(0), e(1))),
    ("vector_cosine", classOf[VectorDot], e => cosineExpr(e(0), e(1))),
    ("decimal_sqdist", classOf[DecimalSqDist], e => DecimalSqDist(e(0), e(1))),
    ("minhash_sig", classOf[MinhashSig], e =>
      MinhashSig(e(0), foldableInt(e(1), "minhash_sig(hashes, k)"))),
    ("simhash_sig", classOf[SimhashSig], e => SimhashSig(e(0))),
    ("z_interleave", classOf[ZInterleave], e => ZInterleave(e(0), e(1))),
    ("hilbert_index", classOf[HilbertIndex], e => HilbertIndex(e(0), e(1))),
    ("sorted_intersect_count", classOf[SortedIntersectCount], e =>
      SortedIntersectCount(e(0), e(1))),
    ("bloom_filter_agg", classOf[BloomFilterAggregate], e =>
      new BloomFilterAggregate(e(0), e(1)).toAggregateExpression()),
    ("might_contain", classOf[BloomFilterMightContain], e =>
      BloomFilterMightContain(e(0), e(1))),
    ("multi_contains", classOf[MultiContains], e => MultiContains(e(0),
      foldableStringArray(e(1), "multi_contains(text, patterns)").toSeq)),
    ("cms_estimate", classOf[CmsEstimate], e => CmsEstimate(e(0), e(1))))

  /** Expose the library's SQL functions to a LIVE session
    * (`SELECT minhash_sig(hs, 32) FROM ...`) — the same table the
    * extension injects at startup. */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, build) =>
      ColumnBridge.registerFunction(spark, name, build)
    }

  private[functions] def cosineExpr(a: Expression, b: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
    Divide(VectorDot(a, b),
      Multiply(Sqrt(VectorDot(a, a)), Sqrt(VectorDot(b, b))))
  }

  private[functions] def foldableStringArray(
      e: Expression, usage: String): Array[String] = {
    require(e.foldable, s"$usage: patterns must be a literal array of strings")
    e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString)
      case other => throw new IllegalArgumentException(
        s"$usage: patterns must be array<string>, got $other")
    }
  }

  private[functions] def foldableInt(e: Expression, usage: String): Int = {
    require(e.foldable, s"$usage: k must be a literal integer")
    e.eval(null) match {
      case n: java.lang.Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"$usage: k must be integral, got $other")
    }
  }
}
