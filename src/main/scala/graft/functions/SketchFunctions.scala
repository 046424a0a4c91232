package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Probe a serialized count-min sketch (the binary produced by Spark's
  * built-in `count_min_sketch` aggregate) for a string item's estimated
  * count. Spark ships the CMS *builder* as SQL but no *reader* — the
  * sketches are meant to be consumed driver-side — so this expression
  * closes the loop and keeps sketch probing inside the plan (a broadcast
  * 1-row sketch joined against the candidate keys; nothing collects).
  *
  * The deserialized sketch is memoized per binary-payload identity: the
  * intended shape probes a single broadcast sketch against a SMALL
  * candidate set (heavy-hitter verification), where the per-row
  * `getBinary` copy makes the cache advisory rather than load-bearing.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cms_estimate expects (binary, string), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override protected def nullSafeEval(sketch: Any, item: Any): Any =
    CmsEstimate.estimate(sketch.asInstanceOf[Array[Byte]],
                         item.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sk, it) =>
      s"${ev.value} = graft.functions.CmsEstimate.estimate($sk, $it);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {
  // Keyed on payload CONTENT (ByteBuffer equals/hashCode), not byte[]
  // identity: UnsafeRow.getBinary hands back a fresh copy per row, so an
  // identity-keyed cache would deserialize the sketch again on every
  // probed row and grow unboundedly. Bounded LRU since distinct sketches
  // per query are few (typically one broadcast sketch).
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[java.nio.ByteBuffer, CountMinSketch](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[java.nio.ByteBuffer, CountMinSketch]): Boolean =
        size() > 64
    })

  /** Called from both eval and generated code. */
  def estimate(sketchBytes: Array[Byte], item: UTF8String): Long = {
    val key = java.nio.ByteBuffer.wrap(sketchBytes)
    var s = cache.get(key)
    if (s == null) {
      s = CountMinSketch.readFrom(new ByteArrayInputStream(sketchBytes))
      cache.put(key, s)
    }
    s.estimateCount(item.toString)
  }
}
