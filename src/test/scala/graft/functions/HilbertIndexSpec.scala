package graft.functions

import graft.SparkTestBase
import graft.ops.{ScaleOps, Tables}
import org.apache.spark.sql.functions._

/** The codegen'd HilbertIndex must be a bijective space-filling curve:
  * round-trips through an independently-written inverse walk (d2xy),
  * consecutive curve positions are Manhattan-adjacent (THE Hilbert
  * property — the Z-curve fails it at every diagonal jump), and the
  * q363 layout audit shows the tighter boxes that property buys.
  */
class HilbertIndexSpec extends SparkTestBase {

  /** Inverse walk d → (x, y), written from the d2xy direction of the
    * classic algorithm (bit pairs consumed low-to-high, rotation applied
    * bottom-up) rather than by inverting the production code line by
    * line — a genuine round-trip witness, not a tautology. */
  private def d2xy(d: Long): (Long, Long) = {
    var (x, y) = (0L, 0L)
    var t = d
    var s = 1L
    while (s < 65536L) {
      val rx = (t / 2) & 1L
      val ry = (t ^ rx) & 1L
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }

  private def xy2d(x0: Long, y0: Long): Long =
    HilbertIndex(
      org.apache.spark.sql.catalyst.expressions.Literal(x0),
      org.apache.spark.sql.catalyst.expressions.Literal(y0))
      .eval(null).asInstanceOf[Long]

  test("hilbert_index round-trips the inverse walk and consecutive d are Manhattan-adjacent") {
    // deterministic probe set spread over the full 2^32 curve
    val ds = (0 until 512).map(i => (i.toLong * 8389153L) % 4294967296L)
    ds.foreach { d =>
      val (x, y) = d2xy(d)
      assert(x >= 0 && x < 65536 && y >= 0 && y < 65536)
      assert(xy2d(x, y) == d, s"round-trip broke at d=$d -> ($x,$y)")
      // the defining locality property: step one along the curve,
      // move one cell on the grid
      if (d + 1 < 4294967296L) {
        val (x2, y2) = d2xy(d + 1)
        assert(math.abs(x2 - x) + math.abs(y2 - y) == 1,
          s"curve jump at d=$d: ($x,$y) -> ($x2,$y2)")
      }
    }
  }

  test("hilbert_index is injective on real keys and matches from pure SQL") {
    val pairs = Tables(spark, sfDir).lineitem
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val n = pairs.count()
    val dn = pairs
      .select(LayoutFunctions.hilbert_index(col("l_partkey"), col("l_suppkey")).as("h"))
      .distinct().count()
    assert(dn == n, s"hilbert_index collided: $n pairs -> $dn indexes")
    GraftExtensions.registerSql(spark)
    val viaSql = spark.sql("SELECT hilbert_index(40000L, 123L) AS h")
      .collect().head.getLong(0)
    assert(viaSql == xy2d(40000L, 123L))
  }

  test("hilbert_index survives whole-stage codegen (no fallback)") {
    val df = Tables(spark, sfDir).lineitem
      .select(LayoutFunctions.hilbert_index(col("l_partkey"), col("l_suppkey")).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.toLowerCase.contains("hilbertindex"),
      s"expected codegen in:\n$plan")
    assert(df.agg(max(col("h"))).head().getLong(0) < 4294967296L)
  }

  test("q363: Hilbert boxes beat Z-order boxes on the same grid, mass conserved") {
    val rows = ScaleOps.q363HilbertLayout.fn(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_rows"), r.getAs[Double]("avg_box_area"))).toMap
    assert(rows.keySet == Set("hilbert", "zorder"))
    assert(rows("hilbert")._1 == rows("zorder")._1, "layouts saw different row counts")
    assert(rows("hilbert")._2 < rows("zorder")._2,
      s"Hilbert avg box ${rows("hilbert")._2} not tighter than Z ${rows("zorder")._2}")
  }
}
