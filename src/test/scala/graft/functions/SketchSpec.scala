package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The sketch surface: cms_estimate correctness (interpreted + codegen),
  * the bloom-pruned join's equivalence to the plain semi join, and the
  * evidence that the bloom probe actually prunes before the join.
  */
class SketchSpec extends SparkTestBase {

  test("cms_estimate: exact on skewed small data, null-safe, codegen path") {
    GraftExtensions.registerSql(spark)
    import spark.implicits._
    // 60 'a', 30 'b', 10 'c' — far apart, so CMS at eps=0.01 is exact here
    val df = ((1 to 60).map(_ => "a") ++ (1 to 30).map(_ => "b") ++
      (1 to 10).map(_ => "c")).toDF("k")
    df.createOrReplaceTempView("cms_in")
    val sk = spark.sql(
      "SELECT count_min_sketch(k, 0.01d, 0.999d, 42) AS sk FROM cms_in")
    sk.createOrReplaceTempView("cms_sk")
    val est = spark.sql(
      """SELECT probe.k, cms_estimate(cms_sk.sk, probe.k) AS est
         FROM (SELECT DISTINCT k FROM cms_in) probe, cms_sk""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") >= 60 && est("b") >= 30 && est("c") >= 10,
      s"CMS underestimated: $est") // CMS never underestimates
    assert(est.values.sum <= 100 + 3 * 1, s"CMS bound blown: $est")
    // nulls propagate, not throw
    val n = spark.sql(
      "SELECT cms_estimate(cms_sk.sk, CAST(NULL AS STRING)) FROM cms_sk")
      .collect().head
    assert(n.isNullAt(0))
  }

  test("cms_estimate property: never underestimates, respects eps*N, 30 random multisets") {
    GraftExtensions.registerSql(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 30).foreach { trial =>
      // zipf-ish multiset over a small alphabet: the CMS regime
      val n = 200 + rnd.nextInt(800)
      val alpha = 3 + rnd.nextInt(20)
      val items = Seq.fill(n)(s"k${(math.sqrt(rnd.nextInt(alpha * alpha))).toInt}")
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      items.toDF("k").createOrReplaceTempView("cms_prop_in")
      val eps = 0.01
      val rows = spark.sql(
        s"""WITH sk AS (SELECT count_min_sketch(k, ${eps}d, 0.99d, $trial) AS s
              FROM cms_prop_in)
            SELECT p.k, cms_estimate(sk.s, p.k) AS est
            FROM (SELECT DISTINCT k FROM cms_prop_in) p, sk""").collect()
      rows.foreach { r =>
        val (k, est) = (r.getString(0), r.getLong(1))
        assert(est >= exact(k), s"trial $trial: CMS underestimated $k")
        assert(est <= exact(k) + math.ceil(eps * n).toLong * 3,
          s"trial $trial: $k est $est vs exact ${exact(k)} (n=$n)")
      }
    }
  }

  test("q126 bloom-pruned semi join equals the unpruned semi join") {
    val pruned = graft.SparkEntry.queries("q126_bloom_prune_join")(spark, sfDir)
    val t = graft.ops.Tables(spark, sfDir)
    val keys = t.orders.filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"))
    val plain = t.lineitem
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_qty"))
    assert(pruned.exceptAll(plain).isEmpty && plain.exceptAll(pruned).isEmpty,
      "bloom-pruned result diverges from the plain semi join")
  }

  test("q126 plan: bloom probe is a pre-join scan filter, join stays semi") {
    val plan = graft.SparkEntry.queries("q126_bloom_prune_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(plan.contains("LeftSemi"), plan.take(2000))
    // the probe must sit below the join: the Filter mentioning
    // might_contain appears AFTER the join node in top-down plan print
    val joinIdx  = plan.indexOf("LeftSemi")
    val probeIdx = plan.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      "bloom probe is not below the semi join (not a scan-side prefilter)")
  }

  test("bloom prefilter prunes: survivors between exact matches and total") {
    GraftExtensions.registerSql(spark)
    val t = graft.ops.Tables(spark, sfDir)
    t.orders.createOrReplaceTempView("bp_orders")
    t.lineitem.createOrReplaceTempView("bp_lineitem")
    val total = t.lineitem.count()
    val exact = spark.sql(
      """SELECT count(*) FROM bp_lineitem WHERE l_orderkey IN
           (SELECT o_orderkey FROM bp_orders WHERE o_totalprice > 400000.0)""")
      .collect().head.getLong(0)
    val bloomed = spark.sql(
      """SELECT count(*) FROM bp_lineitem
         WHERE might_contain(
           (SELECT bloom_filter_agg(o_orderkey, 100000L)
            FROM bp_orders WHERE o_totalprice > 400000.0), l_orderkey)""")
      .collect().head.getLong(0)
    assert(bloomed >= exact, "bloom filter dropped a true match")
    assert(bloomed < total / 2,
      s"bloom filter pruned nothing ($bloomed of $total rows pass)")
  }

  test("hll sketches: union row matches global distinct within 3%") {
    val rows = graft.SparkEntry.queries("q127_hll_users")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)),
      s"HLL bound violated: ${rows.mkString("; ")}")
    assert(rows.exists(_.getString(0) == "__union__"))
  }
}
