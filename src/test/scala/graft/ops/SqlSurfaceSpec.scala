package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The engine is DataFrame-first, but every table is also reachable
  * through `spark.sql` — this spec pins SQL-surface parity: the same
  * logical query written as ANSI SQL against temp views produces the
  * identical result (Catalyst plans both to the same operators). */
class SqlSurfaceSpec extends SparkTestBase {

  test("spark.sql over temp views matches the DataFrame composition") {
    val t = Tables(spark, sfDir)
    t.lineitem.createOrReplaceTempView("lineitem")
    t.orders.createOrReplaceTempView("orders")
    t.customer.createOrReplaceTempView("customer")
    t.nation.createOrReplaceTempView("nation")

    val sql = spark.sql("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,8))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name""")
    val df = Relational.q03RevenueByNation.fn(spark, sfDir)
    assert(sql.except(df).isEmpty && df.except(sql).isEmpty)
  }

  test("custom expressions are callable from SQL after extension registration") {
    graft.functions.GraftExtensions.registerSql(spark)
    Tables(spark, sfDir).embeddings.createOrReplaceTempView("emb")
    val rows = spark.sql("""
      SELECT a.vec_id AS ia, b.vec_id AS ib, vector_cosine(a.embedding, b.embedding) AS cos
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      WHERE vector_cosine(a.embedding, b.embedding) > 0.4
      LIMIT 20""").collect()
    rows.foreach(r => assert(r.getDouble(2) > 0.4 && r.getDouble(2) <= 1.0 + 1e-9))
  }
}
