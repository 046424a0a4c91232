package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The at-startup wiring: a session configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions` must receive
  * the custom function, the optimizer rule, and the planner strategy.
  * Asserted against the extensions instance directly (building a second
  * SparkSession in one JVM would just return the shared one). */
class GraftExtensionsSpec extends SparkTestBase {

  test("GraftExtensions injects vector_dot, the levenshtein rule, and the as-of strategy") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    val (rules, strategies) = ColumnBridge.injectedState(e, spark)
    assert(rules.contains(LevenshteinLengthGuard),
      s"optimizer rules: $rules")
    assert(strategies.contains(graft.plans.AsofJoinStrategy),
      s"planner strategies: $strategies")
    // the injected function builder must produce a working VectorDot
    val fn = {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      val arr = Literal(new GenericArrayData(Array(1.0f, 2.0f)), ArrayType(FloatType))
      VectorDot(arr, arr).eval(null)
    }
    assert(fn == 5.0)
  }

  test("the full SQL surface is reachable from pure SQL and matches the Column API") {
    import org.apache.spark.sql.functions._
    GraftExtensions.registerSql(spark)
    graft.ops.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
      .limit(50).createOrReplaceTempView("docs_sql")
    graft.ops.Tables(spark, sfDir).embeddings
      .limit(20).createOrReplaceTempView("emb_sqlx")

    // 1+2: minhash_sig + sorted_intersect_count over shingle hashes
    val sqlSig = spark.sql(
      """SELECT doc_id,
           minhash_sig(transform(sequence(1, 40), i -> xxhash64(doc_id, i)), 32) AS sig,
           sorted_intersect_count(
             array_sort(transform(sequence(1, 40), i -> xxhash64(doc_id, i))),
             array_sort(transform(sequence(1, 40), i -> xxhash64(doc_id + 1, i)))) AS ic
         FROM docs_sql""").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getInt(2))).toMap
    val apiSig = graft.ops.Tables(spark, sfDir).documents.limit(50)
      .select(col("doc_id"),
        VectorFunctions.minhash_sig(
          expr("transform(sequence(1, 40), i -> xxhash64(doc_id, i))"), 32).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sqlSig.nonEmpty && sqlSig.forall { case (id, (sig, ic)) =>
      sig.length == 32 && sig == apiSig(id) && ic >= 0 && ic <= 40 })

    // 3: vector_cosine from SQL equals the Column API bit-for-bit
    val cosRows = spark.sql(
      """SELECT a.vec_id ia, b.vec_id ib, vector_cosine(a.embedding, b.embedding) c
         FROM emb_sqlx a JOIN emb_sqlx b ON a.vec_id < b.vec_id""").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val emb = graft.ops.Tables(spark, sfDir).embeddings.limit(20)
    val cosApi = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .join(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")),
            col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        VectorFunctions.vector_cosine(col("ea"), col("eb")).as("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cosRows == cosApi && cosRows.nonEmpty)

    // 4: z_interleave from SQL — Morton bit identity on a known pair
    val z = spark.sql("SELECT z_interleave(3L, 5L) AS z").collect().head.getLong(0)
    assert(z == ZInterleave(
      org.apache.spark.sql.catalyst.expressions.Literal(3L),
      org.apache.spark.sql.catalyst.expressions.Literal(5L)).eval(null))

    // 5: decimal_sqdist from SQL, self-distance exactly zero
    val d = spark.sql(
      """SELECT decimal_sqdist(transform(embedding, x -> cast(x as double)),
                                transform(embedding, x -> cast(x as double))) AS d
         FROM emb_sqlx""").collect()
    assert(d.nonEmpty && d.forall(_.getDecimal(0).signum == 0))

    // literal-k contract: non-foldable k is rejected loudly
    val err = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array(1L), cast(vec_id as int)) FROM emb_sqlx").collect()
    }
    assert(err.getMessage.contains("literal"), err.getMessage)
  }

  test("GraftExtensions injects the full function set") {
    val e = new SparkSessionExtensions
    new GraftExtensions().apply(e)
    // injected builders are not directly enumerable; prove each builder
    // constructs a working expression instead
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val hashes = Literal(new GenericArrayData(Array(7L, 11L, 13L)), ArrayType(LongType))
    assert(MinhashSig(hashes, 8).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements == 8)
    assert(SimhashSig(hashes).eval(null).isInstanceOf[Long])
    assert(ZInterleave(Literal(3L), Literal(5L)).eval(null).isInstanceOf[Long])
    assert(GraftExtensions.cosineExpr(
      Literal(new GenericArrayData(Array(1.0f, 0.0f)), ArrayType(org.apache.spark.sql.types.FloatType)),
      Literal(new GenericArrayData(Array(1.0f, 0.0f)), ArrayType(org.apache.spark.sql.types.FloatType)))
      .eval(null) == 1.0)
  }
}
