package graft.functions

import graft.SparkTestBase
import graft.ops.{Similarity, Tables}
import org.apache.spark.sql.functions._

/** The codegen'd VectorDot must be bit-identical to the pure-builtin
  * higher-order-function fold it replaces. */
class VectorDotSpec extends SparkTestBase {

  test("vector_dot matches the HOF fold bit-for-bit on real embeddings") {
    val emb = Tables(spark, sfDir).embeddings.limit(200)
    val a = emb.select(col("vec_id"), col("embedding").as("a"))
    val b = emb.select(col("vec_id"), col("embedding").as("b"))
    val both = a.join(b, "vec_id")
      .withColumn("native", VectorFunctions.vector_dot(col("a"), col("b")))
      .withColumn("hof", Similarity.dotHof(col("a"), col("b")))
    val diff = both.filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
    // and norms are positive reals
    assert(both.filter(col("native") <= 0).count() == 0)
  }

  test("vector_dot survives whole-stage codegen (no fallback)") {
    val emb = Tables(spark, sfDir).embeddings.limit(10)
    val df = emb.select(VectorFunctions.vector_dot(col("embedding"), col("embedding")).as("d"))
    // "*(n)" marks operators inside a WholeStageCodegen stage; the Project
    // evaluating vectordot must carry it (no CodegenFallback)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("vectordot"), s"expected codegen in:\n$plan")
    assert(df.collect().forall(_.getDouble(0) > 0))
  }

  test("vector_dot is SQL-callable after registerSql") {
    GraftExtensions.registerSql(spark)
    Tables(spark, sfDir).embeddings.limit(5).createOrReplaceTempView("emb_sql")
    val rows = spark.sql(
      "SELECT vec_id, vector_dot(embedding, embedding) AS d, vector_cosine(embedding, embedding) AS c FROM emb_sql")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(1) > 0)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9) // self-cosine = 1
    }
  }

  test("vector_dot rejects non-float-array inputs at analysis time") {
    val df = spark.range(3).selectExpr("array(id) as xs") // array<bigint>
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(VectorFunctions.vector_dot(col("xs"), col("xs"))).collect()
    }
  }

  test("weighted-mean aggregator computes sum(wx)/sum(w) with partial merge") {
    import spark.implicits._
    val ds = Seq((2.0, 1.0), (4.0, 3.0), (10.0, 0.0)).toDS()
    val got = ds.select(Aggregators.WeightedMean.toColumn).head()
    assert(math.abs(got - (2.0 * 1.0 + 4.0 * 3.0) / 4.0) < 1e-12)
  }

  test("log-histogram sketch brackets the true median") {
    import spark.implicits._
    val ds = (1 to 1000).map(_.toDouble).toDS()
    val h = ds.select(Aggregators.LogHistogramAgg.toColumn).head()
    assert(h.total == 1000)
    val q50 = Aggregators.LogHistogramAgg.quantile(h, 0.5)
    assert(q50 >= 256 && q50 <= 1024, s"median bin $q50")
  }

  test("minhash_sig matches a driver-side XXH64 reference and stays in codegen") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val inputs = Seq(
      (1L, Seq(7L, 42L, 99L, 7L)),
      (2L, Seq.empty[Long]),
      (3L, Seq(Long.MaxValue, Long.MinValue, 0L)))
    val k = 8
    def expected(hs: Seq[Long]): Seq[Long] =
      (0 until k).map { i =>
        hs.foldLeft(Long.MaxValue)((m, h) => math.min(m, XXH64.hashLong(h, i)))
      }
    // repartition blocks ConvertToLocalRelation from folding the project
    // into a LocalTableScan, so the codegen assertion sees a real stage
    val df = inputs.toDF("id", "hs").repartition(1)
    val rows = df.select(col("id"), VectorFunctions.minhash_sig(col("hs"), k).as("native"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    inputs.foreach { case (id, hs) =>
      assert(rows(id) == expected(hs), s"id=$id")
    }
    // AQE finalizes (and decorates) the physical plan only on execution
    val sigDf = df.select(VectorFunctions.minhash_sig(col("hs"), k))
    sigDf.collect()
    val plan = sigDf.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected codegen in:\n$plan")
  }

  test("minhash_xor_sig matches a driver-side xor fold, the HOF spelling, and md5LongLocal matches md5Long") {
    import spark.implicits._
    val consts = (0 until 8).map(j => VectorFunctions.md5LongLocal(s"t|$j")).toArray
    val inputs = Seq(
      (1L, Seq(7L, 42L, 99L, 7L)),
      (2L, Seq.empty[Long]),
      (3L, Seq(Long.MaxValue, Long.MinValue, 0L, -1L)))
    def expected(hs: Seq[Long]): Seq[Long] =
      consts.toSeq.map(c => hs.foldLeft(Long.MaxValue)((m, h) => math.min(m, h ^ c)))
    val df = inputs.toDF("id", "hs").repartition(1)
    val rows = df.select(col("id"),
        VectorFunctions.minhash_xor_sig(col("hs"), consts).as("native"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    inputs.foreach { case (id, hs) => assert(rows(id) == expected(hs), s"id=$id") }
    // the interpreted HOF spelling computes the identical signature
    val constCol = org.apache.spark.sql.functions.array(consts.map(lit(_)): _*)
    val hof = df.select(col("id"), org.apache.spark.sql.functions.transform(constCol,
        c => org.apache.spark.sql.functions.array_min(
          org.apache.spark.sql.functions.transform(col("hs"), h => h.bitwiseXOR(c)))).as("hof"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    inputs.filter(_._2.nonEmpty).foreach { case (id, _) => assert(rows(id) == hof(id)) }
    // md5LongLocal is the same derivation as the md5Long column expression
    val viaCol = Seq("a", "bandseed|0", "spark graft").toDF("s")
      .select(VectorFunctions.md5Long(col("s"))).collect().map(_.getLong(0))
    val viaLocal = Seq("a", "bandseed|0", "spark graft").map(VectorFunctions.md5LongLocal)
    assert(viaCol.toSeq == viaLocal)
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (1 to 50).map { i =>
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      (i.toLong, a, b)
    }
    val df = data.toDF("id", "a", "b")
      .select(col("id"),
        VectorFunctions.sorted_intersect_count(col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
    assert(df.filter(col("native") =!= col("ref")).count() == 0)
  }

  test("shingle_set equals the sorted distinct xxhash64 HOF spelling bit for bit") {
    import spark.implicits._
    val hof = "array_sort(array_distinct(transform(sequence(0, size(toks)-3), " +
      "i -> xxhash64(toks[i], toks[i+1], toks[i+2]))))"
    val corpus = Tables(spark, sfDir).documents
      .select(graft.ops.TextOps.tokens(col("text")).as("toks"))
    val edge = Seq(Seq("a", "b", "c"), Seq("a", "b", "c", "a", "b", "c", "a"),
                   Seq("größe", "日本", "x", "größe", "日本"), Seq("", "", "", ""))
      .toDF("toks")
    val df = corpus.union(edge).filter(size(col("toks")) >= 3)
      .select(VectorFunctions.shingle_set(col("toks")).as("native"), expr(hof).as("ref"))
    assert(df.count() > 100)
    assert(df.filter(col("native") =!= col("ref")).count() == 0)
    // interpreted eval agrees; fewer than 3 tokens give the empty set by
    // design (the HOF spelling hashes out-of-range tokens there)
    val e = ShingleSet(org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq("x", "y"), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
    assert(e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements() == 0)
    val one = Seq(Seq("a", "b", "c", "a", "b", "c")).toDF("toks")
      .select(expr(hof)).head().getSeq[Long](0)
    val interp = ShingleSet(org.apache.spark.sql.catalyst.expressions.Literal.create(
      Seq("a", "b", "c", "a", "b", "c"),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
    assert(interp == one)
  }

  test("property: sorted_intersect_count interpreted eval == set intersection, any inputs") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    val genArr = Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
      .map(_.distinct.sorted)
    val prop = forAll(genArr, genArr) { (a, b) =>
      val expr = SortedIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      expr.eval(null) == a.toSet.intersect(b.toSet).size
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: minhash_sig minima never increase as shingles are appended") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => SCTest}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val k = 8
    def sig(hs: Seq[Long]): Seq[Long] = {
      val e = MinhashSig(
        org.apache.spark.sql.catalyst.expressions.Literal.create(hs,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)), k)
      e.eval(null).asInstanceOf[GenericArrayData].toLongArray().toSeq
    }
    val gen = Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val prop = forAll(gen, gen) { (a, b) =>
      val sa = sig(a)
      val sab = sig(a ++ b)
      // appending inputs can only lower each minimum — and the signature
      // of a multiset is permutation-invariant
      sa.zip(sab).forall { case (x, y) => y <= x } && sig(a.reverse) == sa
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }
}
