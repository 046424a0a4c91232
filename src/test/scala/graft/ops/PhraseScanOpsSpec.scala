package graft.ops

import graft.SparkTestBase
import graft.functions.{AcAutomaton, ScanFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Semantic checks for the phrase-scan wave (q394) and the Aho–Corasick
  * `multi_contains` expression: automaton results equal naive contains
  * on adversarial overlap cases, the codegen path agrees with eval, and
  * the census matches a brute-force count.
  */
class PhraseScanOpsSpec extends SparkTestBase {

  private def ac(pats: String*)(text: String): Seq[Int] = {
    val a = new AcAutomaton(pats.toArray)
    val r = a.find(UTF8String.fromString(text))
    (0 until r.numElements()).map(r.getInt)
  }

  test("automaton equals naive contains on overlap-heavy cases") {
    // suffix-of-prefix failure transitions: "aba" then "ba" then "a"
    assert(ac("aba", "ba", "a")("xabay") == Seq(0, 1, 2))
    assert(ac("aba", "ba", "a")("xbay") == Seq(1, 2))
    assert(ac("aba", "ba", "a")("bbb") == Seq())
    // one pattern a suffix of another
    assert(ac("hash join", "join")("a hash join b") == Seq(0, 1))
    assert(ac("hash join", "join")("a join b") == Seq(1))
    // overlapping occurrences and repeated matches dedupe to one index
    assert(ac("aa")("aaaa") == Seq(0))
    // pattern at the very end of the text
    assert(ac("end")("the end") == Seq(0))
    // multi-byte UTF-8 pattern
    assert(ac("héllo", "llo")("so héllo there") == Seq(0, 1))
    // randomized cross-check against naive contains
    val pats = Seq("ab", "bc", "abc", "ca", "aabb", "b")
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val t = (1 to rnd.nextInt(12)).map(_ => "abc" (rnd.nextInt(3))).mkString
      val expect = pats.zipWithIndex.filter(p => t.contains(p._1)).map(_._2)
      assert(ac(pats: _*)(t) == expect, s"text '$t'")
    }
  }

  test("codegen path agrees with interpreted eval") {
    import spark.implicits._
    val texts = Seq("a hash join b", "merge sortx", "nothing here", "",
      "slow query slow query", "xhash joinx")
    val pats = Seq("hash join", "merge sort", "slow query")
    val viaDf = texts.toDF("t")
      .select(ScanFunctions.multi_contains(col("t"), pats).as("m"))
      .collect().map(_.getSeq[Int](0).toList)
    val a = new AcAutomaton(pats.toArray)
    val viaEval = texts.map { t =>
      val r = a.find(UTF8String.fromString(t))
      (0 until r.numElements()).map(r.getInt).toList
    }
    assert(viaDf.toList == viaEval.toList)
  }

  test("q394: census equals brute-force contains counts") {
    val rows = PhraseScanOps.q394PhraseScan.fn(spark, sfDir).collect()
    val docs = Tables(spark, sfDir).documents
      .select(col("text"), col("source")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val brute = PhraseScanOps.phrases.map { p =>
      val hit = docs.filter(_._1.contains(p))
      p -> (hit.length.toLong, hit.map(_._2).distinct.length.toLong)
    }.toMap.filter(_._2._1 > 0)
    assert(rows.length == brute.size)
    rows.foreach { r =>
      val (nd, ns) = brute(r.getAs[String]("phrase"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_sources") == ns)
    }
  }

  test("multi_contains is callable from pure SQL via the extension") {
    graft.functions.GraftExtensions.registerSql(spark)
    val df = spark.sql(
      """SELECT multi_contains('a hash join and merge sort',
        |  array('hash join', 'merge sort', 'slow query')) AS m""".stripMargin)
    assert(df.collect().head.getSeq[Int](0) == Seq(0, 1))
  }
}
