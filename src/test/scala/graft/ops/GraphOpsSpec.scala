package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Closure modes: the driver-frontier fast path and the distributed path
  * must compute identical closures, and the auto-switch must let a graph
  * whose reachable set dwarfs any sensible driver bound close without
  * collecting it. */
class GraphOpsSpec extends SparkTestBase {

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("driver-frontier and distributed closures agree on the part graph") {
    val edges = Tables(spark, sfDir).part
      .select(col("p_partkey").as("child"),
              expr("p_partkey div 2").cast("long").as("parent"))
      .filter(col("child") > 1)
    val roots = spark.range(1, 2).select(col("id").as("node"))
    val drv = asMap(GraphOps.descendantsWithDepth(spark, edges, roots))
    val dst = asMap(GraphOps.descendantsWithDepthDistributed(spark, edges, roots))
    assert(drv == dst)
    assert(drv(1L) == 0L && drv.nonEmpty)
  }

  test("auto-switch kicks in mid-closure and still returns the exact closure") {
    val edges = Tables(spark, sfDir).part
      .select(col("p_partkey").as("child"),
              expr("p_partkey div 2").cast("long").as("parent"))
      .filter(col("child") > 1)
    val roots = spark.range(1, 2).select(col("id").as("node"))
    val full = asMap(GraphOps.descendantsWithDepth(spark, edges, roots))
    // bound far below the reachable count → the hybrid MUST switch modes
    assert(full.size > 64)
    val switched = asMap(GraphOps.descendantsWithDepth(spark, edges, roots, maxDriverNodes = 64))
    assert(switched == full)
  }

  test("a million-edge graph closes without driver-resident state") {
    val n = 1 << 20
    // implicit binary tree over [2, n): child -> child div 2; reachable
    // set from node 1 is ALL n-2 nodes — collecting it under a small
    // driver bound would be the exact failure mode the switch prevents
    val edges = spark.range(2, n)
      .select(col("id").as("child"), expr("id div 2").as("parent"))
    val roots = spark.range(1, 2).select(col("id").as("node"))
    val res = GraphOps.descendantsWithDepth(spark, edges, roots, maxDriverNodes = 1000)
    res.createOrReplaceTempView("closure_res")
    val byDepth = spark.sql(
      "SELECT depth, count(*) AS c FROM closure_res GROUP BY depth").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // depth of node k is floor(log2 k): exactly 2^d nodes per depth d < 19
    assert(byDepth(0L) == 1L && byDepth(1L) == 2L && byDepth(10L) == 1024L)
    assert(byDepth.values.sum == (n - 1).toLong)
    assert(byDepth.keys.max == 19L)
  }

  test("connected components: chain, cycle, and disjoint pieces resolve to min ids") {
    import spark.implicits._
    // a 3-chain, an isolated pair, a triangle given as a cycle, and a
    // 16-node path (forces multi-round label propagation: min travels one
    // hop per round)
    val path = (100L until 115L).map(i => (i, i + 1))
    val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L),
                     (20L, 21L), (21L, 22L), (22L, 20L)) ++ path)
      .toDF("id_a", "id_b")
    val cc = GraphOps.connectedComponents(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
    assert((100L to 115L).forall(cc(_) == 100L))
    assert(cc.size == 3 + 2 + 3 + 16)
  }

  /** Min node id per node, by a driver-side union-find that always hangs
    * the larger root under the smaller, so every root is its set's min. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  test("connected components equal a union-find on 20 seeded random graphs") {
    import spark.implicits._
    (0 until 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(30)
      val random = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val selfEdges = Seq.fill(2) { val v = rnd.nextInt(n).toLong; (v, v) }
      val duplicates = random.take(3) ++ random.take(2).map(_.swap)
      val pairs = Seq((500L, 501L), (503L, 502L), (504L, 504L))
      // a path of 17-24 hops over shuffled ids: the min label has to
      // travel the whole path, one hop per round
      val pathIds = rnd.shuffle((1000L to 1017L + rnd.nextInt(8)).toVector)
      val path = pathIds.zip(pathIds.tail)
      val edges = rnd.shuffle(random ++ selfEdges ++ duplicates ++ pairs ++ path)
      val got = GraphOps.connectedComponents(spark, edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(edges), s"seed $seed")
    }
  }

  test("the seeded hand-off and the distributed fold close random multi-parent DAGs like a driver BFS") {
    import spark.implicits._
    (0 until 10).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      val n = 30 + rnd.nextInt(50)
      // node k > 1 has 1-3 parents below it; a few extra roots
      val edges = (2L to n.toLong).flatMap(k =>
        Seq.fill(1 + rnd.nextInt(3))((k, 1L + rnd.nextInt((k - 1).toInt).toLong))).distinct
      val roots = (1L +: Seq.fill(2)(1L + rnd.nextInt(n).toLong)).distinct
      val children = edges.groupBy(_._2).map { case (p, es) => p -> es.map(_._1) }
      val want = scala.collection.mutable.Map(roots.map(_ -> 0L): _*)
      var frontier = roots
      var depth = 0L
      while (frontier.nonEmpty) {
        depth += 1
        frontier = frontier.flatMap(p => children.getOrElse(p, Nil)).distinct
          .filterNot(want.contains)
        frontier.foreach(want(_) = depth)
      }
      val got = asMap(GraphOps.descendantsWithDepth(spark, edges.toDF("child", "parent"),
        roots.toDF("node"), maxDriverNodes = 8))
      assert(got == want.toMap, s"seed $seed")
      // roots already hash-clustered on the node column, at a width the
      // fold does not use
      val clustered = roots.toDF("node").repartition(7, col("node"))
      assert(asMap(GraphOps.descendantsWithDepthDistributed(spark,
        edges.toDF("child", "parent"), clustered)) == want.toMap, s"seed $seed, distributed")
    }
  }
}
