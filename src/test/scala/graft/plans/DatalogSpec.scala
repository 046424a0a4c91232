package graft.plans

import graft.SparkTestBase
import graft.engine._
import graft.plans.Datalog._

/** The datalog engine against the reference's own rule fixtures: the
  * 7-configuration readiness truth table, the transitive-dependents
  * doubling rule, the liveness guard — each must agree with the
  * driver-side store — plus engine laws (stratification rejection,
  * logarithmic non-linear closure). */
class DatalogSpec extends SparkTestBase {

  private def edb(s: JobStore) = {
    import org.apache.spark.sql.functions._
    val jobs = StoreViews.jobsDF(spark, s).toDF()
      .select(col("id"), col("status"))
    val deps = StoreViews.depsDF(spark, s).toDF()
      .select(col("jobId"), col("depId"))
    (jobs, deps)
  }

  test("readiness truth table: rules agree with the store (j1, j5)") {
    val s = TruthTable.build(new InMemoryJobStore)
    val (jobs, deps) = edb(s)
    val ready = graft.ops.DatalogOps.readyProgram
      .run(Map("job" -> jobs, "dep" -> deps), "ready")
      .collect().map(_.getString(0)).toSet
    assert(ready == s.jobsReady())
    assert(ready == TruthTable.ready)
  }

  test("dependents doubling rule == driver BFS on the diamond + chain") {
    val s = new InMemoryJobStore; s.install()
    val jobs = Seq("a", "b", "c", "d", "e", "f").map(i => Job(i, s"t-$i"))
    // diamond a→{b,c}→d plus chain d→e→f (x→y = x depends on y)
    val deps = Seq(Dep("a", "b"), Dep("a", "c"), Dep("b", "d"),
      Dep("c", "d"), Dep("d", "e"), Dep("e", "f"))
    s.transactGraph(JobGraph(jobs, deps))
    val (_, depDf) = edb(s)
    val program = Program(Seq(
      Rule(Atom("dep", Seq(V("x"), V("a"))),
        Seq(Atom("edge", Seq(V("x"), V("a"))))),
      Rule(Atom("dep", Seq(V("x"), V("a"))),
        Seq(Atom("dep", Seq(V("x"), V("b"))),
          Atom("dep", Seq(V("b"), V("a")))))))
    val closure = program.run(Map("edge" -> depDf), "dep")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // transitive dependents of "e" = everything that can reach it
    val dependentsOfE = closure.filter(_._2 == "e").map(_._1)
    assert(dependentsOfE ==
      JobGraph.dependents(deps, Set("e")), "driver BFS agrees")
    assert(dependentsOfE == Set("a", "b", "c", "d"))
    // full closure spot-law: a reaches every other node
    assert(closure.filter(_._1 == "a").map(_._2) ==
      Set("b", "c", "d", "e", "f"))
  }

  test("liveness guard rule == store.jobsDead") {
    val s = TruthTable.build(new InMemoryJobStore)
    val now = System.currentTimeMillis() / 1000
    s.updateJob("j2", _ => true, _.copy(heartbeat = Some(now - 1000)))
    import org.apache.spark.sql.functions._
    val hb = StoreViews.jobsDF(spark, s).toDF()
      .filter(col("status") === JobStatus.Started)
      .select(col("id"), coalesce(col("heartbeat"), lit(0L)).as("h"))
    val dead = Program(Seq(
      Rule(Atom("dead", Seq(V("j"))),
        Seq(Atom("job_hb", Seq(V("j"), V("h")))),
        Seq(Guard("<", V("h"), C(now - 100))))))
      .run(Map("job_hb" -> hb), "dead")
      .collect().map(_.getString(0)).toSet
    assert(dead == s.jobsDead(now - 100))
    assert(dead == Set("j2"))
  }

  test("negation cycle is rejected as unstratifiable") {
    val cyclic = Program(Seq(
      Rule(Atom("p", Seq(V("x"))),
        Seq(Atom("base", Seq(V("x"))),
          Atom("q", Seq(V("x")), negated = true))),
      Rule(Atom("q", Seq(V("x"))),
        Seq(Atom("base", Seq(V("x"))),
          Atom("p", Seq(V("x")), negated = true)))))
    assertThrows[IllegalArgumentException](cyclic.strata)
  }

  test("non-linear closure of a 16-chain: correct and round-efficient") {
    import spark.implicits._
    val edges = (1 until 16).map(i => (i.toLong, (i + 1).toLong))
      .toDF("c", "p")
    val program = Program(Seq(
      Rule(Atom("dep", Seq(V("x"), V("a"))),
        Seq(Atom("edge", Seq(V("x"), V("a"))))),
      Rule(Atom("dep", Seq(V("x"), V("a"))),
        Seq(Atom("dep", Seq(V("x"), V("b"))),
          Atom("dep", Seq(V("b"), V("a")))))))
    val closure = program.run(Map("edge" -> edges), "dep")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      x <- 1 to 16; a <- 1 to 16 if x < a
    } yield (x.toLong, a.toLong)).toSet
    assert(closure == expected, "closure of the 16-chain is all x < a pairs")
  }

  test("arena bridge declares its hash layout: no exchange for a tuple-keyed reuse") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    val edges = (1 until 16).map(i => (i.toLong, (i + 1).toLong))
      .toDF("c", "p")
    val program = Program(Seq(
      Rule(Atom("dep", Seq(V("x"), V("a"))),
        Seq(Atom("edge", Seq(V("x"), V("a"))))),
      Rule(Atom("dep", Seq(V("x"), V("a"))),
        Seq(Atom("dep", Seq(V("x"), V("b"))),
          Atom("edge", Seq(V("b"), V("a")))))))
    val closure = program.run(Map("edge" -> edges), "dep")
    // the result is a LogicalRDD scan over the cached arenas...
    val plan = closure.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"),
      s"fixpoint result should scan the cached solution arenas:\n$plan")
    // ...that DECLARES HashPartitioning(_p0, _p1): a full-tuple groupBy
    // over it must plan WITHOUT a new exchange (the property that makes
    // the accumulated state exchange-free for downstream consumers —
    // the same invariant the r13 leg design carried, now via the bridge)
    val reuse = closure.groupBy(col("_p0"), col("_p1"))
      .agg(count(lit(1)))
    val reusePlan = reuse.queryExecution.executedPlan.toString
    assert(!reusePlan.contains("Exchange"),
      s"tuple-keyed agg over the bridged result must reuse its declared layout:\n$reusePlan")
    // control: a DIFFERENT key genuinely needs an exchange, so the
    // assertion above is not vacuous
    val other = closure.groupBy(col("_p1")).agg(count(lit(1)))
    assert(other.queryExecution.executedPlan.toString.contains("Exchange"),
      "single-column agg must still exchange — the no-exchange assert is live")
  }

  test("same-stratum dependent head survives multi-round recursion " +
       "(sibling plans must outlive a head's pair swap)") {
    // q reads p's DELTA each round while p itself keeps deriving new
    // facts: absorbing p mid-round must NOT drop the pair blocks q's
    // round-start plan still bridges over (the r14 absorbHead regression:
    // unpersist-before-siblings-materialize → checkpoint block lost).
    import spark.implicits._
    val edges = (1 until 10).map(i => (i.toLong, (i + 1).toLong))
      .toDF("c", "p")
    val program = Program(Seq(
      Rule(Atom("p", Seq(V("x"), V("a"))),
        Seq(Atom("edge", Seq(V("x"), V("a"))))),
      Rule(Atom("p", Seq(V("x"), V("a"))),
        Seq(Atom("p", Seq(V("x"), V("b"))),
          Atom("edge", Seq(V("b"), V("a"))))),
      Rule(Atom("q", Seq(V("x"), V("a"))),
        Seq(Atom("p", Seq(V("x"), V("a")))))))
    val q = program.run(Map("edge" -> edges), "q")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      x <- 1 to 10; a <- 1 to 10 if x < a
    } yield (x.toLong, a.toLong)).toSet
    assert(q == expected, "q mirrors p's full closure")
  }

  test("sum-fold counting: path counts on a reconverging DAG are exact") {
    // diamond with a tail: a→{b,c}→d→e plus a direct a→d shortcut —
    // npaths: a=1 (seed), b=c=1, d=3 (via b, via c, direct), e=3
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("a", "d"), ("d", "e")).toDF("u", "v")
    val src = Seq(("a", 1L)).toDF("n", "c")
    val program = Program(Seq(
      Rule(Atom("cnt", Seq(V("n"), V("c"))),
        Seq(Atom("src", Seq(V("n"), V("c")))),
        fold = Some(Fold("sum", 1))),
      Rule(Atom("cnt", Seq(V("y"), V("c"))),
        Seq(Atom("cnt", Seq(V("x"), V("c"))),
          Atom("edge", Seq(V("x"), V("y")))),
        fold = Some(Fold("sum", 1)))))
    val got = program.run(Map("edge" -> edges, "src" -> src), "cnt")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 3L, "e" -> 3L))
  }

  test("sum-fold refusals: non-linear rules, mixed strata, cycles") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("u", "v")
    val src = Seq((1L, 1L)).toDF("n", "c")
    // non-linear: two recursive atoms under a counting head
    val nonLinear = Program(Seq(
      Rule(Atom("cnt", Seq(V("n"), V("c"))),
        Seq(Atom("src", Seq(V("n"), V("c")))), fold = Some(Fold("sum", 1))),
      Rule(Atom("cnt", Seq(V("y"), V("c"))),
        Seq(Atom("cnt", Seq(V("x"), V("c"))),
          Atom("cnt", Seq(V("y"), V("c2"))),
          Atom("edge", Seq(V("x"), V("y")))),
        lets = Nil, fold = Some(Fold("sum", 1)))))
    val e1 = intercept[IllegalArgumentException](
      nonLinear.run(Map("edge" -> edges, "src" -> src), "cnt"))
    assert(e1.getMessage.contains("LINEAR"))
    // mixed stratum: a counting head mutually recursive with a set head
    val mixed = Program(Seq(
      Rule(Atom("cnt", Seq(V("n"), V("c"))),
        Seq(Atom("src", Seq(V("n"), V("c")))), fold = Some(Fold("sum", 1))),
      Rule(Atom("seen", Seq(V("y"))),
        Seq(Atom("cnt", Seq(V("y"), V("c"))))),
      Rule(Atom("cnt", Seq(V("y"), V("c"))),
        Seq(Atom("seen", Seq(V("x"))), Atom("src", Seq(V("x"), V("c"))),
          Atom("edge", Seq(V("x"), V("y")))),
        fold = Some(Fold("sum", 1)))))
    val e2 = intercept[IllegalArgumentException](
      mixed.run(Map("edge" -> edges, "src" -> src), "cnt"))
    assert(e2.getMessage.contains("mixes sum-fold"))
    // cycle: 1→2→1 — infinite path count, must fail at the round cap
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("u", "v")
    val counting = Program(Seq(
      Rule(Atom("cnt", Seq(V("n"), V("c"))),
        Seq(Atom("src", Seq(V("n"), V("c")))), fold = Some(Fold("sum", 1))),
      Rule(Atom("cnt", Seq(V("y"), V("c"))),
        Seq(Atom("cnt", Seq(V("x"), V("c"))), Atom("edge", Seq(V("x"), V("y")))),
        fold = Some(Fold("sum", 1)))))
    sys.props("graft.dl.sumMaxRounds") = "6"
    try {
      val e3 = intercept[IllegalArgumentException](
        counting.run(Map("edge" -> cyc, "src" -> src), "cnt"))
      assert(e3.getMessage.contains("cyclic"))
    } finally sys.props.remove("graft.dl.sumMaxRounds")
  }

  test("set-semantics arena equates -0.0 with +0.0 (SQL distinct parity)") {
    // the arena dedups on raw UnsafeRow bytes; -0.0 and +0.0 differ
    // bit-wise but SQL .distinct() equates them — the candidate
    // projection must canonicalize before the byte walk
    import spark.implicits._
    val pos = Seq((1L, 0.0d)).toDF("x", "d")
    val neg = Seq((1L, -0.0d)).toDF("x", "d")
    val program = Program(Seq(
      Rule(Atom("p", Seq(V("x"), V("d"))), Seq(Atom("a", Seq(V("x"), V("d"))))),
      Rule(Atom("p", Seq(V("x"), V("d"))), Seq(Atom("b", Seq(V("x"), V("d"))))),
      Rule(Atom("p", Seq(V("x"), V("d"))), Seq(Atom("p", Seq(V("x"), V("d")))))))
    val rows = program.run(Map("a" -> pos, "b" -> neg), "p").collect()
    assert(rows.length == 1, "one fact: -0.0 and +0.0 are the same tuple")
    assert(java.lang.Double.doubleToRawLongBits(rows(0).getDouble(1)) == 0L,
      "the surviving value is canonical +0.0")
  }

  test("mutually recursive heads converge (pair swap of one head " +
       "must not starve the other's round plan)") {
    // even/odd distance from node 1 on a 12-chain: p and q feed each
    // other every round, so each round absorbs BOTH heads — the
    // order-dependent variant of the sibling-plan lifetime hazard.
    import spark.implicits._
    val edges = (1 until 12).map(i => (i.toLong, (i + 1).toLong))
      .toDF("c", "p")
    val start = Seq(Tuple1(1L)).toDF("s")
    val program = Program(Seq(
      Rule(Atom("p", Seq(V("x"))), Seq(Atom("start", Seq(V("x"))))),
      Rule(Atom("q", Seq(V("y"))),
        Seq(Atom("p", Seq(V("x"))), Atom("edge", Seq(V("x"), V("y"))))),
      Rule(Atom("p", Seq(V("y"))),
        Seq(Atom("q", Seq(V("x"))), Atom("edge", Seq(V("x"), V("y")))))))
    val edb = Map("edge" -> edges, "start" -> start)
    val even = program.run(edb, "p").collect().map(_.getLong(0)).toSet
    val odd = program.run(edb, "q").collect().map(_.getLong(0)).toSet
    assert(even == (1L to 12L).filter(_ % 2 == 1).toSet, "odd nodes = even distance")
    assert(odd == (1L to 12L).filter(_ % 2 == 0).toSet, "even nodes = odd distance")
  }

  test("a min-fold seed clustered on its key at another width keeps the fold layout") {
    // the seed arrives hash-partitioned on n at width 7 while the engine's
    // width is the session's 4 shuffle partitions: the fold's groupBy then
    // plans no exchange of its own, so the engine must lay it out itself
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val edges = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 2L))
      .toDF("x", "y", "w")
    val seed = Seq((1L, 0L), (4L, 9L)).toDF("n", "d").repartition(7, col("n"))
    val fold = Some(Fold("min", 1))
    val dist = Program(Seq(
      Rule(Atom("dist", Seq(V("n"), V("d"))),
        Seq(Atom("seed", Seq(V("n"), V("d")))), fold = fold),
      Rule(Atom("dist", Seq(V("y"), V("nd"))),
        Seq(Atom("dist", Seq(V("x"), V("d"))),
          Atom("edge", Seq(V("x"), V("y"), V("w")))),
        lets = Seq(Let("nd", "d + w")), fold = fold)))
      .run(Map("seed" -> seed, "edge" -> edges), "dist")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == Map(1L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 4L))
  }
}
