package graft.plans

import scala.util.Random
import graft.SparkTestBase
import graft.plans.Datalog._

/** Generative coverage for the datalog compiler (the r12 literal-shape
  * specs generalized): random STRATIFIABLE programs — recursion, chained
  * bodies, repeated variables, constant atoms, comparison guards,
  * negation over EDB and over the lower stratum — evaluated by the Spark
  * engine and by an independent naive in-memory evaluator
  * (substitution-enumeration to fixpoint), which must agree EXACTLY on
  * every IDB relation. The engine is load-bearing for q501/q502 and the
  * DatalogStoreViews store leg, so its unification/stratification corner
  * cases get property coverage, not just the reference's fixtures.
  *
  * Generation is constrained-by-construction (the repo's seeded-Random
  * property idiom, StorePropertiesSpec): bodies are variable chains so
  * every atom shares a variable with the accumulated binding (the
  * engine's safety requirement), heads draw only bound variables, and
  * negation appears only against the EDB or the strictly-lower stratum —
  * so every generated program is legal, and the test fails loudly if the
  * ENGINE ever disagrees with naive evaluation on one.
  */
class DatalogPropertySpec extends SparkTestBase {

  private type Tup = Vector[Long]
  private type Rel = Set[Tup]

  // ---- independent naive evaluator (collections, no Spark) ----

  private def unify(terms: Seq[Term], tup: Tup,
                    sub: Map[String, Long]): Option[Map[String, Long]] =
    terms.zip(tup).foldLeft(Option(sub)) {
      case (None, _) => None
      case (Some(s), (C(c), v)) =>
        if (c.asInstanceOf[Long] == v) Some(s) else None
      case (Some(s), (V(n), v)) => s.get(n) match {
        case Some(b) => if (b == v) Some(s) else None
        case None    => Some(s.updated(n, v))
      }
    }

  private def guardOk(g: Guard, sub: Map[String, Long]): Boolean = {
    def side(t: Term): Long = t match {
      case V(n) => sub(n)
      case C(c) => c.asInstanceOf[Long]
    }
    val (l, r) = (side(g.left), side(g.right))
    g.op match {
      case "<" => l < r;   case "<=" => l <= r
      case ">" => l > r;   case ">=" => l >= r
      case "=" => l == r;  case "!=" => l != r
    }
  }

  private def fireNaive(rule: Rule, rels: Map[String, Rel]): Rel = {
    var subs: Seq[Map[String, Long]] = Seq(Map.empty)
    rule.body.filterNot(_.negated).foreach { a =>
      subs = subs.flatMap(s =>
        rels.getOrElse(a.rel, Set.empty).flatMap(t => unify(a.terms, t, s)))
    }
    subs = subs.filter(s => rule.guards.forall(guardOk(_, s)))
    rule.body.filter(_.negated).foreach { a =>
      subs = subs.filterNot(s =>
        rels.getOrElse(a.rel, Set.empty)
          .exists(t => unify(a.terms, t, s).isDefined))
    }
    subs.map(s => rule.head.terms.map {
      case V(n) => s(n)
      case C(c) => c.asInstanceOf[Long]
    }.toVector).toSet
  }

  /** Stratified naive fixpoint, strata from the program itself is the
    * code under test — here the order is fixed by construction: p then q. */
  private def evalNaive(rules: Seq[Rule],
                        edb: Map[String, Rel]): Map[String, Rel] = {
    var rels = edb
    Seq("p", "q").foreach { idb =>
      val mine = rules.filter(_.head.rel == idb)
      if (mine.nonEmpty) {
        var cur: Rel = Set.empty
        var changed = true
        while (changed) {
          val next = mine.map(r => fireNaive(r, rels.updated(idb, cur)))
            .foldLeft(cur)(_ ++ _)
          changed = next.size != cur.size
          cur = next
        }
        rels = rels.updated(idb, cur)
      }
    }
    rels
  }

  // ---- constrained random program generation ----

  private def genEdb(rnd: Random): Map[String, Rel] = {
    val e = (0 until (4 + rnd.nextInt(11)))
      .map(_ => Vector(rnd.nextInt(6).toLong, rnd.nextInt(6).toLong)).toSet
    val u = (0 until (1 + rnd.nextInt(5)))
      .map(_ => Vector(rnd.nextInt(6).toLong)).toSet
    Map("e" -> e, "u" -> u)
  }

  /** A safe rule body: a variable chain v0 → v1 → …; every atom shares a
    * var with what is already bound. Returns (atoms, boundVars). */
  private def genBody(rnd: Random, headRel: String, recursive: Boolean,
                      canUseP: Boolean): (Seq[Atom], Seq[String]) = {
    val len = 1 + rnd.nextInt(3)
    var atoms = Vector.empty[Atom]
    var bound = Vector("v0")
    var cur = "v0"
    var fresh = 1
    (0 until len).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 => // advance the chain over e
          val nxt = s"v$fresh"; fresh += 1
          atoms :+= Atom("e", Seq(V(cur), V(nxt))); bound :+= nxt; cur = nxt
        case 1 => // unary membership gate (guard-only-rule shape)
          atoms :+= Atom("u", Seq(V(cur)))
        case 2 => // repeated-variable atom e(x, x)
          atoms :+= Atom("e", Seq(V(cur), V(cur)))
        case 3 => // constant atom: e(x, k) pins the second position
          atoms :+= Atom("e", Seq(V(cur), C(rnd.nextInt(6).toLong)))
        case 4 =>
          if (recursive && headRel == "p") { // same-stratum recursion
            val nxt = s"v$fresh"; fresh += 1
            atoms :+= Atom("p", Seq(V(cur), V(nxt))); bound :+= nxt; cur = nxt
          } else if (canUseP) { // lower-stratum positive reference
            val nxt = s"v$fresh"; fresh += 1
            atoms :+= Atom("p", Seq(V(cur), V(nxt))); bound :+= nxt; cur = nxt
          } else atoms :+= Atom("u", Seq(V(cur)))
      }
    }
    // ensure at least one BINDING first atom: if the chain never bound v0
    // through a positive atom, the engine has nothing to join — the
    // construction always emits ≥1 atom over v0, so v0 is always bound.
    (atoms, bound.distinct)
  }

  private def genRule(rnd: Random, headRel: String, headArity: Int,
                      recursive: Boolean, canUseP: Boolean,
                      negOverP: Boolean): Rule = {
    val (atoms, bound) = genBody(rnd, headRel, recursive, canUseP)
    var body = atoms
    // optional negation over bound vars: EDB always legal; p only from q
    if (rnd.nextBoolean()) {
      val negRel = if (negOverP && rnd.nextBoolean()) "p" else "e"
      val t1 = bound(rnd.nextInt(bound.size))
      val t2 = bound(rnd.nextInt(bound.size))
      body :+= (negRel match {
        case "p" => Atom("p", Seq(V(t1), V(t2)), negated = true)
        case _ => if (rnd.nextBoolean()) Atom("u", Seq(V(t1)), negated = true)
                  else Atom("e", Seq(V(t1), V(t2)), negated = true)
      })
    }
    val guards = if (rnd.nextBoolean()) {
      val ops = Seq("<", "<=", ">", ">=", "=", "!=")
      Seq(Guard(ops(rnd.nextInt(ops.size)),
        V(bound(rnd.nextInt(bound.size))),
        if (rnd.nextBoolean()) C(rnd.nextInt(6).toLong)
        else V(bound(rnd.nextInt(bound.size)))))
    } else Nil
    val headTerms = (0 until headArity).map { _ =>
      if (rnd.nextInt(10) == 0) C(rnd.nextInt(6).toLong)
      else V(bound(rnd.nextInt(bound.size)))
    }
    Rule(Atom(headRel, headTerms), body, guards)
  }

  private def genProgram(rnd: Random): Seq[Rule] = {
    val pRecursive = rnd.nextBoolean()
    // rule 0 is always a non-recursive base case: a predicate whose every
    // rule is recursive has no derivable facts (and no seed firing)
    val pRules = (0 until (1 + rnd.nextInt(2))).map(i =>
      genRule(rnd, "p", 2, recursive = pRecursive && i > 0,
        canUseP = false, negOverP = false))
    val qArity = 1 + rnd.nextInt(2)
    val qRule = genRule(rnd, "q", qArity, recursive = false,
      canUseP = true, negOverP = true)
    pRules :+ qRule
  }

  test("property: engine == naive evaluator on 25 random stratifiable programs") {
    import spark.implicits._
    val rnd = new Random(7)
    (1 to 25).foreach { i =>
      val edb = genEdb(rnd)
      val rules = genProgram(rnd)
      val program = Program(rules)
      val expected = evalNaive(rules, edb)
      val frames = Map(
        "e" -> edb("e").toSeq.map(t => (t(0), t(1))).toDF("a", "b"),
        "u" -> edb("u").toSeq.map(t => Tuple1(t(0))).toDF("a"))
      Seq("p", "q").foreach { target =>
        val got = program.run(frames, target).collect()
          .map(r => Vector.tabulate(r.length)(r.getLong)).toSet
        assert(got == expected(target),
          s"case $i target $target: engine=$got naive=${expected(target)}\n" +
            s"rules=$rules\nedb=$edb")
      }
    }
  }

  test("property: min-fold recursion == naive Bellman-Ford on 20 random positive-weight DAGs") {
    import spark.implicits._
    val rnd = new Random(13)
    (1 to 20).foreach { i =>
      // random DAG: edges only low → high node id, weights 1..9, so the
      // min fixpoint exists and naive relaxation terminates
      val nNodes = 3 + rnd.nextInt(10)
      val edges = (for {
        a <- 0 until nNodes; b <- (a + 1) until nNodes
        if rnd.nextInt(3) == 0
      } yield (a.toLong, b.toLong, (1 + rnd.nextInt(9)).toLong)).toVector
      val srcs = (0 until 1 + rnd.nextInt(2))
        .map(_ => rnd.nextInt(nNodes).toLong).distinct
      // independent naive multi-source Bellman-Ford
      var dist = srcs.map(_ -> 0L).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b, w) =>
          dist.get(a).foreach { da =>
            val nd = da + w
            if (dist.get(b).forall(_ > nd)) { dist += (b -> nd); changed = true }
          }
        }
      }
      val program = Program(Seq(
        Rule(Atom("dist", Seq(V("n"), V("d"))),
          Seq(Atom("s", Seq(V("n"), V("d")))),
          fold = Some(Fold("min", 1))),
        Rule(Atom("dist", Seq(V("y"), V("nd"))),
          Seq(Atom("dist", Seq(V("x"), V("d"))),
            Atom("e", Seq(V("x"), V("y"), V("w")))),
          lets = Seq(Let("nd", "d + w")),
          fold = Some(Fold("min", 1)))))
      val frames = Map(
        "e" -> (if (edges.nonEmpty) edges.toDF("a", "b", "w")
                else Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")),
        "s" -> srcs.map(n => (n, 0L)).toDF("n", "d"))
      val got = program.run(frames, "dist").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == dist,
        s"case $i: engine=$got naive=$dist edges=$edges srcs=$srcs")
    }
  }

  test("property: a set head and a DOUBLE min-fold head, mutually recursive in one stratum, == naive on 20 random positive-weight DAGs") {
    import spark.implicits._
    val rnd = new Random(17)
    (1 to 20).foreach { i =>
      val nNodes = 3 + rnd.nextInt(10)
      val edges = (for {
        a <- 0 until nNodes; b <- (a + 1) until nNodes
        if rnd.nextInt(3) == 0
      } yield (a.toLong, b.toLong, 0.05 + rnd.nextDouble() * 9)).toVector
      val srcs = (0 until 1 + rnd.nextInt(2))
        .map(_ => rnd.nextInt(nNodes).toLong).distinct
      // naive simultaneous fixpoint: reach = nodes one or more edges from
      // a reached-by-dist node; dist relaxes only INTO reached nodes
      var reach = Set.empty[Long]
      var dist = srcs.map(_ -> 0.0).toMap
      var changed = true
      while (changed) {
        changed = false
        edges.foreach { case (a, b, w) =>
          dist.get(a).foreach { da =>
            if (!reach(b)) { reach += b; changed = true }
            val nd = da + w
            if (dist.get(b).forall(_ > nd)) { dist += (b -> nd); changed = true }
          }
        }
      }
      val program = Program(Seq(
        Rule(Atom("dist", Seq(V("n"), V("d"))),
          Seq(Atom("s", Seq(V("n"), V("d")))),
          fold = Some(Fold("min", 1))),
        Rule(Atom("dist", Seq(V("y"), V("nd"))),
          Seq(Atom("dist", Seq(V("x"), V("d"))),
            Atom("e", Seq(V("x"), V("y"), V("w"))),
            Atom("reach", Seq(V("y")))),
          lets = Seq(Let("nd", "d + w")),
          fold = Some(Fold("min", 1))),
        Rule(Atom("reach", Seq(V("y"))),
          Seq(Atom("dist", Seq(V("x"), V("d"))),
            Atom("e", Seq(V("x"), V("y"), V("w")))))))
      assert(program.strata == Map("dist" -> 0, "reach" -> 0))
      val frames = Map(
        "e" -> (if (edges.nonEmpty) edges.toDF("a", "b", "w")
                else Seq.empty[(Long, Long, Double)].toDF("a", "b", "w")),
        "s" -> srcs.map(n => (n, 0.0)).toDF("n", "d"))
      val gotDist = program.run(frames, "dist").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val gotReach = program.run(frames, "reach").collect().map(_.getLong(0)).toSet
      assert(gotDist == dist && gotReach == reach,
        s"case $i: engine=($gotDist, $gotReach) naive=($dist, $reach) " +
          s"edges=$edges srcs=$srcs")
    }
  }

  test("property: sum-fold counting == naive topological DP on 20 random DAGs") {
    import spark.implicits._
    val rnd = new Random(29)
    (1 to 20).foreach { i =>
      // random DAG (edges low → high id), multi-source with seed counts
      val nNodes = 3 + rnd.nextInt(10)
      val edges = (for {
        a <- 0 until nNodes; b <- (a + 1) until nNodes
        if rnd.nextInt(3) == 0
      } yield (a.toLong, b.toLong)).toVector
      val srcs = (0 until 1 + rnd.nextInt(2))
        .map(_ => rnd.nextInt(nNodes).toLong).distinct
      // naive: process nodes in topological (id) order, accumulate counts
      var cnt = srcs.map(_ -> 1L).toMap
      (0 until nNodes).foreach { a =>
        cnt.get(a.toLong).foreach { ca =>
          edges.filter(_._1 == a.toLong).foreach { case (_, b) =>
            cnt += (b -> (cnt.getOrElse(b, 0L) + ca))
          }
        }
      }
      val program = Program(Seq(
        Rule(Atom("cnt", Seq(V("n"), V("c"))),
          Seq(Atom("s", Seq(V("n"), V("c")))),
          fold = Some(Fold("sum", 1))),
        Rule(Atom("cnt", Seq(V("y"), V("c"))),
          Seq(Atom("cnt", Seq(V("x"), V("c"))),
            Atom("e", Seq(V("x"), V("y")))),
          fold = Some(Fold("sum", 1)))))
      val frames = Map(
        "e" -> (if (edges.nonEmpty) edges.toDF("a", "b")
                else Seq.empty[(Long, Long)].toDF("a", "b")),
        "s" -> srcs.map(n => (n, 1L)).toDF("n", "c"))
      val got = program.run(frames, "cnt").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == cnt,
        s"case $i: engine=$got naive=$cnt edges=$edges srcs=$srcs")
    }
  }

  test("max-fold recursion: longest path on the literal diamond") {
    import spark.implicits._
    // 1→2 (w1), 1→3 (w5), 2→4 (w1), 3→4 (w1): longest to 4 is 6 via 3
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 5L), (2L, 4L, 1L), (3L, 4L, 1L))
      .toDF("a", "b", "w")
    val src = Seq((1L, 0L)).toDF("n", "d")
    val program = Program(Seq(
      Rule(Atom("far", Seq(V("n"), V("d"))),
        Seq(Atom("s", Seq(V("n"), V("d")))),
        fold = Some(Fold("max", 1))),
      Rule(Atom("far", Seq(V("y"), V("nd"))),
        Seq(Atom("far", Seq(V("x"), V("d"))),
          Atom("e", Seq(V("x"), V("y"), V("w")))),
        lets = Seq(Let("nd", "d + w")),
        fold = Some(Fold("max", 1)))))
    val got = program.run(Map("e" -> edges, "s" -> src), "far").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 5L, 4L -> 6L))
  }

  test("fold validation: disagreeing folds and folded-constant heads are rejected") {
    intercept[IllegalArgumentException] {
      Program(Seq(
        Rule(Atom("p", Seq(V("x"), V("y"))), Seq(Atom("e", Seq(V("x"), V("y")))),
          fold = Some(Fold("min", 1))),
        Rule(Atom("p", Seq(V("x"), V("y"))), Seq(Atom("e", Seq(V("x"), V("y")))))))
        .strata
    }
    // sum became a first-class counting mode in r15; avg remains
    // refused (not expressible as a semiring fold — needs (sum, count)
    // pair state, i.e. TWO folded columns)
    intercept[IllegalArgumentException] { Fold("avg", 1) }
  }

  test("property: every generated program is stratifiable and strata place q above p on negation") {
    val rnd = new Random(11)
    (1 to 40).foreach { _ =>
      genEdb(rnd) // keep the stream aligned with the main property
      val rules = genProgram(rnd)
      val layers = Program(rules).strata
      assert(layers.contains("p") && layers.contains("q"))
      if (rules.exists(r => r.head.rel == "q" &&
          r.body.exists(a => a.negated && a.rel == "p")))
        assert(layers("q") > layers("p"),
          s"negation over p must lift q a stratum: $layers")
    }
  }
}
