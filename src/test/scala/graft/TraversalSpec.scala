package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.{P, PropertyGraph, Traversal}

/** Micro-graph traversal semantics (FIXTURES.md hand-crafted graphs):
  * out/in/both symmetry mirroring the dual edge tables
  * (TikvTables.java:128-143), dedup under both(), predicate matrix
  * (TikvSessions.java:52-58 inclusivity combos).
  */
class TraversalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** triangle: 1→2, 2→3, 3→1 */
  lazy val triangle: PropertyGraph = {
    val v = Seq((1L, "node", 10), (2L, "node", 20), (3L, "node", 30))
      .toDF("id", "label", "score")
    val e = Seq((1L, 2L, "next", 1L), (2L, 3L, "next", 2L), (3L, 1L, "next", 3L))
      .toDF("src", "dst", "label", "sort_key")
    PropertyGraph(v, e)
  }

  test("out follows edge direction") {
    val got = triangle.V(1L).out("next").toDF.select("id").as[Long].collect()
    assert(got.toSeq == Seq(2L))
  }

  test("in follows reverse direction") {
    val got = triangle.V(1L).in("next").toDF.select("id").as[Long].collect()
    assert(got.toSeq == Seq(3L))
  }

  test("both is the union of out and in (bag semantics)") {
    val got = triangle.V(1L).both("next").toDF.select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("three-hop cycle returns to origin") {
    val got = triangle.V(1L).out().out().out().toDF.select("id").as[Long].collect()
    assert(got.toSeq == Seq(1L))
  }

  test("bothE from every vertex sees each edge twice in total") {
    val n = triangle.V.bothE("next").toDF.count()
    assert(n == 6) // 3 edges × 2 directions
  }

  test("dedup collapses duplicate frontier rows") {
    // 1 and 2 both reach 3: out from {1,2} via next-next vs next
    val dup = triangle.V(1L, 2L).out("next").out("next").toDF.select("id")
      .union(triangle.V(1L, 2L).out("next").toDF.select("id"))
    assert(dup.count() == 4)
    val t = Traversal(triangle, dup.join(triangle.vertices, "id"), isEdge = false)
    assert(t.dedup().toDF.count() == 3)
  }

  test("predicate inclusivity matrix (GT/GTE/LT/LTE/Between)") {
    val g = triangle
    def ids(p: P): Set[Long] =
      g.V.has("score", p).toDF.select("id").as[Long].collect().toSet
    assert(ids(P.Gt(10)) == Set(2L, 3L))
    assert(ids(P.Gte(20)) == Set(2L, 3L))
    assert(ids(P.Lt(30)) == Set(1L, 2L))
    assert(ids(P.Lte(20)) == Set(1L, 2L))
    assert(ids(P.Between(10, 30)) == Set(1L, 2L)) // [lo, hi)
    assert(ids(P.Inside(10, 30)) == Set(2L))      // (lo, hi)
    assert(ids(P.Outside(10, 30)) == Set.empty)   // v<10 || v>30
    assert(ids(P.Outside(10, 20)) == Set(3L))
    assert(ids(P.Within(Seq(10, 30))) == Set(1L, 3L))
    assert(ids(P.Without(Seq(10, 30))) == Set(2L))
  }

  test("edge sort-key range scan (R4 analog)") {
    val got = triangle.V.outE("next").has("sort_key", P.Between(2L, 4L))
      .toDF.select("sort_key").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
  }

  test("hasLabel filters vertices") {
    assert(triangle.V.hasLabel("node").toDF.count() == 3)
    assert(triangle.V.hasLabel("nope").toDF.count() == 0)
  }

  test("vertex step on edge frontier fails fast") {
    intercept[IllegalArgumentException] { triangle.V.outE("next").out() }
  }

  test("repeat(n)(out) expands n hops") {
    val got = triangle.V(1L).repeat(3)(_.out("next")).toDF
      .select("id").as[Long].collect()
    assert(got.toSeq == Seq(1L)) // 3-cycle returns home
    val two = triangle.V(1L).repeat(2)(_.out("next")).toDF
      .select("id").as[Long].collect()
    assert(two.toSeq == Seq(3L))
  }

  test("hasId filters the frontier") {
    assert(triangle.V.hasId(1L, 3L).toDF.count() == 2)
  }

  test("sample partitions the graph deterministically") {
    val parts = (0 until 3).map(b => triangle.V.sample(3, b).toDF.count()).sum
    assert(parts == 3) // buckets tile the vertex set
    val again = triangle.V.sample(3, 0).toDF.count()
    assert(again == triangle.V.sample(3, 0).toDF.count())
  }

  test("where/not filter by sub-traversal existence") {
    // vertex 1 has an out-edge with sort_key 1; only vertex 3's edge
    // has sort_key 3
    val has3 = triangle.V.where(_.outE("next").has("sort_key", P.Eq(3L)))
      .toDF.select("id").as[Long].collect()
    assert(has3.toSeq == Seq(3L))
    val not3 = triangle.V.not(_.outE("next").has("sort_key", P.Eq(3L)))
      .toDF.select("id").as[Long].collect().sorted
    assert(not3.toSeq == Seq(1L, 2L))
  }

  test("withPath tracks full walks") {
    val got = triangle.V(1L).withPath.out("next").out("next").paths
      .select("path").as[Seq[Long]].collect()
    assert(got.toSeq == Seq(Seq(1L, 2L, 3L)))
    val cycle = triangle.V(1L).withPath.repeat(3)(_.out("next")).paths
      .as[Seq[Long]].collect()
    assert(cycle.toSeq == Seq(Seq(1L, 2L, 3L, 1L)))
  }

  test("Contains/ContainsKey over collection-valued properties") {
    val v = Seq(
      (1L, "doc", Seq("red", "blue"), Map("lang" -> "en")),
      (2L, "doc", Seq("blue"), Map("lang" -> "fr", "src" -> "web")),
      (3L, "doc", Seq.empty[String], Map.empty[String, String]))
      .toDF("id", "label", "tags", "props")
    val g = PropertyGraph(v, triangle.edges.limit(0))
    def ids(t: graft.graph.Traversal): Set[Long] =
      t.toDF.select("id").as[Long].collect().toSet
    assert(ids(g.V.has("tags", P.Contains("blue"))) == Set(1L, 2L))
    assert(ids(g.V.has("tags", P.Contains("red"))) == Set(1L))
    assert(ids(g.V.has("props", P.ContainsKey("src"))) == Set(2L))
    assert(ids(g.V.has("props", P.ContainsKey("lang"))) == Set(1L, 2L))
  }

  test("TextContainsAny matches whole tokens, unlike substring TextContains") {
    val v = Seq((1L, "doc", "steel bolt kit"), (2L, "doc", "bolted flange"),
      (3L, "doc", "copper pipe")).toDF("id", "label", "name")
    val g = PropertyGraph(v, triangle.edges.limit(0))
    val tokenHits = g.V.has("name", P.TextContainsAny(Seq("bolt", "pipe")))
      .toDF.select("id").as[Long].collect().toSet
    assert(tokenHits == Set(1L, 3L)) // "bolted" is NOT a token match
    val substrHits = g.V.has("name", P.TextContains("bolt"))
      .toDF.select("id").as[Long].collect().toSet
    assert(substrHits == Set(1L, 2L)) // substring matches mid-word
  }

  test("choose routes per traverser: cond-matching to onTrue, rest to onFalse") {
    // triangle scores: 1→10, 2→20, 3→30; cond = score > 15
    val got = triangle.V
      .choose(_.has("score", P.Gt(15L)), _.out("next"), identity)
      .toDF.select("id").as[Long].collect().sorted.toSeq
    // 2 (score 20) → 3, 3 (score 30) → 1; 1 stays put
    assert(got == Seq(1L, 1L, 3L))
    // parser form produces the same bag
    val parsed = graft.graph.GremlinParser.run(triangle,
      "g.V().choose(__.has('score', gt(15)), __.out('next')).count()")
    assert(parsed.as[Long].collect().toSeq == Seq(3L))
    // 3-arg form: non-matching vertices hop too
    val both = triangle.V
      .choose(_.has("score", P.Gt(15L)), _.out("next"), _.in("next"))
      .toDF.select("id").as[Long].collect().sorted.toSeq
    assert(both == Seq(1L, 3L, 3L)) // 1 → in = 3
  }

  test("project emits one row per traverser: key and sub-count by-clauses") {
    val got = graft.graph.GremlinParser.run(triangle,
      "g.V().project('s', 'outdeg', 'self')" +
        ".by('score').by(__.out('next').count()).by('id')")
      .orderBy("self")
      .as[(Int, Long, Long)].collect().toSeq
    assert(got == Seq((10, 1L, 1L), (20, 1L, 2L), (30, 1L, 3L)))
    // a sub that reaches nothing projects 0, not a dropped row
    val none = graft.graph.GremlinParser.run(triangle,
      "g.V().project('n', 'd').by('id').by(__.out('missing').count())")
      .orderBy("n").as[(Long, Long)].collect().toSeq
    assert(none == Seq((1L, 0L), (2L, 0L), (3L, 0L)))
  }

  test("local(order.limit) scopes the limit per origin, not globally") {
    // triangle: every vertex has out-degree 1 and in-degree 1 via
    // both(); per-vertex top-1 neighbor by score desc
    val got = graft.graph.GremlinParser.run(triangle,
      "g.V().local(__.both('next').order('score', desc).limit(1))" +
        ".values('score')")
      .as[Int].collect().sorted.toSeq
    // 1's neighbors {2,3} → 30; 2's {1,3} → 30; 3's {1,2} → 20
    assert(got == Seq(20, 30, 30))
    // a GLOBAL limit(1) would return one row total — pin the contrast
    val global = graft.graph.GremlinParser.run(triangle,
      "g.V().both('next').order('score', desc).limit(1).values('score')")
      .as[Int].collect().toSeq
    assert(global.length == 1)
    // unordered form breaks ties by id: top-1 of {2,3} is 2, etc.
    val byId = graft.graph.GremlinParser.run(triangle,
      "g.V().local(__.both('next').limit(1)).values('id')")
      .as[Long].collect().sorted.toSeq
    assert(byId == Seq(1L, 1L, 2L))
  }

  test("tree() flattens the traversal tree to distinct (depth,parent,child)") {
    val got = graft.graph.GremlinParser.run(triangle,
      "g.V(1).out('next').out('next').tree()")
      .as[(Int, Long, Long)].collect().toSet
    assert(got == Set((1, 1L, 2L), (2, 2L, 3L)))
    // shared prefixes dedup: all three 2-walks cover each edge twice
    // (once at each depth) — 6 distinct (depth, parent, child) rows
    val all = graft.graph.GremlinParser.run(triangle,
      "g.V().out('next').out('next').tree()")
    assert(all.count() == 6)
  }

  test("match() is a conjunctive pattern join with frontier-bound first var") {
    // triangle: (a)-next->(b)-next->(c) has exactly 3 bindings
    val all = graft.graph.GremlinParser.run(triangle,
      "g.V().match(__.as('a').out('next').as('b')," +
        " __.as('b').out('next').as('c'))")
      .as[(Long, Long, Long)].collect().toSet
    assert(all == Set((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L)))
    // the incoming frontier constrains the first variable
    val one = graft.graph.GremlinParser.run(triangle,
      "g.V(1).match(__.as('a').out('next').as('b')," +
        " __.as('b').out('next').as('c'))")
      .as[(Long, Long, Long)].collect().toSeq
    assert(one == Seq((1L, 2L, 3L)))
    // a pattern sharing no variable must refuse, not cross-join
    val err = intercept[IllegalArgumentException] {
      graft.graph.GremlinParser.run(triangle,
        "g.V().match(__.as('a').out('next').as('b')," +
          " __.as('x').out('next').as('y'))")
    }
    assert(err.getMessage.contains("shares no variable"))
  }

  test("aggregate/cap snapshots the frontier at aggregate-time (bag)") {
    val got = graft.graph.GremlinParser.run(triangle,
      "g.V().out('next').aggregate('mid').out('next').cap('mid')")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L)) // the 1-hop frontier, not the 2-hop
    val err = intercept[IllegalArgumentException] {
      graft.graph.GremlinParser.run(triangle, "g.V().cap('nope')")
    }
    assert(err.getMessage.contains("no aggregate"))
  }

  test("EndsWith is a suffix match, through both the DSL and the parser") {
    val v = Seq((1L, "doc", "steel bolt"), (2L, "doc", "bolted flange"),
      (3L, "doc", "carbon bolt")).toDF("id", "label", "name")
    val g = PropertyGraph(v, triangle.edges.limit(0))
    val dsl = g.V.has("name", P.EndsWith("bolt")).toDF.select("id")
    assert(dsl.as[Long].collect().toSet == Set(1L, 3L)) // not mid-string
    val parsed = graft.graph.GremlinParser.run(g,
      "g.V().has('name', endingWith('bolt')).count()")
    assert(parsed.as[Long].collect().toSeq == Seq(2L))
  }

  test("repeatUntil reaches the fixed point and excludes the start") {
    // chain with a cycle at the end: 10→11→12→10, plus isolated 13
    val v = Seq((10L, "n", 0), (11L, "n", 0), (12L, "n", 0), (13L, "n", 0))
      .toDF("id", "label", "score")
    val e = Seq((10L, 11L, "next", 1L), (11L, 12L, "next", 2L), (12L, 10L, "next", 3L))
      .toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    val reached = g.V(10L).repeatUntil(_.out("next")).toDF
      .select("id").as[Long].collect().toSet
    // the start vertex seeds the visited set, so the cycle back to 10
    // does not re-add it — the result is the strict downstream closure
    assert(reached == Set(11L, 12L))
    val fromIsolated = g.V(13L).repeatUntil(_.out("next")).toDF.count()
    assert(fromIsolated == 0)
  }

  test("repeatUntil maxDepth: a cap that cuts the walk short REFUSES " +
       "(ADVICE r13 — no silent truncation); one past the frontier's " +
       "natural exhaustion completes") {
    val v = Seq((10L, "n", 0), (11L, "n", 0), (12L, "n", 0), (13L, "n", 0))
      .toDF("id", "label", "score")
    val e = Seq((10L, 11L, "next", 1L), (11L, 12L, "next", 2L), (12L, 13L, "next", 3L))
      .toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    // maxDepth=2 exits with {13} still unexplored — refuse, don't trim
    val ex = intercept[IllegalStateException] {
      g.V(10L).repeatUntil(_.out("next"), maxDepth = 2).toDF.count()
    }
    assert(ex.getMessage.contains("maxDepth=2"))
    // the fixed point needs round 4 to OBSERVE 13's empty expansion
    val full = g.V(10L).repeatUntil(_.out("next"), maxDepth = 4).toDF
      .select("id").as[Long].collect().toSet
    assert(full == Set(11L, 12L, 13L))
  }

  test("union step bags all branches") {
    val got = triangle.V(1L).union(_.out("next"), _.in("next"))
      .toDF.select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 3L))
    // bag semantics: overlapping branches duplicate
    val dup = triangle.V(1L).union(_.out("next"), _.out("next"))
      .toDF.select("id").as[Long].collect()
    assert(dup.toSeq == Seq(2L, 2L))
  }

  test("coalesce picks the first non-empty branch per origin") {
    val v = Seq((10L, "n", 0), (11L, "n", 0), (13L, "n", 0))
      .toDF("id", "label", "score")
    val e = Seq((10L, 11L, "next", 1L)).toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    val got = g.V(10L, 13L).coalesce(_.out("next"), t => t)
      .toDF.select("id").as[Long].collect().sorted
    // 10 has an out-edge → follows it; 13 does not → keeps itself
    assert(got.toSeq == Seq(11L, 13L))
    val opt = g.V(10L, 13L).optional(_.out("next"))
      .toDF.select("id").as[Long].collect().sorted
    assert(opt.toSeq == Seq(11L, 13L))
  }

  test("valueMap and groupCount terminals") {
    val vm = triangle.V(2L).valueMap("score").collect()(0)
    assert(vm.getLong(0) == 2L && vm.getInt(1) == 20)
    val gc = triangle.V.groupCount("label").as[(String, Long)].collect().toMap
    assert(gc == Map("node" -> 3L))
  }

  // ---- Gremlin string front-end: parsed query ≡ DSL, plan-for-plan ----

  import graft.graph.GremlinParser

  private def samePlan(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean =
    a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan)

  test("parser: filter+hop+count compiles to the identical plan as the DSL") {
    val parsed = GremlinParser.run(triangle,
      "g.V().hasLabel('node').has('score', gt(10)).out('next').count()")
    val dsl = triangle.V.hasLabel("node").has("score", P.Gt(10L))
      .out("next").count()
    assert(samePlan(parsed, dsl))
    assert(parsed.as[Long].collect().toSeq == Seq(2L))
  }

  test("parser: V(ids), predicates, dedup, values") {
    val parsed = GremlinParser.run(triangle,
      "g.V(1, 2).out('next').dedup().values('score')")
    val dsl = triangle.V(1L, 2L).out("next").dedup().values("score")
    assert(samePlan(parsed, dsl))
    assert(parsed.as[Int].collect().sorted.toSeq == Seq(20, 30))
    // predicate battery: each parses and matches its DSL twin
    val preds = Seq(
      "between(10, 30)" -> P.Between(10L, 30L),
      "inside(10, 30)" -> P.Inside(10L, 30L),
      "outside(10, 20)" -> P.Outside(10L, 20L),
      "within(10, 30)" -> P.Within(Seq(10L, 30L)),
      "without(20)" -> P.Without(Seq(20L)),
      "neq(20)" -> P.Neq(20L))
    preds.foreach { case (txt, p) =>
      val ps = GremlinParser.run(triangle, s"g.V().has('score', $txt).count()")
      val ds = triangle.V.has("score", p).count()
      assert(samePlan(ps, ds), s"plan mismatch for $txt")
    }
  }

  test("parser: repeat/times, where, not") {
    val parsed = GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).times(3).count()")
    val dsl = triangle.V(1L).repeat(3)(_.out("next")).count()
    assert(samePlan(parsed, dsl))
    assert(parsed.as[Long].collect().toSeq == Seq(1L))
    val w = GremlinParser.run(triangle,
      "g.V().where(__.out('next').has('score', eq(20))).count()")
    val wd = triangle.V.where(_.out("next").has("score", P.Eq(20L))).count()
    assert(samePlan(w, wd))
    val n = GremlinParser.run(triangle,
      "g.V().not(__.out('next').has('score', eq(20))).count()")
    val nd = triangle.V.not(_.out("next").has("score", P.Eq(20L))).count()
    assert(samePlan(n, nd))
  }

  test("parser: repeat().until() — fixed point lowers onto repeatUntil, " +
       "loops().is(n) is times(n) sugar") {
    // fixed point from 1 over the cycle: reaches 2 then 3; the third
    // hop lands back on 1, which the visited set (seeded with the
    // START) excludes — repeatUntil's "new vertices only" contract
    val parsed = GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).until(__.count().is(0))")
    val dsl = triangle.V(1L).repeatUntil(_.out("next")).toDF
    assert(parsed.select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
    assert(parsed.select("id").as[Long].collect().sorted.toSeq ==
      dsl.select("id").as[Long].collect().sorted.toSeq)
    // the __-less spelling parses too
    val bare = GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).until(count().is(0)).count()")
    assert(bare.as[Long].collect().toSeq == Seq(2L))
    // loops().is(n) ≡ times(n), plan-for-plan
    val lp = GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).until(loops().is(3)).count()")
    val lt = GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).times(3).count()")
    assert(samePlan(lp, lt))
  }

  test("repeatUntilReached halts matching traversers, expands the rest") {
    // chain 10→11→12→13 with labels n,n,m,n: stop at label m halts at
    // 12 and never reaches 13
    val v = Seq((10L, "n", 0), (11L, "n", 0), (12L, "m", 0), (13L, "n", 0))
      .toDF("id", "label", "score")
    val e = Seq((10L, 11L, "next", 1L), (11L, 12L, "next", 2L),
      (12L, 13L, "next", 3L)).toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    val halted = g.V(10L)
      .repeatUntilReached(_.out("next"), _.hasLabel("m"))
      .toDF.select("id").as[Long].collect().toSet
    assert(halted == Set(12L)) // 11 passed through, 13 never visited
    // predicate never satisfied → empty result (frontier exhausts)
    val none = g.V(10L)
      .repeatUntilReached(_.out("next"), _.hasLabel("zzz"))
      .toDF.count()
    assert(none == 0)
    // post-check semantics: a START vertex matching the stop is NOT
    // emitted at depth 0 — it walks first (TinkerPop until-after-repeat)
    val fromM = g.V(12L)
      .repeatUntilReached(_.out("next"), _.hasLabel("m"))
      .toDF.count()
    assert(fromM == 0) // 12 steps to 13 (n), which never matches
  }

  test("parser: until(<predicate>) lowers onto repeatUntilReached — " +
       "sameResult vs the DSL twin; hasId and chained filters work") {
    val v = Seq((10L, "n", 0), (11L, "n", 5), (12L, "m", 9), (13L, "n", 0))
      .toDF("id", "label", "score")
    val e = Seq((10L, 11L, "next", 1L), (11L, 12L, "next", 2L),
      (12L, 13L, "next", 3L)).toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    val parsed = GremlinParser.run(g,
      "g.V(10).repeat(__.out('next')).until(__.hasLabel('m')).id()")
    val dsl = g.V(10L).repeatUntilReached(_.out("next"), _.hasLabel("m"))
      .idsDF()
    // the BFS materializes per-round localCheckpoints, so two
    // invocations cannot be plan-identical — result equality is the
    // twin pin (same stance as the g46/g18 fixed-point twin test)
    assert(parsed.as[Long].collect().toSeq == dsl.as[Long].collect().toSeq)
    assert(parsed.as[Long].collect().toSeq == Seq(12L))
    // hasId target form
    val byId = GremlinParser.run(g,
      "g.V(10).repeat(__.out('next')).until(__.hasId(12)).id()")
    assert(byId.as[Long].collect().toSeq == Seq(12L))
    // chained stop filters AND the __-less spelling
    val chained = GremlinParser.run(g,
      "g.V(10).repeat(__.out('next'))" +
        ".until(hasLabel('m').has('score', gt(5))).id()")
    assert(chained.as[Long].collect().toSeq == Seq(12L))
    // render round-trips the new AST
    val ast = GremlinParser.parse(
      "g.V(10).repeat(__.out('next')).until(__.hasId(12)).id()")
    assert(GremlinParser.parse(GremlinParser.render(ast)) == ast)
  }

  test("repeat().emit().until(<predicate>) emits every vertex reached at " +
       "depth >= 1 while the stop still prunes expansion (r13 task 5)") {
    val v = Seq((10L, "n", 0), (11L, "n", 5), (12L, "m", 9), (13L, "n", 0))
      .toDF("id", "label", "score")
    val e = Seq((10L, 11L, "next", 1L), (11L, 12L, "next", 2L),
      (12L, 13L, "next", 3L)).toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    // 10 → 11 (emitted, no match, expands) → 12 (emitted, m, HALTS);
    // 13 is never reached: the halt pruned expansion through 12
    val parsed = GremlinParser.run(g,
      "g.V(10).repeat(__.out('next')).emit().until(__.hasLabel('m')).id()")
    assert(parsed.as[Long].collect().sorted.toSeq == Seq(11L, 12L))
    // DSL twin (result-pinned: the BFS checkpoints per round)
    val dsl = g.V(10L)
      .repeatUntilReached(_.out("next"), _.hasLabel("m"), emitAll = true)
      .idsDF()
    assert(dsl.as[Long].collect().sorted.toSeq == Seq(11L, 12L))
    // without emit() only the halted vertex ships (the g52 contract)
    assert(GremlinParser.run(g,
      "g.V(10).repeat(__.out('next')).until(__.hasLabel('m')).id()")
      .as[Long].collect().toSeq == Seq(12L))
    // render round-trips the emit flag
    val ast = GremlinParser.parse(
      "g.V(10).repeat(__.out('next')).emit().until(__.hasId(12)).id()")
    assert(GremlinParser.parse(GremlinParser.render(ast)) == ast)
  }

  test("repeat().until() refuses a fixed point truncated by maxDepth " +
       "instead of silently dropping live traversers (ADVICE r13)") {
    // triangle: 1→2→3→1; from V(1) the frontier empties at round 3
    // (visited-exclusion), so maxDepth=2 exits with {3} still live
    val exPred = intercept[IllegalStateException] {
      triangle.V.hasId(1L).repeatUntilReached(
        _.out("next"), _.has("score", P.Gt(99L)), maxDepth = 2).toDF.count()
    }
    assert(exPred.getMessage.contains("maxDepth=2"))
    val exFix = intercept[IllegalStateException] {
      triangle.V.hasId(1L).repeatUntil(_.out("next"), maxDepth = 2)
        .toDF.count()
    }
    assert(exFix.getMessage.contains("maxDepth=2"))
    // untruncated runs on the same walk still complete (reached
    // excludes the depth-0 start: 2 and 3)
    assert(triangle.V.hasId(1L).repeatUntil(_.out("next")).toDF.count() == 2)
  }

  test("math() computes per-traverser arithmetic over the value stream " +
       "as one codegen'd Column (r13 task 7)") {
    // inject pipeline: precedence, power (right-assoc), unary minus
    assert(GremlinParser.run(triangle, "g.inject(3, 4).math('_ * 2 + 1')")
      .as[Double].collect().sorted.toSeq == Seq(7.0, 9.0))
    assert(GremlinParser.run(triangle, "g.inject(1).math('2 ^ 3 - -_')")
      .as[Double].collect().toSeq == Seq(9.0))
    assert(GremlinParser.run(triangle,
      "g.inject(2).math('2 ^ 3 ^ 2')") // right-assoc: 2^(3^2) = 512
      .as[Double].collect().toSeq == Seq(512.0))
    // exp4j precedence (ADVICE r14): power binds TIGHTER than unary
    // minus — '-2^2' is -(2^2) = -4, not (-2)^2 = 4 …
    assert(GremlinParser.run(triangle, "g.inject(1).math('-2 ^ 2')")
      .as[Double].collect().toSeq == Seq(-4.0))
    assert(GremlinParser.run(triangle, "g.inject(1).math('-_ ^ 2')")
      .as[Double].collect().toSeq == Seq(-1.0))
    // … while a signed exponent still parses: 2^-2 = 0.25
    assert(GremlinParser.run(triangle, "g.inject(1).math('2 ^ -2')")
      .as[Double].collect().toSeq == Seq(0.25))
    // malformed literals fail with the positioned ParseException, not a
    // raw NumberFormatException (ADVICE r14)
    assert(intercept[GremlinParser.ParseException](GremlinParser.run(
      triangle, "g.inject(1).math('1.2.3 + _')"))
      .getMessage.contains("second '.'"))
    assert(intercept[GremlinParser.ParseException](GremlinParser.run(
      triangle, "g.inject(1).math('. + _')"))
      .getMessage.contains("'.' alone"))
    // after values(k): functions + is() composition
    val sq = GremlinParser.run(triangle,
      "g.V().values('score').math('sqrt(_)').is(gt(4))")
    assert(sq.count() == 2) // sqrt(10) = 3.16 drops; 20, 30 survive
    // after count(): scalar arithmetic
    assert(GremlinParser.run(triangle, "g.V().count().math('_ * 10')")
      .as[Double].collect().toSeq == Seq(30.0))
    // after sack(): per-walk arithmetic on the accumulator
    val sk = GremlinParser.run(triangle,
      "g.withSack(0.0).V().sack(sum).by('score').sack().math('_ / 10')")
    assert(sk.as[Double].collect().sorted.toSeq == Seq(1.0, 2.0, 3.0))
    // refusals: label operands, element frontier, string stream
    assert(intercept[Exception](GremlinParser.run(triangle,
      "g.V().values('score').math('a + 1')").collect())
      .getMessage.contains("label operand"))
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V().math('_ + 1')").collect())
      .getMessage.contains("VALUE traverser"))
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.inject('a', 'b').math('_ + 1')").collect())
      .getMessage.contains("numeric"))
    // render round-trip
    val ast = GremlinParser.parse("g.V().values('score').math('_ * 2')")
    assert(GremlinParser.parse(GremlinParser.render(ast)) == ast)
  }

  test("inject() accepts homogeneous boolean literals (ADVICE r13)") {
    assert(GremlinParser.run(triangle,
      "g.inject(true, false, true).dedup().count()")
      .as[Long].collect().toSeq == Seq(2L))
    // mixed stays refused with the full type list
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.inject(true, 1)").collect())
      .getMessage.contains("booleans"))
  }

  test("filter-context guard covers coalesce/optional/local/project " +
       "(the r12 ADVICE gap): clean refusal, not an unresolved column") {
    def shapeMsg(q: String): String =
      intercept[IllegalArgumentException](
        GremlinParser.run(triangle, q).collect()).getMessage
    assert(shapeMsg("g.V().optional(__.repeat(__.out('next'))" +
      ".until(__.count().is(0))).count()").contains("fixed point"))
    assert(shapeMsg("g.V().coalesce(__.repeat(__.out('next'))" +
      ".until(__.count().is(0)), __.out('next')).count()")
      .contains("fixed point"))
    assert(shapeMsg("g.V().local(__.repeat(__.out('next'))" +
      ".until(__.count().is(0)).limit(2)).count()").contains("fixed point"))
    assert(shapeMsg("g.V().project('n').by(__.repeat(__.out('next'))" +
      ".until(__.count().is(0)).count())").contains("fixed point"))
    // the predicate-stop form refuses the same contexts
    assert(shapeMsg("g.V().optional(__.repeat(__.out('next'))" +
      ".until(__.hasId(2))).count()").contains("fixed point"))
    // and the legitimate uses still work after the FCTX rider
    assert(GremlinParser.run(triangle,
      "g.V().coalesce(__.out('next'), __.in('next')).count()")
      .head().getLong(0) == 3)
    assert(GremlinParser.run(triangle,
      "g.V().local(__.out('next').limit(1)).count()")
      .head().getLong(0) == 3)
    assert(GremlinParser.run(triangle,
      "g.V().project('deg').by(__.out('next').count())").count() == 3)
  }

  test("parser: elementMap/inject/is/coin (the r12 tail steps)") {
    // elementMap: id + label + properties, DSL twin plan-identical
    val em = GremlinParser.run(triangle, "g.V().elementMap('score')")
    assert(samePlan(em, triangle.V.elementMap("score")))
    assert(em.columns.toSeq == Seq("id", "label", "score"))
    assert(em.count() == 3)
    // edge frontier refuses cleanly
    assertThrows[IllegalArgumentException](triangle.E.elementMap("score"))
    // inject value pipeline: dedup + is + sum
    val inj = GremlinParser.run(triangle,
      "g.inject(5, 3, 7, 3, 2).dedup().is(gt(2)).sum()")
    assert(inj.columns.toSeq == Seq("sum_value"))
    assert(inj.as[Long].collect().toSeq == Seq(15L))
    // fold of an injected string stream
    val sf = GremlinParser.run(triangle,
      "g.inject('b', 'a', 'b').fold()")
    assert(sf.as[Seq[String]].collect().toSeq == Seq(Seq("a", "b", "b")))
    // count().is(...) post-aggregate filter: keep / drop
    assert(GremlinParser.run(triangle,
      "g.V().count().is(gt(0))").count() == 1)
    assert(GremlinParser.run(triangle,
      "g.V().count().is(gt(99))").count() == 0)
    // chained is() after values(): value filter on the bag
    val vi = GremlinParser.run(triangle,
      "g.V().values('score').is(gte(20)).is(lt(30))")
    assert(vi.as[Int].collect().toSeq == Seq(20))
    // coin: deterministic (same subset twice), p=0 empty, p=1 total
    val c1 = GremlinParser.run(triangle, "g.V().coin(0.5).id()")
      .as[Long].collect().toSet
    val c2 = GremlinParser.run(triangle, "g.V().coin(0.5).id()")
      .as[Long].collect().toSet
    assert(c1 == c2)
    assert(GremlinParser.run(triangle, "g.V().coin(0.0).count()")
      .head().getLong(0) == 0)
    assert(GremlinParser.run(triangle, "g.V().coin(1.0).count()")
      .head().getLong(0) == 3)
    // shape errors: mid-chain inject, is() on an element frontier,
    // unsupported step on the value pipeline
    assertThrows[GremlinParser.ParseException](
      GremlinParser.run(triangle, "g.V().inject(1).count()"))
    assertThrows[IllegalArgumentException](
      GremlinParser.run(triangle, "g.V().is(gt(1)).count()"))
    assertThrows[IllegalArgumentException](
      GremlinParser.run(triangle, "g.inject(1, 2).out('next').count()"))
    assertThrows[IllegalArgumentException](
      GremlinParser.run(triangle, "g.inject(1, 'x').count()"))
    // render round-trips the new steps
    Seq("g.V().elementMap('a', 'b')",
        "g.inject(1, 2.5).is(gt(1)).sum()",
        "g.V().coin(0.25).count()").foreach { q =>
      val ast = GremlinParser.parse(q)
      assert(GremlinParser.parse(GremlinParser.render(ast)) == ast, q)
    }
  }

  test("sack: per-traverser accumulator through hops (DSL + parser)") {
    // triangle: scores 10, 20, 30 on vertices 1, 2, 3; edges 1→2→3→1
    val dsl = triangle.V(1L).withSackInit(0.0)
      .sackOp("sum", "score").out("next").sackOp("sum", "score")
      .sackValues()
    assert(dsl.as[Double].collect().toSeq == Seq(30.0)) // 10 + 20
    val parsed = GremlinParser.run(triangle,
      "g.withSack(0.0).V(1).sack(sum).by('score')" +
        ".out('next').sack(sum).by('score').sack()")
    assert(samePlan(parsed, dsl))
    // mult/min/max ops
    assert(GremlinParser.run(triangle,
      "g.withSack(1.0).V(1).sack(mult).by('score')" +
        ".out('next').sack(mult).by('score').sack()")
      .as[Double].collect().toSeq == Seq(200.0))
    assert(GremlinParser.run(triangle,
      "g.withSack(25.0).V().sack(min).by('score').sack()")
      .as[Double].collect().sorted.toSeq == Seq(10.0, 20.0, 25.0))
    // bag semantics: each traverser owns its sack through fan-out
    val fan = GremlinParser.run(triangle,
      "g.withSack(0.0).V().sack(sum).by('score').out('next')" +
        ".sack(sum).by('score').sack()")
      .as[Double].collect().sorted.toSeq
    assert(fan == Seq(30.0, 40.0, 50.0)) // 10+20, 30+10, 20+30
    // shape errors: sack without withSack; op without by; sack after a
    // whole-frontier barrier; misplaced withSack
    assertThrows[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V().sack(sum).by('score').count()"))
    assertThrows[GremlinParser.ParseException](GremlinParser.run(triangle,
      "g.withSack(0.0).V().sack(sum).count()"))
    assertThrows[IllegalArgumentException](GremlinParser.run(triangle,
      "g.withSack(0.0).V().sack(sum).by('score').fold().unfold().sack()"))
    assertThrows[GremlinParser.ParseException](GremlinParser.run(triangle,
      "g.V().withSack(1.0).count()"))
    // render round-trip
    val ast = GremlinParser.parse(
      "g.withSack(0.0).V(1).sack(max).by('score').sack()")
    assert(GremlinParser.parse(GremlinParser.render(ast)) == ast)
  }

  test("parser: id(), label(), fold()/unfold(), path().by()") {
    // id() ≡ DSL idsDF, plan-for-plan
    val ids = GremlinParser.run(triangle, "g.V().id()")
    assert(samePlan(ids, triangle.V.idsDF()))
    assert(ids.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // label() works on both frontier kinds
    val vl = GremlinParser.run(triangle, "g.V().label()")
    assert(vl.as[String].collect().toSeq == Seq("node", "node", "node"))
    val el = GremlinParser.run(triangle, "g.E().label()")
    assert(el.as[String].collect().toSeq == Seq("next", "next", "next"))
    // fold() terminal: ONE sorted list row
    val f = GremlinParser.run(triangle, "g.V().fold()")
    assert(f.as[Seq[Long]].collect().toSeq == Seq(Seq(1L, 2L, 3L)))
    // fold().unfold() is a lossless round trip (full rows re-hydrated)
    val fu = GremlinParser.run(triangle,
      "g.V().fold().unfold().values('score')")
    assert(fu.as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
    // path().by('score'): each walk rendered by property
    val pb = GremlinParser.run(triangle,
      "g.V(1).out('next').path().by('score')")
    assert(pb.as[Seq[Int]].collect().toSeq == Seq(Seq(10, 20)))
    val pb2 = triangle.V(1L).withPath.out("next").pathsBy("score")
    assert(samePlan(pb, pb2))
  }

  test("parser: until/fold/id shape errors are clean, never raw " +
       "AnalysisExceptions") {
    def badParse(q: String): Unit =
      assertThrows[GremlinParser.ParseException](GremlinParser.run(triangle, q))
    def badShape(q: String): Unit =
      assertThrows[IllegalArgumentException](GremlinParser.run(triangle, q))
    badParse("g.V(1).repeat(__.out('next')).until(__.count().is(2))")
    // hop predicates are ACCEPTED since r14 (halt when the sub yields
    // anything); an unsupported head still refuses at parse time
    badParse("g.V(1).repeat(__.out('next')).until(__.values('score'))")
    // emit() + predicate stop is SUPPORTED since r13 task 5 (emits
    // every vertex reached at depth >= 1) — from 1, that's 2 then the
    // halted 3
    assert(GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).emit().until(__.hasId(3)).id()")
      .as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    badParse("g.V(1).until(__.count().is(0))") // until without repeat
    badShape("g.V().unfold().count()")          // unfold without fold
    badShape("g.V().fold().out('next')")        // only unfold after fold
    badShape("g.E().aggregate('x').cap('x')")   // edge-frontier aggregate
    // id() on an edge frontier: clean query-shape error
    assertThrows[IllegalArgumentException](triangle.E.idsDF())
  }

  test("rider-column guards: until()/fold() refuse filter contexts and " +
       "post-barrier consumers with the real reason; consumed-before " +
       "riders still work") {
    def shapeMsg(q: String): String =
      intercept[IllegalArgumentException](
        GremlinParser.run(triangle, q).collect()).getMessage
    // repeatUntil inside where()/not(): the fixed point cannot carry
    // the per-origin marker the semi-filter needs
    assert(shapeMsg("g.V().where(__.repeat(__.out('next'))" +
      ".until(__.count().is(0))).count()").contains("fixed point"))
    assert(shapeMsg("g.V().not(__.repeat(__.out('next'))" +
      ".until(__.count().is(0))).count()").contains("fixed point"))
    // consumers AFTER the barrier: clean positional errors
    assert(shapeMsg("g.V(1).repeat(__.out('next'))" +
      ".until(__.count().is(0)).path()").contains("does not survive"))
    assert(shapeMsg("g.V().as('a').repeat(__.out('next'))" +
      ".until(__.count().is(0)).select('a')").contains("does not survive"))
    assert(shapeMsg("g.V().fold().unfold().path()")
      .contains("does not survive"))
    assert(shapeMsg("g.V().as('a').fold().unfold().select('a')")
      .contains("does not survive"))
    // riders CONSUMED before the barrier are fine (these worked before
    // the guards existed and must keep working)
    assert(GremlinParser.run(triangle,
      "g.V(1).out('next').simplePath().fold().unfold().count()")
      .head().getLong(0) == 1)
    assert(GremlinParser.run(triangle,
      "g.V().as('a').out('next').fold().unfold().count()")
      .head().getLong(0) == 3)
    // re-tagging after the barrier makes select legal again
    assert(GremlinParser.run(triangle,
      "g.V().as('a').fold().unfold().as('a').select('a')").count() == 3)
    // barrier()/identity() are pass-throughs even inside a fold chain
    assert(GremlinParser.run(triangle,
      "g.V().fold().barrier().identity().unfold().count()")
      .head().getLong(0) == 3)
    // until(loops().is(0)): TinkerPop never yields the depth-0
    // frontier there — reject, don't lower to the identity repeat(0)
    assertThrows[GremlinParser.ParseException](GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).until(loops().is(0))"))
    // the legitimate forms still run (the cycle origin is visited-
    // excluded, so the fixed point from V(1) reaches {2, 3})
    assert(GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).until(loops().is(2))").count() == 1)
    assert(GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).until(__.count().is(0))").count() == 2)
  }

  test("choose() builds lazily: query construction launches no Spark job") {
    // with an EAGER pinned origin set, merely building a choose() query
    // ran a distributed job (checkpoint materialization) — plan-only
    // paths (explain, dry compilation) paid it. A job started during
    // construction completes synchronously before construction returns,
    // so draining the listener bus afterwards makes the zero-job
    // assertion reliable; the result check then proves the lazy pin
    // still works.
    // suites share one session and may run in parallel — jobsOf counts
    // only jobs carrying THIS thread's job group (an eager construction
    // job would run synchronously on this thread and inherit it)
    val (q, jobs) = TestSpark.jobsOf(
      triangle.V.choose(_.out("next"), _.out("next"), t => t))
    assert(jobs == 0, s"building choose() launched $jobs Spark job(s)")
    assert(q.toDF.count() == 3) // every vertex has an out-neighbor
  }

  test("choose() pins ANY cut in the cond (ADVICE r13): order() before " +
       "the cut no longer exempts — a later hop destroys the order and " +
       "tie-heavy keys were never total — and the partition stays exact " +
       "with exchange reuse disabled") {
    // pin observability: the pin is an EAGER localCheckpoint, so a cond
    // carrying a cut launches job(s) while the parser builds the plan —
    // the no-cut form is the zero-job lazy case the test above pins
    // order() precedes the cut, but the out() hop AFTER it destroys
    // the ordering — the old exemption compiled this pinCond=false
    val (q, jobs) = TestSpark.jobsOf(graft.graph.GremlinParser.run(triangle,
      "g.V().choose(__.order('score', asc).out('next').limit(1), " +
        "__.out('next'))"))
    assert(jobs >= 1,
      "an order()-then-hop-then-cut cond must pin (eager checkpoint)")
    // exact partition: limit(1) keeps ONE cond row → exactly one
    // origin routes true (hops), the other two pass through — 3 rows,
    // and the union of branch origins is exactly the frontier
    assert(q.count() == 3)
    // with exchange reuse DISABLED the pin is forced for every cond;
    // a nondeterministic cut cond still partitions exactly
    val prev = spark.conf.get("spark.sql.exchange.reuse", "true")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val ids = graft.graph.GremlinParser.run(triangle,
        "g.V().choose(__.out('next').limit(1), __.out('next')).id()")
        .as[Long].collect().sorted.toSeq
      assert(ids.length == 3, s"double-route/drop under reuse-off: $ids")
    } finally spark.conf.set("spark.sql.exchange.reuse", prev)
  }

  test("parser: union, coalesce, order().by, groupCount().by, limit") {
    val u = GremlinParser.run(triangle,
      "g.V(1).union(__.out('next'), __.in('next')).values('id')")
    val ud = triangle.V(1L).union(_.out("next"), _.in("next")).values("id")
    assert(samePlan(u, ud))
    assert(u.as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    val o = GremlinParser.run(triangle,
      "g.V().order().by('score', desc).limit(2).values('score')")
    val od = triangle.V.order("score", asc = false).limit(2).values("score")
    assert(samePlan(o, od))
    val gcs = GremlinParser.run(triangle, "g.V().groupCount().by('label')")
    assert(samePlan(gcs, triangle.V.groupCount("label")))
    val co = GremlinParser.run(triangle,
      "g.V(1).coalesce(__.out('next'), __.hasLabel('node'))")
    val cod = triangle.V(1L).coalesce(_.out("next"), _.hasLabel("node"))
    assert(samePlan(co, cod.toDF))
  }

  test("range/skip: ordered pagination, string path matches DSL plan-for-plan") {
    val r = GremlinParser.run(triangle,
      "g.V().order().by('score', desc).range(1, 3).values('score')")
    val rd = triangle.V.order("score", asc = false).range(1, 3).values("score")
    assert(samePlan(r, rd))
    // triangle scores sorted desc, page [1,3) = 2nd and 3rd
    val all = triangle.V.toDF.select("score")
      .as[Double].collect().sorted(Ordering[Double].reverse).toSeq
    assert(r.as[Double].collect().sorted(Ordering[Double].reverse).toSeq
      == all.slice(1, 3))
    val sk = GremlinParser.run(triangle,
      "g.V().order().by('score', asc).skip(2).values('score')")
    val skd = triangle.V.order("score").skip(2).values("score")
    assert(samePlan(sk, skd))
    assert(sk.as[Double].collect().sorted.toSeq == all.sorted.drop(2))
    assertThrows[IllegalArgumentException](triangle.V.range(3, 1))
  }

  test("parser: path() tracking and edge-step verbs") {
    val p = GremlinParser.run(triangle, "g.V(1).out('next').out('next').path()")
    val pd = triangle.V(1L).withPath.out("next").out("next").paths
    assert(samePlan(p, pd))
    assert(p.as[Seq[Long]].collect().toSeq == Seq(Seq(1L, 2L, 3L)))
    val e = GremlinParser.run(triangle,
      "g.V(1).outE('next').inV().values('id')")
    val ed = triangle.V(1L).outE("next").inV.values("id")
    assert(samePlan(e, ed))
  }

  test("as/select: tags ride the frontier through hops; select projects/jumps") {
    // pair projection: (origin, destination) ids after a hop
    val pairs = triangle.V.as("a").out("next").as("b").select("a", "b")
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (2L, 3L), (3L, 1L)))
    // jump-back: two hops out, then return to the start vertex
    val back = triangle.V(1L).as("a").out("next").out("next")
      .selectStep("a").toDF.select("id").as[Long].collect()
    assert(back.toSeq == Seq(1L))
    // tags survive the jump: select AFTER selectStep still sees 'b'
    val both = triangle.V(1L).as("a").out("next").as("b")
      .selectStep("a").select("a", "b").as[(Long, Long)].collect()
    assert(both.toSeq == Seq((1L, 2L)))
    // missing tag fails loudly
    assertThrows[IllegalArgumentException](triangle.V.select("nope"))
    assertThrows[IllegalArgumentException](triangle.V(1L).selectStep("nope"))
  }

  test("parser: as/select strings match the DSL plan-for-plan") {
    val p = GremlinParser.run(triangle,
      "g.V().as('a').out('next').as('b').select('a', 'b')")
    val d = triangle.V.as("a").out("next").as("b").select("a", "b")
    assert(samePlan(p, d))
    // single-label select = jump-back step, chain continues
    val pj = GremlinParser.run(triangle,
      "g.V(1).as('a').out('next').out('next').select('a').values('id')")
    val dj = triangle.V(1L).as("a").out("next").out("next")
      .selectStep("a").values("id")
    assert(samePlan(pj, dj))
    assert(pj.as[Long].collect().toSeq == Seq(1L))
  }

  test("repeatEmit unions every round; simplePath drops revisiting walks") {
    // triangle 1→2→3→1: emit().times(3) from 1 = {2, 3, 1} (one per round)
    val em = triangle.V(1L).repeatEmit(3)(_.out("next"))
      .toDF.select("id").as[Long].collect().sorted
    assert(em.toSeq == Seq(1L, 2L, 3L))
    // 3-hop walk returns to 1 — simplePath kills it; 2-hop walk survives
    val s3 = triangle.V(1L).withPath.repeat(3)(_.out("next")).simplePath()
      .toDF.count()
    assert(s3 == 0)
    val s2 = triangle.V(1L).withPath.repeat(2)(_.out("next")).simplePath()
      .toDF.select("id").as[Long].collect()
    assert(s2.toSeq == Seq(3L))
    assertThrows[IllegalArgumentException](triangle.V.simplePath())
    // cyclicPath is the exact complement: the 3-hop ring survives,
    // the 2-hop simple walk dies
    assert(triangle.V(1L).withPath.repeat(3)(_.out("next")).cyclicPath()
      .toDF.count() == 1)
    assert(triangle.V(1L).withPath.repeat(2)(_.out("next")).cyclicPath()
      .toDF.count() == 0)
    assert(GremlinParser.run(triangle,
        "g.V(1).out('next').out('next').out('next').cyclicPath().count()")
      .as[Long].collect().toSeq == Seq(1L))
    // parser equivalence (simplePath auto-enables path tracking)
    val p = GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).emit().times(3).values('id')")
    val d = triangle.V(1L).repeatEmit(3)(_.out("next")).values("id")
    assert(samePlan(p, d))
    val ps = GremlinParser.run(triangle,
      "g.V(1).out('next').out('next').out('next').simplePath().count()")
    val ds = triangle.V(1L).withPath.out("next").out("next").out("next")
      .simplePath().count()
    assert(samePlan(ps, ds))
    assert(ps.as[Long].collect().toSeq == Seq(0L))
  }

  test("aggregate terminals and existence predicates (DSL + parser)") {
    val ps = GremlinParser.run(triangle, "g.V().values('score').sum()")
    assert(samePlan(ps, triangle.V.sumOf("score")))
    assert(ps.as[Long].collect().toSeq == Seq(60L))
    val pm = GremlinParser.run(triangle, "g.V().values('score').mean()")
    assert(samePlan(pm, triangle.V.meanOf("score")))
    assert(pm.as[Double].collect().toSeq == Seq(20.0))
    val px = GremlinParser.run(triangle, "g.V().values('score').max()")
    assert(samePlan(px, triangle.V.maxOf("score")))
    assert(px.as[Int].collect().toSeq == Seq(30))
    assert(GremlinParser.run(triangle, "g.V().values('score').min()")
      .as[Int].collect().toSeq == Seq(10))
    // existence: score present on all triangle vertices, absent never
    assert(GremlinParser.run(triangle, "g.V().has('score').count()")
      .as[Long].collect().toSeq == Seq(3L))
    assert(GremlinParser.run(triangle, "g.V().hasNot('score').count()")
      .as[Long].collect().toSeq == Seq(0L))
    // sum() must follow values()
    assertThrows[GremlinParser.ParseException](
      GremlinParser.run(triangle, "g.V().sum()"))
    // group().by().by(): per-label sum matches the DSL terminal
    val pg = GremlinParser.run(triangle,
      "g.V().group().by('label').by(__.values('score').sum())")
    assert(samePlan(pg, triangle.V.group("label", "score", "sum")))
    assert(pg.as[(String, Long)].collect().toMap == Map("node" -> 60L))
    // group() without both by-modulators fails loudly
    assertThrows[GremlinParser.ParseException](
      GremlinParser.run(triangle, "g.V().group().by('label')"))
    assertThrows[GremlinParser.ParseException](
      GremlinParser.run(triangle, "g.V().group()"))
  }

  test("parser: sideEffect() detour snapshots without moving the " +
       "frontier; subgraph() collects the edge relation (r14)") {
    // detour snapshot: out('next') from 1 = {2}, while the MAIN chain
    // walks two more hops (1→2→3); cap recalls the detour bag
    val se = GremlinParser.run(triangle,
      "g.V(1).sideEffect(__.out('next').aggregate('n1'))" +
        ".out('next').out('next').cap('n1')")
    assert(se.as[Long].collect().toSeq == Seq(2L))
    // pass-through: the detour is invisible to the main chain's count
    assert(GremlinParser.run(triangle,
      "g.V().sideEffect(__.out('next').store('x')).count()")
      .as[Long].collect().toSeq == Seq(3L))
    // subgraph: edge relation (src, label, dst), frontier walks on
    val sg = GremlinParser.run(triangle,
      "g.V(1).outE('next').subgraph('sg').cap('sg')")
    assert(sg.columns.toSeq == Seq("src", "label", "dst"))
    assert(sg.as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "next", 2L)))
    assert(GremlinParser.run(triangle,
      "g.V(1).outE('next').subgraph('sg').inV().id()")
      .as[Long].collect().toSeq == Seq(2L))
    // refusals: effect-free detour, vertex-frontier subgraph, and the
    // cap message names all three spellings
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V().sideEffect(__.out('next')).count()").collect())
      .getMessage.contains("aggregate"))
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V().subgraph('sg').count()").collect())
      .getMessage.contains("EDGES"))
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V().cap('nope')").collect())
      .getMessage.contains("subgraph"))
    // render round-trips both steps
    val ast = GremlinParser.parse("g.V(1)" +
      ".sideEffect(__.out('next').aggregate('a'))" +
      ".outE('next').subgraph('s').cap('s')")
    assert(GremlinParser.parse(GremlinParser.render(ast)) == ast)
  }

  test("parser: until(<hop predicate>) halts when the stop sub yields " +
       "anything — where() semantics (r14)") {
    // triangle: every vertex has an out-neighbor, so the walk halts at
    // depth 1 — from 1 that's exactly {2}
    assert(GremlinParser.run(triangle,
      "g.V(1).repeat(__.out('next')).until(__.out('next')).id()")
      .as[Long].collect().toSeq == Seq(2L))
    // hop + filter chain: halt when a NEIGHBOR matches
    val v = Seq((10L, "n", 0), (11L, "n", 5), (12L, "m", 9), (13L, "n", 0))
      .toDF("id", "label", "score")
    val e = Seq((10L, 11L, "next", 1L), (11L, 12L, "next", 2L),
      (12L, 13L, "next", 3L)).toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    // from 10: 11 halts (its out-neighbor 12 is an 'm')
    assert(GremlinParser.run(g,
      "g.V(10).repeat(__.out('next')).until(__.out('next').hasLabel('m')).id()")
      .as[Long].collect().toSeq == Seq(11L))
    // DSL twin (result-pinned, per-round checkpoints)
    assert(g.V(10L)
      .repeatUntilReached(_.out("next"), _.out("next").hasLabel("m"))
      .idsDF().as[Long].collect().toSeq == Seq(11L))
    // render round-trip
    val ast = GremlinParser.parse(
      "g.V(10).repeat(__.out('next')).until(__.out('next')).id()")
    assert(GremlinParser.parse(GremlinParser.render(ast)) == ast)
  }

  test("parser: select().by() property readout — one by for all labels " +
       "or one per label (r14)") {
    // triangle has 'score'; one by applies to both labels
    val one = GremlinParser.run(triangle,
      "g.V(1).as('a').out('next').as('b').select('a', 'b').by('score')")
    assert(one.columns.toSeq == Seq("a", "b"))
    assert(one.as[(Int, Int)].collect().toSeq == Seq((10, 20)))
    // positional bys: id-keyed first column, score second — use two
    // DIFFERENT keys to pin the positional application
    val two = GremlinParser.run(triangle,
      "g.V(1).as('a').out('next').as('b').select('a', 'b')" +
        ".by('id').by('score')")
    assert(two.as[(Long, Int)].collect().toSeq == Seq((1L, 20)))
    // DSL twin
    val dsl = triangle.V(1L).as("a").out("next").as("b")
      .selectBy(Seq("a", "b"), Seq("score"))
    assert(dsl.as[(Int, Int)].collect().toSeq == Seq((10, 20)))
    // refusals: wrong by arity (3 bys on 2 labels refused by the
    // fuser's bys<labels guard falling through), unknown key,
    // single-label ambiguity
    assertThrows[GremlinParser.ParseException](GremlinParser.run(triangle,
      "g.V(1).as('a').out('next').as('b').select('a','b')" +
        ".by('score').by('score').by('score')"))
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V(1).as('a').out('next').as('b').select('a','b').by('nope')")
      .collect()).getMessage.contains("no such vertex property"))
    // single-label select().by refuses at PARSE time (the fuser only
    // fuses multi-label selects — one label is the jump-back step)
    assert(intercept[GremlinParser.ParseException](GremlinParser.run(triangle,
      "g.V(1).as('a').out('next').select('a').by('score')"))
      .getMessage.contains("multi-label"))
    // render round-trip keeps the modulators
    val ast = GremlinParser.parse(
      "g.V(1).as('a').out('next').as('b').select('a','b').by('score')")
    assert(GremlinParser.parse(GremlinParser.render(ast)) == ast)
  }

  test("parser: store()/barrier()/identity() legacy spellings") {
    // store == aggregate (both snapshot the frontier id bag as a lazy
    // plan); barrier/identity are pass-throughs in a full-barrier engine
    val a = GremlinParser.run(triangle,
      "g.V().aggregate('x').out('next').cap('x')")
    val b = GremlinParser.run(triangle,
      "g.V().identity().store('x').barrier().out('next').cap('x')")
    assert(a.collect().map(_.getLong(0)).sorted.toSeq ==
      b.collect().map(_.getLong(0)).sorted.toSeq)
    // the optional barrier(maxSize) hint parses and is irrelevant
    assert(GremlinParser.run(triangle, "g.V().barrier(100).count()")
      .head().getLong(0) == 3)
    // edge-frontier store refuses with a clean shape error
    assertThrows[IllegalArgumentException](
      GremlinParser.run(triangle, "g.E().store('x').cap('x')"))
  }

  test("parser: malformed queries fail loudly, never silently") {
    def bad(q: String): Unit =
      assertThrows[GremlinParser.ParseException](GremlinParser.run(triangle, q))
    bad("V().count()")                       // missing g.
    bad("g.V().frobnicate()")                // unknown step
    bad("g.V().has('score', plusOrMinus(3))") // unknown predicate
    bad("g.V().repeat(__.out('next'))")      // repeat without times
    bad("g.V().by('score')")                 // stray by()
    bad("g.V().order()")                     // order with no key and no by
    bad("g.V().hasLabel('unclosed")          // unterminated string
    bad("g.V().count().out('next')")         // step after terminal
  }

  // ---- TinkerPop withComputer OLAP steps (r14 verdict task 1) ----

  /** two components + an isolated vertex: 1→2→3 ('next'), 10→11
    * ('next'), 20 isolated; 3→99 'mark' (the until-hop beacon)
    */
  lazy val islands: PropertyGraph = {
    val v = Seq((1L, "node", 10), (2L, "node", 20), (3L, "node", 30),
      (4L, "node", 40), (10L, "node", 50), (11L, "node", 60),
      (20L, "iso", 70), (99L, "beacon", 0))
      .toDF("id", "label", "score")
    val e = Seq((1L, 2L, "next", 1L), (2L, 3L, "next", 2L),
      (3L, 4L, "next", 3L), (10L, 11L, "next", 1L),
      (3L, 99L, "mark", 1L))
      .toDF("src", "dst", "label", "sort_key")
    PropertyGraph(v, e)
  }

  test("parser: pageRank() lowers onto pageRankExact (sameResult twin)") {
    import graft.graph.Algorithms
    // default spelling: whole graph, 10 iterations, TinkerPop's
    // default output property name
    val got = GremlinParser.run(triangle, "g.V().pageRank()")
    assert(got.columns.toSeq ==
      Seq("id", "gremlin.pageRankVertexProgram.pageRank"))
    val twin = Algorithms.pageRankExact(spark, triangle, iters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == twin)
    // modulators: edge filter + times + by('rank') + the readout tail
    val top = GremlinParser.run(islands,
      "g.V().pageRank()" +
        ".with('~tinkerpop.pageRank.edges', __.outE('next'))" +
        ".with('~tinkerpop.pageRank.times', 5).by('rank')" +
        ".order().by('rank', desc).limit(1)")
    val twin2 = Algorithms.pageRankExact(spark, islands,
        labels = Seq("next"), iters = 5)
      .orderBy(col("pr").desc).limit(1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == twin2)
    // frontier DECORATION: a filtered frontier keeps only its rows
    val one = GremlinParser.run(triangle, "g.V(2).pageRank().by('r')")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // bare enum key aliases accept too
    assert(GremlinParser.run(triangle,
      "g.V().pageRank().with('times', 3).by('r')").count() == 3)
    // values() readout after the terminal
    assert(GremlinParser.run(triangle, "g.V().pageRank().by('r')" +
      ".values('r')").columns.toSeq == Seq("r"))
  }

  test("parser: connectedComponent() lowers onto connectedComponents " +
       "(sameResult twin)") {
    import graft.graph.Algorithms
    val got = GremlinParser.run(islands,
      "g.V().connectedComponent()" +
        ".with('~tinkerpop.connectedComponent.propertyName', 'cc')")
    assert(got.columns.toSeq == Seq("id", "cc"))
    val twin = Algorithms.connectedComponents(spark, islands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == twin)
    // 20 is isolated: its own singleton component
    assert(got.collect().collectFirst {
      case r if r.getLong(0) == 20L => r.getLong(1) }.contains(20L))
    // edge-label filter: dropping 'mark' splits 99 into a singleton
    val nf = GremlinParser.run(islands,
      "g.V(99).connectedComponent()" +
        ".with('~tinkerpop.connectedComponent.edges', __.outE('next'))" +
        ".with('~tinkerpop.connectedComponent.propertyName', 'cc')")
    assert(nf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((99L, 99L)))
    // default property name is TinkerPop's
    assert(GremlinParser.run(islands, "g.V().connectedComponent()")
      .columns.toSeq ==
      Seq("id", "gremlin.connectedComponentVertexProgram.component"))
  }

  test("parser: shortestPath() lowers onto ssspHops/ssspWeighted " +
       "(sameResult twins), relational distance reading") {
    import graft.graph.Algorithms
    // hop distances from 1 (source included at dist 0)
    val got = GremlinParser.run(islands, "g.V(1).shortestPath()" +
      ".with('~tinkerpop.shortestPath.edges', __.outE('next'))")
    assert(got.columns.toSeq == Seq("source", "id", "dist"))
    val twin = Algorithms.ssspHops(spark, islands, 1L, Seq("next"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      == twin)
    // multi-source: one certified run per explicit id, source column
    val multi = GremlinParser.run(islands, "g.V(1, 10).shortestPath()" +
      ".with('~tinkerpop.shortestPath.edges', __.outE('next'))")
    assert(multi.select("source").distinct().collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 10L))
    // inE = reversed walk (dst→src)
    val rev = GremlinParser.run(islands, "g.V(4).shortestPath()" +
      ".with('~tinkerpop.shortestPath.edges', __.inE('next'))")
    assert(rev.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      == Set((4L, 0L), (3L, 1L), (2L, 2L), (1L, 3L)))
    // target filter + maxDistance
    val tgt = GremlinParser.run(islands, "g.V(1).shortestPath()" +
      ".with('~tinkerpop.shortestPath.edges', __.outE('next'))" +
      ".with('~tinkerpop.shortestPath.target', __.has('score', gt(15)))" +
      ".with('~tinkerpop.shortestPath.maxDistance', 2)")
    assert(tgt.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      == Set((2L, 1L), (3L, 2L))) // 1 fails target, 4 fails maxDist
    // weighted: distance = sort_key, vs the ssspWeighted twin
    val w = GremlinParser.run(triangle, "g.V(1).shortestPath()" +
      ".with('~tinkerpop.shortestPath.distance', 'sort_key')")
    val wt = Algorithms.ssspWeighted(spark, triangle, 1L,
        col("sort_key").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w.collect().map(r => (r.getLong(1), r.getLong(2))).toSet == wt)
  }

  test("parser: OLAP step refusals are reasoned") {
    // frontier shape
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.E().pageRank()")).getMessage.contains("vertex frontier"))
    // pageRank is src→dst oriented
    assert(intercept[GremlinParser.ParseException](GremlinParser.parse(
      "g.V().pageRank().with('~tinkerpop.pageRank.edges', __.inE('next'))"))
      .getMessage.contains("src→dst"))
    // cross-family prefix is a user error, not an alias
    assert(intercept[GremlinParser.ParseException](GremlinParser.parse(
      "g.V().pageRank().with('~tinkerpop.shortestPath.edges', __.outE('n'))"))
      .getMessage.contains("does not configure"))
    // shortestPath needs explicit source ids, directly after the source
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V().shortestPath()")).getMessage.contains("explicit ids"))
    assert(intercept[IllegalArgumentException](GremlinParser.run(triangle,
      "g.V(1).out('next').shortestPath()"))
      .getMessage.contains("explicit ids"))
    // undirected walk has no certified program
    assert(intercept[GremlinParser.ParseException](GremlinParser.parse(
      "g.V(1).shortestPath()" +
        ".with('~tinkerpop.shortestPath.edges', __.bothE('next'))"))
      .getMessage.contains("DIRECTED"))
    // target must be a pure filter chain
    assert(intercept[GremlinParser.ParseException](GremlinParser.parse(
      "g.V(1).shortestPath()" +
        ".with('~tinkerpop.shortestPath.target', __.out('next'))"))
      .getMessage.contains("filter chains"))
    // with() on a non-OLAP step
    assert(intercept[GremlinParser.ParseException](GremlinParser.parse(
      "g.V().out('next').with('edges', __.outE('n'))"))
      .getMessage.contains("must follow"))
    // unknown configuration key
    assert(intercept[GremlinParser.ParseException](GremlinParser.parse(
      "g.V().pageRank().with('epsilon', 7)"))
      .getMessage.contains("no 'epsilon' configuration"))
  }

  test("parser: OLAP spellings render round-trip") {
    Seq(
      "g.V().pageRank()",
      "g.V().pageRank().with('~tinkerpop.pageRank.edges', " +
        "__.outE('next')).with('~tinkerpop.pageRank.times', 5).by('rank')",
      "g.V().connectedComponent().with('~tinkerpop.connectedComponent" +
        ".edges', __.outE('next')).with('~tinkerpop.connectedComponent" +
        ".propertyName', 'cc')",
      "g.V(1).shortestPath().with('~tinkerpop.shortestPath.edges', " +
        "__.inE('next')).with('~tinkerpop.shortestPath.target', " +
        "__.hasLabel('node')).with('~tinkerpop.shortestPath.distance', " +
        "'sort_key').with('~tinkerpop.shortestPath.maxDistance', 4)",
      "g.V(1).as('a').out('next').as('b').select('a', 'b')" +
        ".by(__.out('next').count()).by('score')"
    ).foreach { q =>
      val ast = GremlinParser.parse(q)
      assert(GremlinParser.parse(GremlinParser.render(ast)) == ast,
        s"round-trip failed for $q")
    }
  }

  test("parser: select().by(__.sub.count()) sub-traversal modulators " +
       "(r14 verdict task 3)") {
    // per-tagged-vertex degree readout: for each (1→2) walk, count
    // the 'next' successors of BOTH tagged vertices
    val got = GremlinParser.run(islands,
      "g.V(1).as('a').out('next').as('b').select('a', 'b')" +
        ".by(__.out('next').count()).by('score')")
    assert(got.columns.toSeq == Seq("a", "b"))
    // a = 1's out-degree over 'next' (1), b = vertex 2's score (20)
    assert(got.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      == Seq((1L, 20)))
    // count clause reaching NOTHING yields 0, not a dropped row
    val zero = GremlinParser.run(islands,
      "g.V(3).as('a').out('next').as('b').select('b', 'a')" +
        ".by(__.out('next').count()).by('score')")
    assert(zero.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      == Seq((0L, 30))) // b = 4 (chain end, degree 0), a = 3's score
    // ONE sub-count by applies to every label (the single-by arity)
    val all = GremlinParser.run(islands,
      "g.V(3).as('a').out('next').as('b').select('a', 'b')" +
        ".by(__.out('mark').count())")
    assert(all.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 0L))) // 3 has a mark edge, its successors don't
  }

  test("parser: emit() composes with until(<hop predicate>) " +
       "(r14 verdict task 4)") {
    // until(__.out('mark')) halts vertex 3 (it has a mark edge); with
    // emit(), every vertex REACHED at depth >= 1 ships, not just the
    // halted one
    val emitted = GremlinParser.run(islands,
      "g.V(1).repeat(__.out('next')).emit().until(__.out('mark')).id()")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(emitted == Seq(2L, 3L))
    // without emit(): the halted set only
    val halted = GremlinParser.run(islands,
      "g.V(1).repeat(__.out('next')).until(__.out('mark')).id()")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(halted == Seq(3L))
  }
}
