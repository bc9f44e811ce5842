package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, PropertyGraph}

/** Golden-value tests on hand-built graphs (FIXTURES.md: chain5,
  * two-component graph) for the graph algorithms.
  */
class AlgorithmsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkGraph(edges: Seq[(Long, Long)]): PropertyGraph = {
    val vids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val v = vids.map(id => (id, "node")).toDF("id", "label")
    val e = edges.map { case (s, d) => (s, d, "link", null.asInstanceOf[java.lang.Long]) }
      .toDF("src", "dst", "label", "sort_key")
    PropertyGraph(v, e)
  }

  test("rolling checkpoints: iterative loops pin O(1) RDDs, not O(rounds)") {
    // SCALE.md block-release item: each round's localCheckpoint used
    // to pin its blocks until a GC surfaced the dead reference — a
    // 12-round loop transiently held 13 checkpoint RDDs. With the
    // graft.util.Loop rolling release, the loop holds the current round
    // (+ the persisted adjacency) only, independent of round count.
    val g1 = mkGraph((1L to 40L).map(i => (i, i % 40 + 1)))
    val before = spark.sparkContext.getPersistentRDDs.size
    val pr = Algorithms.pageRankExact(spark, g1, iters = 12)
    assert(pr.count() == 40)
    val during = spark.sparkContext.getPersistentRDDs.size
    // without release this reads ≥ before + 13 (one per round + seed);
    // with it: the final state + loop-scoped persists not yet swept
    assert(during - before <= 4,
      s"iterative loop pinned ${during - before} RDDs — rolling release broken")
  }

  test("pregel checkpointing: a >25-superstep GraphX CC neither grows " +
       "lineage unbounded nor leaks pinned RDDs (SCALE.md open item)") {
    // 60-vertex path graph: the delta-frontier CC needs ~diameter
    // rounds, so its state lineage must stay rolled (one checkpoint
    // per round, the previous one released) for the run to neither
    // deepen its plans nor pin one RDD per round
    val chain = mkGraph((1L until 60L).map(i => (i, i + 1)))
    val before = spark.sparkContext.getPersistentRDDs.size
    val cc = Algorithms.connectedComponents(spark, chain)
      .as[(Long, Long)].collect()
    assert(cc.length == 60 && cc.forall(_._2 == 1L),
      "deep-chain CC converged wrong")
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 4,
      s"deep CC run leaked ${after - before} pinned RDDs")
    // the DataFrame fixpoints hold the same O(1) pin at 25 rounds
    val pr = Algorithms.pageRankExact(spark, chain, iters = 25)
    assert(pr.count() == 60)
    val after2 = spark.sparkContext.getPersistentRDDs.size
    assert(after2 - before <= 4,
      s"25-round DataFrame loop pinned ${after2 - before} RDDs")
  }

  test("louvainLevel1: two triangles with a bridge split into two communities") {
    val g1 = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)))
    val c = Algorithms.louvainLevel1(spark, g1)
      .as[(Long, Long)].collect().toMap
    assert(c(1L) == c(2L) && c(2L) == c(3L), s"left triangle split: $c")
    assert(c(4L) == c(5L) && c(5L) == c(6L), s"right triangle split: $c")
    assert(c(3L) != c(4L), s"bridge merged the triangles: $c")
    // determinism: identical map on a second run
    val c2 = Algorithms.louvainLevel1(spark, g1)
      .as[(Long, Long)].collect().toMap
    assert(c == c2)
    // star: all leaves join the hub's community
    val st = Algorithms.louvainLevel1(spark,
      mkGraph(Seq((10L, 11L), (10L, 12L), (10L, 13L))))
      .as[(Long, Long)].collect().toMap
    assert(st.values.toSet.size == 1, s"star fragmented: $st")
  }

  test("scc: planted cycle + tail; overlapping cycles merge") {
    // 1→2→3→1 cycle, tail 3→4
    val g1 = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val got1 = Algorithms.stronglyConnected(spark, g1)
      .as[(Long, Long)].collect().toMap
    assert(got1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    // two cycles sharing vertex 2 form ONE scc
    val g2 = mkGraph(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)))
    val got2 = Algorithms.stronglyConnected(spark, g2)
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // bowtie: separate 2-cycles bridged one-way stay separate
    val g3 = mkGraph(Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (2L, 3L)))
    val got3 = Algorithms.stronglyConnected(spark, g3)
      .as[(Long, Long)].collect().toMap
    assert(got3 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("scc: DAG chain is all singletons (pure trim path)") {
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val got = Algorithms.stronglyConnected(spark, g)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 5L).map(i => i -> i).toMap)
  }

  test("bipartiteProjection: pair supports + mega-basket guard") {
    // baskets: 10:{1,2,3}, 11:{1,2}, 12:{1,2}, 13 is a mega-basket
    val edges = (Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (10L, 2L)) // dup edge must not double-count
      ++ (1L to 50L).map(i => (13L, 100L + i)))
      .map { case (b, i) => (b, i, "has", null.asInstanceOf[java.lang.Long]) }
      .toDF("src", "dst", "label", "sort_key")
    val got = Algorithms.bipartiteProjection(edges, minSupport = 2L,
        maxBasketSize = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 3L))) // {1,3},{2,3} support 1; basket 13 dropped
    val withMega = Algorithms.bipartiteProjection(edges, minSupport = 1L,
        maxBasketSize = 1000)
      .as[(Long, Long, Long)].collect()
    assert(withMega.length == 3 + 50 * 49 / 2) // guard off: pairs explode
  }

  test("dagLayers: longest-path levels on a diamond with a long arm") {
    // 1→2→3→5, 1→4→5: level(5) = 3 (the LONGER incoming path wins)
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 5L), (1L, 4L), (4L, 5L)))
    val lv = Algorithms.dagLayers(spark, g, iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(lv == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 3L))
  }

  test("dagLayers: a cycle's levels hit the iteration bound (detector)") {
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val lv = Algorithms.dagLayers(spark, g, iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(lv.values.exists(_ >= 5L)) // cycle members keep climbing
  }

  test("sssp hops on chain5") {
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val got = Algorithms.ssspHops(spark, g, 1L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("sssp hops: a 40-deep chain returns every distance (no depth cap)") {
    val g = mkGraph((1L until 41L).map(i => (i, i + 1)))
    val got = Algorithms.ssspHops(spark, g, 1L)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 41L).map(i => i -> (i - 1)).toMap)
  }

  test("sssp: a source with no edge in the label set returns no row") {
    // 1 has only an `other` edge; 2 sits on a `link` edge as its dst,
    // so it is in the link graph's vertex set (dist 0) and reaches nothing
    val v = Seq(1L, 2L, 3L).map(id => (id, "node")).toDF("id", "label")
    val e = Seq((1L, 3L, "other"), (3L, 2L, "link"))
      .map { case (s, d, l) => (s, d, l, 1L) }
      .toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    assert(Algorithms.ssspHops(spark, g, 1L, Seq("link")).isEmpty)
    assert(Algorithms.ssspWeighted(spark, g, 1L, col("sort_key"), Seq("link")).isEmpty)
    assert(Algorithms.ssspHops(spark, g, 2L, Seq("link"))
      .as[(Long, Long)].collect().toSeq == Seq(2L -> 0L))
    assert(Algorithms.ssspWeighted(spark, g, 2L, col("sort_key"), Seq("link"))
      .as[(Long, Long)].collect().toSeq == Seq(2L -> 0L))
  }

  test("ssspWeighted: a null or negative weight fails with a message") {
    // a dropped edge would silently lengthen paths: 1→2 is the only
    // way to 2, so a null weight must fail the run, not vanish
    val v = Seq(1L, 2L, 3L).map(id => (id, "node")).toDF("id", "label")
    val e = Seq[(Long, Long, java.lang.Long)]((1L, 2L, null), (1L, 3L, 4L))
      .toDF("src", "dst", "sort_key").withColumn("label", lit("link"))
    val g = PropertyGraph(v, e)
    val ex = intercept[Exception] {
      Algorithms.ssspWeighted(spark, g, 1L, col("sort_key")).collect()
    }
    assert(ex.getMessage.contains("non-null and non-negative"), ex.getMessage)
    val neg = intercept[Exception] {
      Algorithms.ssspWeighted(spark, g, 1L, coalesce(col("sort_key"), lit(-1L)))
        .collect()
    }
    assert(neg.getMessage.contains("non-null and non-negative"), neg.getMessage)
  }

  test("sssp reverse follows edges backwards") {
    val g = mkGraph(Seq((1L, 2L), (2L, 3L)))
    val got = Algorithms.ssspHops(spark, g, 3L, reverse = true)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 0L, 2L -> 1L, 1L -> 2L))
  }

  test("connected components: two islands get min-id components") {
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    val got = Algorithms.connectedComponents(spark, g)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
  }

  test("connected components keeps isolated vertices as singletons") {
    val v = Seq((1L, "n"), (2L, "n"), (99L, "n")).toDF("id", "label")
    val e = Seq((1L, 2L, "link", null.asInstanceOf[java.lang.Long]))
      .toDF("src", "dst", "label", "sort_key")
    val got = Algorithms.connectedComponents(spark, PropertyGraph(v, e))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 99L -> 99L))
  }

  test("degrees counts parallel edges") {
    val g = mkGraph(Seq((1L, 2L), (1L, 2L), (2L, 3L)))
    val got = Algorithms.degrees(spark, g).as[(Long, Int)].collect().toMap
    assert(got(1L) == 2 && got(2L) == 3 && got(3L) == 1)
  }

  test("triangleTotal matches GraphX on planted graphs") {
    // two triangles sharing an edge + a pendant; reversed/duplicate
    // edges must not inflate the count
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 1L), (2L, 4L),
      (3L, 4L), (2L, 3L), (4L, 5L)))
    val df = Algorithms.triangleTotal(spark, g).collect()(0)
    assert(df.getLong(0) == 2, s"expected 2 triangles, got ${df.getLong(0)}")
    assert(df.getLong(1) == 5) // non-isolated vertex count
  }

  test("ssspWeighted picks the lighter path, not the shorter one") {
    // weight = src id: 1→2→3 costs 1+2=3, direct 1→3 costs 1; and a
    // long cheap chain 1→4→5 (1+4) vs nothing shorter
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (4L, 5L)))
    val got = Algorithms.ssspWeighted(spark, g, 1L, expr("src"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
    // reverse: from 5 following edges backwards, weight = src of edge
    val rev = Algorithms.ssspWeighted(spark, g, 5L, expr("src"), reverse = true)
      .as[(Long, Long)].collect().toMap
    assert(rev == Map(5L -> 0L, 4L -> 4L, 1L -> 5L))
  }

  test("kCore peels to the planted core") {
    // K4 core {1,2,3,4} + a tail 4–5–6 and a pendant 2–7: with k=3
    // only the K4 survives; the tail peels over multiple rounds
    val g = mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (2L, 7L)))
    val core = Algorithms.kCore(spark, g, k = 3).as[Long].collect().toSet
    assert(core == Set(1L, 2L, 3L, 4L))
    // k=2: triangle-free tail still peels, K4 + nothing else
    val core2 = Algorithms.kCore(spark, g, k = 2).as[Long].collect().toSet
    assert(core2 == Set(1L, 2L, 3L, 4L))
    // duplicate/reverse edges must not inflate degrees
    val gDup = mkGraph(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L)))
    assert(Algorithms.kCore(spark, gDup, k = 2).as[Long].collect().toSet
      == Set(1L, 2L, 3L))
    assert(Algorithms.kCore(spark, gDup, k = 3).as[Long].collect().isEmpty)
  }

  test("kCoreStatus surfaces a truncated peel; full run converges") {
    // a 10-vertex path peels two endpoints per round (5 rounds to the
    // empty 2-core): a 2-round cap must report converged=false with a
    // survivor set that is a strict UPPER bound, never pass it off as
    // the fixed point
    val path = mkGraph((1L until 10L).map(i => (i, i + 1)))
    val (truncated, conv) =
      Algorithms.kCoreStatus(spark, path, k = 2, maxRounds = 2)
    assert(!conv)
    assert(truncated.as[Long].collect().toSet == (3L to 8L).toSet)
    val (full, conv2) = Algorithms.kCoreStatus(spark, path, k = 2)
    assert(conv2 && full.as[Long].collect().isEmpty)
  }

  test("scc: round cap fires loudly instead of returning a partial map") {
    // chain of two 2-cycles: forward coloring floods color 1 over all
    // four vertices, so round 1 resolves only {1,2}; maxRounds=1 must
    // throw (remaining vertices unassigned), not emit a partial scc map
    val g = mkGraph(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L)))
    val ex = intercept[IllegalArgumentException](
      Algorithms.stronglyConnected(spark, g, maxRounds = 1).collect())
    assert(ex.getMessage.contains("did not converge"))
    val ok = Algorithms.stronglyConnected(spark, g)
      .as[(Long, Long)].collect().toMap
    assert(ok == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("dagLayersStatus detector mode: cyclic graph reports converged=false") {
    // 3-cycle + tail: levels climb past the cap; strict mode throws,
    // detector mode returns the truncated layering with the flag down
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val (lvl, conv) = Algorithms.dagLayersStatus(spark, g, iters = 4)
    assert(!conv)
    assert(lvl.agg(max("level")).as[Long].head() == 4L)
    intercept[IllegalArgumentException](
      Algorithms.dagLayersStatus(spark, g, iters = 4, strict = true))
  }

  test("gate graph 3-core converges within the oracle's unroll bound") {
    // a_kcore's oracle unrolls KcoreRounds rounds; peeling is monotone,
    // so equality between that bound and a larger one proves the fixed
    // point is reached inside it on the gate data
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    val labels = Seq("placed", "contains")
    val r = graft.queries.AlgoQueries.KcoreRounds
    val atBound = Algorithms.kCore(spark, g, k = 3, labels, maxRounds = r)
      .as[Long].collect().toSet
    val beyond = Algorithms.kCore(spark, g, k = 3, labels, maxRounds = r + 5)
      .as[Long].collect().toSet
    assert(atBound == beyond)
    assert(atBound.nonEmpty)
  }

  test("pagerank: sink-feeding star ranks center highest") {
    val g = mkGraph(Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L), (9L, 1L)))
    val top = Algorithms.pageRank(spark, g, iters = 20)
      .orderBy(col("rank").desc).select("id").as[Long].first()
    assert(top == 9L)
  }

  test("multiSourceHops: all seeds advance in one BFS, min distances") {
    // chain 1→2→3→4 plus branch 2→5; seeds 1 and 3
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L)))
    val got = Algorithms.multiSourceHops(spark, g, Seq(1L, 3L))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (s, rs) =>
        s -> rs.map(r => r._2 -> r._3).toMap }
    assert(got(1L) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 2L, 4L -> 3L))
    assert(got(3L) == Map(3L -> 0L, 4L -> 1L))
  }

  test("multiSourceHops: a repeated seed is one source with one dist-0 row") {
    val g = mkGraph(Seq((1L, 2L), (2L, 3L)))
    val twice = Algorithms.multiSourceHops(spark, g, Seq(1L, 1L))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(twice == Seq((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L)))
  }

  test("closeness: a 40-vertex chain reaches all 39 vertices past the seed") {
    val g = mkGraph((1L until 40L).map(i => (i, i + 1)))
    val got = Algorithms.closeness(spark, g, Seq(1L))
      .select("n_reachable", "total_dist").as[(Long, Long)].collect().toSeq
    assert(got == Seq((39L, (1L to 39L).sum)))
  }

  test("closeness: hand-computed on a star") {
    // center 1 → leaves 2,3,4 (dist 1 each): closeness = 3/3 = 1.0
    val g = mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 9L)))
    val got = Algorithms.closeness(spark, g, Seq(1L))
      .select("id", "n_reachable", "total_dist", "closeness")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // 1 reaches 2,3,4 at dist 1 and 9 at dist 2 → 4 vertices, Σ=5
    assert(got == Seq((1L, 4L, 5L, 0.8)))
  }

  test("harmonic: hand-computed; unreachable vertices contribute zero") {
    // 1 → 2,3,4 (dist 1) and 2 → 9 (dist 2); 7 → 8 is DISCONNECTED
    // from 1: harmonic(1) = 3·1 + 1/2 = 3.5 regardless — the
    // disconnect-robustness closeness lacks
    val g = mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 9L), (7L, 8L)))
    val got = Algorithms.harmonic(spark, g, Seq(1L))
      .select("id", "n_reachable", "h_micro", "harmonic")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 4L, 3500000L, 3.5)))
  }

  test("clusteringCoefficient: triangle + pendant edge") {
    // triangle 1-2-3 plus edge 3-4: degrees 2,2,3,1 → wedges 1+1+3+0=5
    // triangles 1 → coefficient 3/5 = 0.6
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    val got = Algorithms.clusteringCoefficient(spark, g)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((5L, 1L, 0.6)))
  }

  test("connectedComponents: islands, chain, isolated") {
    // two islands + a 16-node chain (high diameter: one label hop per
    // round) + an isolated vertex
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 35L).map(i => (i, i + 1))
    val vids = (edges.flatMap(e => Seq(e._1, e._2)) :+ 99L).distinct
    val v = vids.map(id => (id, "node")).toDF("id", "label")
    val e = edges.map { case (s, d) => (s, d, "link", null.asInstanceOf[java.lang.Long]) }
      .toDF("src", "dst", "label", "sort_key")
    val g = PropertyGraph(v, e)
    val got = Algorithms.connectedComponents(spark, g)
      .as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      99L -> 99L) ++ (20L to 35L).map(_ -> 20L)
    assert(got == want)
  }

  test("a relaxation round consumes ONLY the delta rows (frontier contract)") {
    // edges 1–2; the state holds a better label for 1 (x 0) that is NOT
    // flagged __chg — it must not reach 2. The flagged row is 3's label
    // on a vertex with no edges — nothing propagates from it either.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    def round(st: Seq[(Long, Long, Boolean)]): Map[Long, Long] =
      Algorithms.relaxRound(edges, st.toDF("id", "x", "__chg"), col("x"),
          lower = true, grow = false)
        .select("id", "x").as[(Long, Long)].collect().toMap
    val out = round(Seq((1L, 0L, false), (2L, 2L, false), (3L, 3L, true)))
    assert(out == Map(1L -> 0L, 2L -> 2L, 3L -> 3L),
      "a label outside delta must not propagate in a delta round")
    // same round with 1's label IN delta: now 2 picks it up
    val out2 = round(Seq((1L, 0L, true), (2L, 2L, false), (3L, 3L, false)))
    assert(out2 == Map(1L -> 0L, 2L -> 0L, 3L -> 3L))
  }

  test("scc: empty graph returns an empty (id, scc) frame") {
    val v = Seq.empty[(Long, String)].toDF("id", "label")
    val e = Seq.empty[(Long, Long, String, java.lang.Long)]
      .toDF("src", "dst", "label", "sort_key")
    val got = Algorithms.stronglyConnected(spark, PropertyGraph(v, e))
    assert(got.columns.toSeq == Seq("id", "scc"))
    assert(got.isEmpty)
  }

  test("scc: non-converged coloring fails loudly, not silently wrong") {
    // a 34-node directed cycle needs >30 min-id propagation steps;
    // with the default maxIter=30 cap the coloring must REFUSE rather
    // than return a partial (wrong) assignment
    val n = 34L
    val g = mkGraph((1L until n).map(i => (i, i + 1)) :+ (n, 1L))
    val ex = intercept[IllegalArgumentException] {
      Algorithms.stronglyConnected(spark, g).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // raising the cap resolves it: one SCC labeled by the min id
    val ok = Algorithms.stronglyConnected(spark, g, maxIter = 40)
      .as[(Long, Long)].collect().toMap
    assert(ok == (1L to n).map(i => i -> 1L).toMap)
  }

  test("dagLayers strict mode rejects truncation; detector mode returns it") {
    // depth-5 chain with iters=3: detector mode returns capped levels,
    // strict mode throws
    val g = mkGraph((1L to 5L).map(i => (i, i + 1)))
    val lv = Algorithms.dagLayers(spark, g, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(lv(4L) == 3L) // truncated but returned in detector mode
    val ex = intercept[IllegalArgumentException] {
      Algorithms.dagLayers(spark, g, iters = 3, strict = true).collect()
    }
    assert(ex.getMessage.contains("frontier still live"))
    // a deep-enough strict run agrees with detector mode
    val full = Algorithms.dagLayers(spark, g, iters = 8, strict = true)
      .as[(Long, Long)].collect().toMap
    assert(full == (1L to 6L).map(i => i -> (i - 1)).toMap)
  }

  test("pageRank recurrence matches the a_pagerank_top oracle contract on chain3") {
    // the DuckDB oracle replays r0 = 1.0, r' = 0.15 + 0.85*Σ r/outdeg
    // WITHOUT pageRank's final normalization (ranks scaled to sum to n):
    // a positive scalar preserves both the order and the RELATIVE gaps
    // the gate query guards on, so the oracle may skip it — but only
    // while the operator's recurrence itself matches. This hand-computed pin
    // fails before the gate query could silently drift.
    //   iter1: (0.15, 1.0, 1.0)   iter2: (0.15, 0.2775, 1.0)
    //   normalized ×3/1.4275: (0.31524, 0.58319, 2.10158)
    val g = mkGraph(Seq((1L, 2L), (2L, 3L)))
    val r = Algorithms.pageRank(spark, g, iters = 2)
      .as[(Long, Double)].collect().toMap
    val scale = 3.0 / (0.15 + 0.2775 + 1.0)
    assert(math.abs(r(1L) - 0.15 * scale) < 1e-12, s"got $r")
    assert(math.abs(r(2L) - 0.2775 * scale) < 1e-12, s"got $r")
    assert(math.abs(r(3L) - 1.0 * scale) < 1e-12, s"got $r")
  }

  test("eigenvectorExact: star concentrates on the hub; path symmetry") {
    // A+I iteration (plain A would OSCILLATE on bipartite graphs like
    // stars/trees). Star K1,3: leading eigenvector of A+I has hub 1,
    // leaves 1/sqrt(3) ≈ 0.5774 → scores converge toward ~577350
    val star = mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 4L)))
    val st = Algorithms.eigenvectorExact(spark, star, iters = 8)
      .as[(Long, Long)].collect().toMap
    assert(st(1L) == 1000000L)
    assert(st(2L) == st(3L) && st(3L) == st(4L))
    assert(st(2L) > 560000L && st(2L) < 595000L, s"got $st")
    // path 1-2-3: ends symmetric at ~1/sqrt(2) ≈ 707107, middle max
    val p = Algorithms.eigenvectorExact(spark, mkGraph(Seq((1L, 2L), (2L, 3L))),
      iters = 8).as[(Long, Long)].collect().toMap
    assert(p(2L) == 1000000L && p(1L) == p(3L), s"got $p")
    assert(p(1L) > 690000L && p(1L) < 725000L, s"got $p")
  }

  test("eccentricity: chain depths, no-out-edge seed, diamond dedup") {
    // chain 1→2→3→4: seed 1 ecc 3 (n=3); seed 3 ecc 1 (n=1); seed 4
    // has no out-edges — reported as ecc 0 / n 0, not dropped
    val chain = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val got = Algorithms.eccentricity(spark, chain, seeds = Seq(1L, 3L, 4L))
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got == Map(1L -> ((3L, 3L)), 3L -> ((1L, 1L)), 4L -> ((0L, 0L))))
    // diamond 1→{2,3}→4: vertex 4 reachable on two paths counts once
    val dia = mkGraph(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    val d = Algorithms.eccentricity(spark, dia, seeds = Seq(1L))
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(d == Map(1L -> ((2L, 3L))))
  }

  test("pageRankWeightedExact: rank splits by weight — hand-computed") {
    // 1→2 (w=1), 1→4 (w=3): Σw=4. Round 1: m(2)=250000, m(4)=750000 →
    // pr=362500 / 787500. Round 2 feeds from pr(1)=150000:
    // pr(2)=150000+⌊85·37500/100⌋=181875, pr(4)=150000+95625=245625
    val g1 = mkGraph(Seq((1L, 2L), (1L, 4L)))
    val got = Algorithms.pageRankWeightedExact(spark, g1,
        weight = expr("dst - 1"), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 181875L, 4L -> 245625L))
    // uniform weights reduce to the unweighted recurrence exactly
    val g2 = mkGraph(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)))
    val w = Algorithms.pageRankWeightedExact(spark, g2,
        weight = lit(7), iters = 6).as[(Long, Long)].collect().toMap
    val u = Algorithms.pageRankExact(spark, g2, iters = 6)
      .as[(Long, Long)].collect().toMap
    assert(w == u)
  }

  test("assortativity: hand-computed r on path graphs; star is -1") {
    // path-4: degrees 1,2,2,1 → n=6, Σx=10, Σx²=18, Σxy=16 →
    // r = (6·16−100)/(6·18−100) = −0.5
    val p4 = Algorithms.assortativity(spark,
      mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L)))).collect()(0)
    assert(p4.getLong(0) == 6L && p4.getLong(1) == 10L)
    assert(p4.getLong(2) == 18L && p4.getLong(3) == 16L)
    assert(p4.getDouble(4) == -0.5)
    // star K1,3: every edge joins the deg-3 hub to a deg-1 leaf —
    // perfectly disassortative
    val st = Algorithms.assortativity(spark,
      mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 4L)))).collect()(0)
    assert(st.getDouble(4) == -1.0)
    // duplicate/reverse edges collapse before degrees are counted
    val dup = Algorithms.assortativity(spark,
      mkGraph(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))).collect()(0)
    assert(dup.getLong(0) == 6L && dup.getDouble(4) == -0.5)
    // degree-REGULAR graphs (cycle C4: every degree 2) have zero
    // degree variance — r is undefined; the guard returns NULL
    // instead of engine-dependent NaN/±Inf renderings (ADVICE r9)
    val c4 = Algorithms.assortativity(spark,
      mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))).collect()(0)
    assert(c4.getLong(0) == 8L && c4.isNullAt(4))
  }

  test("simRankExact: hand-computed scores on the textbook DAG") {
    // univ(1) → profs(2,3) → students(4,5):
    // s(2,3) = C·s(1,1) = 800000; s(4,5) = C·s(2,3) = 640000
    val g1 = mkGraph(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 5L)))
    val got1 = Algorithms.simRankExact(spark, g1, iters = 3)
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got1((2L, 3L)) == 800000L)
    assert(!got1.contains((3L, 2L))) // canonical a < b orientation only
    assert(got1((4L, 5L)) == 640000L)
    // orders o1(11)={p1,p2}, o2(12)={p2,p3}, same customer 1:
    // s(o1,o2) = 800000 (round 1, shared single in-neighbor)
    // s(p1,p3) = C·s(o1,o2)           = 640000  (|I|=1 each)
    // s(p1,p2) = C·(s(o1,o1)+s(o1,o2))/(1·2) = 4·1800000/10 = 720000
    val g2 = mkGraph(Seq((1L, 11L), (1L, 12L),
      (11L, 21L), (11L, 22L), (12L, 22L), (12L, 23L)))
    val got2 = Algorithms.simRankExact(spark, g2, iters = 3)
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got2((11L, 12L)) == 800000L)
    assert(got2((21L, 23L)) == 640000L)
    assert(got2((21L, 22L)) == 720000L)
    // sink pairs with disjoint in-neighborhood structure stay absent
    assert(!got2.contains((1L, 21L)))
    // duplicate edges must not inflate |I| (set semantics)
    val g3 = mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 2L)))
    val got3 = Algorithms.simRankExact(spark, g3, iters = 2)
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(got3((2L, 3L)) == 800000L)
  }

  test("maximalMatching: matching + maximality invariants, determinism") {
    def check(edges: Seq[(Long, Long)], m: Set[(Long, Long)]): Unit = {
      val mv = m.flatMap(e => Seq(e._1, e._2))
      assert(mv.size == 2 * m.size, s"vertex matched twice in $m")
      val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      for (e <- canon if !m(e))
        assert(mv(e._1) || mv(e._2), s"unmatched edge $e has free endpoints")
    }
    // triangle: exactly one edge can match
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val mTri = Algorithms.maximalMatching(spark, mkGraph(tri))
      .as[(Long, Long)].collect().toSet
    assert(mTri.size == 1); check(tri, mTri)
    // star K1,5: the hub matches exactly once
    val star = (2L to 6L).map(i => (1L, i))
    val mStar = Algorithms.maximalMatching(spark, mkGraph(star))
      .as[(Long, Long)].collect().toSet
    assert(mStar.size == 1); check(star, mStar)
    // 30-chain: invariants + run-to-run determinism
    val chain = (1L until 30L).map(i => (i, i + 1))
    val m1 = Algorithms.maximalMatching(spark, mkGraph(chain), maxRounds = 12)
      .as[(Long, Long)].collect().toSet
    check(chain, m1)
    val m2 = Algorithms.maximalMatching(spark, mkGraph(chain), maxRounds = 12)
      .as[(Long, Long)].collect().toSet
    assert(m1 == m2)
  }

  test("a_matching round budget converges at the gate scale") {
    val out = graft.queries.AlgoQueries
      .aMatching(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
  }

  test("maximalIndependentSet: independence + maximality invariants") {
    def checkInvariants(edges: Seq[(Long, Long)], mis: Set[Long]): Unit = {
      for ((a, b) <- edges)
        assert(!(mis(a) && mis(b)), s"edge ($a,$b) inside MIS $mis")
      val adj = (edges ++ edges.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for (v <- adj.keySet if !mis(v))
        assert(adj(v).exists(mis), s"non-MIS vertex $v has no MIS neighbor")
    }
    // triangle + pendant
    val e1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val m1 = Algorithms.maximalIndependentSet(spark, mkGraph(e1))
      .as[Long].collect().toSet
    checkInvariants(e1, m1)
    // star K1,5: either the hub alone or all five leaves
    val e2 = (2L to 6L).map(i => (1L, i))
    val m2 = Algorithms.maximalIndependentSet(spark, mkGraph(e2))
      .as[Long].collect().toSet
    checkInvariants(e2, m2)
    assert(m2 == Set(1L) || m2 == (2L to 6L).toSet)
    // 40-chain converges within a 10-round budget and is deterministic
    val e3 = (1L until 40L).map(i => (i, i + 1))
    val m3a = Algorithms.maximalIndependentSet(spark, mkGraph(e3),
      maxRounds = 10).as[Long].collect().toSet
    checkInvariants(e3, m3a)
    val m3b = Algorithms.maximalIndependentSet(spark, mkGraph(e3),
      maxRounds = 10).as[Long].collect().toSet
    assert(m3a == m3b)
  }

  test("a_mis round budget converges at the gate scale") {
    // the gate's fixed budget must cover the sf geo graph; the loop
    // requires loud non-convergence, so simply running it pins both
    val out = graft.queries.AlgoQueries.aMis(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
  }

  test("katzExact: hand-computed fixed points on chain and star") {
    // chain 1→2→3: maxInDeg 1 ⇒ α = 1/2; fixed point
    // x(1)=β=1e6, x(2)=β+x(1)/2=1.5e6, x(3)=β+x(2)/2=1.75e6
    val chain = Algorithms.katzExact(spark, mkGraph(Seq((1L, 2L), (2L, 3L))),
      iters = 6).as[(Long, Long)].collect().toMap
    assert(chain == Map(1L -> 1000000L, 2L -> 1500000L, 3L -> 1750000L))
    // in-star {2,3,4}→1: maxInDeg 3 ⇒ α = 1/6; hub = β + 3β/6 = 1.5e6
    val star = Algorithms.katzExact(spark,
      mkGraph(Seq((2L, 1L), (3L, 1L), (4L, 1L))), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(star == Map(1L -> 1500000L, 2L -> 1000000L, 3L -> 1000000L,
      4L -> 1000000L))
  }

  test("betweenness: hand-computed path, star, and cycle") {
    // path 1-2-3-4: pairs through 2 = (1,3),(1,4); through 3 = (1,4),(2,4)
    val path = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val p = Algorithms.betweenness(spark, path)
      .as[(Long, Double)].collect().toMap
    assert(p == Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0))
    // star center 1 with leaves 2..5: C(4,2)=6 pairs through the center
    val star = mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    val st = Algorithms.betweenness(spark, star)
      .as[(Long, Double)].collect().toMap
    assert(st == Map(1L -> 6.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0, 5L -> 0.0))
    // 4-cycle: each opposite pair has TWO shortest paths — each
    // midpoint gets sigma-share 1/2
    val cyc = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    val cy = Algorithms.betweenness(spark, cyc)
      .as[(Long, Double)].collect().toMap
    assert(cy == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5, 4L -> 0.5))
  }

  test("betweenness: sampled seeds accumulate only those sources' pairs") {
    // path 1-2-3 with seeds={1}: ordered pairs from 1 are (1,2),(1,3);
    // delta_1(2)=1 → bc = 1/2 (the /2 convention halves the full
    // double-count; a sampled estimator rescales by n/|S| outside)
    val path = mkGraph(Seq((1L, 2L), (2L, 3L)))
    val seeds = Seq(1L).toDF("id")
    val got = Algorithms.betweenness(spark, path, seeds = Some(seeds))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.0))
  }

  test("dagLayersStatus: converged flag is false exactly when truncated") {
    val chain = mkGraph((1L to 5L).map(i => (i, i + 1)))
    val (_, trunc) = Algorithms.dagLayersStatus(spark, chain, iters = 3)
    assert(!trunc, "frontier live after 3 rounds on a depth-5 chain")
    val (lv, ok) = Algorithms.dagLayersStatus(spark, chain, iters = 8)
    assert(ok)
    assert(lv.as[(Long, Long)].collect().toMap ==
      (1L to 6L).map(i => i -> (i - 1)).toMap)
    // a cycle can never converge — detector mode reports it via the flag
    val cyc = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(!Algorithms.dagLayersStatus(spark, cyc, iters = 6)._2)
  }

  test("betweenness estimator: n/|S| scaling matches the closed form on a planted forest") {
    // forest: region 0 ← nations {1, 2}; leaves {3, 4}→1, {5}→2
    // (the a_betweenness_est gate's shape). Seed = leaf 3; n = 6,
    // |S| = 1, scale = 6. Closed form δ_3(v) = treesize−1−|part(v)∍3|:
    //   nation 1: 6−2 = 4 → est 4/2·6 = 12;  region 0: 6−2−ℓ₁ = 2 → 6
    //   nation 2: ℓ₂ = 1 → 3;  leaves: 0
    val g = mkGraph(Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 2L)))
    val seeds = Seq(3L).toDF("id")
    val scale = 6.0 / 1
    val got = Algorithms.betweenness(spark, g, seeds = Some(seeds))
      .select(col("id"), (col("bc") * scale).as("est"))
      .as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> 6.0, 1L -> 12.0, 2L -> 3.0,
      3L -> 0.0, 4L -> 0.0, 5L -> 0.0), s"got $got")
  }

  test("betweenness: depth cap with a live frontier fails loudly") {
    val long = mkGraph((1L to 6L).map(i => (i, i + 1)))
    val ex = intercept[IllegalArgumentException] {
      Algorithms.betweenness(spark, long, maxDepth = 3)
    }
    assert(ex.getMessage.contains("still expanding"))
  }

  test("personalizedPageRankExact: hand-computed seed concentration on chain3") {
    // chain 1→2→3, seed {1}, 2 iterations of integer units:
    //   pr0 = (1e6, 0, 0)
    //   it1: 1 = 150000 (seed restart), 2 = 85%·1e6 = 850000, 3 = 0
    //   it2: 1 = 150000, 2 = 85%·150000 = 127500, 3 = 85%·850000 = 722500
    val g = mkGraph(Seq((1L, 2L), (2L, 3L)))
    val seeds = Seq(1L).toDF("id")
    val got = Algorithms.personalizedPageRankExact(spark, g, seeds, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 150000L, 2L -> 127500L, 3L -> 722500L))
  }

  test("labelPropagation: triangle converges to one community; " +
       "path-3 oscillates deterministically; isolated keeps its label") {
    // triangle: round 1 gives (2,1,1), round 2 converges to all-1
    val tri = mkGraph(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val gotTri = Algorithms.labelPropagation(spark, tri, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(gotTri == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // path 1-2-3 is bipartite: synchronous LPA 2-cycles; after the
    // fixed 4 rounds the labeling is exactly (1,2,1) — hand-computed
    val path = mkGraph(Seq((1L, 2L), (2L, 3L)))
    val gotPath = Algorithms.labelPropagation(spark, path, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(gotPath == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    // isolated vertex: explicit vertex set, no edges touching 9
    val v = Seq((1L, "node"), (2L, "node"), (9L, "node")).toDF("id", "label")
    val e = Seq((1L, 2L, "link", null.asInstanceOf[java.lang.Long]))
      .toDF("src", "dst", "label", "sort_key")
    val iso = Algorithms.labelPropagation(spark, PropertyGraph(v, e), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(iso(9L) == 9L)
    assert(Set(iso(1L), iso(2L)).subsetOf(Set(1L, 2L)))
  }

  test("clusteringCoefficient: zero wedges is exact 0, never NULL") {
    // one isolated edge: both endpoints degree 1 → 0 wedges, and the
    // label filter below empties the edge set entirely — both shapes
    // must emit (0, 0, 0.0), not NULLs from SUM-over-nothing / x/0
    val g = mkGraph(Seq((1L, 2L)))
    val deg1 = Algorithms.clusteringCoefficient(spark, g)
      .as[(Long, Long, Double)].collect().toSeq
    assert(deg1 == Seq((0L, 0L, 0.0)))
    val empty = Algorithms.clusteringCoefficient(spark, g, Seq("no_such_label"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(empty == Seq((0L, 0L, 0.0)))
  }

  test("jaccardSimilarity: hand-computed neighborhoods, seed excluded") {
    // star-ish: N(1)={2,3,4}; N(5)={2,3}; N(6)={4,9}; N(2)={1,5} …
    val g = mkGraph(Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (5L, 2L), (5L, 3L), (6L, 4L), (6L, 9L)))
    val got = Algorithms.jaccardSimilarity(spark, g, 1L)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 5 shares {2,3}: inter 2, union |{2,3,4}∪{2,3}| = 3
    assert(got(5L) == ((2L, 3L, 0.666667)))
    // 6 shares {4}: inter 1, union |{2,3,4}∪{4,9}| = 4
    assert(got(6L) == ((1L, 4L, 0.25)))
    // the seed itself and non-sharing vertices (2,3,4,9) never appear
    assert(got.keySet == Set(5L, 6L))
  }

  test("jaccardSimilarity: parallel edges collapse to distinct neighbors") {
    val g = mkGraph(Seq((1L, 2L), (2L, 1L), (3L, 2L)))
    val got = Algorithms.jaccardSimilarity(spark, g, 1L)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq((3L, 1L, 1L, 1.0))) // N(1)=N(3)={2}
  }

  private def wEdges(es: Seq[(Long, Long, Long)]) = {
    val s = spark; import s.implicits._
    es.toDF("a", "b", "w")
  }

  test("boruvkaMsf: square with diagonal picks the Kruskal forest across rounds") {
    val e = wEdges(Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L),
      (1L, 4L, 3L), (1L, 3L, 5L)))
    val got = Algorithms.boruvkaMsf(spark, e)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1L, 1), (3L, 4L, 1L, 1), (2L, 3L, 2L, 2)))
  }

  test("boruvkaMsf: disconnected input yields a forest, one tree per component") {
    val e = wEdges(Seq((1L, 2L, 7L), (3L, 4L, 9L)))
    val got = Algorithms.boruvkaMsf(spark, e)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 7L, 1), (3L, 4L, 9L, 1)))
  }

  test("boruvkaMsf: equal weights resolve by the (w,a,b) total order") {
    val e = wEdges(Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L)))
    val got = Algorithms.boruvkaMsf(spark, e)
      .as[(Long, Long, Long, Int)].collect().toSet
    // order (1,1,2) < (1,1,3) < (1,2,3): comps 1,2 pick (1,2); comp 3
    // picks (1,3); the cycle edge (2,3) is never selected
    assert(got == Set((1L, 2L, 1L, 1), (1L, 3L, 1L, 1)))
  }

  test("boruvkaMsf: insufficient round budget fails loudly") {
    // a 16-chain with ALTERNATING weights merges strictly pairwise
    // (every hook is mutual): needs log2(16) = 4 rounds; budget 1
    // must throw, not ship a partial forest
    val e = wEdges((1L to 15L).map(i => (i, i + 1, if (i % 2 == 1) 1L else 9L)))
    val ex = intercept[IllegalArgumentException] {
      Algorithms.boruvkaMsf(spark, e, rounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("resourceAllocation: hand-computed micro-unit scores") {
    // bipartite src→dst: parts {1,2,3} → suppliers {10,11,12}
    // N(1)={10,11}, N(2)={10,11,12}, N(3)={11,12}
    // deg(10)=2, deg(11)=3, deg(12)=2 (part-side degree of suppliers)
    val g = mkGraph(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (2L, 12L), (3L, 11L), (3L, 12L)))
    val got = Algorithms.resourceAllocation(spark, g, "link")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // RA(1,2) = 1e6/2 + 1e6/3 = 500000 + 333333
    assert(got((1L, 2L)) == 833333L)
    // RA(1,3) = shared {11} = 333333
    assert(got((1L, 3L)) == 333333L)
    // RA(2,3) = shared {11,12} = 333333 + 500000
    assert(got((2L, 3L)) == 833333L)
    assert(got.size == 3)
  }

  test("resourceAllocation: reversed pairs the dst side over shared src neighbors") {
    // same bipartite fixture as above, pivoted on parts {1,2,3}:
    // deg(1)=2, deg(2)=3, deg(3)=2 (supplier-side degree of parts)
    val g = mkGraph(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (2L, 12L), (3L, 11L), (3L, 12L)))
    val got = Algorithms.resourceAllocation(spark, g, "link", reversed = true)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // RA(10,11) = shared {1,2} = 500000 + 333333
    assert(got((10L, 11L)) == 833333L)
    // RA(10,12) = shared {2} = 333333
    assert(got((10L, 12L)) == 333333L)
    // RA(11,12) = shared {2,3} = 333333 + 500000
    assert(got((11L, 12L)) == 833333L)
    assert(got.size == 3)
  }

  test("resourceAllocation: maxDeg hub cut drops the stop-word pivot") {
    // supplier 99 is shared by everyone (deg 4 > maxDeg 3) — its
    // contribution vanishes; only the deg-2 supplier 10 scores
    val g = mkGraph(Seq((1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L),
      (1L, 10L), (2L, 10L)))
    val got = Algorithms.resourceAllocation(spark, g, "link", maxDeg = 3L)
      .as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((1L, 2L, 500000L)))
  }

  test("pairShortestPath: min-parent tie-break picks the unique path") {
    // two length-2 routes 1→{2,3}→4: parent of 4 must be min(2,3)=2
    val g = mkGraph(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    val got = Algorithms.pairShortestPath(spark, g, 1L, 4L)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 4L, 2L, "1->2->4")))
  }

  test("greedyColoring: proper on triangle/star/chain; gate depth inside the unroll") {
    def proper(edges: Seq[(Long, Long)]): Unit = {
      val g = mkGraph(edges)
      val colors = Algorithms.greedyColoring(spark, g)
        .as[(Long, Long)].collect().toMap
      edges.foreach { case (a, b) =>
        assert(colors(a) != colors(b), s"edge ($a,$b) same color in $colors")
      }
    }
    proper(Seq((1L, 2L), (2L, 3L), (1L, 3L))) // K3 needs 3 colors
    proper(Seq((1L, 2L), (1L, 3L), (1L, 4L))) // star
    proper(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))) // chain
    // K3 uses exactly colors {0,1,2} (a monotone chain covers the clique)
    val k3 = Algorithms.greedyColoring(spark, mkGraph(Seq((1L, 2L), (2L, 3L), (1L, 3L))))
      .as[(Long, Long)].collect().map(_._2).toSet
    assert(k3 == Set(0L, 1L, 2L))
    // gate-scale convergence: strict mode (inside greedyColoring) must
    // not throw at the shared ColoringRounds bound on the gate graph
    val gate = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    val dist = Algorithms.greedyColoring(spark, gate,
        labels = Seq("placed", "contains"),
        iters = graft.queries.AlgoQueries.ColoringRounds)
      .groupBy("color").count()
      .as[(Long, Long)].collect().toMap
    assert(dist.nonEmpty && dist.keySet.max < graft.queries.AlgoQueries.ColoringRounds)
  }

  test("hitsExact: bipartite fixed point and hub/authority separation") {
    // hubs {1,2}, auths {10,11,12}; 11 cited twice → the fixed point is
    // a = (500000, 1000000, 500000), h = (1000000, 1000000) from
    // iteration 1 on (hand-iterated)
    val g = mkGraph(Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L)))
    val got = Algorithms.hitsExact(spark, g, iters = 8)
      .as[(Long, Long, Long)].collect()
      .map { case (id, h, a) => id -> (h, a) }.toMap
    assert(got(1L) == (1000000L, 0L) && got(2L) == (1000000L, 0L))
    assert(got(10L) == (0L, 500000L) && got(12L) == (0L, 500000L))
    assert(got(11L) == (0L, 1000000L))
    // asymmetric hubs: 1 cites three, 2 cites one → hub(1) > hub(2);
    // the doubly-cited 12 dominates authorities
    val g2 = mkGraph(Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 12L)))
    val m2 = Algorithms.hitsExact(spark, g2, iters = 8)
      .as[(Long, Long, Long)].collect()
      .map { case (id, h, a) => id -> (h, a) }.toMap
    assert(m2(1L)._1 == 1000000L && m2(2L)._1 < m2(1L)._1)
    assert(m2(12L)._2 == 1000000L && m2(10L)._2 < m2(12L)._2)
    assert(m2(10L)._2 == m2(11L)._2)
  }

  test("modularity: two triangles + bridge hand value; one community is zero") {
    val tri2 = mkGraph(Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)))
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("id", "comm")
    // m=7, per community e_c=3, d_c=7: q_num = 2*(4*7*3 - 49) = 70,
    // q_den = 4*49 = 196, Q = 70/196 = 0.357143
    val got = Algorithms.modularity(spark, tri2.edges, comm)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(got == ((7L, 2L, 70L, 196L, 0.357143)))
    // the degenerate one-community partition always scores exactly 0
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map((_, 9L)).toDF("id", "comm")
    val z = Algorithms.modularity(spark, tri2.edges, one)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(z._3 == 0L && z._5 == 0.0)
  }

  test("randomWalks: hand-computed arithmetic choice; dead ends stop; deterministic") {
    // triangle 1-2-3 undirected; from 1 the (v,step) hash picks, per
    // the formula ((v%1000003)*2654435761 + 97*t) % outdeg + 1 over
    // id-ranked neighbors: 1→2→1→2 (all parities even → rank 1)
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    val seeds = Seq(1L).toDF("seed")
    val got = Algorithms.randomWalks(spark, g, seeds, steps = 3)
      .orderBy("step").as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((1L, 0, 1L), (1L, 1, 2L), (1L, 2, 1L), (1L, 3, 2L)))
    // determinism: a second run is bit-identical
    val again = Algorithms.randomWalks(spark, g, seeds, steps = 3)
      .orderBy("step").as[(Long, Int, Long)].collect().toSeq
    assert(again == got)
    // a seed absent from the walk graph emits its step-0 row and stops
    val iso = Algorithms.randomWalks(spark, g, Seq(99L).toDF("seed"), steps = 3)
      .as[(Long, Int, Long)].collect().toSeq
    assert(iso == Seq((99L, 0, 99L)))
  }

  test("pairShortestPath: undirected, self, and unreachable shapes") {
    val g = mkGraph(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    // follows edges against their direction
    val rev = Algorithms.pairShortestPath(spark, g, 3L, 1L)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(rev == Seq((3L, 1L, 2L, "3->2->1")))
    // source == target
    val self = Algorithms.pairShortestPath(spark, g, 2L, 2L)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(self == Seq((2L, 2L, 0L, "2")))
    // different components → (-1, null)
    val un = Algorithms.pairShortestPath(spark, g, 1L, 10L)
      .as[(Long, Long, Long, Option[String])].collect().toSeq
    assert(un == Seq((1L, 10L, -1L, None)))
  }

  test("kTruss: K4 survives k=4; pendant structures peel; short budget is loud") {
    // K4 on 1..4, a pendant triangle {4,5,6}, a pendant edge (1,7)
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L),
      (1L, 7L)).toDF("item_a", "item_b")
    val t3 = Algorithms.kTruss(edges, k = 3, rounds = 3)
      .as[(Long, Long, Long)].collect().toSeq
    // 3-truss = every triangle edge; only the pendant edge peels
    assert(t3.map(e => (e._1, e._2)).toSet ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
        (4L, 5L), (4L, 6L), (5L, 6L)))
    val sup3 = t3.map(e => (e._1, e._2) -> e._3).toMap
    assert(sup3((1L, 2L)) == 2L && sup3((5L, 6L)) == 1L)
    // 4-truss = K4 alone (the pendant triangle's edges have support 1
    // and cascade out), every surviving edge in 2 within-truss triangles
    val t4 = Algorithms.kTruss(edges, k = 4, rounds = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(t4.map(e => (e._1, e._2)).toSet ==
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(t4.forall(_._3 == 2L))
    // a round budget too short to converge must throw, not ship
    assertThrows[IllegalArgumentException](
      Algorithms.kTruss(edges, k = 3, rounds = 0))
  }

  test("scanCluster: two K4s, a hub between them, and a pendant outlier") {
    // closed degrees: d(1)=6 (K4 + hub 9 + pendant 10), d(5)=5 (K4 +
    // hub), others 4. Every K4-internal edge passes the eps=3/5 test
    // (25·(c+2)^2 >= 9·d·d with c=2); the hub and pendant edges fail
    // (c=0). mu=3 makes all K4 members cores; 9 sees clusters 1 AND 5
    // -> hub; 10 sees only cluster 1 -> outlier.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L),
      (1L, 9L), (5L, 9L), (1L, 10L)).toDF("a", "b")
    val got = Algorithms.scanCluster(edges, epsNum = 3, epsDen = 5, mu = 3)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    (1L to 4L).foreach(i => assert(got(i) == ((1L, "core")), s"node $i: $got"))
    (5L to 8L).foreach(i => assert(got(i) == ((5L, "core")), s"node $i: $got"))
    assert(got(9L) == ((-1L, "hub")), s"got $got")
    assert(got(10L) == ((-1L, "outlier")), s"got $got")
    assert(got.size == 10)
  }

  test("scanCluster: a non-core similar to cores joins as a border") {
    // K4 {1..4} + node 5 on 1 and 2. All K4 edges and both 5-edges are
    // eps=3/5 similar (edge (1,5): 25·9=225 >= 9·5·3=135), but 5 has
    // only 2 similar neighbors — below mu=4 — while 1..4 clear it.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 5L)).toDF("a", "b")
    val got = Algorithms.scanCluster(edges, epsNum = 3, epsDen = 5, mu = 4)
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    (1L to 4L).foreach(i => assert(got(i) == ((1L, "core")), s"node $i: $got"))
    assert(got(5L) == ((1L, "border")), s"got $got")
  }

  test("richClub: K4 plus a pendant — exact ppm ladder, NULL below 2 members") {
    // degrees: 1 has 4 (K4 + pendant 5), 2-4 have 3, 5 has 1
    // k=1: club {1,2,3,4}, 6 edges -> phi = 2e6·6/(4·3) = 1_000_000
    // k=3: club {1} -> NULL; k=4: empty club -> NULL
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L)).toDF("a", "b")
    val got = Algorithms.richClub(edges, ks = Seq(1L, 3L, 4L))
      .orderBy("k").as[(Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 6L, Some(1000000L)),
      (3L, 1L, 0L, None),
      (4L, 0L, 0L, None)), s"got $got")
  }

  test("butterflyCounts: hand-traced wedges and butterflies; hub cut") {
    // parts {1,2,3} -> suppliers {10,11,12}; pair (1,2) shares {10,11}
    // (1 butterfly), (2,3) shares {11,12} (1 butterfly), (1,3) shares
    // {11} (wedge only)
    val g = mkGraph(Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (2L, 12L), (3L, 11L), (3L, 12L)))
    val got = Algorithms.butterflyCounts(spark, g, "link")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(1L -> ((3L, 1L)), 2L -> ((4L, 2L)), 3L -> ((3L, 1L))),
      s"got $got")
    // dropping supplier 11 (deg 3 > maxDeg 2) removes its wedges:
    // only (1,2) via 10 and (2,3) via 12 remain, no butterflies
    val cut = Algorithms.butterflyCounts(spark, g, "link", maxDeg = 2L)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(cut == Map(1L -> ((1L, 0L)), 2L -> ((2L, 0L)), 3L -> ((1L, 0L))),
      s"got $cut")
  }
}
