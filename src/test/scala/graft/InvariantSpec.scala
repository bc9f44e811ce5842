package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.operators.{Paging, Writer}

/** Randomized invariants over seeded small graphs/tables — property
  * tests without a framework bridge: the generator is deterministic
  * (fixed seed), so failures reproduce exactly.
  */
class InvariantSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  private def randomGraph(): (PropertyGraph, Seq[(Long, Long)], Seq[Long]) = {
    val n = 3 + rnd.nextInt(8)
    val ids = (1L to n).toSeq
    val m = 1 + rnd.nextInt(2 * n)
    val edges = Seq.fill(m)((ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
      .filter { case (a, b) => a != b }.distinct
    val v = ids.map(id => (id, "n")).toDF("id", "label")
    val e = edges.map { case (s, d) => (s, d, "link", null.asInstanceOf[java.lang.Long]) }
      .toDF("src", "dst", "label", "sort_key")
    (PropertyGraph(v, e), edges, ids)
  }

  private def reversed(g: PropertyGraph): PropertyGraph =
    g.copy(edges = g.edges
      .select(col("dst").as("src"), col("src").as("dst"),
        col("label"), col("sort_key")))

  test("MIS and maximal matching agree structurally on random graphs") {
    // two independently-implemented Luby loops must satisfy each
    // other's invariants on the SAME graph: a matched edge is a graph
    // edge, so independence forbids both its endpoints in the MIS;
    // and both survive arbitrary maximality cross-checks
    import graft.graph.Algorithms
    for (_ <- 1 to 5) {
      val (g, edges, _) = randomGraph()
      if (edges.nonEmpty) {
        val mis = Algorithms.maximalIndependentSet(spark, g, maxRounds = 12)
          .as[Long].collect().toSet
        val matching = Algorithms.maximalMatching(spark, g, maxRounds = 12)
          .as[(Long, Long)].collect()
        for ((a, b) <- matching)
          assert(!(mis(a) && mis(b)),
            s"matched edge ($a,$b) has BOTH endpoints in the MIS $mis")
        // every matched vertex set is a vertex cover of... not in
        // general — but every edge must touch a matched vertex
        // (matching maximality), and every vertex is in the MIS or
        // adjacent to it (MIS maximality) — both already pinned per
        // operator; here the cross-operator claim is independence ∩
        // matching above plus determinism under re-run
        val again = Algorithms.maximalMatching(spark, g, maxRounds = 12)
          .as[(Long, Long)].collect()
        assert(matching.toSet == again.toSet)
      }
    }
  }

  test("out on G equals in on reversed G (dual edge-table duality)") {
    (1 to 8).foreach { _ =>
      val (g, _, ids) = randomGraph()
      val x = ids(rnd.nextInt(ids.size))
      val a = g.V(x).out().toDF.select("id").as[Long].collect().sorted.toSeq
      val b = reversed(g).V(x).in().toDF.select("id").as[Long].collect().sorted.toSeq
      assert(a == b, s"out/in duality broke from $x")
    }
  }

  test("repeatUntil equals brute-force transitive closure") {
    (1 to 8).foreach { _ =>
      val (g, edges, ids) = randomGraph()
      val x = ids(rnd.nextInt(ids.size))
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // reference BFS on the driver, start excluded unless re-reached...
      // (repeatUntil seeds visited with the start, so it is NEVER in
      // the result — mirror that)
      var frontier = Set(x); var visited = Set(x); var reached = Set.empty[Long]
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- visited
        reached ++= next; visited ++= next; frontier = next
      }
      val got = g.V(x).repeatUntil(_.out("link")).toDF
        .select("id").as[Long].collect().toSet
      assert(got == reached, s"closure from $x: got $got want $reached")
    }
  }

  test("bothE row count equals outE plus inE") {
    (1 to 5).foreach { _ =>
      val (g, _, ids) = randomGraph()
      val x = ids(rnd.nextInt(ids.size))
      val both = g.V(x).bothE().toDF.count()
      val sum = g.V(x).outE().toDF.count() + g.V(x).inE().toDF.count()
      assert(both == sum)
    }
  }

  test("partitioned id allocation equals the window path on random keys") {
    (1 to 3).foreach { _ =>
      val keys = rnd.shuffle((1L to 500L).toList)
      val df = keys.map(k => (k, rnd.nextInt(100))).toDF("k", "payload")
      val a = Writer.allocateIds(df, Seq("k"), start = 7L)
        .select("k", "alloc_id").as[(Long, Long)].collect().toMap
      val b = Writer.allocateIdsPartitioned(df, Seq("k"), start = 7L,
          numPartitions = 5)
        .select("k", "alloc_id").as[(Long, Long)].collect().toMap
      assert(a == b)
    }
  }

  test("delta-frontier CC equals driver-side union-find on random graphs") {
    (1 to 8).foreach { _ =>
      val (g, edges, ids) = randomGraph()
      // reference: driver union-find over the undirected edge set,
      // root = min member id (the declared output contract)
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      val want = ids.map(i => i -> find(i)).toMap
      val got = graft.graph.Algorithms.connectedComponents(spark, g)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"edges=$edges")
    }
  }

  test("betweenness equals the pair-dependency formula on random graphs") {
    (1 to 6).foreach { _ =>
      val (g, edges, ids) = randomGraph()
      // driver reference: per source BFS (dist, sigma), then
      // bc(v) = Σ_{s<t, v∉{s,t}} σ_st(v)/σ_st with
      // σ_st(v) = σ_s(v)·σ_v(t) iff d_s(v)+d_v(t) = d_s(t)
      val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def bfs(s: Long): (Map[Long, Int], Map[Long, Long]) = {
        var dist = Map(s -> 0); var sigma = Map(s -> 1L)
        var frontier = Seq(s)
        while (frontier.nonEmpty) {
          val next = scala.collection.mutable.Map.empty[Long, Long]
          frontier.foreach { u =>
            und.getOrElse(u, Set.empty).foreach { w =>
              if (!dist.contains(w))
                next.update(w, next.getOrElse(w, 0L) + sigma(u))
            }
          }
          val d = dist(frontier.head) + 1
          next.foreach { case (w, sg) =>
            dist += w -> d; sigma += w -> sg
          }
          frontier = next.keys.toSeq
        }
        (dist, sigma)
      }
      val all = ids.map(s => s -> bfs(s)).toMap
      val want = ids.map { v =>
        var bc = 0.0
        for (s <- ids if s != v; t <- ids if t > s && t != v) {
          val (ds, ss) = all(s)
          val (dv, sv) = all(v)
          if (ds.contains(t) && ds.contains(v) && dv.contains(t) &&
              ds(v) + dv(t) == ds(t))
            bc += ss(v).toDouble * sv(t) / ss(t)
        }
        v -> bc
      }.toMap
      val got = graft.graph.Algorithms.betweenness(spark, g)
        .as[(Long, Double)].collect().toMap
      // operator output covers vertices touched by edges; isolated
      // vertices have bc 0 and may be absent
      want.foreach { case (v, b) =>
        val gv = got.getOrElse(v, 0.0)
        assert(math.abs(gv - b) < 1e-9, s"v=$v got $gv want $b edges=$edges")
      }
    }
  }

  test("lmSurprise scores are invariant under doc order and partitioning") {
    val docs = Seq((1L, "a b a b c"), (2L, "c c c"), (3L, "a c b"),
      (4L, "b"), (5L, "a b c a"))
    val base = docs.toDF("doc_id", "text")
    val shuffled = scala.util.Random.shuffle(docs).toDF("doc_id", "text")
      .repartition(7)
    val a = graft.operators.TextAnalysis.lmSurprise(base, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = graft.operators.TextAnalysis.lmSurprise(shuffled, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a == b)
  }

  test("stitched pages equal the sorted prefix for random page sizes") {
    (1 to 3).foreach { _ =>
      val rows = rnd.shuffle((1L to 200L).toList).map(k => (k, s"v$k"))
      val df = rows.toDF("k", "v")
      val n = 1 + rnd.nextInt(60)
      val pages = 1 + rnd.nextInt(4)
      val got = Paging.stitch(df, "k", n, pages)
        .select("k").as[Long].collect().sorted.toSeq
      val want = df.orderBy("k").limit(n * pages)
        .select("k").as[Long].collect().toSeq
      assert(got == want, s"n=$n pages=$pages")
    }
  }
}
