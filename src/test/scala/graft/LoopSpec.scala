package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.graph.{Algorithms, PropertyGraph}
import graft.operators.Dedup
import graft.util.Loop

/** The iterative-loop combinator (graft.util.Loop): cadence, stop rule,
  * release on failure, statistics reset, and the cache scope's
  * source-once / materialize-before-release contract on every operator
  * that runs through it.
  */
class LoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.jobsOf

  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("cadence 5 over 12 rounds checkpoints the seed and rounds 5, 10 and 12 only") {
    val rolled = scala.collection.mutable.ArrayBuffer.empty[Int]
    val r = Loop.run(spark.range(20).toDF("id"), 12, every = 5) { (st, k) =>
      if (isCheckpoint(st)) rolled += k - 1 // the state round k−1 left
      st.select((col("id") + 1).as("id"))
    }
    if (isCheckpoint(r.state)) rolled += r.rounds
    assert(rolled.toSeq == Seq(0, 5, 10, 12))
    assert(r.rounds == 12 && !r.converged)
    assert(r.state.agg(min(col("id"))).head().getLong(0) == 12L)
  }

  test("a converging loop reports its rounds and converged = true") {
    val r = Loop.run(spark.range(5).toDF("id"), 20,
        stop = Loop.whenEmpty()) { (st, k) => st.filter(col("id") >= k) }
    assert(r.rounds == 5 && r.converged)
    // an unchanged count stops the round after the last change
    val u = Loop.run(spark.range(5).toDF("id"), 20,
        stop = Loop.whenUnchanged(_.count())) { (st, k) =>
      st.filter(col("id") >= math.min(k, 3)) }
    assert(u.rounds == 4 && u.converged)
    // a step that returns its input unchanged is a fixpoint
    val f = Loop.run(spark.range(5).toDF("id"), 20) { (st, k) =>
      if (k == 2) st else st.select(col("id")) }
    assert(f.rounds == 2 && f.converged)
  }

  test("a round cap reports converged = false") {
    val r = Loop.run(spark.range(5).toDF("id"), 3,
        stop = Loop.whenEmpty()) { (st, k) => st.filter(col("id") >= k) }
    assert(r.rounds == 3 && !r.converged)
    assert(r.state.count() == 2L)
  }

  test("a step that throws leaves no cache or checkpoint persisted") {
    val before = persistedIds
    val e = intercept[IllegalStateException] {
      Loop.cached { c =>
        val base = c(spark.range(100).toDF("id"))
        base.count()
        Loop.run(base.select(col("id")), 5) { (st, k) =>
          if (k == 3) throw new IllegalStateException("boom")
          st.join(base, "id")
        }.state
      }
    }
    assert(e.getMessage == "boom")
    val left = persistedIds -- before
    assert(left.isEmpty, s"RDDs still persisted after the failure: $left")
  }

  test("a repeat-until refusing a truncated fixed point leaves no RDD persisted") {
    val v = spark.range(6).select(col("id"), lit("n").as("label"))
    val e = spark.range(5).select(col("id").as("src"), (col("id") + 1).as("dst"),
      lit("next").as("label"), lit(null).cast("long").as("sort_key"))
    val g = PropertyGraph(v, e)
    val before = persistedIds
    val walks: Seq[() => DataFrame] = Seq(
      () => g.V(0L).repeatUntil(_.out("next"), maxDepth = 2).toDF,
      () => g.V(0L).repeatUntilReached(_.out("next"), _.hasId(9L), maxDepth = 2).toDF)
    for (walk <- walks) {
      val ex = intercept[IllegalStateException](walk())
      assert(ex.getMessage.contains("maxDepth=2"))
      val left = persistedIds -- before
      assert(left.isEmpty, s"RDDs still persisted after the refusal: $left")
    }
  }

  // ---- Loop.frontier: the visited-set BFS

  private def chain(n: Int): DataFrame =
    spark.range(n).select(col("id").as("src"), (col("id") + 1).as("dst"))

  // a semi-join hop: its size estimate is the edge list's, so it does
  // not grow round over round (an inner join's estimate multiplies and
  // tips the plan from broadcast to shuffle joins after a few rounds)
  private def hop(edges: DataFrame)(f: DataFrame, k: Int): DataFrame =
    edges.join(f, edges("src") === f("id"), "left_semi").select(col("dst").as("id"))

  test("frontier: a round cap keeps every layer and reports converged = false") {
    val r = Loop.frontier(spark.range(1).toDF("id"), Seq("id"), 3)(hop(chain(10)))
    assert(r.rounds == 3 && !r.converged)
    assert(r.state.map(_.collect().map(_.getLong(0)).toSeq) ==
      Seq(Seq(0L), Seq(1L), Seq(2L), Seq(3L)))
    // the same walk left uncapped ends on the empty layer past the tail
    val full = Loop.frontier(spark.range(1).toDF("id"), Seq("id"), 50)(hop(chain(4)))
    assert(full.rounds == 5 && full.converged)
    assert(full.state.map(_.count()) == Seq(1L, 1L, 1L, 1L, 1L, 0L))
    full.state.foreach(Loop.release)
    r.state.foreach(Loop.release)
  }

  test("frontier: the visited anti-join keys on every key column, and live " +
       "drops the traversers that halt") {
    // two seeds on a 3-cycle 0→1→2→0: each (seed, id) pair is new once,
    // so both seeds reach all three vertices and stop after round 3
    val e = spark.range(3).select(col("id").as("src"), ((col("id") + 1) % 3).as("dst"))
    val seeds = spark.range(2).select(col("id").as("seed"), col("id"))
    val r = Loop.frontier(seeds, Seq("seed", "id"), 10) { (f, _) =>
      f.join(e, f("id") === e("src")).select(col("seed"), col("dst").as("id"))
    }
    assert(r.converged && r.rounds == 3)
    val pairs = r.state.reduce(_ union _).collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(pairs.sorted.toSeq == (for (s <- 0L to 1L; v <- 0L to 2L) yield (s, v)))
    // a live frontier without vertex 2 halts the walk there: 0→1→2 stops
    val halted = Loop.frontier(spark.range(1).toDF("id"), Seq("id"), 10,
        live = _.filter(col("id") =!= 2L))(hop(chain(10)))
    assert(halted.converged && halted.rounds == 2)
    assert(halted.state.last.collect().map(_.getLong(0)).toSeq == Seq(2L))
    (r.state ++ halted.state).foreach(Loop.release)
  }

  /** Jobs one [[Loop.frontier]] round of the chain walk runs at this
    * size, the layer checkpoint and the emptiness test among them.
    */
  private val FrontierJobsPerRound = 4

  test("frontier: each round costs a pinned number of Spark jobs") {
    // the pin stops a change from quietly adding per-round work, such
    // as re-checkpointing the visited set every round
    def jobsFor(n: Int): Int = {
      val edges = chain(n).localCheckpoint()
      val (r, jobs) = jobsOf(
        Loop.frontier(spark.range(1).toDF("id"), Seq("id"), 50)(hop(edges)))
      assert(r.rounds == n + 1 && r.converged)
      (r.state :+ edges).foreach(Loop.release)
      jobs
    }
    val (three, six) = (jobsFor(3), jobsFor(6))
    assert(six - three == 3 * FrontierJobsPerRound,
      s"3 more rounds ran ${six - three} more jobs")
    assert(three == 17, s"a 4-round walk ran $three jobs")
  }

  test("resetStats keeps a 30-round self-join's size estimate bounded") {
    // pointer jumping joins the rolled state with itself: an inherited
    // estimate squares on every roll (the Borůvka hang)
    def jumps(n: Int, reset: Boolean): BigInt =
      Loop.run(spark.range(1000)
          .select(col("id").as("c"), (col("id") / 2).cast("long").as("p")),
          n, resetStats = reset) { (pj, _) =>
        pj.as("x").join(pj.select(col("c").as("p"), col("p").as("pp")).as("y"), "p")
          .select(col("x.c").as("c"), col("pp").as("p"))
      }.state.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(jumps(30, reset = true).bitLength < 256)
    // the bound is meaningful: without the reset 5 rolls already pass it
    assert(jumps(5, reset = false).bitLength > 256)
  }

  test("cached checkpoints an output that reads a cache before releasing it") {
    val before = persistedIds
    val out = Loop.cached { c =>
      val base = c(spark.range(10).toDF("id"))
      base.select((col("id") * 2).as("x"))
    }
    assert(isCheckpoint(out))
    assert(out.agg(sum(col("x"))).head().getLong(0) == 90L)
    Loop.release(out)
    assert((persistedIds -- before).isEmpty)
  }

  // ---- source-once contract over the migrated operators: the edge
  // frame counts its own row evaluations through an accumulator

  private val nEdges = 400

  private def countingGraph(): (PropertyGraph, org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("edge-rows")
    val tick = udf { (x: Long) => acc.add(1); x }.asNondeterministic()
    // range-based (not a local Seq) so no optimizer rule evaluates the
    // UDF while folding it into a local relation
    val e = spark.range(nEdges)
      .select(tick(col("id") % 50).as("src"),
        ((col("id") * 7 + 3) % 50).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), lit("link").as("label"),
        lit(null).cast("long").as("sort_key"))
    val v = spark.range(50).select(col("id"), lit("node").as("label"))
    (PropertyGraph(v, e), acc)
  }

  private val operators: Seq[(String, PropertyGraph => DataFrame)] = Seq(
    "pageRankExact" -> (g => Algorithms.pageRankExact(spark, g)),
    "personalizedPageRankExact" -> (g => Algorithms.personalizedPageRankExact(
      spark, g, spark.range(3).toDF("id"))),
    "pageRankWeightedExact" -> (g => Algorithms.pageRankWeightedExact(
      spark, g, col("src") % 3 + 1)),
    "eigenvectorExact" -> (g => Algorithms.eigenvectorExact(spark, g)),
    "katzExact" -> (g => Algorithms.katzExact(spark, g)),
    "hitsExact" -> (g => Algorithms.hitsExact(spark, g)),
    "labelPropagation" -> (g => Algorithms.labelPropagation(spark, g)),
    "louvainLevel1" -> (g => Algorithms.louvainLevel1(spark, g)),
    "dagLayers" -> (g => Algorithms.dagLayers(spark, g)),
    "connectedComponents" -> (g => Algorithms.connectedComponents(spark, g)),
    "kCore" -> (g => Algorithms.kCore(spark, g, 2)),
    "maximalIndependentSet" -> (g => Algorithms.maximalIndependentSet(
      spark, g, maxRounds = 30)),
    "simRankExact" -> (g => Algorithms.simRankExact(spark, g)),
    "repeatUntil" -> (g => g.V(0L, 1L).repeatUntil(_.out("link")).toDF),
    "repeatUntilReached" -> (g => g.V(0L, 1L)
      .repeatUntilReached(_.out("link"), _.hasId(7L)).toDF),
    "multiSourceHops" -> (g => Algorithms.multiSourceHops(spark, g, Seq(0L, 1L))),
    "betweenness" -> (g => Algorithms.betweenness(spark, g)),
    "pageRank" -> (g => Algorithms.pageRank(spark, g)),
    "modularity" -> (g => Algorithms.modularity(spark, g.edges,
      g.vertices.select(col("id"), (col("id") % 3).as("comm")))),
    "dupClusters" -> (g => Dedup.dupClusters(
      g.edges.select(col("src").as("a_id"), col("dst").as("b_id")))),
    "ssspWeighted" -> (g => Algorithms.ssspWeighted(spark, g, 0L, col("src") % 3 + 1)),
    "stronglyConnected" -> (g => Algorithms.stronglyConnected(spark, g)))

  for ((name, op) <- operators)
    test(s"$name evaluates its edge source once and returns a frame " +
         "that never re-reads it") {
      val (g, acc) = countingGraph()
      val out = op(g)
      assert(acc.value == nEdges.toLong,
        s"$name evaluated ${acc.value} edge rows before returning")
      out.collect()
      assert(acc.value == nEdges.toLong,
        s"the caller's action re-read ${acc.value - nEdges} edge rows")
    }

  test("pageRankExact plus a collect costs a pinned number of Spark jobs") {
    // the pin keeps the rank set-up at one aggregate over its source:
    // building the vertex set, the out-degrees and the no-in-edge
    // frame in three passes ran 46 jobs here
    val (g, _) = countingGraph()
    val (_, jobs) = jobsOf(Algorithms.pageRankExact(spark, g).collect())
    assert(jobs == 38, s"pageRankExact and a collect ran $jobs jobs")
  }

  // the relaxation kernel's pins: the identity seed's join-free first
  // round and one delta round per later propagation step
  test("connectedComponents plus a collect costs a pinned number of Spark jobs") {
    val (g, _) = countingGraph()
    val (_, jobs) = jobsOf(Algorithms.connectedComponents(spark, g).collect())
    assert(jobs == 17, s"connectedComponents and a collect ran $jobs jobs")
  }

  test("dupClusters plus a collect costs a pinned number of Spark jobs") {
    val (g, _) = countingGraph()
    val (_, jobs) = jobsOf(Dedup.dupClusters(
      g.edges.select(col("src").as("a_id"), col("dst").as("b_id"))).collect())
    assert(jobs == 17, s"dupClusters and a collect ran $jobs jobs")
  }
}
