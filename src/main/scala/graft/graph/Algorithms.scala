package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Loop

/** Graph analytics over the property graph's DataFrames — the layer
  * the reference exposes only indirectly through its OLAP split
  * generator (R14, TikvTable.java:284-336): external engines were
  * expected to shard-read the whole graph and run algorithms elsewhere
  * (hugegraph-computer). Here the engine IS Spark, so the splits
  * operator dissolves into native partitioning and the algorithms run
  * in-process (BASELINE.json spark_approach).
  *
  * Every iterative algorithm is a vertex program kept inside the
  * relational dataflow (Pregelix): a DataFrame fixpoint on
  * [[graft.util.Loop]], whose loop-invariant frames persist once and
  * whose narrow per-round state rolls through eager checkpoints, so a
  * round is one shallow job however many rounds run.
  */
object Algorithms {

  /** degrees (parallel edges counted, as in the reference's dual edge
    * tables where each adjacency row is its own KV; zero-degree
    * vertices omitted).
    *
    * One union + one codegen'd hash aggregate with map-side partials;
    * at 100 TB this shape shuffles only (id, partial_count) pairs.
    */
  def degrees(s: SparkSession, g: PropertyGraph, labels: Seq[String] = Nil): DataFrame = {
    val all = g.edgesOf(labels)
    all.select(col("src").as("id")).union(all.select(col("dst").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("degree"))
  }

  /** One round's pull over `edges`: the state (id, …) joins on `from`,
    * every edge yields `contrib`, and the sums group on `to` as (id, m).
    * The shuffle_hash hint rides the narrow state side, so the state is
    * the hash-join build side and the cached, pre-partitioned edges
    * stream: a sort-merge join would re-sort them every round, and
    * building on the edge side measured 2× slower on the 750k-edge
    * hitsExact gate (r16).
    */
  private def pull(edges: DataFrame, from: String, to: String, st: DataFrame,
                   contrib: Column): DataFrame =
    edges.join(st.withColumnRenamed("id", from).hint("shuffle_hash"), from)
      .groupBy(col(to).as("id")).agg(sum(contrib).as("m"))

  /** The loop-invariant frames of the PageRank/Katz loops, built by
    * [[rankGraph]]: `edges` (src, dst, …, sw) cached pre-partitioned on
    * src, every edge carrying its src's out-weight; `verts` (id, sw,
    * indeg), one cached row per endpoint; `n` the edge count.
    */
  private final case class RankGraph(edges: DataFrame, verts: DataFrame, n: Long) {

    /** The rank loop: the state starts at `init` over `verts`; each
      * round [[pull]]s `contrib` along the out-edges, maps the sums
      * (id, m) through `update`, and appends the vertices with no
      * in-edge at `restart`. Those receive no mass in any round, so a
      * filter of the cached vertex frame gives them, and the union
      * replaces a per-round left join against every vertex (r15).
      * Caching that filter as well cost 5 more Spark jobs per query
      * (a_pagerank_exact at sf0.1 on 4 cores: 43 against 38). The
      * state rolls at cadence 5: each round's state feeds one consumer,
      * the next round's join ([[graft.util.Loop]]).
      */
    def rounds(iters: Int, init: Column, restart: Column, contrib: Column)
              (update: DataFrame => DataFrame): DataFrame = {
      val noIn = verts.filter(col("indeg") === 0L).select(col("id"), restart)
      Loop.run(verts.select(col("id"), init), iters, every = 5) { (st, _) =>
        update(pull(edges, "src", "dst", st, contrib)).unionByName(noIn)
      }.state
    }
  }

  /** Checkpoint and count `src` (src, dst, …) and build its
    * [[RankGraph]]. One explode aggregate over both endpoints gives
    * every vertex its out-weight Σ`w` and in-degree, so the vertex set,
    * the src annotation, the no-in-edge set and a max in-degree all
    * read one cached frame instead of three passes over the source.
    * The annotated edges are repartitioned on src, the per-round join
    * key, into a size-derived count ([[Loop.parts]]): without it the
    * cache keeps the scan layout and every round re-exchanges the |E|
    * side (r16).
    */
  private def rankGraph(s: SparkSession, c: Loop.Caches, src: DataFrame,
                        w: Column = lit(1L)): RankGraph = {
    val (e, n) = c.counted(src)
    val verts = c(e.select(explode(array(
        struct(col("src").as("id"), w.as("ow"), lit(0L).as("ic")),
        struct(col("dst").as("id"), lit(0L).as("ow"), lit(1L).as("ic")))).as("x"))
      .groupBy(col("x.id").as("id"))
      .agg(sum(col("x.ow")).as("sw"), sum(col("x.ic")).as("indeg")))
    RankGraph(c(e.join(verts.select(col("id").as("src"), col("sw")), "src")
      .repartition(Loop.parts(s, n), col("src"))), verts, n)
  }

  /** Static PageRank in doubles over the endpoints of all edges: every
    * rank starts at 1.0, each round sets r' = 0.15 + 0.85·Σ r·(1/outdeg)
    * over the in-edges (parallel edges counted), and after `iters`
    * rounds the ranks are scaled to sum to n — GraphX's staticPageRank.
    * Double sums depend on the reduce order, so values agree across
    * engines only up to the last bits; [[pageRankExact]] is the
    * bit-exact variant.
    */
  def pageRank(s: SparkSession, g: PropertyGraph, iters: Int = 10): DataFrame = {
    val ranks = Loop.cached { c =>
      rankGraph(s, c, g.edges.select(col("src"), col("dst")))
        .rounds(iters, lit(1.0).as("rank"), lit(0.15).as("rank"),
          col("rank") * (lit(1.0) / col("sw"))) {
          _.select(col("id"), (lit(0.15) + lit(0.85) * col("m")).as("rank"))
        }
    }
    val t = ranks.agg(count(lit(1)), sum(col("rank"))).head()
    if (t.isNullAt(1)) ranks
    else ranks.select(col("id"),
      (col("rank") * lit(t.getLong(0).toDouble / t.getDouble(1))).as("rank"))
  }

  /** Connected components: min-label propagation on the relaxation
    * kernel ([[relax]]) over the symmetrized edges, from the identity
    * seed. Component id = min vertex id; the vertex set is the graph's
    * explicit one, so an isolated vertex (e.g. a part no lineitem
    * references) is its own singleton component. Labels only fall and
    * are bounded below, so the loop always ends: it runs until no label
    * falls, with no round cap. Per round only the labels that fell the
    * round before join the adjacency, so the join volume is Σ(edges
    * incident to each round's delta), not rounds × |E| like a
    * full-state formulation (the round-6 shape, 12.7s at sf0.1); on
    * short-diameter graphs late rounds touch a vanishing frontier.
    */
  def connectedComponents(s: SparkSession, g: PropertyGraph): DataFrame =
    components(g.edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")),
      Some(g.vertices.select(col("id")).distinct()))
      .select(col("id"), col("x").as("component"))

  /** Min-label components of the undirected graph on the (src, dst)
    * rows of `e` over the vertex set `verts` (id), or over the
    * endpoints of `e` when `verts` is None: (id, x) with x = the min
    * vertex id of the component. Shared by [[connectedComponents]] and
    * [[graft.operators.Dedup.dupClusters]].
    */
  private[graft] def components(e: DataFrame, verts: Option[DataFrame]): DataFrame =
    Loop.cached { c =>
      // no dedup shuffle: MIN-aggregation is idempotent under
      // duplicate/parallel/reversed edges. Symmetrize in ONE pass over
      // the (expensive, multi-table or LSH-sourced) edge subtree via
      // explode — a union would evaluate it twice — and pre-partition on
      // the round join key.
      val adj = c(e.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src")))
      val vs = verts.getOrElse(adj.select(col("src").as("id")).distinct())
      relax(adj, identitySeed(adj, vs), col("x"), lower = true, Int.MaxValue).state
    }

  /** The monotone relaxation kernel that connected components, DAG
    * layering, weighted SSSP, SCC forward coloring and
    * [[graft.operators.Dedup.dupClusters]] share: a label x per vertex
    * that only falls (`lower`, min) or only rises (max), on
    * [[graft.util.Loop.run]], stopping when no label moved.
    *
    * `edges` (src, dst[, w]) is cached by the caller and pre-partitioned
    * on src, the round's join key. `seed` is (id, x, __chg), where
    * __chg flags the labels the next round propagates. Each round
    * ([[relaxRound]]) joins only the flagged rows to the edges on src,
    * aggregates `cand` (a Column over the edge and x, e.g. x, x + 1 or
    * x + w) per dst, and merges it into the state ([[settle]]). With
    * `grow` the merge is a full join, so endpoints the seed lacks enter
    * the state when first reached (SSSP from one source); otherwise
    * the seed is the vertex set.
    *
    * Correctness of the delta restriction: every label move enters that
    * round's delta, so any improvement a neighbour could offer is
    * offered the round after it happens; an empty delta therefore
    * witnesses the global fixpoint. Each round equals one full-state
    * round, so a cap of `rounds` allows exactly `rounds` propagation
    * rounds past the seed. The result's `converged` is false when the
    * cap fired with labels still moving; the state is (id, x, __chg).
    */
  private def relax(edges: DataFrame, seed: DataFrame, cand: Column,
                    lower: Boolean, rounds: Int,
                    grow: Boolean = false): Loop.Result[DataFrame] =
    Loop.run(seed, rounds, stop = Loop.whenEmpty(_.filter(col("__chg")))) {
      (st, _) => relaxRound(edges, st, cand, lower, grow)
    }

  /** One [[relax]] round: `cand` flows ONLY out of the rows of `st`
    * flagged __chg into their out-neighbours; every other vertex costs
    * nothing this round. private[graft] so the spec can pin the delta
    * contract directly: a better label sitting in `st` unflagged must
    * NOT propagate.
    */
  private[graft] def relaxRound(edges: DataFrame, st: DataFrame, cand: Column,
                                lower: Boolean, grow: Boolean): DataFrame = {
    // shuffle_hash on the delta: an SMJ would re-SORT the (large,
    // cached) edges every round — measured 0.9s/round at sf0.1 even
    // with a ~2k-row delta. The hash join builds from the small delta
    // and streams the cache, whose src partitioning elides the big
    // side's exchange.
    val offers = edges
      .join(st.filter(col("__chg")).select(col("id").as("src"), col("x"))
        .hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("id")).agg((if (lower) min(cand) else max(cand)).as("cand"))
    settle(st.select(col("id"), col("x")), offers, lower, if (grow) "full" else "left")
  }

  /** Merge per-vertex offers (id, cand) into the labels `st` (id, x):
    * x moves to the better of the two (`least`/`greatest` skip a null
    * side) and __chg flags the rows whose x moved or first appeared.
    * The offers are the hash-join build side.
    */
  private def settle(st: DataFrame, offers: DataFrame, lower: Boolean,
                     how: String): DataFrame = {
    val (x, c) = (col("x"), col("cand"))
    st.join(offers.hint("shuffle_hash"), Seq("id"), how)
      .select(col("id"), (if (lower) least(x, c) else greatest(x, c)).as("x"),
        (c.isNotNull && (x.isNull || (if (lower) c < x else c > x))).as("__chg"))
  }

  /** The [[relax]] seed of an identity-labelled min loop (x = id over
    * `verts`) after its first round, which needs no join: with x = id
    * every vertex's candidate is its min in-neighbour id, one aggregate
    * over `edges` in place of the heaviest (all-vertices) delta round.
    */
  private def identitySeed(edges: DataFrame, verts: DataFrame): DataFrame =
    settle(verts.select(col("id"), col("id").as("x")),
      edges.groupBy(col("dst").as("id")).agg(min(col("src")).as("cand")),
      lower = true, "left")

  /** Per destination vertex of the `label` edges: the edge count and
    * the sum of an edge property, summed in integer cents so the
    * relational oracle matches bit-for-bit. One hash aggregate.
    */
  def neighborEdgeSum(s: SparkSession, g: PropertyGraph, label: String,
                      prop: String): DataFrame =
    g.edgesOf(Seq(label))
      .groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("n_edges"),
        sum(round(col(prop) * 100).cast("long")).as("cents"))
      .select(col("id"), col("n_edges"), (col("cents") / 100.0).as("prop_sum"))

  /** Total triangle count, DataFrame-first (compact-forward):
    * canonicalize to undirected distinct edges, orient every edge from
    * its lower-(degree, id) endpoint to the higher, build wedges as
    * ordered out-neighbor pairs, close them with a semi-join against
    * the oriented edges. The orientation bounds every vertex's
    * out-degree by O(√m), so wedge volume is Σ outdeg² ≤ m^1.5 —
    * immune to the hub-degree blowup of id-ordered wedges — and all
    * state lives in narrow shuffled pairs (AQE-splittable), never in
    * per-vertex neighbor sets. Each triangle is counted exactly once
    * at its lowest-order corner. Also reports the vertex count: the
    * declared vertex set unfiltered, the endpoints of the selected
    * edges under a label filter.
    */
  def triangleTotal(s: SparkSession, g: PropertyGraph,
                    labels: Seq[String] = Nil): DataFrame = {
    val all = g.edgesOf(labels)
    // e is NOT persisted here: its two consumers (degree agg + the
    // orientation join) sit in one query, where exchange reuse already
    // dedupes the distinct — caching it only added materialization
    // cost (measured +4s at sf0.1). clusteringCoefficient, whose THIRD
    // consumer lives in a separate subplan, does persist.
    val e = undirectedDistinct(all)
    // unfiltered: the graph's declared vertex set (isolated vertices
    // count); label-filtered: the endpoints of the surviving edges
    val nVertices =
      if (labels.isEmpty) g.vertices.select(col("id")).distinct().count()
      else all.select(col("src").as("id"))
        .union(all.select(col("dst").as("id"))).distinct().count()
    triangleFrom(e, degreesOf(e))
      .withColumn("n_vertices", lit(nVertices))
  }

  /** canonical undirected distinct edge list (a < b, no self-loops) */
  private def undirectedDistinct(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** canonical (a, b) rows → both directions (v, n) in ONE pass over
    * the input subtree. The union formulation
    * (`und.select(a,b).union(und.select(b,a))`) names the subtree
    * twice and leaves deduplication to Catalyst's exchange reuse —
    * which only fires when a shuffle (e.g. the distinct) happens to
    * sit at the subtree root; a raw scan union runs twice
    * (the connectedComponents adjacency measured that cost). Explode duplicates
    * each row map-side, making single evaluation structural rather
    * than an optimizer accident.
    */
  private def symmetrize(und: DataFrame): DataFrame =
    und.select(explode(array(
        struct(col("a").as("v"), col("b").as("n")),
        struct(col("b").as("v"), col("a").as("n")))).as("e"))
      .select(col("e.v").as("v"), col("e.n").as("n"))

  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))

  /** compact-forward closure over a PERSISTED canonical edge list —
    * shared by [[triangleTotal]] and [[clusteringCoefficient]] so the
    * distinct + degree build runs once per query, not once per caller.
    * Returns the eagerly-materialized 1-row total.
    */
  private def triangleFrom(e: DataFrame, deg: DataFrame): DataFrame = Loop.cached { c =>
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    // The oriented edge list feeds THREE consumers (both wedge sides +
    // the closure semi-join); persist it so the distinct + two degree
    // joins upstream run once, not three times (exchange reuse is not
    // guaranteed across AQE-replanned stages).
    // cached pre-partitioned AND pre-sorted on the wedge pivot: the
    // wedge self-join below then reads both sides exchange-free and
    // sort-free (r15, guide §2.4 — the cached plan's partitioning and
    // ordering survive InMemoryTableScan), instead of exchanging the
    // oriented list twice per query
    val o = c(withDeg.select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("w"),
        when(fwd, col("db")).otherwise(col("da")).as("dw"))
      .repartition(col("u")).sortWithinPartitions("u"))
    val wedges = o.select(col("u"), col("w").as("w1"), col("dw").as("d1"))
      .join(o.select(col("u"), col("w").as("w2"), col("dw").as("d2")), "u")
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("w1") < col("w2")))
      .select(col("w1"), col("w2"))
    val triangles = wedges.join(
      o.select(col("u").as("w1"), col("w").as("w2")), Seq("w1", "w2"), "left_semi")
    // one row out, checkpointed by the scope before the cache is released
    triangles.agg(count(lit(1)).cast("long").as("total_triangles"))
  }

  /** Deterministic fixed-point PageRank over a label-filtered subgraph,
    * DataFrame-first. Rank mass lives in integer micro-units with floor
    * division, so the result is bit-identical across engines, partition
    * counts, and reduce orders — the oracle-able counterpart of
    * [[pageRank]], whose double sums are association-order dependent.
    * Per iteration: one narrow (id, pr) equi-join against the edge list
    * and one hash aggregation with map-side partial sums — the standard
    * scalable PR shape (contribs shuffle on dst only; nothing wide ever
    * moves). Dangling-vertex mass is dropped (no redistribution), the
    * simplest standard variant and the one a relational replay can
    * express without a global total per step. Fixed `iters`, no
    * convergence test.
    *
    * Loop mechanics follow Dedup.dupClusters, not one giant lazy plan:
    * a 10-deep unrolled join tree made Catalyst re-analyze the whole
    * tree per step (measured ~8 s on a 16k-edge graph — planning, not
    * data). Instead the loop-invariant relations persist once and the
    * narrow (id, pr) state rolls ([[RankGraph.rounds]]), so every step
    * is one shallow two-stage job regardless of `iters`.
    */
  def pageRankExact(s: SparkSession, g: PropertyGraph, labels: Seq[String] = Nil,
                    iters: Int = 10): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      rankGraph(s, c, e0.select(col("src"), col("dst")))
        .rounds(iters, lit(1000000L).as("pr"), lit(150000L).as("pr"),
          expr("pr div sw")) {
          _.select(col("id"), expr("150000L + (85L * m) div 100L").as("pr"))
        }
    }
  }

  /** Weighted PageRank, exact integer units: the weighted random
    * surfer — a vertex splits its rank over out-edges PROPORTIONALLY
    * to edge weight (contribution = pr·w div Σw per edge, one integer
    * floor per edge term) instead of uniformly. Same 0.15/0.85 damping
    * and oracle-unroll discipline as [[pageRankExact]]; weights come
    * in as any deterministic integer Column over (src, dst) so the
    * relational replay computes the identical Σw and per-edge floors.
    * CONTRACT: weights must be POSITIVE integers — a zero/negative/
    * NULL weight would make Σw ≤ 0 for some src, turning per-edge
    * `pr·w div sw` into NULLs that silently vanish from the Spark sum
    * while a relational replay errors on the division. Out-of-contract
    * edges are filtered out (w > 0) so both engines see the same
    * positive-weight graph instead of diverging silently.
    * Scale: identical plan family to pageRankExact ([[RankGraph]]).
    */
  def pageRankWeightedExact(s: SparkSession, g: PropertyGraph,
      weight: Column, labels: Seq[String] = Nil,
      iters: Int = 10): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      rankGraph(s, c, e0.select(col("src"), col("dst"))
          .withColumn("w", weight.cast("long"))
          .filter(col("w") > 0), // positive-weight contract (see scaladoc)
          col("w"))
        .rounds(iters, lit(1000000L).as("pr"), lit(150000L).as("pr"),
          expr("(pr * w) div sw")) {
          _.select(col("id"), expr("150000L + (85L * m) div 100L").as("pr"))
        }
    }
  }

  /** Eigenvector centrality, exact integer units — the HugeGraph
    * EigenvectorCentrality traverser: power iteration on A+I (the
    * undirected adjacency matrix PLUS self-loops; parallel edges keep
    * their multiplicity — matrix semantics), renormalized each step so
    * the max score is one unit (10⁶). The +I damping matters: trees
    * and other bipartite graphs make plain A-iteration OSCILLATE
    * between the two sides forever (±λ eigenvalue pair) — A+I shifts
    * the spectrum positive, converges to the same leading eigenvector
    * ordering, and costs one integer add. Integer floor division makes
    * every step bit-identical across engines/partitionings, so the
    * oracle replays all iterations as chained CTEs — same trick as
    * [[pageRankExact]].
    *
    * Scale: per step one narrow (id, score) join against the
    * persisted pre-partitioned adjacency + one hash-agg; the
    * normalizer is ONE scalar MAX to the driver per step (the same
    * driver traffic class as the loop convergence witnesses).
    * Overflow-guarded: score ≤ 10⁶ after each renormalize, so the
    * pre-normalize sum is ≤ maxDegree·10⁶ and the ×10⁶ rescale needs
    * maxDegree < 9.2·10⁶ — checked with a loud require.
    */
  def eigenvectorExact(s: SparkSession, g: PropertyGraph,
      labels: Seq[String] = Nil, iters: Int = 10): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      val (sym, n) = c.counted(e0.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .select(explode(array(
          struct(col("src").as("v"), col("dst").as("n")),
          struct(col("dst").as("v"), col("src").as("n")))).as("e"))
        .select(col("e.v").as("v"), col("e.n").as("n")))
      // A+I as data: one self-loop row per vertex folds the +I into the
      // SAME single join every step runs — no second state reference
      // (which on the oracle side would make DuckDB's CTE inlining
      // expand the plan tree exponentially across 10 steps)
      val adj = c(sym.union(
          sym.select(col("v")).distinct().select(col("v"), col("v").as("n")))
        .repartition(Loop.parts(s, n), col("n"))) // see rankGraph
      // vertex-set contract: scores are defined over vertices incident
      // to at least one (label-filtered) non-loop edge — isolated
      // vertices have no centrality mass and are absent from the
      // output. An empty edge set therefore yields an empty frame
      // rather than letting the null MAX aggregate below NPE.
      if (n == 0L) adj.select(col("v").as("id"), lit(1000000L).as("score")).limit(0)
      else {
        // the rolled state is each step's raw (id, m) sums: the scalar
        // max and the next step share ONE materialization of the
        // join+agg (reading the normalizer off a lazy frame doubles
        // every step's work — the hitsExact lesson)
        def scores(m: DataFrame): DataFrame = {
          val mx = m.agg(max(col("m"))).head().getLong(0)
          require(mx > 0 && mx <= Long.MaxValue / 1000000L,
            s"eigenvector renormalizer out of range: $mx")
          m.select(col("id"), expr(s"(m * 1000000L) div ${mx}L").as("score"))
        }
        val r = Loop.run(adj.select(col("v").as("id")).distinct()
            .select(col("id"), lit(1000000L).as("score")), iters) { (st, k) =>
          pull(adj, "n", "v", if (k == 1) st else scores(st), col("score"))
        }
        if (r.rounds == 0) r.state else scores(r.state)
      }
    }
  }

  /** HITS hubs-and-authorities (Kleinberg), exact integer units — the
    * mutual-reinforcement recurrence on the DIRECTED graph:
    * a(v) = Σ_{u→v} h(u), then h(u) = Σ_{u→v} a(v), each renormalized
    * so the max score is one unit (10⁶). Parallel edges keep their
    * multiplicity (matrix semantics, same contract as
    * [[eigenvectorExact]]). Hubs are defined over source vertices,
    * authorities over destination vertices; the output is the full
    * endpoint set with coalesce-0 for the side a vertex never plays.
    * Integer floor division after each half-step makes every value
    * bit-identical across engines/partitionings, so the oracle replays
    * all iterations as chained CTEs (the pageRankExact/eigenvector
    * template family).
    *
    * Scale: per half-step one narrow (id, score) join against a
    * persisted copy of the edge list pre-partitioned on THAT
    * half-step's join key (src for the authority pull, dst for the hub
    * pull — two persisted copies, the EDGE_OUT/EDGE_IN trade) + one
    * hash-agg; the renormalizer is ONE scalar MAX to the driver per
    * half-step. Overflow-guarded like eigenvector: scores ≤ 10⁶, so
    * the pre-normalize sum needs max in/out-degree < 9.2·10⁶.
    */
  def hitsExact(s: SparkSession, g: PropertyGraph,
      labels: Seq[String] = Nil, iters: Int = 8): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      val (e, n) = c.counted(e0.select(col("src"), col("dst")))
      if (n == 0L) e.select(col("src").as("id"), lit(0L).as("hub"),
        lit(0L).as("auth")).limit(0)
      else {
        val eBySrc = c(e.repartition(col("src")))
        val eByDst = c(e.repartition(col("dst")))
        // overflow guard ONCE, up front: scores stay ≤ 10⁶ after every
        // renormalize, so each half-step's raw sum is ≤ maxDegree·10⁶
        // and the ×10⁶ rescale stays in Long iff maxDegree < 9.2·10⁶ —
        // checking the degree bound here validates all iterations at
        // once and keeps the loop free of collected scalars
        val maxDeg = e.select(col("src").as("id")).union(e.select(col("dst")))
          .groupBy(col("id")).agg(count(lit(1)).as("d"))
          .agg(max(col("d"))).head().getLong(0)
        require(maxDeg > 0 && maxDeg <= Long.MaxValue / 1000000L / 1000000L,
          s"hits: max degree $maxDeg would overflow the integer rescale")
        // normalizer as a BROADCAST 1-row max joined back onto the
        // rolled raw sums — no per-step scalar collect: the collected-max
        // formulation cost one extra action per half-step (2× the job
        // count), and reading the max off the un-checkpointed frame
        // even re-ran the join+agg (the two together measured 10× on
        // the 750k-edge gate)
        def scores(m: DataFrame): DataFrame =
          m.crossJoin(broadcast(m.agg(max(col("m")).as("mx"))))
            .select(col("id"), expr("(m * 1000000L) div mx").as("score"))
        // one round per HALF-step over (hub sums, authority sums), one
        // rolling slot each: odd rounds pull authorities from hubs, even
        // rounds hubs from authorities, so a hub roll never releases
        // the authority frame the final join still reads. The seed's
        // unit hub scores are read as they are.
        val h0 = eBySrc.select(col("src").as("id")).distinct()
          .select(col("id"), lit(1000000L).as("m"))
        val (h, a) = Loop.run((h0, h0.limit(0)), 2 * iters) {
          case ((h, a), t) =>
            if (t % 2 == 1) (h, pull(eBySrc, "src", "dst",
              if (t == 1) h.withColumnRenamed("m", "score") else scores(h),
              col("score")))
            else (pull(eByDst, "dst", "src", scores(a), col("score")), a)
        }.state
        eBySrc.select(col("src").as("id"))
          .union(eByDst.select(col("dst").as("id"))).distinct()
          .join(scores(h).select(col("id"), col("score").as("hub")),
            Seq("id"), "left")
          .join(scores(a).select(col("id"), col("score").as("auth")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"),
            coalesce(col("auth"), lit(0L)).as("auth"))
      }
    }
  }

  /** Modularity Q of a vertex partition over the undirected simple
    * graph — the community-quality metric (Newman–Girvan):
    * Q = Σ_c [ e_c/m − (d_c/2m)² ] with e_c = intra-community edge
    * count, d_c = community degree mass, m = |edges|. Returned as the
    * EXACT rational q_num/q_den (q_num = Σ_c (4·m·e_c − d_c²),
    * q_den = 4m²) plus a rounded decimal — integer arithmetic end to
    * end, so the oracle replays it hash-exactly; Q itself is a single
    * deterministic division at the very end.
    *
    * `comm` assigns (id, comm); vertices missing from `comm` drop with
    * their incident edges (strict = the metric is defined over the
    * assigned subgraph; both engines apply the same inner join).
    *
    * Scale: two narrow joins endpoint→community (the classic
    * vertex-cut pattern), then two hash-aggs of (comm) keys — output
    * is ONE row; no driver state beyond scalars.
    */
  def modularity(s: SparkSession, edges: DataFrame, comm: DataFrame): DataFrame =
    Loop.cached { c =>
      val lab = c(undirectedDistinct(edges)
        .join(comm.select(col("id").as("a"), col("comm").as("ca")), "a")
        .join(comm.select(col("id").as("b"), col("comm").as("cb")), "b"))
      val m = lab.count()
      if (m == 0L) lab.select(lit(0L).as("m"), lit(0L).as("n_comm"),
        lit(0L).as("q_num"), lit(0L).as("q_den"), lit(0.0).as("q")).limit(0)
      else {
        val intra = lab.filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("e_c"))
        val degMass = lab
          .select(explode(array(col("ca"), col("cb"))).as("comm"))
          .groupBy(col("comm")).agg(count(lit(1)).as("d_c"))
        val perComm = degMass.join(intra, Seq("comm"), "left")
          .select(col("comm"), coalesce(col("e_c"), lit(0L)).as("e_c"),
            col("d_c"))
        perComm.agg(
            count(lit(1)).as("n_comm"),
            sum(expr(s"4L * ${m}L * e_c - d_c * d_c")).as("q_num"))
          .select(lit(m).as("m"), col("n_comm"), col("q_num"),
            lit(4L * m * m).as("q_den"),
            round(col("q_num").cast("double") / lit(4.0 * m * m), 6).as("q"))
      }
    }

  /** Deterministic random-walk sampling (the node2vec/DeepWalk corpus
    * generator): from each seed, `steps` hops over the undirected
    * adjacency, choosing at vertex v on step t the neighbor with rank
    * ((v mod 1000003)·2654435761 + t·97) mod outdeg(v) in the
    * id-ordered neighbor list. The "randomness" is a pure-arithmetic
    * hash both engines evaluate identically (no engine hash functions,
    * no overflow: ids < 2⁴³ keep every product < 2⁶³), so the sampled
    * walks — normally the textbook example of an un-oracle-able
    * operator — replay exactly as unrolled SQL CTEs.
    *
    * Output: (seed, step, v) rows, step 0 = the seed itself; a walk
    * that reaches an isolated vertex stops early (no row emitted).
    *
    * Scale: the ranked adjacency (v, n, rk, outdeg) is built ONCE
    * (one window over the edge shuffle) and persisted across steps;
    * per step the frontier is |seeds| narrow rows joining that
    * persisted relation — walk state never exceeds one row per live
    * walk, and nothing ever collects to the driver.
    */
  def randomWalks(s: SparkSession, g: PropertyGraph, seeds: DataFrame,
      labels: Seq[String] = Nil, steps: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = g.edgesOf(labels)
    val adj = symmetrize(undirectedDistinct(e0))
    val w = Window.partitionBy(col("v")).orderBy(col("n"))
    Loop.cached { c =>
      val ranked = c(adj
        .withColumn("rk", row_number().over(w))
        .withColumn("outdeg", count(lit(1)).over(
          Window.partitionBy(col("v"))))
        .repartition(col("v")))
      ranked.count() // materialize once; every step reuses the cache
      var frontier = seeds.select(col("seed"), col("seed").as("cur"))
        .localCheckpoint()
      var out = frontier.select(col("seed"), lit(0).as("step"),
        col("cur").as("v"))
      for (t <- 1 to steps) {
        frontier = frontier
          .join(ranked.select(col("v").as("cur"), col("n"), col("rk"),
            col("outdeg")), "cur")
          .filter(col("rk") === expr(
            s"((cur % 1000003L) * 2654435761L + ${t}L * 97L) % outdeg + 1L"))
          .select(col("seed"), col("n").as("cur"))
          .localCheckpoint()
        out = out.union(frontier.select(col("seed"), lit(t).as("step"),
          col("cur").as("v")))
      }
      out
    }
  }

  /** Distributed greedy coloring (Jones–Plassmann): vertices take the
    * round in which they win the priority contest as their color,
    * where v wins once every uncolored neighbor has lower (priority,
    * id). The key identity that makes this ONE reusable loop instead
    * of a new one: JP's round number for v equals the longest
    * monotone-decreasing-priority path ending at v — i.e. the
    * [[dagLayers]] longest-path level over the adjacency ORIENTED from
    * higher to lower priority (a DAG by construction: priorities with
    * the id tie-break are a total order, so no cycle can be
    * monotone). Adjacent vertices sit on an oriented edge and
    * therefore differ in level — a proper coloring.
    *
    * Priority is the pure-arithmetic hash (v mod 1000003)·2654435761 +
    * v mod 97 (the randomWalks family: no engine hash, no overflow),
    * so the whole computation — orientation included — replays in SQL.
    * Color count tracks the longest decreasing chain (O(log n /
    * log log n) expected for hashed priorities), not the chromatic
    * number; `iters` caps the depth and strict mode fails LOUDLY if
    * the gate graph ever outgrows the oracle's unroll.
    *
    * Scale: inherits dagLayers' delta-frontier loop (Σ|delta| edge
    * work, narrow (id, level) state, pre-partitioned persisted edges);
    * the orientation itself is one map over the edge list.
    */
  def greedyColoring(s: SparkSession, g: PropertyGraph,
      labels: Seq[String] = Nil, iters: Int = 16): DataFrame = {
    val e0 = g.edgesOf(labels)
    val und = undirectedDistinct(e0)
    def pr(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (c % 1000003L) * lit(2654435761L) + c % 97L
    val aWins = pr(col("a")) > pr(col("b")) ||
      (pr(col("a")) === pr(col("b")) && col("a") > col("b"))
    val oriented = und.select(
        when(aWins, struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        lit("oriented").as("label"))
    val verts = und.select(explode(array(col("a"), col("b"))).as("id"))
      .distinct().select(col("id"), lit("v").as("label"))
    dagLayersStatus(s, PropertyGraph(verts, oriented), iters,
        strict = true)._1
      .select(col("id"), col("level").as("color"))
  }

  /** Topological layering of a DAG (longest-path levels): level(v) = 0
    * for sources, else 1 + max(level(u)) over in-edges u→v — the
    * dependency-scheduling / lineage-depth primitive (level n = the
    * batch that can run once batches < n finished). Monotone
    * max-propagation: after round t every vertex holds its longest
    * incoming path using ≤ t edges, so `iters` ≥ graph depth is exact.
    * On a cyclic input, levels on/below a cycle keep climbing instead
    * of converging — level ≥ iters doubles as a cycle detector. That
    * detector mode is the DEFAULT (strict = false): hitting the cap
    * with a live frontier is meaningful output there. Callers that
    * expect a DAG no deeper than `iters` pass strict = true, turning a
    * truncated (silently wrong) layering into a loud error instead.
    *
    * Scale: max-propagation on the relaxation kernel ([[relax]]): only
    * vertices whose level ROSE last round raise a successor, so each
    * edge is joined once per layer it propagates through — Σ|delta|
    * work, not rounds × |E| — and the loop stops itself on an empty
    * frontier (depth+1 rounds on a DAG) instead of burning fixed
    * iterations past convergence.
    */
  def dagLayers(s: SparkSession, g: PropertyGraph, iters: Int = 8,
                strict: Boolean = false): DataFrame =
    dagLayersStatus(s, g, iters, strict)._1

  /** [[dagLayers]] with an explicit convergence witness: returns
    * (levels, converged) where converged=false means the frontier was
    * still live after `iters` rounds — the levels are a TRUNCATED
    * lower bound (graph deeper than iters, or cyclic), not a final
    * layering. Callers in detector mode branch on the flag instead of
    * inferring truncation from level values (ADVICE r7).
    */
  def dagLayersStatus(s: SparkSession, g: PropertyGraph, iters: Int = 8,
                      strict: Boolean = false): (DataFrame, Boolean) = {
    val r = Loop.cached { c =>
      val edges = c(g.edges.select(col("src"), col("dst"))
        .repartition(col("src")))
      relax(edges, g.vertices.select(col("id")).distinct()
          .select(col("id"), lit(0L).as("x"), lit(true).as("__chg")),
        col("x") + 1L, lower = false, iters)
    }
    if (strict) require(r.converged,
      s"dagLayers frontier still live after $iters rounds — graph is " +
        "deeper than iters or cyclic (pass strict=false for detector mode)")
    (r.state.select(col("id"), col("x").as("level")), r.converged)
  }

  /** Personalized PageRank, exact integer units — [[pageRankExact]]
    * with the restart mass concentrated on the seed set: a seed
    * re-injects 150000 units each round (and starts with the full
    * 1000000), every other vertex accumulates only propagated mass.
    * Rank therefore measures proximity to the seeds — the
    * recommendation/expansion primitive of the HugeGraph analytics
    * suite. Same loop mechanics and scale shape as pageRankExact
    * ([[RankGraph]]); the seed flag joins the vertex frame once, into
    * a cached frame that gives the initial and restart values, and
    * each round joins the SMALL seed set, not that flagged frame.
    */
  def personalizedPageRankExact(s: SparkSession, g: PropertyGraph,
                                seeds: DataFrame, labels: Seq[String] = Nil,
                                iters: Int = 10): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      val flag = c(seeds.select(col("id")).distinct().withColumn("__seed", lit(1L)))
      val seed = coalesce(col("__seed"), lit(0L))
      val r = rankGraph(s, c, e0.select(col("src"), col("dst")))
      r.copy(verts = c(r.verts.join(flag, Seq("id"), "left")))
        .rounds(iters, (seed * 1000000L).as("pr"), (seed * 150000L).as("pr"),
          expr("pr div sw")) {
          _.join(flag, Seq("id"), "left")
            .select(col("id"), (seed * 150000L + expr("(85L * m) div 100L")).as("pr"))
        }
    }
  }

  /** Louvain community detection, LEVEL-1 local-move phase (Blondel et
    * al. 2008) with INTEGER-EXACT modularity gains: each vertex
    * considers its neighbors' communities (plus its own) and moves to
    * the one maximizing the gain score
    * `2m·k_i_in(C) − k_i·(Σtot(C) − [i∈C]·k_i)` — the standard ΔQ
    * with the positive constant factor (2m)² cleared, so every
    * comparison is 64-bit integer arithmetic and the result is
    * bit-stable across engines (the oracle unrolls the same rounds as
    * CTEs). Determinism contract, mirroring [[labelPropagation]]:
    *  - SYNCHRONOUS rounds with PARITY ALTERNATION (round r moves only
    *    vertices with id % 2 == r % 2) — the standard distributed
    *    damping that breaks two-community oscillation while staying a
    *    pure function of (graph, round);
    *  - move iff the best score STRICTLY beats the stay-put score,
    *    tie-broken to the minimum community id among the maximizers;
    *  - fixed round budget (no convergence test — same rationale as
    *    LPA).
    * Scale: per round one (v,n)⋈assignment join + three hash-aggs
    * over narrow (id, community) longs; the symmetrized adjacency is
    * persisted pre-partitioned; state rolls with block release. The
    * full multi-level Louvain contracts the graph and recurses — the
    * contraction is [[bipartiteProjection]]-shaped and level-1 already
    * yields the nation/region community structure this schema has.
    */
  def louvainLevel1(s: SparkSession, g: PropertyGraph, rounds: Int = 6,
                    labels: Seq[String] = Nil): DataFrame = {
    val all = g.edgesOf(labels)
    Loop.cached { c =>
      val (und, nUnd) = c.counted(undirectedDistinct(all))
      val sym = c(symmetrize(und).repartition(col("n")))
      val deg = c(degreesOf(und))
      val m2 = 2L * nUnd
      require(m2 > 0, "louvain: empty edge set")
      Loop.run(deg.select(col("v").as("id"), col("v").as("c")), rounds) { (asg, r) =>
        val tot = asg.join(deg.select(col("v").as("id"), col("d")), "id")
          .groupBy(col("c")).agg(sum(col("d")).as("tot"))
        val kin = sym
          .join(asg.select(col("id").as("n"), col("c").as("nc")), "n")
          .groupBy(col("v"), col("nc")).agg(count(lit(1)).as("kin"))
        // own community is always a candidate (kin contributes 0, so a
        // plain SUM after the union cannot double-count). The union's
        // own-row CARRIES the current community (own = 1 exactly on
        // nc = cur, and max(when(own, nc)) = cur) — so neither the
        // scored pass nor the state update needs a join back onto asg:
        // two joins fewer per round than the r14 shape (r15, §2.4).
        val cand = kin.withColumn("own", lit(0L))
          .unionByName(asg.select(col("id").as("v"), col("c").as("nc"),
            lit(0L).as("kin"), lit(1L).as("own")))
          .groupBy(col("v"), col("nc"))
          .agg(sum(col("kin")).as("kin"), max(col("own")).as("own"))
        val scored = cand
          .join(deg, "v")
          .join(tot.select(col("c").as("nc"), col("tot")), "nc")
          .select(col("v"), col("nc"), col("own"),
            (lit(m2) * col("kin") - col("d") *
              (col("tot") - when(col("own") === 1L, col("d"))
                .otherwise(lit(0L)))).as("score"))
        // ONE aggregate carries the argmax candidate, the stay-put
        // score AND the current community (own community is unique per
        // v, so the conditional MAXes are exact)
        val best = scored.groupBy(col("v"))
          .agg(max(struct(col("score"), (-col("nc")).as("mn"))).as("b"),
            max(when(col("own") === 1L, col("score"))).as("os"),
            max(when(col("own") === 1L, col("nc"))).as("cur"))
          .select(col("v").as("id"), col("b.score").as("bs"),
            (-col("b.mn")).as("bc"), col("os"), col("cur"))
        best.select(col("id"),
          when(col("id") % 2 === lit(r % 2) && col("bs") > col("os"),
            col("bc")).otherwise(col("cur")).as("c"))
      }.state
    }
  }

  /** Deterministic synchronous label propagation (community
    * detection — the LPA of the HugeGraph analytics suite, here
    * DataFrame-first): every vertex starts in its own community; each
    * of the fixed `iters` rounds relabels every vertex to its
    * neighbors' most frequent label, ties broken toward the SMALLEST
    * label — so the result is bit-stable across engines, partition
    * counts, and reduce orders, unlike a LabelPropagation whose
    * tie-break follows hash-map iteration order. Isolated
    * vertices keep their own label (singleton communities).
    *
    * Per round: one narrow (v, n) adjacency join against the (id,
    * label) state + two hash-aggs — shuffles carry 16-byte pairs, the
    * adjacency list is persisted for the loop, and state is eagerly
    * localCheckpoint'ed per round (the Dedup.dupClusters loop
    * mechanics; a lazily-unrolled 4-iteration plan re-analyzes the
    * whole lineage each round). Fixed iteration count: synchronous
    * LPA can oscillate on bipartite regions, so convergence testing
    * would not terminate — fixed-k is the standard batch variant.
    */
  def labelPropagation(s: SparkSession, g: PropertyGraph, iters: Int = 4,
                       labels: Seq[String] = Nil): DataFrame = {
    val all = g.edgesOf(labels)
    Loop.cached { c =>
      // persisted PRE-PARTITIONED on the join key: every round's
      // adjacency-side shuffle disappears (InMemoryTableScan keeps the
      // hash partitioning, so only the small label state moves per round)
      val adj = c(symmetrize(undirectedDistinct(all)).repartition(col("n")))
      val verts = c(g.vertices.select(col("id")).distinct())
      Loop.run(verts.select(col("id"), col("id").as("lbl")), iters) { (lab, _) =>
        // shuffle_hash: an SMJ would re-SORT the cached pre-partitioned
        // adjacency every round (the relaxRound lesson — ~0.9s/round)
        val nb = adj.join(
          lab.select(col("id").as("n"), col("lbl")).hint("shuffle_hash"), "n")
        // explicit repartition(v) BEFORE the two-level agg (r16): both
        // groupBys then run map-side local over the same layout — one
        // exchange instead of two (6.00 → 5.55 min, consistently faster
        // on every alternated run — OPTIMIZATION_r16.md, LPA layout)
        val pick = nb.select(col("v"), col("lbl"))
          .repartition(col("v"))
          .groupBy(col("v"), col("lbl"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("v"))
          // lexicographic struct max = (max count, then min label)
          .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("v").as("id"), (-col("m.nl")).as("new_lbl"))
        lab.join(pick, Seq("id"), "left")
          .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
      }.state
    }
    // r15 note: an iso-union round shape (state = pick ∪ constant
    // isolated frame, licensed by filtering adj to labeled endpoints
    // up front) was A/B'd in-JVM against this shape and REVERTED:
    // the one-time endpoint semi-joins cost more than the removed
    // per-round left join at bench scale (9.18 vs 11.24 min,
    // OPTIMIZATION_r15.md).
  }

  /** k-core: the maximal subgraph in which every vertex has at least k
    * (distinct, undirected) neighbors — the classic density filter for
    * community mining. Iterative peeling on DataFrames: drop vertices
    * below degree k, recompute degrees in the surviving subgraph,
    * repeat to the fixed point.
    *
    * Loop state is the narrow survivor id set; each round is two
    * semi-joins (edges whose BOTH endpoints survive) + one hash-agg
    * degree count — all shuffles carry 8–16-byte rows keyed by vertex
    * id. The distinct-neighbor edge set is computed once and persisted;
    * survivors are eagerly localCheckpoint'ed per round so the plan
    * never deepens (same loop mechanics as Dedup.dupClusters). Peeling
    * converges in at most `maxRounds` rounds; the fixed point is
    * reached as soon as one round removes nothing, and running further
    * rounds cannot change the answer (so an oracle replaying a FIXED
    * round count ≥ convergence agrees exactly).
    */
  def kCore(s: SparkSession, g: PropertyGraph, k: Int,
            labels: Seq[String] = Nil, maxRounds: Int = 30): DataFrame =
    kCoreStatus(s, g, k, labels, maxRounds)._1

  /** [[kCore]] with an explicit convergence witness: (survivors,
    * converged) where converged=false means the round cap fired BEFORE
    * a peel round removed nothing — the survivor set is then an upper
    * bound on the true core (peeling is monotone decreasing), not the
    * fixed point. Same contract as [[dagLayersStatus]]: callers branch
    * on the flag instead of trusting a silently truncated loop
    * (VERDICT r8 #8; pinned in AlgorithmsSpec and the a_dag_detector
    * gate's sibling spec).
    */
  def kCoreStatus(s: SparkSession, g: PropertyGraph, k: Int,
            labels: Seq[String] = Nil, maxRounds: Int = 30): (DataFrame, Boolean) = {
    val e0 = g.edgesOf(labels)
    val r = Loop.cached { c =>
      // distinct over the canonical (a<b) pairs, then explode to both
      // directions map-side — the previous shape deduped the DOUBLED
      // union, paying the distinct shuffle on 2|E| rows instead of |E|
      val und = c(symmetrize(undirectedDistinct(e0))
        .select(col("v").as("src"), col("n").as("dst")))
      // a peel round that removes nothing is the fixed point
      Loop.run(und.select(col("src").as("id")).distinct(), maxRounds,
          stop = Loop.whenUnchanged(_.count())) { (alive, _) =>
        und
          .join(alive.select(col("id").as("src")), "src")
          .join(alive.select(col("id").as("dst")), "dst")
          .groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src").as("id"))
      }
    }
    (r.state, r.converged)
  }

  /** Multi-source BFS hop distances: ONE distributed loop carries all
    * seeds at once — frontier state is narrow (seed, id) pairs, so k
    * sources cost one BFS whose volume is ≤ k× the single-source scan,
    * not k sequential single-source runs. The BFS runs until the
    * frontier is empty; `maxDepth` is a k-hop limit for callers that
    * want one (kout, crosspoints), never a silent cap.
    * Per round: one join against the (persisted, narrow) edge list,
    * one distinct, one anti-join against the visited set — all keyed
    * shuffles of 16-byte rows, run by [[graft.util.Loop.frontier]]
    * (eager layer checkpoints keep plans flat).
    */
  def multiSourceHops(s: SparkSession, g: PropertyGraph, seeds: Seq[Long],
                      labels: Seq[String] = Nil, reverse: Boolean = false,
                      maxDepth: Int = Int.MaxValue): DataFrame = {
    import s.implicits._
    val e0 = g.edgesOf(labels)
    val dirEdges = if (reverse)
      e0.select(col("dst").as("src"), col("src").as("dst"))
    else e0.select(col("src"), col("dst"))
    // pre-partition on the per-round join key BEFORE persisting: the
    // cached relation then carries HashPartitioning(src) and every
    // round's frontier join reuses it instead of re-exchanging the
    // full edge list per depth (the pageRankExact/katz adjacency
    // discipline — this loop had been the one iterative reader
    // without it). Measured honestly: at the 100× rehearsal the win
    // is inside the weather band — the remaining linear term is the
    // per-round SCAN of the cached relation itself, which partition
    // count cannot remove — but the exchange it deletes is real
    // shuffle I/O on any cluster where the cache is not node-local.
    Loop.cached { c =>
      val edges = c(dirEdges.repartition(col("src")))
      val seed = seeds.distinct.toDF("seed").select(col("seed"), col("seed").as("id"))
      Loop.frontier(seed, Seq("seed", "id"), maxDepth) { (frontier, _) =>
        frontier.join(edges, frontier("id") === edges("src"))
          .select(col("seed"), col("dst").as("id"))
          .distinct()
      }.state.zipWithIndex
        .map { case (layer, d) => layer.withColumn("dist", lit(d.toLong)) }
        .reduce(_ unionByName _)
    }
  }

  /** Closeness centrality of the given seed vertices (classic
    * definition over the reachable set): n_reachable / Σ dist, exact
    * integer numerators/denominators with one rounded division — so a
    * relational replay agrees bit-for-bit.
    */
  def closeness(s: SparkSession, g: PropertyGraph, seeds: Seq[Long],
                labels: Seq[String] = Nil, reverse: Boolean = false): DataFrame =
    multiSourceHops(s, g, seeds, labels, reverse)
      .filter(col("dist") > 0)
      .groupBy(col("seed").as("id"))
      .agg(count(lit(1)).as("n_reachable"),
        sum(col("dist")).as("total_dist"))
      .withColumn("closeness",
        round(col("n_reachable").cast("double") /
          col("total_dist").cast("double"), 6))

  /** Harmonic centrality (Boldi–Vigna) of the given seeds: Σ 1/dist
    * over the reachable set — the closeness variant that stays
    * meaningful on disconnected graphs (unreachable vertices
    * contribute 0 instead of poisoning the sum). Each vertex at
    * distance d contributes floor(1e6/d) micro-units, summed as exact
    * BIGINTs with one rounded division at the end — the same
    * integer-bridge discipline as [[closeness]], so the relational
    * replay agrees bit-for-bit.
    */
  def harmonic(s: SparkSession, g: PropertyGraph, seeds: Seq[Long],
               labels: Seq[String] = Nil, reverse: Boolean = false): DataFrame =
    multiSourceHops(s, g, seeds, labels, reverse)
      .filter(col("dist") > 0)
      .groupBy(col("seed").as("id"))
      .agg(count(lit(1)).as("n_reachable"),
        sum(floor(lit(1000000L) / col("dist")).cast("long")).as("h_micro"))
      .withColumn("harmonic",
        round(col("h_micro").cast("double") / 1000000d, 6))

  /** Eccentricity of the given seed vertices: the maximum hop distance
    * each seed reaches (HugeGraph's eccentricity notion restricted to
    * the reachable set — unreachable vertices do not poison the max,
    * matching the [[harmonic]] disconnect discipline). A seed with no
    * outgoing edges reports ecc 0 / n_reachable 0 rather than
    * vanishing — the dist-0 self row every BFS emits carries it
    * through the aggregate. One multi-source BFS serves all seeds
    * (same loop as [[closeness]]); the eccentricities of a seed SET
    * also bound the graph diameter from below (max over seeds), which
    * is the standard sampled-diameter estimator at scale.
    */
  def eccentricity(s: SparkSession, g: PropertyGraph, seeds: Seq[Long],
                   labels: Seq[String] = Nil, reverse: Boolean = false): DataFrame =
    multiSourceHops(s, g, seeds, labels, reverse)
      .groupBy(col("seed").as("id"))
      .agg(max(col("dist")).as("ecc"),
        sum(when(col("dist") > 0, lit(1L)).otherwise(lit(0L))).as("n_reachable"))

  /** Katz centrality, exact integer units — the attenuated-paths
    * recurrence x'(v) = β + α·Σ_{u→v} x(u) on the DIRECTED graph
    * (every in-path of length k contributes α^k; in-degree-0 vertices
    * sit at the base score β = 10⁶). Convergence needs α < 1/λ_max;
    * λ_max ≤ max in-degree for a row-substochastic pull, so α is
    * pinned DATA-DEPENDENTLY at 1/(2·maxInDeg) — computed once as one
    * scalar aggregate, which also bounds every score by 2β (geometric
    * ratio ≤ ½), so 64-bit sums cannot overflow at any scale. The α
    * division is integer floor (m div 2D), making every step
    * bit-identical across engines/partitionings — the oracle replays
    * all iterations as chained CTEs, each referencing the previous
    * state exactly once (the [[pageRankExact]]/[[eigenvectorExact]]
    * template family).
    *
    * Scale: the [[RankGraph]] loop — per step one narrow (id, score)
    * join against the cached edges + one hash-agg; driver traffic is
    * the single up-front maxInDeg scalar, read off the vertex frame.
    */
  def katzExact(s: SparkSession, g: PropertyGraph,
                labels: Seq[String] = Nil, iters: Int = 6): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      val r = rankGraph(s, c, e0.select(col("src"), col("dst")))
      if (r.n == 0L) r.verts.select(col("id"), lit(1000000L).as("score")).limit(0)
      else {
        val denom = 2L * r.verts.agg(max(col("indeg"))).head().getLong(0)
        r.rounds(iters, lit(1000000L).as("score"), lit(1000000L).as("score"),
            col("score")) {
          _.select(col("id"), expr(s"1000000L + m div ${denom}L").as("score"))
        }
      }
    }
  }

  /** Maximal independent set via Luby's algorithm with DETERMINISTIC
    * priorities: p(v) = md5(v) as a hex string (collision-free in
    * practice, byte-lexicographic in both engines — no seed plumbing,
    * no ties). Per round, an undecided vertex joins the MIS iff its
    * priority beats every UNDECIDED neighbor's (vertices with no
    * undecided neighbors join unconditionally — their neighborhood is
    * already all non-MIS); the round's winners and their neighbors
    * leave the undecided set. O(log n) rounds w.h.p.; a fixed round
    * budget ≥ convergence yields the identical set (converged rounds
    * add nothing), so the oracle unrolls `maxRounds` rounds as
    * MATERIALIZED CTEs, and non-convergence fails LOUDLY here rather
    * than returning a non-maximal set.
    *
    * Defined over vertices incident to ≥1 (label-filtered) edge — the
    * same subgraph contract as [[eigenvectorExact]] (every vertex
    * isolated from the subgraph is trivially independent and carries
    * no information).
    *
    * Scale: per round one (v,n)-narrow join against the persisted
    * symmetric edge list + one hash-agg MIN + two anti-joins, all on
    * 16-byte keyed rows; undecided-set state is (id, 32-char pr) and
    * shrinks geometrically. Driver traffic = one count per round.
    */
  def maximalIndependentSet(s: SparkSession, g: PropertyGraph,
      labels: Seq[String] = Nil, maxRounds: Int = 6): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      val sym = c(symmetrize(undirectedDistinct(e0)).repartition(col("n")))
      val mis = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      // state: the undecided (id, pr) set — done when it is empty
      val r = Loop.run(sym.select(col("v").as("id")).distinct()
          .withColumn("pr", md5(col("id").cast("string"))), maxRounds,
          stop = Loop.whenEmpty()) { (und, _) =>
        val nbrMin = sym
          .join(und.select(col("id").as("n"), col("pr").as("npr")), "n")
          .groupBy(col("v")).agg(min(col("npr")).as("min_npr"))
        val cand = und
          .join(nbrMin.select(col("v").as("id"), col("min_npr")),
            Seq("id"), "left")
          .filter(col("min_npr").isNull || col("pr") < col("min_npr"))
          .select(col("id"))
          .localCheckpoint()
        mis += cand
        val removed = cand
          .union(sym.join(cand.select(col("id").as("v")), "v")
            .select(col("n").as("id")))
          .distinct()
        und.join(removed, Seq("id"), "left_anti")
      }
      require(r.converged, s"MIS did not converge in $maxRounds rounds: " +
        s"${r.state.count()} undecided")
      // empty edge set ⇒ empty incident-vertex set ⇒ empty MIS frame
      mis.reduceOption(_ union _).getOrElse(r.state.select(col("id")))
    }
  }

  /** Maximal matching via parallel greedy (Luby on the line graph):
    * deterministic edge priorities p(e) = md5(a‖'_'‖b) over canonical
    * a<b edges; per round an undecided edge enters the matching iff
    * its priority is the strict minimum over every undecided edge
    * sharing either endpoint (with unique priorities: p(e) equals
    * BOTH endpoints' min), then matched vertices leave with all their
    * incident edges. Same determinism/round-budget contract as
    * [[maximalIndependentSet]]: fixed budget ≥ convergence is
    * idempotent, non-convergence fails loudly, MATERIALIZED-CTE
    * oracle replay.
    *
    * Scale: per round one explode to endpoint rows + one MIN hash-agg
    * + two joins back on the endpoint keys + two anti-joins — all
    * narrow keyed rows; the undecided edge set shrinks geometrically.
    */
  def maximalMatching(s: SparkSession, g: PropertyGraph,
      labels: Seq[String] = Nil, maxRounds: Int = 8): DataFrame = {
    val e0 = g.edgesOf(labels)
    val matched = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // state: the undecided (a, b, pr) edge set — done when it is empty
    val r = Loop.run(undirectedDistinct(e0)
        .withColumn("pr",
          md5(concat(col("a").cast("string"), lit("_"), col("b").cast("string")))),
        maxRounds, stop = Loop.whenEmpty()) { (und, _) =>
      val vMin = und.select(explode(array(col("a"), col("b"))).as("v"), col("pr"))
        .groupBy(col("v")).agg(min(col("pr")).as("mn"))
      val sel = und
        .join(vMin.select(col("v").as("a"), col("mn").as("mna")), "a")
        .join(vMin.select(col("v").as("b"), col("mn").as("mnb")), "b")
        .filter(col("pr") === col("mna") && col("pr") === col("mnb"))
        .select(col("a"), col("b"))
        .localCheckpoint()
      matched += sel
      val mv = sel.select(explode(array(col("a"), col("b"))).as("v")).distinct()
      und
        .join(mv.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(mv.select(col("v").as("b")), Seq("b"), "left_anti")
        .select(col("a"), col("b"), col("pr"))
    }
    require(r.converged, s"matching did not converge in $maxRounds rounds: " +
      s"${r.state.count()} undecided")
    matched.reduceOption(_ unionByName _)
      .getOrElse(r.state.select(col("a"), col("b")))
  }

  /** SimRank (Jeh–Widom), exact integer micro-units: "two objects are
    * similar if referenced by similar objects" —
    * s(a,b) = C/(|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i,j), s(a,a)=1,
    * with C = 4/5 and SET semantics on in-neighborhoods (edges
    * deduplicated — standard SimRank is on simple graphs). Every
    * iteration applies one integer floor division (4m div 5·da·db),
    * so scores are bit-identical across engines/partitionings and the
    * oracle unrolls the iterations as MATERIALIZED CTEs. Returns the
    * final iteration's CANONICAL (a < b) similar pairs — s is
    * symmetric, so emitting one orientation is the whole answer.
    *
    * The state is SPARSE and stays so structurally: an off-diagonal
    * pair enters only through a shared-in-structure path, and pairs of
    * SINK vertices (no out-edges) never generate contributions — on a
    * customer→order→part DAG the live state is exactly {diagonal} ∪
    * {same-customer order pairs} ∪ {order-sharing part pairs}, NOT
    * |V|². Σ-volume per round is Σ_pairs |O(i)|·|O(j)| — bounded by
    * out-degree, not corpus size. SimRank's contract is pairwise
    * similarity over a bounded entity universe (here parts/orders);
    * all-pairs-of-everything at 100 TB is not a sane ask of ANY
    * engine, and the state never materializes pairs the recursion
    * doesn't reach.
    *
    * Overflow-guarded: Σ ≤ da·db·10⁶, so 4Σ needs da·db < 2.3·10¹² —
    * checked loudly against the true max in-degree.
    */
  def simRankExact(s: SparkSession, g: PropertyGraph,
      labels: Seq[String] = Nil, iters: Int = 3,
      finalize: DataFrame => DataFrame = identity): DataFrame = {
    val e0 = g.edgesOf(labels)
    Loop.cached { c =>
      val (e, nE) = c.counted(e0.select(col("src"), col("dst")).distinct())
      val verts = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      val indeg = c(e.groupBy(col("dst")).agg(count(lit(1)).as("d")))
      val maxIn = indeg.agg(max(col("d"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      // division-first so the GUARD itself cannot wrap: maxIn*maxIn
      // overflows Long for maxIn > ~3.0e9, which would let the
      // require pass spuriously exactly when it must fire (ADVICE r9)
      require(maxIn == 0L || maxIn <= Long.MaxValue / (5L * 1000000L) / maxIn,
        s"simrank Σ would overflow 64 bits at max in-degree $maxIn")
      val diag = verts
        .select(col("id").as("i"), col("id").as("j"), lit(1000000L).as("s"))
      // Two Σ-volume levers, both bit-identical by construction
      // (SimrankProbe decomposition at sf0.1: the final round's Σ is
      // 27.8M rows and its naive post-processing dominated the
      // query):
      // (a) sink-pair deferral — a SINK vertex (no out-edges) never
      //     contributes to later rounds, so intermediate rounds
      //     expand only against edges into NON-SINK targets; on the
      //     customer→order→part DAG the dominant part-pair volume
      //     runs ONCE, not every round;
      // (b) the in-degrees ride the edge expansion (da/db as extra
      //     grouping columns — functionally dependent on (a,b)), so
      //     the Σ aggregate's output needs NO 27M-row joins after
      //     the fact; and the FINAL round is never checkpointed —
      //     `finalize` (the caller's top-k/filter reduction) runs
      //     directly on the aggregate INSIDE the operator's cache
      //     scope, so the full pair frame never materializes; the
      //     canonical a<b aggregation below halves the Σ shuffle on
      //     top. Together: 24.1 → 11.6 s steal-clean median at
      //     sf0.1 for the a_simrank gate — the remainder IS the Σ
      //     volume (14M surviving expansion rows into the final
      //     aggregate, SimrankProbe).
      val eDeg = c(e.join(indeg, "dst")
        .select(col("src"), col("dst"), col("d")))
      val eNonSinkDeg = c(eDeg.join(
          e.select(col("src").as("dst")).distinct(), Seq("dst"), "left_semi"))
      // s is symmetric: aggregate CANONICAL (a < b) pairs only — the
      // a > b expansion rows die in the map-side filter, so the Σ
      // shuffle carries half the volume — then symmetrize the
      // surviving pairs back map-side (explode) for the next round's
      // two-sided lookup
      // BROADCAST the edge frame into both expansion joins when it
      // is small enough (r16): the Σ expansion's STREAM side (the
      // pair state, 14M rows into the final aggregate at sf0.1)
      // then never shuffles for the joins — only the final groupBy
      // exchange remains. Simrank10Probe, same JVM, output-equal:
      // final round 9.32 s → 4.62 s. Size-conditional because a
      // 100 TB edge relation must NOT be broadcast: ≤4M rows
      // (~100 MB hashed) broadcasts, above that the r15 shuffle
      // shape is kept unchanged.
      val eBcast = nE <= 4000000L
      def expandAgg(pairs: DataFrame, eRound: DataFrame): DataFrame = {
        val l = eRound.select(col("src").as("i"), col("dst").as("a"),
          col("d").as("da"))
        val r = eRound.select(col("src").as("j"), col("dst").as("b"),
          col("d").as("db"))
        pairs
          .join(if (eBcast) broadcast(l) else l, "i")
          .join(if (eBcast) broadcast(r) else r, "j")
          .filter(col("a") < col("b"))
          .groupBy(col("a"), col("b"), col("da"), col("db"))
          .agg(sum(col("s")).as("m"))
      }
      // DIAG SPLIT (round-10 Σ lever): state = diag ∪ off, and the
      // expansion of a state ROW touches only that row, so the
      // per-round aggregate decomposes into expandAgg(diag) ⊎
      // expandAgg(off). The diag half — every first-meeting
      // contribution Σ_{v: a,b ∈ out(v)} s(v,v) — is CONSTANT across
      // rounds (s(v,v) ≡ 10⁶ is the SimRank axiom), so it is
      // computed ONCE per edge-set variant, persisted in its
      // aggregated (small) form, and re-joined each round instead of
      // re-expanded: rounds whose off-state cannot expand (e.g. the
      // gate DAG's round 2, where all off pairs sit on sink-feeding
      // vertices) collapse to a re-union of the cached frame. The
      // re-aggregation of the two aggregated halves is exact integer
      // Σ re-association — bit-identical to the fused aggregate.
      // MEASURED AND REJECTED (round 12): re-using mDiagNS for the
      // FINAL round too, by quadrant (NS×NS cached ⊎ S×S expand ⊎
      // one canonicalized NS×S cross join), is bit-identical but
      // ~3 s SLOWER at sf0.1 (clean 19.3-20.2 vs 15.1-16.6 on the
      // same window): the sink-target expansion is the dominant
      // diag volume on a DAG corpus, so the split saves only the
      // cheap co-riding fanout while adding two joins, an extra
      // aggregate, and the anti-join that builds the sink edge set.
      val mDiagNS = c(expandAgg(diag, eNonSinkDeg))
      def roundScores(mParts: DataFrame): DataFrame = mParts
        .groupBy(col("a"), col("b"), col("da"), col("db"))
        .agg(sum(col("m")).as("m"))
        .select(col("a").as("i"), col("b").as("j"),
          expr("(4L * m) div (5L * da * db)").as("s"))
        .filter(col("s") > 0)
      // off-diagonal state → both orientations for the two-sided lookup
      def symmetric(off: DataFrame): DataFrame =
        off.select(explode(array(
            struct(col("i"), col("j"), col("s")),
            struct(col("j").as("i"), col("i").as("j"), col("s")))).as("p"))
          .select(col("p.i").as("i"), col("p.j").as("j"), col("p.s").as("s"))
      // rounds 1..iters−1 at CHECKPOINT CADENCE 2: each round's
      // aggregate feeds exactly one consumer (the next round), so a
      // skipped barrier recomputes nothing and saves a full
      // materialization stop (~1 s at sf0.1)
      val off = Loop.run(diag.limit(0), iters - 1, every = 2) { (st, _) =>
        roundScores(mDiagNS.unionByName(expandAgg(symmetric(st), eNonSinkDeg)))
      }.state
      // final round: full edge set, diag half computed once here, never
      // checkpointed — `finalize` reduces it inside the cache scope
      val last = if (iters < 1) off
        else roundScores(expandAgg(diag, eDeg)
          .unionByName(expandAgg(symmetric(off), eDeg)))
      finalize(last
          .select(col("i").as("a"), col("j").as("b"), col("s").as("score")))
        .localCheckpoint()
    }
  }

  /** Degree assortativity (Newman): the Pearson correlation of
    * endpoint degrees over the ordered endpoint pairs of the
    * undirected distinct-neighbor graph — do hubs attach to hubs
    * (r > 0, social networks) or to leaves (r < 0, hub-and-spoke
    * infrastructure)? One pass of exact BIGINT moments (n = 2m, Σx,
    * Σx², Σxy — x and y share marginals by symmetry, so
    * r = (nΣxy − (Σx)²) / (nΣx² − (Σx)²)) and ONE double division at
    * the end, in the q_corr_moments expression-shape discipline so the
    * relational replay is bit-deterministic. Scale: degree hash-agg +
    * two narrow joins + one map-side-combined moment aggregate.
    */
  def assortativity(s: SparkSession, g: PropertyGraph,
                    labels: Seq[String] = Nil): DataFrame = {
    // und is NOT persisted: both of its readers sit in one plan, as in
    // triangleTotal
    val und = undirectedDistinct(g.edgesOf(labels))
    val deg = degreesOf(und)
    val d = (c: Column) => c.cast("double")
    // degree-REGULAR graphs (cycle, perfect matching) make the
    // variance denominator n·Σx²−(Σx)² exactly 0; r is undefined
    // there and NaN/±Inf render differently across engines, so both
    // this expression and the oracle return NULL via a nullif-style
    // guard instead (ADVICE r9)
    symmetrize(und)
      .join(deg.select(col("v"), col("d").as("x")), "v")
      .join(deg.select(col("v").as("n"), col("d").as("y")), "n")
      .agg(count(lit(1)).as("n_ends"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n_ends"), col("sx"), col("sxx"), col("sxy"),
        round(
          (d(col("n_ends")) * d(col("sxy")) - d(col("sx")) * d(col("sx"))) /
            nullif(d(col("n_ends")) * d(col("sxx")) - d(col("sx")) * d(col("sx")),
              lit(0.0)),
          6).as("assortativity"))
  }

  /** Global clustering coefficient = 3·triangles / wedges, where
    * wedges = Σ_v d(v)(d(v)−1)/2 over the undirected distinct-neighbor
    * graph — exact integer counts, one rounded division. Triangle
    * count reuses the compact-forward plan of [[triangleTotal]];
    * wedge counting is one distinct + one hash-agg + one 1-row agg.
    */
  def clusteringCoefficient(s: SparkSession, g: PropertyGraph,
                            labels: Seq[String] = Nil): DataFrame = {
    val all = g.edgesOf(labels)
    Loop.cached { c =>
      // one cached canonical edge list + one degree frame feed BOTH the
      // wedge count and the triangle closure (pre-round-6 this query
      // rebuilt the lineitem-wide distinct twice — 15s vs triangles' 6.6s
      // at sf0.1)
      val e = c(undirectedDistinct(all))
      val deg = degreesOf(e)
      // empty / all-degree-1 edge sets: SUM over zero rows is NULL and
      // Divide by 0 is NULL under non-ANSI — define both as exact 0
      val wedges = deg.agg(
        coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
      wedges.crossJoin(triangleFrom(e, deg))
        .select(col("n_wedges"), col("total_triangles"),
          when(col("n_wedges") === 0, lit(0.0)).otherwise(
            round(lit(3.0) * col("total_triangles").cast("double") /
              col("n_wedges").cast("double"), 6)).as("global_clustering"))
    }
  }

  /** Single-source shortest hop distances: [[multiSourceHops]] with
    * one seed, so the BFS runs until its frontier is empty. `reverse`
    * follows edges dst→src (e.g. region → its nations → their
    * customers). Returns (id, dist) over the endpoints of the selected
    * edges: a source on no such edge has no row.
    */
  def ssspHops(s: SparkSession, g: PropertyGraph, source: Long,
               labels: Seq[String] = Nil, reverse: Boolean = false): DataFrame =
    ifEndpoint(g.edgesOf(labels), source,
      multiSourceHops(s, g, Seq(source), labels, reverse)
        .select(col("id"), col("dist")))

  /** Weighted single-source shortest path: a delta-frontier
    * Bellman-Ford on the relaxation kernel ([[relax]]), whose state
    * grows from the source as vertices are first reached. Per round
    * only the vertices whose distance fell last round relax their
    * out-edges (one join against the cached adjacency + one
    * min-aggregate), and the loop stops when no distance improves.
    * Distances stay in exact Long arithmetic, so results are
    * engine-portable (no float accumulation). `weight` is any Column
    * over the edge table's (src, dst, properties…), evaluated on the
    * stored orientation before `reverse` flips it; every selected
    * edge must carry a non-null, non-negative weight — the run fails
    * with a message otherwise, since a dropped edge would silently
    * lengthen paths and a negative cycle would never stop improving.
    * Returns (id, dist)
    * over the endpoints of the selected edges: a source on no such
    * edge has no row (its seed is empty, tested on the edge cache, so
    * the edge source is read once).
    */
  def ssspWeighted(s: SparkSession, g: PropertyGraph, source: Long,
                   weight: Column,
                   labels: Seq[String] = Nil,
                   reverse: Boolean = false): DataFrame = {
    val w = weight.cast("long")
    Loop.cached { c =>
      val we = g.edgesOf(labels).select(col("src"), col("dst"),
        when(w.isNull || w < 0, raise_error(lit(
          "ssspWeighted: edge weights must be non-null and non-negative")))
          .otherwise(w).as("w"))
      val edges = c((if (reverse)
          we.select(col("dst").as("src"), col("src").as("dst"), col("w"))
        else we).repartition(col("src")))
      relax(edges, ifEndpoint(edges, source, s.range(1).select(lit(source).as("id"),
          lit(0L).as("x"), lit(true).as("__chg"))), col("x") + col("w"),
        lower = true, Int.MaxValue, grow = true)
        .state.select(col("id"), col("x").as("dist"))
    }
  }

  /** `rows` when `source` is an endpoint of `edges` (src, dst, …), else
    * no rows: the vertex set of a selected-edge graph is its edges'
    * endpoints, so a source on none of them is not in it (every other
    * row a search emits was reached over an edge).
    */
  private def ifEndpoint(edges: DataFrame, source: Long, rows: DataFrame): DataFrame =
    rows.join(edges.filter(col("src") === source || col("dst") === source).limit(1),
      lit(true), "left_semi")

  /** Strongly connected components (directed) — trim + forward-
    * coloring + backward-within-color, the standard distributed SCC
    * decomposition (FW-BW/coloring family, Orzan-style): each outer
    * round (1) TRIMS pure sources/sinks iteratively — acyclic fringe
    * vertices are singleton SCCs by definition, and on DAG-heavy
    * graphs (this one included) trimming alone finishes the job —
    * then (2) colors the cyclic core by forward min-id propagation to
    * fixpoint (the relaxation kernel, [[relax]], from the identity
    * seed: only colors that fell last round propagate), (3) marks
    * vertices that reach their color's root BACKWARD within the
    * color: those are exactly the root's SCC (v ↔ root: forward
    * reachability gave v the root's color,
    * backward gives the return path), which is assigned and removed.
    *
    * Returns (id, scc) with scc = min member id — the a_components
    * contract, directed. Per inner step: one narrow join + hash-agg
    * over (id, label) pairs, state localCheckpoint'ed. The trim phase
    * never rematerializes the edge list: in/out-degrees are computed
    * ONCE per outer round and then maintained INCREMENTALLY — when a
    * vertex dies, only its incident edges' degree contributions are
    * subtracted (each edge's src-death and dst-death happens at most
    * once across the phase, so nothing is subtracted twice), making
    * the whole peel O(Σ edges incident to trimmed vertices) instead of
    * O(trim-rounds × |E|) checkpoint rewrites (the round-6 shape).
    * Loops carry iteration caps; a cap hit in the coloring or backward
    * phase fails loudly (require) because a non-fixpoint there would
    * yield wrong components — the trim cap alone is safe to hit early
    * (trimming is an optimization, not a correctness step).
    */
  def stronglyConnected(s: SparkSession, g: PropertyGraph,
      maxRounds: Int = 10, maxIter: Int = 30): DataFrame = {
    import s.implicits._
    val assigned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the live edge list restricted to live endpoints
    def within(edges: DataFrame, verts: DataFrame): DataFrame = edges
      .join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
    // outer state: (live vertices, live edges), done when no vertex is left
    val outer = Loop.run((g.vertices.select(col("id")).distinct(),
        g.edges.select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst")).distinct()), maxRounds,
        stop = (st: (DataFrame, DataFrame), _: Int) => st._1.isEmpty) {
      case ((verts0, edges0), _) =>
        // ---- trim phase: peel vertices with no in- or no out-edges,
        // degrees maintained incrementally against the STATIC edge list
        val indeg0 = edges0.groupBy(col("dst").as("id"))
          .agg(count(lit(1)).as("indeg"))
        val outdeg0 = edges0.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("outdeg"))
        // a round with nothing to trim returns its degrees unchanged,
        // which ends the phase (the cap alone is safe to hit early:
        // trimming is an optimization, not a correctness step)
        val deg = Loop.run(verts0
            .join(indeg0, Seq("id"), "left")
            .join(outdeg0, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("indeg"), lit(0L)).as("indeg"),
              coalesce(col("outdeg"), lit(0L)).as("outdeg")), maxIter) { (deg, _) =>
          val dead = deg.filter(col("indeg") === 0 || col("outdeg") === 0)
            .select(col("id")).localCheckpoint()
          if (dead.isEmpty) deg
          else {
            assigned += dead.select(col("id"), col("id").as("scc"))
            // degree deltas: edges OUT OF the dead lower their dst's
            // indeg, edges INTO the dead lower their src's outdeg;
            // deltas landing on dead vertices vanish in the anti-join
            val dIn = edges0
              .join(dead.select(col("id").as("src")), Seq("src"), "left_semi")
              .groupBy(col("dst").as("id")).agg(count(lit(1)).as("d_in"))
            val dOut = edges0
              .join(dead.select(col("id").as("dst")), Seq("dst"), "left_semi")
              .groupBy(col("src").as("id")).agg(count(lit(1)).as("d_out"))
            deg.join(dead, Seq("id"), "left_anti")
              .join(dIn, Seq("id"), "left")
              .join(dOut, Seq("id"), "left")
              .select(col("id"),
                (col("indeg") - coalesce(col("d_in"), lit(0L))).as("indeg"),
                (col("outdeg") - coalesce(col("d_out"), lit(0L))).as("outdeg"))
          }
        }.state
        if (deg.isEmpty) (verts0.limit(0), edges0) // trimming finished the job
        else {
          val verts = deg.select(col("id")).localCheckpoint()
          Loop.release(deg)
          // the one edge refilter per OUTER round: restrict to the
          // surviving cyclic core before the coloring joins, partitioned
          // on the coloring's join key
          val edges = within(edges0, verts).repartition(col("src")).localCheckpoint()
          // ---- forward coloring to fixpoint on the relaxation kernel:
          // c(v) = min id reaching v. The identity seed is the first
          // propagation round, so the kernel's cap is maxIter − 1.
          val fwd = relax(edges, identitySeed(edges, verts), col("x"),
            lower = true, maxIter - 1)
          // a non-fixpoint coloring (propagation distance > maxIter)
          // would silently mis-assign components — fail instead
          require(fwd.converged,
            s"SCC forward coloring did not converge in $maxIter steps")
          val c = fwd.state.select(col("id"), col("x").as("c"))
          // ---- backward reachability of the color root, within color
          val e2 = edges
            .join(c.select(col("id").as("src"), col("c").as("c_src")), "src")
            .join(c.select(col("id").as("dst"), col("c").as("c_dst")), "dst")
            .filter(col("c_src") === col("c_dst"))
            .select(col("src"), col("dst")).localCheckpoint()
          val bwd = Loop.run(c.filter(col("id") === col("c")).select(col("id")),
              maxIter, stop = Loop.whenUnchanged(_.count())) { (m, _) =>
            m.union(
                e2.join(m.select(col("id").as("dst")), Seq("dst"), "left_semi")
                  .select(col("src").as("id")))
              .distinct()
          }
          require(bwd.converged,
            s"SCC backward reachability did not converge in $maxIter steps")
          val comp = c.join(bwd.state, Seq("id"), "left_semi")
            .select(col("id"), col("c").as("scc")).localCheckpoint()
          assigned += comp
          // comp is materialized: this outer round's scratch frames
          // (within-color edges + the two fixpoint states) are dead
          Seq(e2, c, bwd.state).foreach(Loop.release)
          val rest = verts.join(comp.select(col("id")), Seq("id"), "left_anti")
          (rest, within(edges, rest))
        }
    }
    require(outer.converged,
      s"SCC did not converge in $maxRounds rounds (${outer.state._1.count()} left)")
    // empty input graph: no vertices were ever assigned
    if (assigned.isEmpty) Seq.empty[(Long, Long)].toDF("id", "scc")
    else assigned.reduce(_.unionByName(_))
  }

  /** Bipartite projection with pair support — market-basket frequent
    * pairs: for a two-mode edge set (basket → item), count how many
    * baskets each ITEM PAIR shares, keeping pairs with support ≥
    * `minSupport`. The co-purchase / co-occurrence graph builder (and
    * the support-counting core of FP-growth's first pass).
    *
    * Scale shape: the pair space explodes per basket, not globally —
    * a basket of k items yields k·(k−1)/2 pairs, so the self-join on
    * basket id costs Σ k²/2 ≈ corpus × avg-basket-size, linear for
    * bounded baskets. `maxBasketSize` drops degenerate mega-baskets
    * BEFORE pairing (the Dedup.maxBucketSize guard — one huge basket
    * would otherwise quadratically dominate the stage); dropped
    * baskets are a documented approximation, exact when no basket
    * exceeds the cap. The support count then shuffles narrow
    * (item, item) pairs with map-side partial aggregation.
    */
  def bipartiteProjection(edges: DataFrame, minSupport: Long = 2L,
      maxBasketSize: Int = 1000): DataFrame = {
    val e = edges.select(col("src").as("bk"), col("dst").as("it")).distinct()
    // EAGER checkpoint before the self-join (guide §2.4 — the d5/kTruss
    // duplicated-subtree lesson): `sized` is referenced by BOTH sides
    // of the pair join, and the r15 plan audit showed zero exchange
    // reuse across the two references — the basket distinct + size
    // filter (and the caller's whole edge derivation under it) ran
    // twice per query. The frame is narrow (bk, it) rows.
    val sized = e.join(
      e.groupBy(col("bk")).agg(count(lit(1)).as("__bs")), "bk")
      .filter(col("__bs") <= maxBasketSize)
      .select(col("bk"), col("it"))
      .localCheckpoint(eager = true)
    sized.as("a").join(sized.as("b"),
        col("a.bk") === col("b.bk") && col("a.it") < col("b.it"))
      .groupBy(col("a.it").as("item_a"), col("b.it").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Betweenness centrality — EXACT multi-source Brandes, DataFrame
    * native (the HugeGraph BetweennessCentrality traverser's
    * semantics: undirected shortest-path betweenness, each unordered
    * pair counted once). All sources run in ONE distributed BFS whose
    * state is narrow (seed, id, sigma) rows — k sources never cost k
    * graph builds, exactly the multiSourceHops trade.
    *
    * Forward pass: per layer, frontier joins the persisted adjacency
    * and path counts (sigma) sum over predecessors — the BFS DAG is
    * implicit in the layer numbering, never materialized. Backward
    * pass walks layers deepest-first, accumulating Brandes'
    * dependency delta(v) = Σ_{w ∈ succ(v)} sigma_v/sigma_w ·
    * (1 + delta_w); bc(v) = Σ_seeds delta(v) over non-seed layers,
    * halved (each unordered pair is counted from both endpoints).
    *
    * Scale: total state volume is Σ_s |reachable(s)| — exact
    * betweenness is inherently O(V·E); at 100 TB pass `seeds` with a
    * uniform sample (the standard Brandes estimator — unbiased after
    * scaling by n/|S|). Depth caps fail loudly: a truncated BFS would
    * silently drop pairs, not degrade gracefully.
    */
  def betweenness(s: SparkSession, g: PropertyGraph,
      labels: Seq[String] = Nil, seeds: Option[DataFrame] = None,
      maxDepth: Int = 20): DataFrame = {
    val e = g.edgesOf(labels)
    Loop.cached { c =>
      val adj = c(symmetrize(undirectedDistinct(e)).repartition(col("v")))
      val verts = adj.select(col("v").as("id")).distinct()
      val seedIds = seeds.getOrElse(verts).select(col("id"))
      // ---- forward BFS: layers(d) = (seed, id, sigma) at distance d;
      // sigma sums over predecessors per (seed, id), the anti-join's
      // key, so summing before the visited anti-join drops whole groups
      val bfs = Loop.frontier(seedIds.select(col("id").as("seed"), col("id"),
          lit(1L).as("sigma")), Seq("seed", "id"), maxDepth) { (frontier, _) =>
        frontier.join(adj, col("id") === col("v"))
          .select(col("seed"), col("n").as("id"), col("sigma"))
          .groupBy(col("seed"), col("id")).agg(sum(col("sigma")).as("sigma"))
      }
      require(bfs.converged,
        s"betweenness BFS still expanding at depth $maxDepth — " +
          "raise maxDepth (a truncated BFS drops pairs silently)")
      // past the seed, the last layer is the empty one that stopped the loop
      val layers = if (bfs.rounds == 0) bfs.state else bfs.state.init
      // ---- backward dependency accumulation, deepest layer first
      val deepest = layers.length - 1
      var delta = layers(deepest)
        .select(col("seed"), col("id"), lit(0.0).as("delta"))
        .localCheckpoint()
      val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      if (deepest >= 1) parts += delta
      for (dd <- (deepest - 1) to 0 by -1) {
        val succ = delta.join(
            layers(dd + 1).select(col("seed"), col("id"), col("sigma")
              .as("sw")), Seq("seed", "id"))
          .select(col("seed"), col("id").as("w"), col("sw"), col("delta"))
        val contrib = layers(dd)
          .join(adj, col("id") === col("v"))
          .select(col("seed"), col("id"), col("sigma"), col("n").as("w"))
          .join(succ, Seq("seed", "w"))
          .groupBy(col("seed"), col("id"), col("sigma"))
          .agg(sum(col("sigma").cast("double") / col("sw") *
            (lit(1.0) + col("delta"))).as("dep"))
          .select(col("seed"), col("id"), col("dep"))
        delta = layers(dd).select(col("seed"), col("id"))
          .join(contrib, Seq("seed", "id"), "left")
          .select(col("seed"), col("id"),
            coalesce(col("dep"), lit(0.0)).as("delta"))
          .localCheckpoint()
        if (dd >= 1) parts += delta
      }
      // bc = Σ over seeds of delta at non-seed layers, halved
      // (undirected: every unordered pair contributes from both ends)
      val bc = if (parts.isEmpty)
        verts.select(col("id"), lit(0.0).as("bc")).limit(0)
      else parts.reduce(_.unionByName(_))
        .groupBy(col("id")).agg((sum(col("delta")) / 2.0).as("bc"))
      // vertices no path passes through (or that only seed) still owe
      // an explicit 0 — same contract as degrees' explicit vertex set
      verts.join(bc, Seq("id"), "left")
        .select(col("id"), coalesce(col("bc"), lit(0.0)).as("bc"))
        .localCheckpoint(eager = true)
    }
  }

  /** Neighborhood Jaccard similarity from a seed vertex — the
    * HugeGraph `jaccardsimilarity` traversal API (hugegraph-api
    * `JaccardSimilarityAPI`, served by the store through repeated R4
    * prefix scans per candidate; reference witness: the EDGE_OUT/
    * EDGE_IN adjacency tables, TikvTables.java:128-149). Candidates
    * are exactly the vertices sharing ≥ 1 neighbor with the seed;
    * J(v) = |N(seed) ∩ N(v)| / |N(seed) ∪ N(v)| over the (optionally
    * label-filtered) undirected distinct neighbor sets. Returns
    * (id, inter, uni, jaccard) — exact integer counts, ONE rounded
    * division, so a relational replay agrees bit-for-bit.
    *
    * Scale shape: the seed neighborhood is one vertex's adjacency
    * list — broadcast it; candidate intersections are then a
    * broadcast-hash join of the full adjacency against it plus one
    * hash-agg on narrow (v) keys. Degrees are one more hash-agg on
    * the same adjacency. No O(V²) pairing, no driver state.
    */
  def jaccardSimilarity(s: SparkSession, g: PropertyGraph, seed: Long,
                        labels: Seq[String] = Nil): DataFrame = {
    val e = g.edgesOf(labels)
    val adj = symmetrize(undirectedDistinct(e))
    val seedN = adj.filter(col("v") === seed).select(col("n"))
    val inter = adj.join(broadcast(seedN), "n")
      .filter(col("v") =!= seed)
      .groupBy(col("v")).agg(count(lit(1)).as("inter"))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("d"))
    val degS = seedN.agg(count(lit(1)).as("ds"))
    inter.join(deg, "v")
      .crossJoin(broadcast(degS))
      .select(col("v").as("id"), col("inter"),
        (col("d") + col("ds") - col("inter")).as("uni"),
        round(col("inter").cast("double") /
          (col("d") + col("ds") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Shortest path between two vertices with deterministic path
    * reconstruction — the HugeGraph `shortestpath` traversal API
    * (hugegraph-api ShortestPathAPI / ShortestPathTraverser, a BFS
    * the engine drives through per-vertex R4 adjacency scans; here
    * each BFS layer is ONE distributed join). Ties are broken toward
    * the minimum parent id at first discovery, so the returned path
    * is unique and engine-independent.
    *
    * Returns ONE row (src_id, dst_id, dist, path) with the path
    * rendered "id->id->…" (array cells don't survive the driver
    * compare); dist = -1 and NULL path when target is unreachable
    * within maxDepth.
    *
    * Scale shape: per layer, the narrow (id, parent) frontier joins
    * the persisted undirected adjacency, anti-joins the visited set,
    * and min-aggregates parents — all on 8-byte ids; the payload
    * never shuffles. The loop is [[graft.util.Loop.frontier]]'s BFS
    * written out: the combinator anti-joins AFTER the caller's
    * expansion, which puts the min-parent aggregate first and costs
    * one more stage job per round (a_pair_path at sf0.1: 33 → 35
    * jobs). The final parent walk is ≤ maxDepth chained
    * 1-row broadcast joins, not a driver loop of collects.
    */
  def pairShortestPath(s: SparkSession, g: PropertyGraph, source: Long,
                       target: Long, labels: Seq[String] = Nil,
                       maxDepth: Int = 4): DataFrame = {
    val e = g.edgesOf(labels)
    Loop.cached { c =>
      val adj = c(symmetrize(undirectedDistinct(e)))
      var visited = s.range(1).select(lit(source).as("id"),
          lit(0L).as("dist"), lit(null).cast("long").as("parent"))
        .localCheckpoint()
      var frontier = visited.select(col("id"))
      var found = source == target
      var d = 0L
      while (!found && d < maxDepth && !frontier.isEmpty) {
        d += 1
        val layer = adj.join(frontier.select(col("id").as("v")), "v")
          .select(col("n").as("id"), col("v").as("parent"))
          .join(visited.select(col("id")), Seq("id"), "left_anti")
          .groupBy(col("id")).agg(min(col("parent")).as("parent"))
          .withColumn("dist", lit(d))
          .localCheckpoint()
        // LAZY union of the already-checkpointed layers (the
        // Loop.frontier visited-set shape): re-checkpointing the whole
        // set per layer wrote O(V) rows per round for nothing
        visited = visited
          .union(layer.select(col("id"), col("dist"), col("parent")))
        frontier = layer.select(col("id"))
        found = !layer.filter(col("id") === target).isEmpty
      }
      val t = visited.filter(col("id") === target)
      // walk the parent chain backwards, prepending each hop; the
      // source row's NULL parent makes the remaining rounds no-ops
      var walk = t.select(col("dist"), col("parent"),
        col("id").cast("string").as("path"))
      for (_ <- 1L to maxDepth) {
        walk = walk
          .join(visited.select(col("id").as("parent"),
            col("parent").as("gp")), Seq("parent"), "left")
          .select(col("dist"), col("gp").as("parent"),
            when(col("parent").isNotNull,
              concat(col("parent").cast("string"), lit("->"), col("path")))
              .otherwise(col("path")).as("path"))
      }
      s.range(1).select(lit(1L).as("k"))
        .join(walk.withColumn("k", lit(1L)), Seq("k"), "left")
        .select(lit(source).as("src_id"), lit(target).as("dst_id"),
          coalesce(col("dist"), lit(-1L)).as("dist"), col("path"))
    }
  }

  /** k-truss decomposition via iterative support peeling — the
    * triangle-cohesion subgraph (every surviving edge sits in at
    * least k−2 triangles of the subgraph itself, not of the original
    * graph — hence the fixpoint iteration). Input is a canonical
    * undirected edge set (item_a < item_b, e.g. the co-purchase
    * projection); output is the converged truss with each edge's
    * final within-truss support.
    *
    * Per round: the symmetrized adjacency closes wedges — edge (a,b)
    * joined to neighbors of a and neighbors of b meeting on the
    * common vertex — then a hash-agg counts triangles per edge and
    * edges below k−2 leave (zero-support edges leave via the LEFT
    * join's NULL). Shuffles carry (u,v) Long pairs only; the wedge
    * volume is Σ_edges min-degree — the standard distributed truss
    * round. Fixed `rounds` budget (the Luby-gate idempotence
    * contract): after the loop one more support pass RE-CHECKS the
    * fixpoint and fails loudly if any edge still falls below
    * threshold — a truncated peel must never ship as "the truss".
    */
  def kTruss(edges: DataFrame, k: Int = 3, rounds: Int = 3): DataFrame = {
    require(k >= 3, "k-truss is defined for k >= 3")
    val thresh = (k - 2).toLong
    def support(e: DataFrame): DataFrame = {
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      e.join(adj.as("n1"), col("a") === col("n1.u"))
        .join(adj.as("n2"),
          col("b") === col("n2.u") && col("n1.v") === col("n2.v"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("sup"))
    }
    // EAGER checkpoint at entry (the loop's rolled seed), not lazy
    // persist: support() scans the edge frame three times per round,
    // and on a lazy cache round 1's job re-derives the (possibly
    // expensive — the co-purchase projection) input under each scan
    // before the cache fills. Measured on the gate path: 80 s lazy vs
    // 18 s materialized (TrussProbe). A no-op peel is the fixpoint.
    val r = Loop.run(edges.select(col("item_a").as("a"), col("item_b").as("b")),
        rounds, stop = Loop.whenUnchanged(_.count())) { (e, _) =>
      e.join(support(e), Seq("a", "b"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= thresh)
        .select(col("a"), col("b"))
    }
    val e = r.state
    try {
      // the final support pass both produces the per-edge output and
      // RE-CHECKS the fixpoint — a truncated peel must never ship
      val fin = e.join(support(e), Seq("a", "b"), "left")
        .select(col("a").as("item_a"), col("b").as("item_b"),
          coalesce(col("sup"), lit(0L)).as("support"))
        .localCheckpoint(true)
      val below = fin.filter(col("support") < thresh).count()
      require(below == 0L,
        s"k-truss did not converge in $rounds rounds: $below edges below " +
          s"support ${thresh} remain — raise the round budget")
      fin
    } finally Loop.release(e)
  }

  /** Borůvka minimum spanning forest over a weighted undirected edge
    * list (a, b, w) with a < b — THE parallel MST algorithm (each
    * round every component selects its lightest incident edge and the
    * chosen edges contract; components at least halve per round, so
    * `rounds` ≳ log₂(V) suffices and the loop early-breaks at the
    * no-cross-edge fixpoint). Ties in edge selection break by the
    * TOTAL order (w, a, b), under which the MSF is UNIQUE — so any
    * engine replaying the same order computes the identical forest,
    * which is what makes the result hash-oracle-able.
    *
    * Contraction is hook-and-compress: each component points at its
    * min edge's partner; mutual pairs break to the smaller id (the
    * root); `jumps` pointer-jump self-joins compress every chain to
    * its root (depth ≤ 2^jumps — asserted, not assumed: a residual
    * non-root parent after the jump budget fails LOUDLY, the cc_alt
    * maxIter contract).
    *
    * Scale shape: the rolling state is the CONTRACTED cross-edge list
    * (a, b, w, ca, cb) — original endpoints plus current component
    * labels — which strictly shrinks every round: intra-component
    * edges drop at relabel and parallel edges between the same
    * component pair are pruned to their (w, a, b)-min (the pair-min
    * dominates every per-component min, so pruning cannot change any
    * round's selection). No vertex→component table exists at all —
    * the big-table work per round is ONE min(struct) hash-aggregate
    * (map-side partial combine carries hub skew) plus one relabel
    * join against the ≤#components hook map, instead of re-joining
    * the full immutable edge list against a component map every
    * round. Hooking/jumping operate on ≤#components rows, halving
    * per round. Per-round selections are eagerly checkpointed 1-pass
    * frames unioned once at the end.
    *
    * Returns (a, b, w, round) — the MSF edges and the round each
    * entered the forest.
    */
  def boruvkaMsf(s: SparkSession, edges: DataFrame, rounds: Int = 8,
                 jumps: Int = 8): DataFrame = {
    val sels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val mns = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // the previous round's hook map: its one reader, the relabel, is
    // the state the loop rolled before this step began
    var pjLast: Option[DataFrame] = None
    // resetStats: the jump chain SELF-joins its own rolled state, which
    // squares the checkpoint-inherited sizeInBytes estimate every roll
    // (see graft.util.Loop)
    val r = Loop.run(edges.select(col("a"), col("b"), col("w"),
        col("a").as("ca"), col("b").as("cb")), rounds, resetStats = true,
        stop = Loop.whenEmpty()) { (cur, round) =>
      pjLast.foreach(Loop.release)
      val mn = cur.select(col("ca").as("c"),
          struct(col("w"), col("a"), col("b"), col("cb").as("o")).as("e"))
        .union(cur.select(col("cb").as("c"),
          struct(col("w"), col("a"), col("b"), col("ca").as("o")).as("e")))
        .groupBy(col("c")).agg(min(col("e")).as("e"))
        .select(col("c"), col("e.w").as("w"), col("e.a").as("a"),
          col("e.b").as("b"), col("e.o").as("o"))
        .localCheckpoint(true)
      // selection plans stay lazy over the checkpointed mn frames —
      // mn release is deferred to after the final union materializes
      // (6 tiny ≤#components-row frames held vs 6 extra checkpoint
      // jobs saved; the per-round jobs dominate this query's cost)
      mns += mn
      sels += mn.select(col("a"), col("b"), col("w")).distinct()
        .withColumn("round", lit(round))
      // hook: p(c) = min-edge partner; mutual pairs root at min id
      val par = mn.select(col("c"), col("o"))
        .join(mn.select(col("c").as("o"), col("o").as("oo")), "o")
        .select(col("c"),
          when(col("oo") === col("c") && col("c") < col("o"), col("c"))
            .otherwise(col("o")).as("p"))
      // each jump references the previous table TWICE (x and y
      // sides of the self-join): without a materialization per
      // step the lineage doubles each jump — a 2^jumps plan. The
      // hook map is ≤ #components rows and halving, so a rolling
      // checkpoint per jump is cheap and keeps the plan linear. The
      // jump fixpoint check rides the jump itself: a `moved` flag
      // (did this jump change p?) is computed inside the same
      // self-join and read back as a narrow scan of the
      // just-checkpointed blocks — no second self-join job per jump.
      // Pointer jumping is idempotent at the fixpoint, so "nothing
      // moved" PROVES every chain is at its root. The probe is
      // isEmpty (a short-circuiting take-1), not a full count — the
      // count only matters on the failure path (r15, guide §1.2).
      val jumped = Loop.run(par.withColumn("moved", lit(true)), jumps,
          resetStats = true, stop = (pj: DataFrame, j: Int) =>
            j > 0 && pj.filter(col("moved")).isEmpty) { (pj, _) =>
        pj.as("x").join(pj.select(col("c").as("p"),
            col("p").as("pp")).as("y"), "p")
          .select(col("x.c").as("c"), col("pp").as("p"),
            (col("pp") =!= col("x.p")).as("moved"))
      }
      require(jumped.converged,
        s"boruvkaMsf: ${jumped.state.filter(col("moved")).count()} hook chains " +
          s"still moving after $jumps jumps (depth > 2^$jumps) — " +
          "raise the jump budget")
      val pj = jumped.state.select(col("c"), col("p")).localCheckpoint(true)
      Loop.release(jumped.state)
      pjLast = Some(pj)
      // contract: relabel endpoints to roots, drop intra-component
      // edges, prune parallel edges to the (w,a,b)-pair-min
      cur
        .join(pj.select(col("c").as("ca"), col("p").as("pa")),
          Seq("ca"), "left")
        .join(pj.select(col("c").as("cb"), col("p").as("pb")),
          Seq("cb"), "left")
        .select(col("a"), col("b"), col("w"),
          coalesce(col("pa"), col("ca")).as("ca"),
          coalesce(col("pb"), col("cb")).as("cb"))
        .filter(col("ca") =!= col("cb"))
        .select(col("a"), col("b"), col("w"),
          least(col("ca"), col("cb")).as("ca"),
          greatest(col("ca"), col("cb")).as("cb"))
        .groupBy(col("ca"), col("cb"))
        .agg(min(struct(col("w"), col("a"), col("b"))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"),
          col("e.w").as("w"), col("ca"), col("cb"))
    }
    try {
      require(r.converged,
        s"boruvkaMsf did not converge in $rounds rounds: cross edges " +
          "remain — raise the round budget (log2(V) suffices)")
      if (sels.isEmpty)
        edges.select(col("a"), col("b"), col("w"), lit(1).as("round")).limit(0)
      else sels.reduce(_.unionByName(_)).localCheckpoint(true)
    } finally (mns ++ pjLast :+ r.state).foreach(Loop.release) // out was their last reader
  }

  /** All-pairs resource-allocation link prediction over a bipartite
    * edge label: for left-side vertices a < b sharing right-side
    * neighbors, RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z), the standard
    * Zhou–Lü–Zhang index — the all-pairs generalization of the
    * reference's seed-anchored neighborhood-similarity APIs
    * (hugegraph-api JaccardSimilarityAPI / the recommendation
    * traversers that TikvTable's R4 adjacency scans serve;
    * `a_jaccard_sim` covers the seeded form, this covers the
    * candidate-generation form a recommender actually runs).
    *
    * Integer-exact: each shared neighbor z contributes
    * floor(1e6 / deg(z)) micro-units, so the score is a BIGINT both
    * engines agree on bit-for-bit — no float summation order.
    *
    * Scale shape: ONE shuffle on z (the shared-neighbor pivot), then
    * the per-z pair expansion — the same candidate-pair shape as the
    * LSH band join in Dedup (quadratic only within one z's bucket).
    * Hub z's are the skew risk at 100 TB; `maxDeg` drops them BEFORE
    * the expansion, which is not an approximation so much as the
    * index's own semantics: a neighbor shared by everyone contributes
    * ~0 to every pair (1/deg → 0) while costing deg² rows — the
    * classic stop-word cut, same posture as the LSH mega-bucket
    * guard. Dropped hubs change scores by < 1e6/maxDeg per pair.
    *
    * `reversed` flips which bipartite side is paired: false pairs
    * src-side vertices over shared dst neighbors; true pairs dst-side
    * vertices over shared src neighbors. DIRECTION IS A COST CHOICE,
    * not just semantics: the expansion is Σ_z deg(z)², so pivot on
    * the side whose degrees are SMALL. On the tpch `supplied_by`
    * relation (part→supplier) the supplier side has degree ≈ 600·SF
    * (pairing parts over shared suppliers measured 834 s at sf0.1 —
    * 175M candidates) while the part side holds a constant degree
    * ≈ 30 at every decade (pairing suppliers over shared parts is 8.7M
    * candidates, linear 10× growth measured in SCALE.md).
    */
  def resourceAllocation(s: SparkSession, g: PropertyGraph, label: String,
                         maxDeg: Long = 1000000L,
                         reversed: Boolean = false): DataFrame = {
    val (pSide, zSide) = if (reversed) ("dst", "src") else ("src", "dst")
    val e = g.edgesOf(Seq(label))
      .select(col(pSide).as("p"), col(zSide).as("z")).distinct()
    val deg = e.groupBy(col("z")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg && col("d") >= 2)
    // integer floor division by construction (ADVICE r10: double
    // division + cast matched the oracle's 1000000 // d only as long
    // as rounding never crossed an integer boundary)
    // EAGER checkpoint before the self-join (the d5/bipartiteProjection
    // duplicated-subtree lesson; r15 plan audit: zero exchange reuse
    // across the x/y references, so the edge distinct + degree join ran
    // twice). Narrow (z, p, w) rows.
    val w = e.join(deg, "z")
      .select(col("z"), col("p"), expr("1000000L div d").as("w"))
      .localCheckpoint(eager = true)
    w.as("x").join(w.as("y"), "z")
      .filter(col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(sum(col("x.w")).as("ra"))
  }

  /** Per-vertex butterfly (bipartite 4-cycle) counting — the bipartite
    * dual of triangle counting and the standard cohesion metric for
    * two-mode graphs (Sanei-Mehri, Sariyüce, Tirthapura, "Butterfly
    * Counting in Bipartite Networks", KDD 2018). For each pair of
    * same-side vertices sharing `c` neighbors, the pair closes
    * C(c, 2) = c·(c−1)/2 butterflies; a vertex's count is the Σ over
    * its pairs, and a vertex's wedge count is Σ c — both exact BIGINTs.
    *
    * Scale posture is [[resourceAllocation]]'s: the pair expansion is
    * Σ_z deg(z)² over the PIVOT side, so pivot on the small-degree
    * side (`reversed`), and `maxDeg` drops hub pivots up front (the
    * stop-word cut); dropped hubs remove their wedges from every
    * count, a documented bounded contract, not silent truncation. One
    * self-join + two hash-aggs; nothing touches the driver.
    */
  def butterflyCounts(s: SparkSession, g: PropertyGraph, label: String,
                      maxDeg: Long = 1000000L,
                      reversed: Boolean = false): DataFrame = {
    val (pSide, zSide) = if (reversed) ("dst", "src") else ("src", "dst")
    val e = g.edgesOf(Seq(label))
      .select(col(pSide).as("p"), col(zSide).as("z")).distinct()
    val deg = e.groupBy(col("z")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg && col("d") >= 2)
    // EAGER checkpoint before the self-join (same duplicated-subtree
    // fix as resourceAllocation — zero exchange reuse across x/y)
    val ez = e.join(deg.select(col("z")), "z").localCheckpoint(eager = true)
    val pairs = ez.as("x").join(ez.as("y"), "z")
      .filter(col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("a"), col("b"), col("c"),
        expr("c * (c - 1) div 2").as("bf"))
    pairs.select(explode(array(
        struct(col("a").as("id"), col("c"), col("bf")),
        struct(col("b").as("id"), col("c"), col("bf")))).as("s"))
      .select(col("s.id").as("id"), col("s.c").as("c"), col("s.bf").as("bf"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("wedges"), sum(col("bf")).as("butterflies"))
  }

  /** SCAN structural clustering (Xu, Yuruk, Feng, Schweiger, "SCAN: a
    * Structural Clustering Algorithm for Networks", KDD 2007) over an
    * undirected canonical (a < b) edge frame: edges are ε-similar when
    * σ(u,v) = |Γ[u]∩Γ[v]| / √(|Γ[u]|·|Γ[v]|) ≥ ε over CLOSED
    * neighborhoods; a vertex is a core when its closed ε-neighborhood
    * has ≥ μ members (itself included — σ(v,v) = 1); clusters are the
    * connected components of core-core similar edges; a non-core
    * ε-similar to a core joins as a border; the rest split hub
    * (neighbors in ≥ 2 clusters) vs outlier — the full role taxonomy
    * of the paper.
    *
    * Integer-exact: ε = epsNum/epsDen rational, and the σ ≥ ε test is
    * cross-multiplied — epsDen²·(c+2)² ≥ epsNum²·d(u)·d(v) with c the
    * OPEN common-neighbor count (the +2 adds u,v themselves, present
    * in both closed neighborhoods exactly when uv is an edge) — no
    * floats anywhere, so DuckDB replays every role bit-for-bit.
    *
    * Scale shape: the σ pass is the triangle-support join (the kTruss
    * kernel — one shuffle triple-join over the EAGERLY checkpointed
    * edge frame, never a re-derivation of an expensive upstream
    * projection); roles are narrow hash-aggs and semi/anti joins; the
    * component step rides [[graft.operators.Dedup.dupClusters]]'
    * min-label loop on the (small) core-core similar edge set.
    *
    * Output: (id, cluster, role) for every vertex of the input graph —
    * cluster is the min core id of its component, −1 for hub/outlier.
    */
  def scanCluster(edges: DataFrame, epsNum: Long = 3, epsDen: Long = 5,
                  mu: Int = 2): DataFrame = {
    require(epsNum > 0 && epsDen > 0 && epsNum <= epsDen && mu >= 2,
      "scanCluster: need 0 < eps <= 1 and mu >= 2")
    val e = edges.select(col("a"), col("b")).distinct().localCheckpoint(true)
    def sym(p: DataFrame, x: String, y: String) =
      p.select(explode(array(
          struct(col(x).as("u"), col(y).as("v")),
          struct(col(y).as("u"), col(x).as("v")))).as("s"))
        .select(col("s.u").as("u"), col("s.v").as("v"))
    val adj = sym(e, "a", "b").localCheckpoint(true)
    val deg = adj.groupBy(col("u")).agg((count(lit(1)) + 1).as("d"))
    val cmnInner = e.join(adj.as("n1"), col("a") === col("n1.u"))
      .join(adj.as("n2"),
        col("b") === col("n2.u") && col("n1.v") === col("n2.v"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c0"))
    val cmn = e.join(cmnInner, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("c0"), lit(0L)).as("c"))
    val sim = cmn
      .join(deg.select(col("u").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("d").as("db")), "b")
      .filter(lit(epsDen * epsDen) * (col("c") + 2) * (col("c") + 2)
        >= lit(epsNum * epsNum) * col("da") * col("db"))
      .select(col("a"), col("b"))
      .localCheckpoint(true)
    val simadj = sym(sim, "a", "b")
    val core = simadj.groupBy(col("u")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") + 1 >= mu).select(col("u"))
      .localCheckpoint(true)
    val ce = sim
      .join(core.select(col("u").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("u").as("b")), Seq("b"), "left_semi")
    val comp = graft.operators.Dedup.dupClusters(
      ce.select(col("a").as("a_id"), col("b").as("b_id")))
    val coreclust = comp.select(col("id"), col("comp").as("cluster"))
      .unionByName(core.join(comp.select(col("id").as("u")), Seq("u"), "left_anti")
        .select(col("u").as("id"), col("u").as("cluster")))
      .localCheckpoint(true)
    val border = simadj
      .join(coreclust.select(col("id").as("u"), col("cluster")), "u")
      .join(core.select(col("u").as("v")), Seq("v"), "left_anti")
      .groupBy(col("v").as("id")).agg(min(col("cluster")).as("cluster"))
    val assigned = coreclust.withColumn("role", lit("core"))
      .unionByName(border.withColumn("role", lit("border")))
      .localCheckpoint(true)
    val unass = adj.select(col("u").as("id")).distinct()
      .join(assigned.select(col("id")), Seq("id"), "left_anti")
    val nbc = adj
      .join(assigned.select(col("id").as("v"), col("cluster").as("nc")), "v")
      .join(unass.select(col("id").as("u")), Seq("u"), "left_semi")
      .groupBy(col("u").as("id"))
      .agg(countDistinct(col("nc")).as("n_clusters"))
    val out = assigned.unionByName(
      unass.join(nbc, Seq("id"), "left")
        .select(col("id"), lit(-1L).as("cluster"),
          when(coalesce(col("n_clusters"), lit(0L)) >= 2, lit("hub"))
            .otherwise(lit("outlier")).as("role")))
      .localCheckpoint(true)
    Seq(e, adj, sim, core, comp, coreclust, assigned)
      .foreach(Loop.release)
    out
  }

  /** Rich-club coefficient ladder (Colizza, Flammini, Serrano,
    * Vespignani, "Detecting rich-club ordering in complex networks",
    * Nature Physics 2006) over an undirected canonical (a < b) edge
    * frame: for each degree threshold k, φ(k) = 2·E_k / (N_k·(N_k−1))
    * where N_k counts vertices of degree > k and E_k the edges between
    * them — does the high-degree "club" wire to itself more than
    * chance. Reported in exact ppm (integer 2·10⁶·E_k div N_k(N_k−1),
    * NULL when the club has < 2 members) so both engines agree
    * bit-for-bit.
    *
    * Scale shape: one degree agg + two narrow degree joins onto the
    * edge list + a broadcast ladder crossJoin (|ks| constant rows);
    * every stage is a hash-agg over data partitioned by vertex/edge —
    * nothing quadratic, nothing driver-side.
    */
  def richClub(edges: DataFrame, ks: Seq[Long]): DataFrame = {
    require(ks.nonEmpty, "richClub: need at least one threshold")
    val e = edges.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    val deg = e.select(explode(array(col("a"), col("b"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("d"))
    val spark = edges.sparkSession
    import spark.implicits._
    val kdf = ks.toDF("k")
    val n = deg.crossJoin(broadcast(kdf)).filter(col("d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_rich"))
    val ed = e
      .join(deg.select(col("u").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("d").as("db")), "b")
      .crossJoin(broadcast(kdf))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_rich"))
    val out = kdf.join(n, Seq("k"), "left").join(ed, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_rich"), lit(0L)).as("n_rich"),
        coalesce(col("e_rich"), lit(0L)).as("e_rich"))
      .withColumn("phi_ppm",
        when(col("n_rich") >= 2,
          expr("2000000 * e_rich div (n_rich * (n_rich - 1))"))
          .otherwise(lit(null).cast("long")))
      .localCheckpoint(true) // |ks| rows; materialize before releasing e
    Loop.release(e)
    out
  }
}
