package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{P, PropertyGraph}

/** Traversal-surface queries (SURVEY §2.4 — the Gremlin verbs the
  * reference's store contract exists to serve), run through the
  * graft.graph DSL over the TPC-H property-graph view, with DuckDB
  * oracles expressed over the base tables.
  */
object GraphQueries {

  private def g(s: SparkSession, dir: String): PropertyGraph =
    PropertyGraph.fromTpch(s, dir)

  /** g.V().hasLabel(customer).has(mktsegment, BUILDING).out(placed).count() */
  def g1OutCount(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer").has("mktsegment", "BUILDING")
      .out("placed").count()

  /** Gremlin STRING front-end — the reference's actual user surface
    * (hugegraph-core compiles Gremlin text onto the store calls of
    * TikvTable.java:30-58). The string below goes through
    * [[graft.graph.GremlinParser]], which folds the parsed steps over
    * the same Traversal methods the DSL gates use — so this gate
    * witnesses that a user typing a query STRING gets the identical
    * distributed plan (TraversalSpec proves plan-for-plan equality via
    * sameResult; here the DuckDB oracle pins the semantics end-to-end).
    */
  def g26Parsed(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer')" +
        ".has('mktsegment', within('BUILDING', 'AUTOMOBILE'))" +
        ".out('placed').has('totalprice', gt(150000.0))" +
        ".out('contains').dedup().count()")

  /** Parsed-string groupCount().by() with a hop: suppliers per nation
    * name — exercises the parser's modulator fusing and a non-count
    * terminal through the string path.
    */
  def g27ParsedGroup(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('supplier').out('located_in').groupCount().by('name')")
      .orderBy("name")

  /** Gremlin as()/select() projection — the step-label surface
    * (TinkerPop's path-to-tuple primitive): BUILDING customers tagged
    * 'c', their nation tagged 'n', projected as (c, n) id pairs. The
    * tag is one 8-byte column riding the frontier through the hop —
    * no extra join until select re-names the tag columns.
    */
  def g28SelectPairs(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer").has("mktsegment", "BUILDING")
      .as("c").out("located_in").as("n")
      .select("c", "n")
      .orderBy(col("c"), col("n"))

  /** Gremlin one-label select — the jump-back step, through the STRING
    * front-end: customers tagged before hopping to their expensive
    * orders, then select('c') returns the frontier to the customer,
    * dedup'd and counted. (Equivalent to a where()-exists filter; this
    * gate witnesses the select mechanics produce the same answer.)
    */
  def g29SelectBack(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').as('c').out('placed')" +
        ".has('totalprice', gt(200000.0)).select('c').dedup().count()")

  /** repeat(...).emit().times(2) through the string front-end: from
    * region 0, every vertex reached in ONE or TWO reverse hops — its
    * nations (round 1) plus their customers+suppliers (round 2), as a
    * bag union of both frontiers.
    */
  def g30Emit(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      s"g.V(${PropertyGraph.encodeId("region", 0L)})" +
        ".repeat(__.in()).emit().times(2).count()")

  /** simplePath() through the string front-end: 2-step both('part_of')
    * walks from nations go nation → region → sibling nation; the walks
    * that return to their start vertex are exactly what simplePath
    * removes, so the count is Σ_region n·(n−1) over nation counts.
    */
  def g31SimplePath(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('nation').both('part_of').both('part_of')" +
        ".simplePath().count()")

  /** cyclicPath() — ring detection through the string front-end: the
    * 2-step both('part_of') walks that RETURN to their start nation
    * (exactly one ring per nation, via its region).
    */
  def g34CyclicPath(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('nation').both('part_of').both('part_of')" +
        ".cyclicPath().count()")

  /** group().by(key).by(values.sum()) — Gremlin's grouped-aggregate
    * form through the string front-end: total part size per brand.
    */
  def g35Group(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('part').group().by('brand')" +
        ".by(__.values('size').sum())")
      .orderBy("brand")

  /** values(k).sum() aggregate terminal through the string front-end
    * (integer-typed property so the Σ is engine-exact).
    */
  def g32ParsedSum(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('part').values('size').sum()")

  /** has(key)/hasNot(key) EXISTENCE predicates: in the union-schema
    * vertex frame a label without the property carries a typed NULL
    * (PropertyGraph.align), so existence = null test — here counting
    * the non-customer vertices via hasNot('mktsegment').
    */
  def g33HasNot(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasNot('mktsegment').count()")

  /** range(lo, hi) pagination through the string front-end — an
    * ordered page of customer names (name is unique, so the page is a
    * deterministic set; Offset + GlobalLimit compose on the sorted
    * plan, no window function involved).
    */
  def g36Range(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').order('name', asc)" +
        ".range(5, 15).values('name')")

  /** Gremlin project().by() — the tuple-readout verb (TinkerPop's
    * highest-traffic projection step; VERDICT r10 gap #1): per nation,
    * its name plus supplier and customer counts. Each count by-clause
    * is one origin-grouped aggregate left-joined back on the frontier
    * id — per-traverser semantics, no per-row execution.
    */
  def g39Project(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('nation')" +
        ".project('name', 'suppliers', 'customers')" +
        ".by('name')" +
        ".by(__.in('located_in').hasLabel('supplier').count())" +
        ".by(__.in('located_in').hasLabel('customer').count())")
      .orderBy("name")

  /** Gremlin choose(cond, onTrue, onFalse) — the per-traverser branch
    * (VERDICT r10 gap #1's other half): BUILDING customers hop to
    * their nation, everyone else to their orders; per-label counts of
    * the merged frontier. Compiles to ONE distributed where/not
    * evaluation of the condition plus a plan-level Union — no per-row
    * dispatch.
    */
  def g40Choose(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer')" +
        ".choose(__.has('mktsegment', eq('BUILDING'))," +
        " __.out('located_in'), __.out('placed'))" +
        ".groupCount('label')")
      .orderBy("label")

  /** Gremlin aggregate('x')/cap('x') — the named side-effect pair
    * (TinkerPop's collect-then-emit idiom): suppliers' nations are
    * snapshotted mid-chain into 'ns' and emitted by cap. The snapshot
    * is the frontier's id-bag PLAN at aggregate-time (the traversal
    * value is immutable, so no materialization happens until the
    * terminal) — bag semantics preserved, one row per supplier.
    */
  def g41AggregateCap(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('supplier').out('located_in')" +
        ".aggregate('ns').cap('ns')")
      .orderBy("id")

  /** Gremlin local(__.out(...).order(...).limit(n)) — LOCAL-scope
    * top-k: each BUILDING customer keeps only its 2 highest-priced
    * orders (ties break by order id). One row_number window
    * partitioned by origin — the canonical distributed per-group
    * top-k, not a per-traverser loop.
    */
  def g42LocalTopk(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".local(__.out('placed').order('totalprice', desc).limit(2))" +
        ".values('totalprice')")
      .orderBy("totalprice")

  /** Gremlin tree() — the traversal tree rendered as its FLAT
    * (depth, parent, child) edge relation (TinkerPop's nested driver
    * map is a scale dead-end; the edge list carries the identical
    * information, distributed): region 0's reverse 2-hop tree —
    * nations at depth 1, their customers + suppliers at depth 2.
    * Depth-1 links appear only where a depth-2 continuation exists
    * (tree() reads the FINAL frontier's tracked paths; a leaf nation
    * would prune — the oracle replays the same EXISTS).
    */
  def g43Tree(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      s"g.V(${PropertyGraph.encodeId("region", 0L)})" +
        ".repeat(__.in()).times(2).tree()")
      .orderBy("depth", "parent", "child")

  /** Gremlin match() — conjunctive pattern join (the TinkerPop verb
    * behind multi-variable graph queries): BUILDING customers c with
    * their orders o and parts p, as the natural join of the two
    * pattern relations semi-joined with the filtered frontier on c.
    * Summarized to binding/arity counts so the gate pins the full
    * binding table without dumping it.
    */
  def g44Match(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".match(__.as('c').out('placed').as('o')," +
        " __.as('o').out('contains').as('p'))")
      .agg(count(lit(1)).as("n_bindings"),
        countDistinct(col("c")).as("n_c"),
        countDistinct(col("o")).as("n_o"),
        countDistinct(col("p")).as("n_p"))

  /** TinkerPop TextP NEGATIONS through the string front-end —
    * notContaining / notEndingWith / notStartingWith complete the
    * SEARCH_INDEX predicate battery in both entry points (the positive
    * forms are g10/g37/g38). All three compile to codegen'd scan
    * residuals in ONE filter, a single pass.
    */
  def g45TextNegations(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('part')" +
        ".has('name', notContaining('bolt'))" +
        ".has('name', notEndingWith('anvil'))" +
        ".has('name', notStartingWith('small'))" +
        ".count()")

  /** Parsed repeat().until() — the unbounded-traversal Gremlin a real
    * corpus hits first (the engine-side loop behind the reference's
    * per-hop store scans, TikvTable.java:30-58 query IR). The string
    * `repeat(__.in()).until(__.count().is(0))` lowers onto
    * [[graft.graph.Traversal.repeatUntil]] — the same
    * [[graft.util.Loop.frontier]] BFS the DSL gate g18 runs — so this
    * gate is the string-front-end twin of g18, sharing its oracle
    * (TraversalSpec pins sameResult).
    */
  def g46UntilParsed(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      s"g.V(${PropertyGraph.encodeId("region", 0L)})" +
        ".repeat(__.in()).until(__.count().is(0))")
      .groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("label"))

  /** Parsed fold()/unfold() — the TinkerPop barrier pair: the supplier
    * frontier folds to ONE list traverser and unfolds back to element
    * traversers (bag preserved, full rows re-hydrated by one join),
    * then groupCount pins that the round trip lost nothing.
    */
  def g47FoldUnfold(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('supplier').fold().unfold().groupCount('nationkey')")
      .select(col("nationkey").cast("long").as("nationkey"), col("cnt"))
      .orderBy(col("nationkey"))

  /** Parsed id() terminal — frontier ids under the label-namespaced
    * encoding ((labelCode << 40) | naturalKey, mirroring the
    * reference's label-prefixed binary ids, TikvTable.java:113); the
    * oracle replays the encoding arithmetic over the base table.
    */
  def g48IdParsed(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('region').id()")
      .orderBy(col("id"))

  /** Parsed label() terminal on an EDGE frontier — per-label edge
    * counts of the whole graph; the oracle recomputes each edge
    * relation's cardinality from its source table.
    */
  def g49LabelParsed(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir), "g.E().label()")
      .groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("label"))

  /** Parsed path().by('name') — tracked walks rendered by property
    * instead of id (posexplode + one join + positional re-assembly,
    * all distributed); rendered to a scalar string for the oracle.
    */
  def g50PathBy(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('supplier').has('nationkey', eq(3))" +
        ".out('located_in').path().by('name')")
      .select(concat_ws(",", col("path")).as("path"))
      .orderBy(col("path"))

  /** Parsed legacy TinkerPop spellings — store() (the pre-3.6 lazy
    * aggregate), barrier() and identity() (no-ops here: every step is
    * already a full distributed barrier): customers snapshot via
    * store(), the frontier hops on to orders, cap() recalls the
    * snapshot untouched by the hop. Oracle: count + mod-prime checksum
    * of the encoded customer ids.
    */
  def g51StoreLegacy(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().identity().hasLabel('customer').store('c').barrier()" +
        ".out('placed').cap('c')")
      .agg(count(lit(1)).as("n_stored"),
        sum(col("id") % 1000000007L).as("id_checksum"))

  /** Parsed repeat().until(<predicate>) — the TARGET-REACHED stop, the
    * most common real-Gremlin unbounded form after the count fixed
    * point (round-12 verdict task 3): BUILDING customers walk
    * located_in/part_of edges until they reach a region vertex.
    * Round 1 lands on nations (predicate false — they keep walking),
    * round 2 on regions (halt, emitted); the result is exactly the
    * regions hosting BUILDING customers. Lowers onto
    * [[graft.graph.Traversal.repeatUntilReached]]: a
    * [[graft.util.Loop.frontier]] BFS whose live frontier drops the
    * precomputed stop set each round, id-only state — TraversalSpec
    * pins sameResult against the DSL twin.
    */
  def g52UntilStop(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".repeat(__.out('located_in', 'part_of'))" +
        ".until(__.hasLabel('region')).id()")
      .orderBy(col("id"))

  /** repeat().emit().until(<predicate>) — the emit-everything form of
    * the target-reached stop (r13 verdict task 5, the most common
    * remaining real-Gremlin refusal): every vertex reached at depth
    * ≥ 1 is emitted — nations (depth 1, predicate false, keep
    * expanding) AND regions (depth 2, halted) — while the stop still
    * prunes expansion. Same BFS plan as g52; only the accumulator
    * changes (halted ∪ expanded instead of halted).
    */
  def g57EmitUntil(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".repeat(__.out('located_in', 'part_of')).emit()" +
        ".until(__.hasLabel('region')).id()")
      .orderBy(col("id"))

  /** Parsed elementMap() terminal — id + label + requested properties
    * (the TinkerPop 3.4+ readout real corpora reach for before
    * valueMap): the nation table with its encoded ids and labels.
    */
  def g53ElementMap(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('nation').elementMap('name')")
      .orderBy(col("id"))

  /** Parsed g.inject(...) value source + pipeline — constant value
    * traversers through dedup/is/sum, plus the count().is(...) post-
    * aggregate filter idiom on a graph chain. The oracle replays the
    * literal value list relationally (VALUES) and the count filter as
    * a HAVING.
    */
  def g54Inject(s: SparkSession, dir: String): DataFrame = {
    val injected = graft.graph.GremlinParser.run(g(s, dir),
      "g.inject(5, 3, 7, 3, 2).dedup().is(gt(2)).sum()")
    val counted = graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('nation').count().is(gt(0))")
    injected.crossJoin(counted)
  }

  /** Parsed coin(p) — the deterministic hash-coin keep-filter (md5
    * bucket, threshold p·10⁴; same engine-portable stance as
    * sample()): BUILDING customers kept at p = 0.25, counted. The
    * oracle replays the md5 arithmetic over the encoded ids exactly.
    */
  def g55Coin(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').coin(0.25).count()")

  /** Parsed withSack()/sack(op).by(k)/sack() — TinkerPop's
    * per-traverser accumulator: BUILDING customers seed a 0 sack, fold
    * in their own acctbal, hop to their orders, fold in totalprice;
    * each walk's sack = acctbal + totalprice. The sack rides the
    * frontier as ONE double column (no joins); the gate aggregates
    * walk count + exact integer-cents sum so the oracle replays the
    * per-row arithmetic bit-for-bit (Exact.cents pattern).
    */
  def g56Sack(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.withSack(0.0).V().hasLabel('customer')" +
        ".has('mktsegment', eq('BUILDING'))" +
        ".sack(sum).by('acctbal').out('placed')" +
        ".sack(sum).by('totalprice').sack()")
      .agg(count(lit(1)).as("n_walks"),
        sum(graft.util.Exact.cents(col("sack"))).as("sack_cents"))

  /** Parsed math() — per-traverser arithmetic over the current value
    * traverser (r13 verdict task 7, the last real-frequency TinkerPop
    * step): BUILDING customers' acctbal stream through
    * floor((_ * 2 + 100) / 3), aggregated to count + exact integer
    * sum. The expression compiles to ONE codegen'd Column (no UDF);
    * floor() lands on integer-valued doubles, so the sum is exact and
    * order-independent and the DuckDB oracle replays the IEEE-754
    * arithmetic operator-for-operator.
    */
  def g58Math(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".values('acctbal').math('floor((_ * 2 + 100) / 3)')")
      .agg(count(lit(1)).as("n_vals"),
        sum(col("acctbal")).cast("long").as("msum"))

  /** Parsed sideEffect() — TinkerPop's detour step: the sub runs for
    * its snapshot side effect while the MAIN chain walks elsewhere
    * (here: to nations), and cap() recalls the detour's bag. The
    * detour is one extra distributed subplan — no per-traverser
    * execution, and the main chain's plan is untouched.
    */
  def g59SideEffect(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".sideEffect(__.out('placed').aggregate('ords'))" +
        ".out('located_in').cap('ords')")
      .orderBy(col("id"))

  /** Parsed subgraph() — the traversed edge set as a side-effect
    * RELATION (src, label, dst): the relational reading of TinkerPop's
    * in-memory side-effect Graph (a driver-side Graph object is a
    * scale dead-end; the edge relation re-enters PropertyGraph
    * directly). The frontier passes through, so the walk continues.
    */
  def g60Subgraph(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('nation').outE('part_of').subgraph('sg').cap('sg')")
      .orderBy(col("src"))

  /** until(<hop predicate>) — TinkerPop's "halt when the traverser
    * HAS a matching neighbor" stop (until(__.out('x')) = where()
    * semantics on the stop sub): BUILDING customers walk up the
    * located_in/part_of chain and halt at the first element with an
    * outgoing part_of edge — the nations (regions never get expanded
    * through a halted traverser). One extra distributed hop subplan
    * per BFS round; ids-only throughout.
    */
  def g61UntilHop(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".repeat(__.out('located_in', 'part_of'))" +
        ".until(__.out('part_of')).id()")
      .orderBy(col("id"))

  /** select().by() — the by-modulated multi-label readout (the
    * TinkerPop idiom real traversals end on: names, not ids): one
    * narrow (id, name) hash join per label, scans pruned to two
    * columns.
    */
  def g62SelectBy(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".as('c').out('located_in').as('n').select('c', 'n').by('name')")
      .orderBy(col("c"), col("n"))

  /** Parsed TinkerPop OLAP pageRank() (r14 verdict task 1): rank the
    * geo subgraph via the certified exact-integer program
    * (a_pagerank_exact's twin), decorate the nation∪region frontier,
    * read out through the post-terminal order() tail. The oracle
    * replays the same 10 unrolled rounds (shared template,
    * AlgoQueries.pagerankReplaySql) filtered to the frontier's label
    * namespaces.
    */
  def g63Pagerank(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('nation', 'region').pageRank()" +
        ".with('~tinkerpop.pageRank.edges', __.outE('located_in', 'part_of'))" +
        ".by('rank').order().by('id')")

  /** Parsed TinkerPop OLAP connectedComponent() lowered onto the
    * certified DataFrame CC (a_components' twin — min-id component
    * convention, isolated vertices as singletons), summarized to the
    * same (component, size) shape so the two gates share one oracle.
    */
  def g64Cc(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().connectedComponent()" +
        ".with('~tinkerpop.connectedComponent.propertyName', 'cc')")
      .groupBy(col("cc").as("component")).agg(count(lit(1)).as("size"))
      .orderBy(col("component"))

  /** Parsed TinkerPop OLAP shortestPath() lowered onto the certified
    * single-source BFS (a_sssp_hops' twin): hop distances from
    * region 0 walking part_of/located_in edges REVERSED (__.inE = the
    * Direction.IN reading), summarized per distance ring.
    */
  def g65ShortestPath(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      s"g.V(${PropertyGraph.encodeId("region", 0L)}).shortestPath()" +
        ".with('~tinkerpop.shortestPath.edges', " +
        "__.inE('part_of', 'located_in'))")
      .groupBy(col("dist")).agg(count(lit(1)).as("n"))
      .orderBy(col("dist"))

  /** emit() × until(<hop predicate>) composition (r14 verdict task 4):
    * the stop sub is a HOP (halt when __.in('part_of') yields anything
    * — only regions have an incoming part_of edge), and emit() ships
    * every vertex reached at depth ≥ 1, so the result is g57's
    * nations∪regions set from a structurally different stop compile
    * (per-round ids-only hop subplan vs a filter predicate).
    */
  def g66EmitUntilHop(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".repeat(__.out('located_in', 'part_of')).emit()" +
        ".until(__.in('part_of')).id()")
      .orderBy(col("id"))

  /** select().by(__.sub.count()) sub-traversal modulators (r14 verdict
    * task 3 — project() parity): per-BUILDING-customer order count
    * (one origin-grouped aggregate over the distinct tagged ids,
    * left-joined back, 0 where the sub reaches nothing) next to the
    * nation-name key readout.
    */
  def g67SelectBySub(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
        ".as('c').out('located_in').as('n').select('c', 'n')" +
        ".by(__.out('placed').count()).by('name')")
      .orderBy(col("c"), col("n"))

  /** two-hop + dedup: distinct parts bought by BUILDING customers. */
  def g2TwoHopDistinct(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer").has("mktsegment", "BUILDING")
      .out("placed").out("contains").dedup().count()

  /** in()-traversal (EDGE_IN analog): orders containing part 5. */
  def g3InCount(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V(PropertyGraph.encodeId("part", 5L)).in("contains").count()

  /** both(): full degree of nation 3 = located_in in-edges + part_of out. */
  def g4BothCount(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V(PropertyGraph.encodeId("nation", 3L)).both().count()

  /** edge-property predicate on E(): contains edges with quantity > 45. */
  def g5EdgePropFilter(s: SparkSession, dir: String): DataFrame =
    g(s, dir).E.hasLabel("contains").has("quantity", P.Gt(45.0)).count()

  /** label cardinality — VERTEX_LABEL_INDEX analog (TikvStore.java:363-366). */
  def g6LabelCount(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.toDF.groupBy("label").agg(count(lit(1)).as("n")).orderBy("label")

  /** out-degree histogram over placed edges (degree → #customers). */
  def g7DegreeHist(s: SparkSession, dir: String): DataFrame = {
    val e = g(s, dir).edgesOf(Seq("placed"))
    e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("degree"))
  }

  /** values() + order + limit: top-10 BUILDING customer balances. */
  def g8ValuesTopk(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer").has("mktsegment", "BUILDING")
      .toDF.select(col("id"), col("acctbal"))
      .orderBy(col("acctbal").desc, col("id").asc).limit(10)

  /** edge sort-key range inside one vertex's out-edges — the reference's
    * prefix + sort-key scan (R4, TikvTable.java:216-223).
    */
  def g9SortKeyRange(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V(PropertyGraph.encodeId("order", 7L))
      .outE("contains").has("sort_key", P.Between(2L, 5L))
      .toDF.select(col("sort_key"), col("quantity"))
      .orderBy(col("sort_key"))

  /** textContains through traversal — SEARCH_INDEX analog: lineitems of
    * parts whose name mentions "bolt".
    */
  def g10TextTraversal(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("part").has("name", P.TextContains("bolt"))
      .in("contains").count()

  /** Gremlin path(): full two-hop walks customer 7 → orders → parts
    * as id arrays — paths stay distributed (array column), never
    * collected to the driver. Rendered to a string column for the
    * oracle compare (array cells don't hash portably).
    */
  def g11Paths(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V(PropertyGraph.encodeId("customer", 7L)).withPath
      .out("placed").out("contains").paths
      .select(concat_ws("->", col("path").cast("array<string>")).as("path"))
      .orderBy(col("path"))

  /** groupCount terminal: order count per market segment via the
    * traversal API (frontier property aggregation).
    */
  def g12GroupCount(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("order").in("placed")
      .groupCount("mktsegment")
      .orderBy(col("mktsegment"))

  /** Gremlin not(): customers with no URGENT order — anti semi-join
    * through the traversal DSL.
    */
  def g13NotStep(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer")
      .not(_.outE("placed").has("orderdate", P.Gte(
        java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))))
      .toDF.select(col("id"), col("name"))
      .orderBy(col("id"))

  /** Gremlin where(): parts that appear in some high-quantity line. */
  def g14WhereStep(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("part")
      .where(_.inE("contains").has("quantity", P.Gt(49.0)))
      .count()

  /** P.Contains over a SET-cardinality property (TikvFeatures.java:71-74:
    * `supportsQueryWithContains=false` — the engine, not the store,
    * evaluates membership): customers tagged nat_3, with the tag list
    * rendered to a string for the portable hash compare.
    */
  def g15Contains(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer").has("tags", P.Contains("nat_3"))
      .toDF.select(col("id"), concat_ws(",", col("tags")).as("tags"))
      .orderBy(col("id"))

  /** P.ContainsKey over the dynamic property bag (map-valued property,
    * TikvFeatures.java:76-79) + value extraction: only order vertices
    * carry a `priority` key.
    */
  def g16ContainsKey(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.has("props", P.ContainsKey("priority"))
      .toDF.select(col("id"), element_at(col("props"), "priority").as("priority"))
      .orderBy(col("id")).limit(20)

  /** textContainsAny — tokenized SEARCH_INDEX semantics
    * (TikvTables.java:203-210): whole-word match, unlike the substring
    * TextContains of g10.
    */
  def g17TextAny(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("part")
      .has("name", P.TextContainsAny(Seq("bolt", "chiffon")))
      .count()

  /** textContainsAny through the STRING front-end — a user pasting
    * real Gremlin with the SEARCH_INDEX word battery
    * (TikvTables.java:203-210) hits the parser before the DSL, and
    * until round 11 the parser accepted the predicate but no gate
    * witnessed the full string→plan→oracle path (VERDICT r10 gap #2).
    */
  def g37TextAnyParsed(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('part')" +
        ".has('name', textContainsAny('ivory', 'linen')).count()")

  /** TextP.endingWith — the suffix member of the text-predicate
    * battery, through the string front-end: part names ending in a
    * color word, returned as the names themselves so the gate pins
    * row content, not just a count. Compiles to codegen'd EndsWith —
    * a residual scan filter (suffixes can't use Parquet min/max the
    * way startingWith can), still a single pass.
    */
  def g38TextEnding(s: SparkSession, dir: String): DataFrame =
    graft.graph.GremlinParser.run(g(s, dir),
      "g.V().hasLabel('part').has('name', endingWith('anvil'))" +
        ".values('name')")
      .orderBy("name")

  /** within()/without() — the IN-condition the store declares it does
    * NOT evaluate (supportsQueryWithInCondition=false,
    * TikvFeatures.java:52-54; the engine above owns it): customers in
    * two segments, excluding one nation, counted per nation.
    */
  def g22Within(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer")
      .has("mktsegment", P.Within(Seq("BUILDING", "MACHINERY")))
      .has("nationkey", P.Without(Seq(3L)))
      .toDF.groupBy(col("nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("nationkey"))

  /** repeat(in()).until(no new vertices) — variable-depth reachability
    * from region 0 over reversed edges, the unbounded-repeat shape the
    * hugegraph engine runs against the store. Closure: region 0 →
    * nations → {customers, suppliers} → parts (supplied_by) → orders
    * (contains) → customers (placed); per-label counts of everything
    * reached.
    */
  def g18ReachUntil(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V(PropertyGraph.encodeId("region", 0L))
      .repeatUntil(_.in())
      .toDF.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("label"))

  /** Gremlin union(): one customer's orders AND nation in one bag. */
  def g19Union(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V(PropertyGraph.encodeId("customer", 7L))
      .union(_.out("placed"), _.out("located_in"))
      .toDF.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("label"))

  /** Gremlin coalesce(): per customer, their recent orders if any,
    * their nation otherwise — branch priority per origin vertex.
    */
  def g20Coalesce(s: SparkSession, dir: String): DataFrame =
    g(s, dir).V.hasLabel("customer")
      .coalesce(
        _.outE("placed").has("orderdate", P.Gte(
          java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))).otherV,
        _.out("located_in"))
      .toDF.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("label"))

  /** Storage round-trip in the gate: persist the geo subgraph through
    * GraphStorage (label-partitioned vertices + dual bucketed edge
    * tables — W12 DDL + the EDGE_OUT/EDGE_IN layout), load it back,
    * and answer a two-hop reverse traversal THROUGH the stored
    * dst-clustered copy. Proves the physical layout serves real
    * queries, not just unit tests.
    */
  def g21StoredTraversal(s: SparkSession, dir: String): DataFrame = {
    import graft.Tables
    val su = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    val vertices =
      su.select(PropertyGraph.encode("supplier", col("s_suppkey")).as("id"),
        lit("supplier").as("label"), col("s_name").as("name")) union
      n.select(PropertyGraph.encode("nation", col("n_nationkey")).as("id"),
        lit("nation").as("label"), col("n_name").as("name")) union
      r.select(PropertyGraph.encode("region", col("r_regionkey")).as("id"),
        lit("region").as("label"), col("r_name").as("name"))
    val edges =
      su.select(PropertyGraph.encode("supplier", col("s_suppkey")).as("src"),
        PropertyGraph.encode("nation", col("s_nationkey")).as("dst"),
        lit("located_in").as("label"), lit(null).cast("long").as("sort_key")) union
      n.select(PropertyGraph.encode("nation", col("n_nationkey")).as("src"),
        PropertyGraph.encode("region", col("n_regionkey")).as("dst"),
        lit("part_of").as("label"), lit(null).cast("long").as("sort_key"))
    graft.sources.GraphStorage.saveGraph(s, PropertyGraph(vertices, edges),
      "g21_geo", buckets = 4)
    val stored = graft.sources.GraphStorage.loadGraph(s, "g21_geo")
    stored.V(PropertyGraph.encodeId("region", 0L))
      .in("part_of").in("located_in").count()
  }

  /** HugeGraph `kout`/`kneighbor` traverser parity: per-depth BFS
    * frontier sizes from customer 1 over the order graph — kout(d) =
    * vertices at EXACTLY depth d, kneighbor(d) = within ≤ d (seed
    * included). One distributed BFS (id-only frontiers); the
    * cumulative sum runs over the ≤ maxDepth-row result.
    */
  def g23Kout(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hops = graft.graph.Algorithms.multiSourceHops(s, g(s, dir),
      Seq(graft.graph.PropertyGraph.encodeId("customer", 1L)),
      labels = Seq("placed", "contains", "supplied_by"), maxDepth = 3)
    hops.filter(col("dist") >= 1L)
      .groupBy(col("dist")).agg(count(lit(1)).as("kout"))
      .withColumn("kneighbor",
        sum(col("kout")).over(Window.orderBy(col("dist"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) + 1L)
      .orderBy(col("dist"))
  }

  /** HugeGraph `same-neighbors` traverser parity: the common
    * in-neighborhood (orders) of parts 260 and 625 over `contains` — one
    * semi-join intersect, no driver-side sets.
    */
  def g24SameNeighbors(s: SparkSession, dir: String): DataFrame = {
    val e = g(s, dir).edgesOf(Seq("contains"))
      .select(col("src").as("id"), col("dst").as("part"))
    // parts 260/625 share five orders at the sf0.01 gate scale (a
    // zero-row result would pass the oracle vacuously)
    val p1 = graft.graph.PropertyGraph.encodeId("part", 260L)
    val p2 = graft.graph.PropertyGraph.encodeId("part", 625L)
    e.filter(col("part") === p1).select(col("id"))
      .intersect(e.filter(col("part") === p2).select(col("id")))
      .orderBy(col("id"))
  }

  /** Graph CONSTRUCTION from event logs — the events→graph bridge
    * every log-analytics graph starts with: users co-occurring in the
    * same (event_type, 5-minute bucket) become an edge weighted by
    * co-occurrence support. Rides [[graft.graph.Algorithms
    * .bipartiteProjection]] (basket = type×bucket, item = user), so
    * the mega-bucket skew guard bounds the per-basket quadratic
    * exactly as co-purchase does. Output: support histogram with
    * mod-prime endpoint checksums — pins the full edge SET, not just
    * counts.
    */
  def g25EventGraph(s: SparkSession, dir: String): DataFrame = {
    val typeCode = when(col("event_type") === "click", 0L)
      .when(col("event_type") === "error", 1L)
      .when(col("event_type") === "purchase", 2L)
      .when(col("event_type") === "signup", 3L)
      .otherwise(4L)
    val baskets = graft.Tables.events(s, dir)
      .select(
        (expr("CAST(floor(unix_timestamp(ts) / 300) AS BIGINT)") * 8L +
          typeCode).as("src"),
        col("user_id").as("dst"))
    graft.graph.Algorithms
      .bipartiteProjection(baskets, minSupport = 1L, maxBasketSize = 100)
      .groupBy(col("support"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("item_a") % 1000000007L).as("a_sum"),
        sum(col("item_b") % 1000000007L).as("b_sum"))
      .orderBy(col("support"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g26_parsed" -> (g26Parsed _),
    "g27_parsed_group" -> (g27ParsedGroup _),
    "g28_select_pairs" -> (g28SelectPairs _),
    "g29_select_back" -> (g29SelectBack _),
    "g30_emit" -> (g30Emit _),
    "g31_simple_path" -> (g31SimplePath _),
    "g32_parsed_sum" -> (g32ParsedSum _),
    "g33_has_not" -> (g33HasNot _),
    "g36_range" -> (g36Range _),
    "g34_cyclic_path" -> (g34CyclicPath _),
    "g35_group" -> (g35Group _),
    "g25_event_graph" -> (g25EventGraph _),
    "g23_kout" -> (g23Kout _),
    "g24_same_neighbors" -> (g24SameNeighbors _),
    "g21_stored_traversal" -> (g21StoredTraversal _),
    "g19_union" -> (g19Union _),
    "g20_coalesce" -> (g20Coalesce _),
    "g15_contains" -> (g15Contains _),
    "g16_contains_key" -> (g16ContainsKey _),
    "g17_text_any" -> (g17TextAny _),
    "g37_text_any_parsed" -> (g37TextAnyParsed _),
    "g38_text_ending" -> (g38TextEnding _),
    "g39_project" -> (g39Project _),
    "g40_choose" -> (g40Choose _),
    "g41_aggregate_cap" -> (g41AggregateCap _),
    "g42_local_topk" -> (g42LocalTopk _),
    "g43_tree" -> (g43Tree _),
    "g44_match" -> (g44Match _),
    "g45_text_negations" -> (g45TextNegations _),
    "g46_until_parsed" -> (g46UntilParsed _),
    "g52_until_stop" -> (g52UntilStop _),
    "g57_emit_until" -> (g57EmitUntil _),
    "g58_math" -> (g58Math _),
    "g59_side_effect" -> (g59SideEffect _),
    "g60_subgraph" -> (g60Subgraph _),
    "g61_until_hop" -> (g61UntilHop _),
    "g62_select_by" -> (g62SelectBy _),
    "g63_pagerank" -> (g63Pagerank _),
    "g64_cc" -> (g64Cc _),
    "g65_shortest_path" -> (g65ShortestPath _),
    "g66_emit_until_hop" -> (g66EmitUntilHop _),
    "g67_select_by_sub" -> (g67SelectBySub _),
    "g53_element_map" -> (g53ElementMap _),
    "g54_inject" -> (g54Inject _),
    "g55_coin" -> (g55Coin _),
    "g56_sack" -> (g56Sack _),
    "g47_fold_unfold" -> (g47FoldUnfold _),
    "g48_id_parsed" -> (g48IdParsed _),
    "g49_label_parsed" -> (g49LabelParsed _),
    "g50_path_by" -> (g50PathBy _),
    "g51_store_legacy" -> (g51StoreLegacy _),
    "g22_within" -> (g22Within _),
    "g18_reach_until" -> (g18ReachUntil _),
    "g13_not_step" -> (g13NotStep _),
    "g14_where_step" -> (g14WhereStep _),
    "g11_paths" -> (g11Paths _),
    "g12_group_count" -> (g12GroupCount _),
    "g1_out_count" -> (g1OutCount _),
    "g2_two_hop_distinct" -> (g2TwoHopDistinct _),
    "g3_in_count" -> (g3InCount _),
    "g4_both_count" -> (g4BothCount _),
    "g5_edge_prop_filter" -> (g5EdgePropFilter _),
    "g6_label_count" -> (g6LabelCount _),
    "g7_degree_hist" -> (g7DegreeHist _),
    "g8_values_topk" -> (g8ValuesTopk _),
    "g9_sort_key_range" -> (g9SortKeyRange _),
    "g10_text_traversal" -> (g10TextTraversal _),
  )

  /** BUILDING-customer geo reach, emit-all form (depth-1 nations AND
    * depth-2 regions) — shared by the g57 (filter-predicate stop) and
    * g66 (hop-predicate stop) gates: two different stop compilations,
    * one emitted set, one oracle.
    */
  private val emitUntilGeoSql: String =
    s"""SELECT id FROM (
       |  SELECT DISTINCT ${PropertyGraph.sqlEncode("nation", "n_nationkey")} AS id
       |  FROM nation JOIN customer ON c_nationkey = n_nationkey
       |  WHERE c_mktsegment = 'BUILDING'
       |  UNION
       |  SELECT DISTINCT ${PropertyGraph.sqlEncode("region", "r_regionkey")} AS id
       |  FROM region
       |  JOIN nation ON n_regionkey = r_regionkey
       |  JOIN customer ON c_nationkey = n_nationkey
       |  WHERE c_mktsegment = 'BUILDING')
       |ORDER BY id""".stripMargin

  val oracle: Map[String, String] = Map(
    // parsed-Gremlin-string gate: distinct parts inside expensive
    // orders placed by BUILDING/AUTOMOBILE customers
    "g26_parsed" ->
      """SELECT COUNT(*) AS cnt FROM (
        |  SELECT DISTINCT l_partkey FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |    AND o_totalprice > 150000.0)""".stripMargin,
    // parsed groupCount().by('name'): suppliers per nation name
    "g27_parsed_group" ->
      """SELECT n_name AS name, COUNT(*) AS cnt FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // as/select projection: (customer, nation) encoded-id pairs
    "g28_select_pairs" -> {
      def enc(l: String, k: String) = PropertyGraph.sqlEncode(l, k)
      s"""SELECT ${enc("customer", "c_custkey")} AS c,
         |       ${enc("nation", "c_nationkey")} AS n
         |FROM customer WHERE c_mktsegment = 'BUILDING'
         |ORDER BY 1, 2""".stripMargin
    },
    // select jump-back: distinct customers with an order > 200000
    "g29_select_back" ->
      """SELECT COUNT(DISTINCT o_custkey) AS cnt FROM orders
        |WHERE o_totalprice > 200000.0""".stripMargin,
    // emit: region-0 nations + their customers and suppliers (bag)
    "g30_emit" ->
      """SELECT (SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
        |  + (SELECT COUNT(*) FROM customer JOIN nation
        |       ON c_nationkey = n_nationkey WHERE n_regionkey = 0)
        |  + (SELECT COUNT(*) FROM supplier JOIN nation
        |       ON s_nationkey = n_nationkey WHERE n_regionkey = 0)
        |  AS cnt""".stripMargin,
    // simplePath: nation → region → DIFFERENT nation walks
    "g31_simple_path" ->
      """SELECT COUNT(*) AS cnt FROM nation a JOIN nation b
        |ON a.n_regionkey = b.n_regionkey
        |AND a.n_nationkey <> b.n_nationkey""".stripMargin,
    // cyclicPath: one self-returning 2-hop walk per nation
    "g34_cyclic_path" ->
      "SELECT COUNT(*) AS cnt FROM nation",
    // group().by(brand).by(values(size).sum()) — per-brand Σ
    "g35_group" ->
      """SELECT p_brand AS brand, CAST(SUM(p_size) AS BIGINT) AS sum_size
        |FROM part GROUP BY 1 ORDER BY 1""".stripMargin,
    // values(size).sum() over part vertices — integer-exact Σ
    "g32_parsed_sum" ->
      "SELECT CAST(SUM(p_size) AS BIGINT) AS sum_size FROM part",
    // hasNot('mktsegment') = every vertex except customers
    // ordered range page: customers 6..15 by name
    "g36_range" ->
      """SELECT c_name AS name FROM customer
        |ORDER BY c_name LIMIT 10 OFFSET 5""".stripMargin,
    "g33_has_not" ->
      """SELECT (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM part)
        |  + (SELECT COUNT(*) FROM supplier) + (SELECT COUNT(*) FROM nation)
        |  + (SELECT COUNT(*) FROM region) AS cnt""".stripMargin,
    // co-occurrence projection replay: distinct (basket, user) rows,
    // ≤100-user basket guard, a<b pairs, support histogram + checksums
    "g25_event_graph" ->
      """WITH d AS (SELECT DISTINCT
        |    CAST(floor(epoch(ts) / 300) AS BIGINT) * 8 +
        |      CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
        |        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
        |        ELSE 4 END AS bk,
        |    user_id AS it FROM events),
        |sized AS (SELECT d.bk, d.it FROM d JOIN (
        |    SELECT bk FROM d GROUP BY bk HAVING COUNT(*) <= 100) g
        |  USING (bk)),
        |pairs AS (SELECT a.it AS ua, b.it AS ub, COUNT(*) AS support
        |  FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2)
        |SELECT support, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(ua % 1000000007) AS BIGINT) AS a_sum,
        |  CAST(SUM(ub % 1000000007) AS BIGINT) AS b_sum
        |FROM pairs GROUP BY support ORDER BY support""".stripMargin,
    // 3-layer BFS replay with explicit visited-set subtraction
    "g23_kout" -> {
      def enc(l: String, k: String) = graft.graph.PropertyGraph.sqlEncode(l, k)
      s"""WITH e AS (
         |  SELECT ${enc("customer", "o_custkey")} AS src,
         |         ${enc("order", "o_orderkey")} AS dst FROM orders
         |  UNION ALL SELECT ${enc("order", "l_orderkey")},
         |         ${enc("part", "l_partkey")} FROM lineitem
         |  UNION ALL SELECT DISTINCT ${enc("part", "l_partkey")},
         |         ${enc("supplier", "l_suppkey")} FROM lineitem),
         |v0 AS (SELECT CAST(${enc("customer", "1")} AS BIGINT) AS id),
         |n1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN v0 ON e.src = v0.id
         |  WHERE e.dst NOT IN (SELECT id FROM v0)),
         |w1 AS (SELECT id FROM v0 UNION SELECT id FROM n1),
         |n2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN n1 ON e.src = n1.id
         |  WHERE e.dst NOT IN (SELECT id FROM w1)),
         |w2 AS (SELECT id FROM w1 UNION SELECT id FROM n2),
         |n3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN n2 ON e.src = n2.id
         |  WHERE e.dst NOT IN (SELECT id FROM w2))
         |SELECT CAST(1 AS BIGINT) AS dist,
         |  (SELECT COUNT(*) FROM n1) AS kout,
         |  (SELECT COUNT(*) FROM n1) + 1 AS kneighbor
         |UNION ALL SELECT 2, (SELECT COUNT(*) FROM n2),
         |  (SELECT COUNT(*) FROM n1) + (SELECT COUNT(*) FROM n2) + 1
         |UNION ALL SELECT 3, (SELECT COUNT(*) FROM n3),
         |  (SELECT COUNT(*) FROM n1) + (SELECT COUNT(*) FROM n2)
         |    + (SELECT COUNT(*) FROM n3) + 1
         |ORDER BY dist""".stripMargin
    },
    "g24_same_neighbors" -> {
      def enc(l: String, k: String) = graft.graph.PropertyGraph.sqlEncode(l, k)
      s"""SELECT ${enc("order", "l_orderkey")} AS id FROM lineitem
         |WHERE l_partkey = 260
         |INTERSECT
         |SELECT ${enc("order", "l_orderkey")} FROM lineitem
         |WHERE l_partkey = 625
         |ORDER BY id""".stripMargin
    },
    "g21_stored_traversal" ->
      """SELECT COUNT(*) AS cnt FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_regionkey = 0""".stripMargin,
    "g19_union" ->
      """SELECT label, cnt FROM (
        |  SELECT 'order' AS label, COUNT(*) AS cnt FROM orders WHERE o_custkey = 7
        |  UNION ALL
        |  SELECT 'nation', 1
        |) ORDER BY label""".stripMargin,
    "g20_coalesce" ->
      """SELECT label, cnt FROM (
        |  SELECT 'order' AS label, COUNT(*) AS cnt FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  UNION ALL
        |  SELECT 'nation', COUNT(*) FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |) ORDER BY label""".stripMargin,
    "g15_contains" ->
      s"""SELECT ${PropertyGraph.sqlEncode("customer", "c_custkey")} AS id,
         |  array_to_string(['seg_' || lower(c_mktsegment),
         |                   'nat_' || CAST(c_nationkey AS VARCHAR)], ',') AS tags
         |FROM customer
         |WHERE list_contains(['seg_' || lower(c_mktsegment),
         |                     'nat_' || CAST(c_nationkey AS VARCHAR)], 'nat_3')
         |ORDER BY id""".stripMargin,
    "g16_contains_key" ->
      s"""SELECT ${PropertyGraph.sqlEncode("order", "o_orderkey")} AS id,
         |  o_orderpriority AS priority
         |FROM orders ORDER BY id LIMIT 20""".stripMargin,
    "g17_text_any" ->
      """SELECT COUNT(*) AS cnt FROM part
        |WHERE list_has_any(string_split_regex(lower(p_name), '\s+'),
        |                   ['bolt', 'chiffon'])""".stripMargin,
    "g37_text_any_parsed" ->
      """SELECT COUNT(*) AS cnt FROM part
        |WHERE list_has_any(string_split_regex(lower(p_name), '\s+'),
        |                   ['ivory', 'linen'])""".stripMargin,
    "g38_text_ending" ->
      """SELECT p_name AS name FROM part
        |WHERE p_name LIKE '%anvil' ORDER BY name""".stripMargin,
    "g39_project" ->
      """SELECT n_name AS name,
        |  (SELECT COUNT(*) FROM supplier
        |   WHERE s_nationkey = n_nationkey) AS suppliers,
        |  (SELECT COUNT(*) FROM customer
        |   WHERE c_nationkey = n_nationkey) AS customers
        |FROM nation ORDER BY name""".stripMargin,
    "g40_choose" ->
      """SELECT label, COUNT(*) AS cnt FROM (
        |  SELECT 'nation' AS label FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT 'order' AS label
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment <> 'BUILDING'
        |) GROUP BY label ORDER BY label""".stripMargin,
    "g41_aggregate_cap" ->
      s"""SELECT ${PropertyGraph.sqlEncode("nation", "s_nationkey")} AS id
         |FROM supplier ORDER BY id""".stripMargin,
    // per-customer top-2 orders by (price desc, orderkey asc): the
    // encoded vertex id is monotone in o_orderkey within the label,
    // so the engine's id tie-break replays as the key tie-break
    "g42_local_topk" ->
      """SELECT o_totalprice AS totalprice FROM (
        |  SELECT o_totalprice, ROW_NUMBER() OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |) WHERE rn <= 2 ORDER BY totalprice""".stripMargin,
    "g45_text_negations" ->
      """SELECT COUNT(*) AS cnt FROM part
        |WHERE p_name NOT LIKE '%bolt%'
        |  AND p_name NOT LIKE '%anvil'
        |  AND p_name NOT LIKE 'small%'""".stripMargin,
    // string-front-end twin of g18 (same fixed-point closure, same oracle)
    "g46_until_parsed" ->
      """WITH n0 AS (SELECT n_nationkey FROM nation WHERE n_regionkey = 0),
        |s0 AS (SELECT s_suppkey FROM supplier
        |       WHERE s_nationkey IN (SELECT n_nationkey FROM n0)),
        |p0 AS (SELECT DISTINCT l_partkey FROM lineitem
        |       WHERE l_suppkey IN (SELECT s_suppkey FROM s0)),
        |o0 AS (SELECT DISTINCT l_orderkey FROM lineitem
        |       WHERE l_partkey IN (SELECT l_partkey FROM p0)),
        |c0 AS (SELECT c_custkey FROM customer
        |       WHERE c_nationkey IN (SELECT n_nationkey FROM n0)
        |       UNION
        |       SELECT o_custkey FROM orders
        |       WHERE o_orderkey IN (SELECT l_orderkey FROM o0))
        |SELECT label, cnt FROM (
        |  SELECT 'customer' AS label, COUNT(*) AS cnt FROM c0
        |  UNION ALL SELECT 'nation', COUNT(*) FROM n0
        |  UNION ALL SELECT 'order', COUNT(*) FROM o0
        |  UNION ALL SELECT 'part', COUNT(*) FROM p0
        |  UNION ALL SELECT 'supplier', COUNT(*) FROM s0)
        |ORDER BY label""".stripMargin,
    // target-reached until(): regions whose nations host BUILDING
    // customers — nations pass through (predicate false), regions halt
    "g52_until_stop" ->
      s"""SELECT DISTINCT ${PropertyGraph.sqlEncode("region", "r_regionkey")} AS id
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |WHERE c_mktsegment = 'BUILDING'
         |ORDER BY id""".stripMargin,
    // emit() + target-reached stop: depth-1 nations AND depth-2 regions
    "g57_emit_until" -> emitUntilGeoSql,
    // same emitted set, HOP-predicate stop (emit x until(<hop>)
    // composition, r14 verdict task 4): regions halt because they have
    // an incoming part_of edge, nations pass through and expand
    "g66_emit_until_hop" -> emitUntilGeoSql,
    // math() replays operator-for-operator (IEEE-754 doubles on both
    // engines; floor() makes every term integer-valued, so the SUM is
    // exact and order-independent)
    "g58_math" ->
      """SELECT COUNT(*) AS n_vals,
        |  CAST(SUM(FLOOR((c_acctbal * 2 + 100) / 3)) AS BIGINT) AS msum
        |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    // by-modulated select: property readout per tagged label
    "g62_select_by" ->
      """SELECT c_name AS c, n_name AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c, n""".stripMargin,
    // OLAP pageRank(): the shared 10-round integer replay, read out
    // for the nation/region label namespaces (id div 2^40 in {5, 6})
    "g63_pagerank" -> AlgoQueries.pagerankReplaySql(
      """SELECT id, pr AS rank FROM pr10
        |WHERE id // 1099511627776 IN (5, 6) ORDER BY id""".stripMargin),
    // OLAP connectedComponent() summarizes to a_components' shape
    "g64_cc" -> AlgoQueries.oracle("a_components"),
    // OLAP shortestPath() summarizes to a_sssp_hops' distance rings
    "g65_shortest_path" -> AlgoQueries.oracle("a_sssp_hops"),
    // select().by(__.out('placed').count()): correlated order count
    // next to the nation-name key readout
    "g67_select_by_sub" ->
      """SELECT (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey)
        |    AS c,
        |  n_name AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c, n""".stripMargin,
    // hop-predicate stop: the halted set = nations of BUILDING
    // customers (each has an outgoing part_of edge)
    "g61_until_hop" ->
      s"""SELECT DISTINCT ${PropertyGraph.sqlEncode("nation", "n_nationkey")} AS id
         |FROM nation JOIN customer ON c_nationkey = n_nationkey
         |WHERE c_mktsegment = 'BUILDING'
         |ORDER BY id""".stripMargin,
    // sideEffect detour: the snapshot is orders-of-BUILDING-customers
    // regardless of where the main chain walked
    "g59_side_effect" ->
      s"""SELECT ${PropertyGraph.sqlEncode("order", "o_orderkey")} AS id
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |ORDER BY id""".stripMargin,
    // subgraph: the nation->region edge relation, encoded endpoints
    "g60_subgraph" ->
      s"""SELECT ${PropertyGraph.sqlEncode("nation", "n_nationkey")} AS src,
         |  'part_of' AS label,
         |  ${PropertyGraph.sqlEncode("region", "n_regionkey")} AS dst
         |FROM nation ORDER BY src""".stripMargin,
    "g53_element_map" ->
      s"""SELECT ${PropertyGraph.sqlEncode("nation", "n_nationkey")} AS id,
         |  'nation' AS label, n_name AS name
         |FROM nation ORDER BY id""".stripMargin,
    // inject values replay as a VALUES relation; count().is(gt(0))
    // replays as HAVING (an empty side empties the cross join in both
    // engines)
    "g54_inject" ->
      """SELECT s.sum_value, c.cnt FROM
        |  (SELECT CAST(SUM(DISTINCT v) AS BIGINT) AS sum_value
        |   FROM (VALUES (5),(3),(7),(3),(2)) t(v) WHERE v > 2) s,
        |  (SELECT COUNT(*) AS cnt FROM nation HAVING COUNT(*) > 0) c""".stripMargin,
    // the coin's md5 bucket arithmetic, replayed over the encoded ids
    "g55_coin" ->
      s"""SELECT COUNT(*) AS cnt FROM customer
         |WHERE CAST(concat('0x', substr(md5(CAST(
         |    ${PropertyGraph.sqlEncode("customer", "c_custkey")} AS VARCHAR)),
         |  1, 8)) AS BIGINT) % 10000 < 2500""".stripMargin,
    // sack accumulation replays as per-row arithmetic over the join;
    // 0.0 + a == a exactly in IEEE, so both engines compute a + t
    "g56_sack" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_walks,
         |  CAST(SUM(${graft.util.Exact.sqlCents("c_acctbal + o_totalprice")})
         |    AS BIGINT) AS sack_cents
         |FROM customer JOIN orders ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    // fold()→unfold() must be a lossless round trip of the supplier bag
    "g47_fold_unfold" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nationkey, COUNT(*) AS cnt
        |FROM supplier GROUP BY 1 ORDER BY nationkey""".stripMargin,
    "g48_id_parsed" ->
      s"""SELECT ${PropertyGraph.sqlEncode("region", "r_regionkey")} AS id
         |FROM region ORDER BY id""".stripMargin,
    "g49_label_parsed" ->
      """SELECT label, cnt FROM (
        |  SELECT 'placed' AS label, COUNT(*) AS cnt FROM orders
        |  UNION ALL SELECT 'contains', COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'supplied_by', COUNT(*) FROM
        |    (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |  UNION ALL SELECT 'located_in',
        |    (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier)
        |  UNION ALL SELECT 'part_of', COUNT(*) FROM nation)
        |ORDER BY label""".stripMargin,
    "g50_path_by" ->
      """SELECT s_name || ',' || n_name AS path
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_nationkey = 3 ORDER BY path""".stripMargin,
    "g51_store_legacy" ->
      s"""SELECT COUNT(*) AS n_stored,
         |  CAST(SUM(${PropertyGraph.sqlEncode("customer", "c_custkey")}
         |    % 1000000007) AS BIGINT) AS id_checksum
         |FROM customer""".stripMargin,
    "g44_match" ->
      s"""WITH b AS (SELECT DISTINCT
         |    ${PropertyGraph.sqlEncode("customer", "c_custkey")} AS c,
         |    ${PropertyGraph.sqlEncode("order", "o_orderkey")} AS o,
         |    ${PropertyGraph.sqlEncode("part", "l_partkey")} AS p
         |  FROM customer
         |  JOIN orders ON o_custkey = c_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |  WHERE c_mktsegment = 'BUILDING')
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_bindings,
         |  CAST(COUNT(DISTINCT c) AS BIGINT) AS n_c,
         |  CAST(COUNT(DISTINCT o) AS BIGINT) AS n_o,
         |  CAST(COUNT(DISTINCT p) AS BIGINT) AS n_p
         |FROM b""".stripMargin,
    "g43_tree" ->
      s"""WITH n0 AS (SELECT n_nationkey FROM nation WHERE n_regionkey = 0),
         |d2 AS (
         |  SELECT ${PropertyGraph.sqlEncode("nation", "n_nationkey")} AS parent,
         |    ${PropertyGraph.sqlEncode("customer", "c_custkey")} AS child
         |  FROM customer JOIN n0 ON c_nationkey = n_nationkey
         |  UNION ALL
         |  SELECT ${PropertyGraph.sqlEncode("nation", "n_nationkey")},
         |    ${PropertyGraph.sqlEncode("supplier", "s_suppkey")}
         |  FROM supplier JOIN n0 ON s_nationkey = n_nationkey)
         |SELECT depth, parent, child FROM (
         |  SELECT 1 AS depth, ${PropertyGraph.sqlEncode("region", "0")} AS parent,
         |    ${PropertyGraph.sqlEncode("nation", "n_nationkey")} AS child
         |  FROM n0
         |  WHERE EXISTS (SELECT 1 FROM d2
         |    WHERE d2.parent = ${PropertyGraph.sqlEncode("nation", "n_nationkey")})
         |  UNION ALL
         |  SELECT 2, parent, child FROM d2
         |) ORDER BY depth, parent, child""".stripMargin,
    "g22_within" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS cnt
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |  AND c_nationkey NOT IN (3)
        |GROUP BY 1 ORDER BY nationkey""".stripMargin,
    "g18_reach_until" ->
      """WITH n0 AS (SELECT n_nationkey FROM nation WHERE n_regionkey = 0),
        |s0 AS (SELECT s_suppkey FROM supplier
        |       WHERE s_nationkey IN (SELECT n_nationkey FROM n0)),
        |p0 AS (SELECT DISTINCT l_partkey FROM lineitem
        |       WHERE l_suppkey IN (SELECT s_suppkey FROM s0)),
        |o0 AS (SELECT DISTINCT l_orderkey FROM lineitem
        |       WHERE l_partkey IN (SELECT l_partkey FROM p0)),
        |c0 AS (SELECT c_custkey FROM customer
        |       WHERE c_nationkey IN (SELECT n_nationkey FROM n0)
        |       UNION
        |       SELECT o_custkey FROM orders
        |       WHERE o_orderkey IN (SELECT l_orderkey FROM o0))
        |SELECT label, cnt FROM (
        |  SELECT 'customer' AS label, COUNT(*) AS cnt FROM c0
        |  UNION ALL SELECT 'nation', COUNT(*) FROM n0
        |  UNION ALL SELECT 'order', COUNT(*) FROM o0
        |  UNION ALL SELECT 'part', COUNT(*) FROM p0
        |  UNION ALL SELECT 'supplier', COUNT(*) FROM s0)
        |ORDER BY label""".stripMargin,
    "g13_not_step" ->
      s"""SELECT ${PropertyGraph.sqlEncode("customer", "c_custkey")} AS id,
         |  c_name AS name
         |FROM customer
         |WHERE NOT EXISTS (SELECT 1 FROM orders
         |  WHERE o_custkey = c_custkey
         |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
         |ORDER BY id""".stripMargin,
    "g14_where_step" ->
      """SELECT COUNT(*) AS cnt FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity > 49.0)""".stripMargin,
    "g11_paths" ->
      s"""SELECT array_to_string([${PropertyGraph.sqlEncode("customer", "o_custkey")},
         |        ${PropertyGraph.sqlEncode("order", "o_orderkey")},
         |        ${PropertyGraph.sqlEncode("part", "l_partkey")}], '->') AS path
         |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE o_custkey = 7 ORDER BY path""".stripMargin,
    "g12_group_count" ->
      """SELECT c_mktsegment AS mktsegment, COUNT(*) AS cnt
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY mktsegment""".stripMargin,
    "g1_out_count" ->
      """SELECT COUNT(*) AS cnt FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "g2_two_hop_distinct" ->
      """SELECT COUNT(*) AS cnt FROM (
        |  SELECT DISTINCT l_partkey FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING')""".stripMargin,
    "g3_in_count" ->
      "SELECT COUNT(*) AS cnt FROM lineitem WHERE l_partkey = 5",
    "g4_both_count" ->
      """SELECT ((SELECT COUNT(*) FROM customer WHERE c_nationkey = 3)
        |      + (SELECT COUNT(*) FROM supplier WHERE s_nationkey = 3)
        |      + 1) AS cnt""".stripMargin,
    "g5_edge_prop_filter" ->
      "SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity > 45.0",
    "g6_label_count" ->
      """SELECT label, n FROM (
        |  SELECT 'customer' AS label, COUNT(*) AS n FROM customer UNION ALL
        |  SELECT 'order', COUNT(*) FROM orders UNION ALL
        |  SELECT 'part', COUNT(*) FROM part UNION ALL
        |  SELECT 'supplier', COUNT(*) FROM supplier UNION ALL
        |  SELECT 'nation', COUNT(*) FROM nation UNION ALL
        |  SELECT 'region', COUNT(*) FROM region
        |) ORDER BY label""".stripMargin,
    "g7_degree_hist" ->
      """SELECT degree, COUNT(*) AS n_vertices FROM (
        |  SELECT o_custkey, COUNT(*) AS degree FROM orders GROUP BY o_custkey
        |) GROUP BY degree ORDER BY degree""".stripMargin,
    "g8_values_topk" ->
      s"""SELECT ${PropertyGraph.sqlEncode("customer", "c_custkey")} AS id, c_acctbal AS acctbal
         |FROM customer WHERE c_mktsegment = 'BUILDING'
         |ORDER BY acctbal DESC, id ASC LIMIT 10""".stripMargin,
    "g9_sort_key_range" ->
      """SELECT CAST(l_linenumber AS BIGINT) AS sort_key, l_quantity AS quantity
        |FROM lineitem WHERE l_orderkey = 7 AND l_linenumber >= 2 AND l_linenumber < 5
        |ORDER BY sort_key""".stripMargin,
    "g10_text_traversal" ->
      """SELECT COUNT(*) AS cnt FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_name LIKE '%bolt%'""".stripMargin,
  )
}
