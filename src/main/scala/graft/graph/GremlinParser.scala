package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Textual Gremlin front-end for the implemented verb subset.
  *
  * The reference's user surface is Gremlin STRINGS: hugegraph-core's
  * traversal compiler lowers them onto exactly the store calls the
  * TiKV plugin serves (TikvTable.java:30-58 imports the Query IR the
  * compiler emits). The repo's [[Traversal]] DSL covers those verbs as
  * fluent Scala; this parser closes the last user-visible parity gap —
  * a user of the reference types
  * {{{ g.V().hasLabel('customer').has('mktsegment','BUILDING').out('placed').count() }}}
  * and gets the IDENTICAL DataFrame plan the DSL produces, because
  * compilation is a fold of parsed steps over the same Traversal
  * methods (no second execution path to drift — proven plan-for-plan
  * by TraversalSpec's `sameResult` cases and the g26/g27 gates).
  *
  * Grammar (recursive descent, tokens: ident/string/number/punct):
  * {{{
  * query  := 'g' '.' source step*
  * source := 'V' '(' ids? ')' | 'E' '(' ')' | 'inject' '(' literals ')'
  * step   := '.' ident '(' args? ')'
  * args   := arg (',' arg)*
  * arg    := literal | pred '(' literal* ')' | '__' step+
  * }}}
  *
  * Supported verbs: hasLabel, has(k,lit|pred), has(k)/hasNot(k)
  * existence, hasId, as/select (one label = jump back, several =
  * projection terminal, with .by('k') modulators for property
  * readouts — one by for all labels or one per label), out/in/both, outE/inE/bothE, inV/outV/otherV,
  * repeat(sub)[.emit()].times(n),
  * repeat(sub)[.emit()].until(__.count().is(0) | loops().is(n) |
  * hasId/has/hasLabel/hasNot chain) (fixed-point reachability via
  * repeatUntil / times-sugar / target-reached stop via
  * repeatUntilReached — with emit(), every vertex reached at depth
  * ≥ 1, stop still pruning expansion), simplePath
  * (auto-enables path tracking), where(sub), not(sub), union(subs),
  * coalesce(subs), choose(cond, onTrue[, onFalse]), optional(sub),
  * project(ls).by('k'|__.steps.count())…, aggregate(k)/cap(k),
  * sideEffect(__.steps.aggregate(k)|store(k)) (detour snapshot),
  * subgraph(k) (edge-relation side effect, cap(k) emits it),
  * local(__.steps[.order(k[,dir])].limit(n)), tree(),
  * match(__.as(a).steps.as(b), …), dedup, limit,
  * order([k,asc|desc])/order().by(k[, order]), sample(d[,b]),
  * coin(p) (deterministic hash-coin), path()[.by(k)], id, label,
  * elementMap(ks), fold/unfold, count, values(k),
  * values(k).sum()/mean()/min()/max(), valueMap(ks),
  * groupCount(k)/groupCount().by(k), is(pred) (on the inject value
  * pipeline or after a single-column terminal), math(expr) (per-
  * traverser arithmetic over `_`, same value-stream positions), the
  * g.inject(v1, v2, …) value source with its
  * dedup/limit/skip/range/is/count/sum/mean/min/max/fold pipeline,
  * and the g.withSack(init) prefix with sack(sum|mult|min|max).by(k)
  * accumulation + the sack() emit terminal.
  * Predicates: eq/neq/gt/gte/lt/
  * lte/between/inside/outside/within/without/textContains/containing/
  * startingWith/endingWith/notStartingWith/notEndingWith/
  * notContaining/contains/containsKey/textContainsAny.
  * [[render]] is parse's inverse (property-tested round trip).
  */
object GremlinParser {

  // ---------- AST ----------
  sealed trait GStep
  final case class GSource(edge: Boolean, ids: Seq[Long]) extends GStep
  /** g.inject(v1, v2, …) — the VALUE-TRAVERSER source: constant values
    * enter the stream instead of graph elements. Supported follow-on
    * steps form the value pipeline (dedup/limit/skip/range/is/count/
    * sum/mean/min/max/fold); mid-chain inject on an element frontier
    * is refused (heterogeneous element+value streams have no
    * relational reading — use the source form).
    */
  final case class GInject(vals: Seq[Any]) extends GStep
  /** is(pred) — filter the current VALUE traverser: legal on the
    * inject value pipeline and directly after a single-column terminal
    * (count()/sum()/values(k)…), TinkerPop's `count().is(gt(n))` idiom.
    */
  final case class GIs(p: P) extends GStep
  /** coin(p) — deterministic hash-coin keep-with-probability-p
    * (md5-bucket; same reproducibility stance as sample())
    */
  final case class GCoin(p: Double) extends GStep
  /** math(expr) — per-traverser arithmetic over the current VALUE
    * traverser (TinkerPop's math() step, the `_` operand form): legal
    * after any single-column numeric terminal (values(k), count(),
    * sum()/mean()/min()/max(), sack()) and on the inject value
    * pipeline. The expression compiles to ONE codegen'd Column — no
    * UDF, no per-row interpretation. Label operands (`math('a - b')`)
    * are refused with a reasoned error: as()-tags here bind vertex
    * ids, not by()-modulated properties, so the TinkerPop form has no
    * faithful reading; select the property and compute relationally
    * instead.
    */
  final case class GMath(expr: String) extends GStep
  /** elementMap(ks) terminal — id + label + requested properties */
  final case class GElementMap(ks: Seq[String]) extends GStep
  /** g.withSack(init) query prefix — per-traverser numeric accumulator
    * riding the frontier as one double column (Traversal.withSackInit)
    */
  final case class GWithSack(init: Double) extends GStep
  /** sack(op).by('k') — fold the current element's property into each
    * traverser's sack; op ∈ sum/mult/min/max
    */
  final case class GSack(op: String, by: String) extends GStep
  /** sack() terminal — emit each traverser's sack value (bag) */
  case object GSackEmit extends GStep
  final case class GHasLabel(ls: Seq[String]) extends GStep
  final case class GHas(k: String, p: P) extends GStep
  final case class GHasId(ids: Seq[Long]) extends GStep
  final case class GHop(kind: String, labels: Seq[String]) extends GStep
  final case class GToV(kind: String) extends GStep
  final case class GRepeat(sub: Seq[GStep], times: Int,
                           emit: Boolean = false) extends GStep
  /** repeat(sub).until(__.count().is(0)) — variable-depth fixed-point
    * expansion (the unbounded-repeat loop the reference engine drives
    * over per-hop store scans, TikvTable.java:30-58); lowers onto
    * [[Traversal.repeatUntil]]: every vertex reached at depth ≥ 1,
    * dedup'd. The other accepted stop, until(loops().is(n)), is sugar
    * for times(n) (TinkerPop checks until AFTER each round when it
    * follows repeat, so loops()==n stops after exactly n rounds).
    */
  final case class GRepeatUntil(sub: Seq[GStep]) extends GStep
  /** repeat(sub).until(<filter predicate>) — the TARGET-REACHED stop
    * (`until(hasId(x))` / `until(has('k',v))` / `until(hasLabel('l'))`,
    * chains allowed): a traverser halts and is emitted when the
    * predicate matches it after a round; the rest keep expanding.
    * Lowers onto [[Traversal.repeatUntilReached]] (per-round
    * distributed stop-set test; the reference engine's conditional
    * per-hop scan loop, TikvTable.java:30-58).
    */
  final case class GRepeatUntilStop(sub: Seq[GStep], stop: Seq[GStep],
                                    emit: Boolean = false) extends GStep
  /** id() terminal — the frontier's vertex ids */
  case object GId extends GStep
  /** label() terminal — element labels (vertex or edge frontier) */
  case object GLabel extends GStep
  /** fold() — barrier: the frontier id bag as one list traverser */
  case object GFold extends GStep
  /** unfold() — explode a folded list back to element traversers */
  case object GUnfold extends GStep
  /** path().by('k') — tracked paths rendered by property k */
  final case class GPathBy(k: String) extends GStep
  case object GSimplePath extends GStep
  case object GCyclicPath extends GStep
  final case class GWhere(sub: Seq[GStep], neg: Boolean) extends GStep
  final case class GUnion(subs: Seq[Seq[GStep]]) extends GStep
  final case class GCoalesce(subs: Seq[Seq[GStep]]) extends GStep
  final case class GOptional(sub: Seq[GStep]) extends GStep
  case object GDedup extends GStep
  final case class GLimit(n: Int) extends GStep
  final case class GRange(lo: Int, hi: Int) extends GStep
  final case class GSkip(n: Int) extends GStep
  final case class GOrder(key: String, asc: Boolean) extends GStep
  final case class GSample(denom: Int, bucket: Int) extends GStep
  final case class GAs(label: String) extends GStep
  /** select(labels)[.by('k')…] — multi-label projection terminal:
    * tagged vertex ids, or (with by-modulators) the tagged vertices'
    * PROPERTY values — one .by applies to every label, N bys apply
    * positionally (TinkerPop's round-robin restricted to its two
    * unambiguous arities). One narrow (id, k) hash join per label.
    */
  final case class GSelect(labels: Seq[String],
                           bys: Seq[GBy] = Nil) extends GStep
  /** pageRank() — the TinkerPop withComputer OLAP step (r14 verdict
    * task 1). Relational reading: rank every vertex of the WHOLE
    * (optionally edge-filtered) graph via the certified
    * [[Algorithms.pageRankExact]] integer-unit program, then decorate
    * the CURRENT frontier — a terminal emitting (id, &lt;prop&gt;),
    * rank in exact integer millionths (initial mass 1,000,000, the
    * a_pagerank_exact convention — deterministic and engine-portable,
    * where TinkerPop's doubles are not). Modulators:
    * `.with('~tinkerpop.pageRank.edges', __.outE('l1', …))` restricts
    * the walk's edge labels (outE only — rank flows along the stored
    * src→dst orientation); `.with('~tinkerpop.pageRank.times', n)`
    * sets the iteration count (default 10, the certified gate depth);
    * `.by('rank')` / `.with('~tinkerpop.pageRank.propertyName', k)`
    * names the output column (default TinkerPop's
    * `gremlin.pageRankVertexProgram.pageRank`). The OLAP readout tail
    * (order()/limit()/values()) composes after it.
    */
  final case class GPageRank(edgeLabels: Seq[String], times: Int,
                             prop: String) extends GStep
  /** connectedComponent() — TinkerPop's withComputer CC step, lowered
    * onto the certified [[Algorithms.connectedComponents]] (component
    * id = min member vertex id; isolated vertices are singleton
    * components). Terminal emitting (id, &lt;prop&gt;) for the current
    * frontier. `.with('~tinkerpop.connectedComponent.edges',
    * __.outE/inE/bothE('l1', …))` restricts the edge labels (direction
    * is irrelevant — reachability is undirected);
    * `.with('~tinkerpop.connectedComponent.propertyName', k)` names
    * the output column (default TinkerPop's
    * `gremlin.connectedComponentVertexProgram.component`).
    */
  final case class GConnectedComponent(edgeLabels: Seq[String],
                                       prop: String) extends GStep
  /** shortestPath() — TinkerPop's withComputer shortest-path step,
    * lowered onto the certified [[Algorithms.ssspHops]] /
    * [[Algorithms.ssspWeighted]] DataFrame loops. RELATIONAL READING:
    * emits the distance relation (source, id, dist) — one row per
    * reachable vertex per source — not materialized Path objects (a
    * per-pair path list is the same driver-scale dead-end as
    * subgraph()'s in-memory Graph; the distance relation is the
    * scalable reading, and paths are recoverable by joining it with
    * the edge relation). Must follow the source DIRECTLY with explicit
    * ids (`g.V(id…).shortestPath()`) — each source is one certified
    * single-source search, so sources are the user-typed bounded
    * list, never a computed frontier. Modulators:
    * `.with('~tinkerpop.shortestPath.edges', __.outE|inE('l1', …))` —
    * labels + direction (inE walks edges dst→src, TinkerPop's
    * Direction.IN reading; bothE is refused — the certified programs
    * are directed);
    * `.with('~tinkerpop.shortestPath.target', __.hasLabel/has/hasId/
    * hasNot…)` — keep only distances to vertices matching the filter
    * chain (one distributed semi-join);
    * `.with('~tinkerpop.shortestPath.distance', 'edgeProp')` — weight
    * hops by a non-negative INTEGER edge property (ssspWeighted's
    * exact-Long contract; fractional weights have no engine-portable
    * reading);
    * `.with('~tinkerpop.shortestPath.maxDistance', n)` — drop rows
    * with dist &gt; n.
    */
  final case class GShortestPath(edgeLabels: Seq[String],
      reverse: Boolean, weightProp: String, target: Seq[GStep],
      maxDist: Long) extends GStep
  case object GCount extends GStep
  final case class GValues(k: String) extends GStep
  final case class GAgg(op: String, k: String) extends GStep
  final case class GHasKey(k: String, neg: Boolean) extends GStep
  final case class GValueMap(ks: Seq[String]) extends GStep
  final case class GGroupCount(k: String) extends GStep
  /** group().by(key).by(__.values(valKey).op()) — grouped aggregate */
  final case class GGroup(key: String, valKey: String, op: String) extends GStep
  case object GPath extends GStep
  /** tree() — the traversal tree as a flat (depth, parent, child)
    * edge relation (auto-enables path tracking, like path())
    */
  case object GTree extends GStep
  /** choose(cond, onTrue[, onFalse]) — per-traverser branch; empty
    * onFalse = the 2-arg pass-through form
    */
  final case class GChoose(cond: Seq[GStep], onTrue: Seq[GStep],
                           onFalse: Seq[GStep]) extends GStep
  /** a project() by-clause */
  sealed trait GBy
  final case class GByKey(k: String) extends GBy
  final case class GBySubCount(sub: Seq[GStep]) extends GBy
  /** project('a','b',…).by(…)… — tuple-projection terminal; bys fill
    * from the trailing by() modulators (must end up 1:1 with labels)
    */
  final case class GProject(labels: Seq[String], bys: Seq[GBy]) extends GStep
  /** match(__.as('a').steps.as('b'), …) — conjunctive pattern join
    * terminal; bindings = one column per variable (vertex ids)
    */
  final case class GMatch(
      patterns: Seq[(String, Seq[GStep], String)]) extends GStep
  /** aggregate('x') — snapshot the current frontier id bag into a
    * named side effect (run() keeps the store while folding steps)
    */
  final case class GAggregate(key: String) extends GStep
  /** store('x') — TinkerPop's pre-3.6 LAZY aggregate spelling; this
    * engine's aggregate() snapshots are already lazy plans, so the two
    * coincide (a distinct node so parse ∘ render = identity holds)
    */
  final case class GStore(key: String) extends GStep
  /** sideEffect(__.steps.aggregate('x')|store('x')) — run the sub for
    * its SIDE EFFECT and pass the incoming frontier through untouched
    * (TinkerPop's detour step). The only effects this engine has are
    * the named snapshot stores, so the sub must END in aggregate()/
    * store(); any other sub shape is refused with the reasoned error
    * (an effect-free detour is identity — write the steps inline).
    */
  final case class GSideEffect(sub: Seq[GStep]) extends GStep
  /** subgraph('x') — snapshot the EDGES of the current edge frontier
    * into a named side effect; cap('x') then emits the edge relation
    * (src, label, dst) — the relational reading of TinkerPop's
    * side-effect Graph (an in-memory Graph object is a driver-side
    * scale dead-end; the edge relation IS the subgraph, ready to
    * re-enter PropertyGraph). The frontier passes through, so the
    * traversal can keep walking (inV() etc.).
    */
  final case class GSubgraph(key: String) extends GStep
  /** barrier([maxSize]) — a no-op here: every step already executes as
    * a full distributed barrier; the optional size hint is accepted
    * and irrelevant (there is no traverser queue to cap)
    */
  case object GBarrier extends GStep
  /** identity() — the explicit pass-through step */
  case object GIdentity extends GStep
  /** cap('x') — terminal emitting a stored side-effect bag */
  final case class GCap(key: String) extends GStep
  /** local(__.steps[.order(k[,dir])].limit(n)) — per-origin scoped
    * limit (the trailing order/limit are folded out of the sub)
    */
  final case class GLocal(sub: Seq[GStep], key: String, asc: Boolean,
                          n: Int) extends GStep

  final case class ParseException(msg: String) extends RuntimeException(msg)

  // ---------- tokenizer ----------
  private sealed trait Tok
  private final case class TIdent(s: String) extends Tok
  private final case class TStr(s: String) extends Tok
  private final case class TNum(s: String) extends Tok
  private final case class TPunct(c: Char) extends Tok

  private def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val end = q.indexOf(c, i + 1)
        if (end < 0) throw ParseException(s"unterminated string at offset $i")
        out += TStr(q.substring(i + 1, end)); i = end + 1
      } else if (c.isDigit || (c == '-' && i + 1 < q.length && q.charAt(i + 1).isDigit)) {
        val s = i; i += 1
        while (i < q.length && (q.charAt(i).isDigit || q.charAt(i) == '.')) i += 1
        if (i < q.length && (q.charAt(i) == 'L' || q.charAt(i) == 'l')) {
          out += TNum(q.substring(s, i)); i += 1
        } else out += TNum(q.substring(s, i))
      } else if (c.isLetter || c == '_') {
        val s = i
        while (i < q.length && (q.charAt(i).isLetterOrDigit || q.charAt(i) == '_')) i += 1
        out += TIdent(q.substring(s, i))
      } else if ("().,".indexOf(c) >= 0) { out += TPunct(c); i += 1 }
      else throw ParseException(s"unexpected character '$c' at offset $i")
    }
    out.result()
  }

  // ---------- parser ----------
  private final class Cursor(toks: Vector[Tok]) {
    var pos = 0
    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def next(): Tok =
      if (pos < toks.length) { pos += 1; toks(pos - 1) }
      else throw ParseException("unexpected end of query")
    def expectPunct(c: Char): Unit = next() match {
      case TPunct(`c`) => ()
      case t => throw ParseException(s"expected '$c', got $t")
    }
    def expectIdent(): String = next() match {
      case TIdent(s) => s
      case t => throw ParseException(s"expected identifier, got $t")
    }
    def atPunct(c: Char): Boolean = peek.contains(TPunct(c))
  }

  /** Parse a full query string (must start `g.V(...)` or `g.E()`). */
  def parse(q: String): Seq[GStep] = {
    val cur = new Cursor(tokenize(q))
    if (cur.expectIdent() != "g") throw ParseException("query must start with g")
    cur.expectPunct('.')
    var srcName = cur.expectIdent()
    var sackPrefix: Option[GStep] = None
    if (srcName == "withSack") {
      cur.expectPunct('(')
      val init = cur.next() match {
        case TNum(s) => s.toDouble
        case t => throw ParseException(s"withSack() takes a number, got $t")
      }
      cur.expectPunct(')')
      sackPrefix = Some(GWithSack(init))
      cur.expectPunct('.')
      srcName = cur.expectIdent()
    }
    val src = srcName match {
      case "V" => GSource(edge = false, ids = parseLongArgs(cur))
      case "E" =>
        val ids = parseLongArgs(cur)
        if (ids.nonEmpty) throw ParseException("E() takes no ids")
        GSource(edge = true, Nil)
      case "inject" =>
        val vals = parseLitArgs(cur)
        if (vals.isEmpty) throw ParseException("inject() needs at least one value")
        GInject(vals)
      case other => throw ParseException(s"unknown source step $other")
    }
    val steps = sackPrefix.toSeq ++ (src +: parseSteps(cur))
    if (cur.peek.nonEmpty) throw ParseException(s"trailing tokens after step ${cur.peek.get}")
    fuseModulators(steps)
  }

  /** comma-separated literal args (strings / numbers / booleans) */
  private def parseLitArgs(cur: Cursor): Seq[Any] = {
    cur.expectPunct('(')
    val vs = Vector.newBuilder[Any]
    while (!cur.atPunct(')')) {
      cur.next() match {
        case TStr(s) => vs += s
        case TNum(s) => vs += num(s)
        case TIdent("true") => vs += true
        case TIdent("false") => vs += false
        case t => throw ParseException(s"expected literal, got $t")
      }
      if (cur.atPunct(',')) cur.next()
    }
    cur.expectPunct(')')
    vs.result()
  }

  private def parseLongArgs(cur: Cursor): Seq[Long] = {
    cur.expectPunct('(')
    val ids = Vector.newBuilder[Long]
    while (!cur.atPunct(')')) {
      cur.next() match {
        case TNum(s) => ids += s.toLong
        case t => throw ParseException(s"expected numeric id, got $t")
      }
      if (cur.atPunct(',')) cur.next()
    }
    cur.expectPunct(')')
    ids.result()
  }

  /** steps until the chain ends (end of tokens or an enclosing ')'). */
  private def parseSteps(cur: Cursor): Seq[GStep] = {
    val steps = Vector.newBuilder[GStep]
    while (cur.atPunct('.')) {
      cur.next()
      steps += parseStep(cur)
    }
    steps.result()
  }

  private def parseStep(cur: Cursor): GStep = {
    val name = cur.expectIdent()
    name match {
      case "hasLabel" => GHasLabel(parseStrArgs(cur))
      case "has" => parseHas(cur)
      case "hasId" => GHasId(parseLongArgs(cur))
      case "hasNot" => GHasKey(parseStrArgs(cur) match {
        case Seq(k) => k
        case _ => throw ParseException("hasNot() takes exactly one key")
      }, neg = true)
      case "sum" | "mean" | "min" | "max" =>
        emptyArgs(cur); GAgg(name, "") // key filled by the values() fuse
      case "out" | "in" | "both" | "outE" | "inE" | "bothE" =>
        GHop(name, parseStrArgs(cur))
      case "inV" | "outV" | "otherV" => emptyArgs(cur); GToV(name)
      case "repeat" => parseRepeat(cur)
      case "where" => GWhere(parseSubArg(cur), neg = false)
      case "not" => GWhere(parseSubArg(cur), neg = true)
      case "union" => GUnion(parseSubArgs(cur))
      case "coalesce" => GCoalesce(parseSubArgs(cur))
      case "choose" => parseSubArgs(cur) match {
        case Seq(c, t) => GChoose(c, t, Nil)
        case Seq(c, t, f) => GChoose(c, t, f)
        case _ => throw ParseException(
          "choose() takes 2 or 3 sub-traversals: choose(cond, onTrue[, onFalse])")
      }
      case "project" =>
        val ls = parseStrArgs(cur)
        if (ls.isEmpty) throw ParseException("project() needs at least one label")
        GProject(ls, Nil)
      case "aggregate" => GAggregate(oneKey(cur, "aggregate"))
      case "sideEffect" => GSideEffect(parseSubArg(cur))
      case "subgraph" => GSubgraph(oneKey(cur, "subgraph"))
      case "store" => GStore(oneKey(cur, "store"))
      case "barrier" => parseIntArgs(cur, 0, 1); GBarrier
      case "identity" => emptyArgs(cur); GIdentity
      case "cap" => GCap(oneKey(cur, "cap"))
      case "match" =>
        val subs = parseSubArgs(cur)
        if (subs.isEmpty) throw ParseException("match() needs patterns")
        GMatch(subs.map {
          case GAs(a) +: mid :+ GAs(b) => (a, mid, b)
          case _ => throw ParseException(
            "each match() pattern must be __.as('a').<steps>.as('b')")
        })
      case "local" => parseSubArg(cur) match {
        // no nonEmpty guard on the order-fold: local(__.order(k).limit(n))
        // is the degenerate per-origin form (sub = identity) and must
        // normalize to the SAME folded AST render() emits for it, or
        // parse ∘ render = identity breaks on exactly that shape
        case steps :+ GOrder(k, asc) :+ GLimit(n) =>
          GLocal(steps, k, asc, n)
        case steps :+ GLimit(n) if steps.nonEmpty =>
          GLocal(steps, "", asc = true, n)
        case _ => throw ParseException(
          "local() supports __.<steps>[.order('k'[, dir])].limit(n)")
      }
      case "optional" => GOptional(parseSubArg(cur))
      case "as" => GAs(parseStrArgs(cur) match {
        case Seq(l) => l
        case _ => throw ParseException("as() takes exactly one label")
      })
      case "select" =>
        val ls = parseStrArgs(cur)
        if (ls.isEmpty) throw ParseException("select() needs at least one label")
        GSelect(ls)
      case "dedup" => emptyArgs(cur); GDedup
      case "limit" => GLimit(parseIntArgs(cur, 1).head)
      case "range" =>
        val a = parseIntArgs(cur, 2, 2); GRange(a(0), a(1))
      case "skip" => GSkip(parseIntArgs(cur, 1).head)
      case "order" => parseOrder(cur)
      case "by" => parseByModulator(cur)
      case "sample" =>
        val a = parseIntArgs(cur, 1, 2)
        GSample(a.head, if (a.length > 1) a(1) else 0)
      case "is" =>
        cur.expectPunct('(')
        val p = cur.next() match {
          case TIdent(pred) => parsePredicate(pred, cur)
          case TStr(s) => P.Eq(s)
          case TNum(s) => P.Eq(num(s))
          case t => throw ParseException(
            s"is() takes a literal or predicate, got $t")
        }
        cur.expectPunct(')')
        GIs(p)
      case "coin" =>
        cur.expectPunct('(')
        val p = cur.next() match {
          case TNum(s) => s.toDouble
          case t => throw ParseException(s"coin() takes a probability, got $t")
        }
        cur.expectPunct(')')
        GCoin(p)
      case "elementMap" => GElementMap(parseStrArgs(cur))
      case "sack" =>
        cur.expectPunct('(')
        if (cur.atPunct(')')) { cur.next(); GSackEmit }
        else cur.next() match {
          case TIdent(op) if Set("sum", "mult", "min", "max")(op) =>
            cur.expectPunct(')'); GSack(op, "")
          case t => throw ParseException(
            s"sack() takes no args (emit) or sum/mult/min/max, got $t")
        }
      case "withSack" => throw ParseException(
        "withSack() must prefix the source: g.withSack(init).V()...")
      case "inject" => throw ParseException(
        "inject() mid-traversal mixes element and value traversers, " +
          "which has no relational reading — use the g.inject(...) " +
          "source form")
      case "path" => emptyArgs(cur); GPath
      case "id" => emptyArgs(cur); GId
      case "label" => emptyArgs(cur); GLabel
      case "fold" => emptyArgs(cur); GFold
      case "unfold" => emptyArgs(cur); GUnfold
      case "tree" => emptyArgs(cur); GTree
      case "simplePath" => emptyArgs(cur); GSimplePath
      case "cyclicPath" => emptyArgs(cur); GCyclicPath
      case "count" => emptyArgs(cur); GCount
      case "values" => GValues(parseStrArgs(cur) match {
        case Seq(k) => k
        case _ => throw ParseException("values() takes exactly one key")
      })
      case "math" => GMath(parseStrArgs(cur) match {
        case Seq(e) => e
        case _ => throw ParseException(
          "math() takes exactly one expression string")
      })
      case "valueMap" => GValueMap(parseStrArgs(cur))
      case "group" => emptyArgs(cur); GGroup("", "", "")
      case "groupCount" =>
        val ks = parseStrArgs(cur)
        if (ks.length > 1) throw ParseException("groupCount() takes at most one key")
        GGroupCount(ks.headOption.getOrElse(""))
      case "pageRank" => emptyArgs(cur); GPageRank(Nil, 10, "")
      case "connectedComponent" => emptyArgs(cur); GConnectedComponent(Nil, "")
      case "shortestPath" =>
        emptyArgs(cur); GShortestPath(Nil, reverse = false, "", Nil, -1L)
      case "with" => parseWithModulator(cur)
      case "times" | "until" =>
        throw ParseException(s"$name() must directly follow repeat(...)")
      case other => throw ParseException(s"unknown step $other")
    }
  }

  /** `.by('k' [,'asc'|'desc'])` — only valid straight after order() /
    * groupCount(); parsed to a GValues the fuser consumes (never
    * survives to compile).
    */
  private def parseByModulator(cur: Cursor): GStep = {
    cur.expectPunct('(')
    if (cur.peek.contains(TIdent("__"))) {
      // aggregate sub-traversal form: by(__.values('k').op())
      val sub = parseAnon(cur)
      cur.expectPunct(')')
      return sub match {
        case Seq(GAgg(op, k)) if k.nonEmpty => ByAggModulator(op, k)
        case steps :+ GCount if steps.nonEmpty => BySubCountModulator(steps)
        case _ => throw ParseException(
          "by(sub) supports __.values('k').sum()/mean()/min()/max() " +
            "or __.<steps>.count()")
      }
    }
    val k = cur.next() match {
      case TStr(s) => s
      case t => throw ParseException(s"by() expects a property key, got $t")
    }
    var asc = true
    if (cur.atPunct(',')) {
      cur.next()
      cur.next() match {
        case TIdent(o) => asc = parseAsc(o)
        case TStr(o) => asc = parseAsc(o)
        case t => throw ParseException(s"by() order must be asc/desc, got $t")
      }
    }
    cur.expectPunct(')')
    ByModulator(k, asc)
  }
  private final case class ByModulator(k: String, asc: Boolean) extends GStep
  private final case class ByAggModulator(op: String, k: String) extends GStep
  private final case class BySubCountModulator(sub: Seq[GStep]) extends GStep

  /** `.with('key', literal | __.sub)` — the TinkerPop configuration
    * modulator for the OLAP steps (pageRank/connectedComponent/
    * shortestPath); folded into the preceding step by fuseModulators.
    * Keys accept both the full `~tinkerpop.<step>.<key>` spelling and
    * the bare enum name (`edges`, `times`, `propertyName`, `target`,
    * `distance`, `maxDistance`).
    */
  private final case class WithModulator(key: String,
      lit: Option[Any], sub: Option[Seq[GStep]]) extends GStep

  private def parseWithModulator(cur: Cursor): GStep = {
    cur.expectPunct('(')
    val key = cur.next() match {
      case TStr(s) => s
      case t => throw ParseException(s"with() expects a string key, got $t")
    }
    if (!cur.atPunct(','))
      throw ParseException(
        s"with('$key') needs a value: with('$key', <literal | __.sub>)")
    cur.next()
    val (l, s) =
      if (cur.peek.contains(TIdent("__"))) (None, Some(parseAnon(cur)))
      else cur.next() match {
        case TStr(v) => (Some(v: Any), None)
        case TNum(v) => (Some(num(v)), None)
        case t => throw ParseException(
          s"with('$key', …) value must be a literal or __.sub, got $t")
      }
    cur.expectPunct(')')
    WithModulator(key, l, s)
  }

  /** normalize a with()-key: strip the `~tinkerpop.<family>.` prefix
    * when it matches, refuse a prefix from a DIFFERENT step family
    * (with('~tinkerpop.pageRank.edges') on shortestPath() is a user
    * error, not an alias).
    */
  private def olapKey(key: String, family: String): String =
    if (key.startsWith("~tinkerpop.")) {
      val pre = s"~tinkerpop.$family."
      if (!key.startsWith(pre)) throw ParseException(
        s"with('$key') does not configure $family()")
      key.stripPrefix(pre)
    } else key

  /** edge-set sub for the OLAP with('edges', __.outE/inE/bothE(...))
    * modulators: one hop step, returns (labels, kind).
    */
  private def olapEdgeSub(sub: Seq[GStep], step: String): (Seq[String], String) =
    sub match {
      case Seq(GHop(kind, ls)) if Set("outE", "inE", "bothE")(kind) =>
        (ls, kind)
      case _ => throw ParseException(
        s"$step().with(…edges…) takes one __.outE/inE/bothE('l1', …) hop")
    }

  private def parseAsc(o: String): Boolean = o match {
    case "asc" | "incr" => true
    case "desc" | "decr" => false
    case other => throw ParseException(s"unknown order $other")
  }

  private def parseOrder(cur: Cursor): GStep = {
    cur.expectPunct('(')
    if (cur.atPunct(')')) { cur.next(); GOrder("", asc = true) } // await .by
    else {
      val k = cur.next() match {
        case TStr(s) => s
        case t => throw ParseException(s"order() key must be a string, got $t")
      }
      var asc = true
      if (cur.atPunct(',')) {
        cur.next()
        cur.next() match {
          case TIdent(o) => asc = parseAsc(o)
          case TStr(o) => asc = parseAsc(o)
          case t => throw ParseException(s"order must be asc/desc, got $t")
        }
      }
      cur.expectPunct(')')
      GOrder(k, asc)
    }
  }

  private def parseRepeat(cur: Cursor): GStep = {
    val sub = parseSubArg(cur)
    // require .times(n) or .until(stop) immediately, optionally via .emit()
    cur.expectPunct('.')
    var emit = false
    var nxt = cur.expectIdent()
    if (nxt == "emit") {
      emptyArgs(cur); emit = true
      cur.expectPunct('.')
      nxt = cur.expectIdent()
    }
    nxt match {
      case "times" => GRepeat(sub, parseIntArgs(cur, 1).head, emit)
      case "until" => parseUntil(cur, sub, emit)
      case _ => throw ParseException(
        "repeat(...) must be followed by [.emit()].times(n) or .until(...)")
    }
  }

  /** the until() stop conditions with a distributable meaning:
    *  - __.count().is(0): "no traversers survived another round" — the
    *    no-new-vertices fixed point, lowered onto repeatUntil (every
    *    vertex reached at depth ≥ 1, dedup'd; emit() is implied by
    *    that contract, so with or without emit() the result is the
    *    same and both spellings are accepted);
    *  - loops().is(n): stop after exactly n rounds = times(n);
    *  - a FILTER predicate (hasId/has/hasLabel/hasNot chains, with
    *    out/in/both hops allowed — "halt when the sub yields anything",
    *    where() semantics) — the target-reached stop: traversers
    *    matching it halt and are emitted, the rest keep expanding
    *    (GRepeatUntilStop).
    */
  private val UntilFilterHeads =
    Set("hasId", "has", "hasLabel", "hasNot", "out", "in", "both")

  private def parseUntil(cur: Cursor, sub: Seq[GStep], emit: Boolean): GStep = {
    cur.expectPunct('(')
    if (cur.peek.contains(TIdent("__"))) { cur.next(); cur.expectPunct('.') }
    val head = cur.expectIdent()
    def filterStep(name: String): GStep = name match {
      case "hasId" => GHasId(parseLongArgs(cur))
      case "has" => parseHas(cur)
      case "hasLabel" => GHasLabel(parseStrArgs(cur))
      case "hasNot" => GHasKey(parseStrArgs(cur) match {
        case Seq(k) => k
        case _ => throw ParseException("hasNot() takes exactly one key")
      }, neg = true)
      case "out" => GHop("out", parseStrArgs(cur))
      case "in" => GHop("in", parseStrArgs(cur))
      case "both" => GHop("both", parseStrArgs(cur))
      case other => throw ParseException(
        s"until(<predicate>) supports hasId/has/hasLabel/hasNot filter " +
          s"chains and out/in/both hop predicates (halt when the " +
          s"sub yields anything — where() semantics), got $other")
    }
    val step = head match {
      case h if UntilFilterHeads(h) =>
        val stops = Vector.newBuilder[GStep]
        stops += filterStep(h)
        while (cur.atPunct('.')) {
          cur.next()
          stops += filterStep(cur.expectIdent())
        }
        // emit() + target-reached stop (r13 verdict task 5): every
        // vertex reached at depth >= 1 is emitted, the predicate still
        // prunes expansion — repeatUntilReached's emitAll face
        GRepeatUntilStop(sub, stops.result(), emit)
      case "count" =>
        emptyArgs(cur); cur.expectPunct('.')
        if (cur.expectIdent() != "is")
          throw ParseException("until(count()...) must be count().is(0)")
        val n = parseIntArgs(cur, 1).head
        if (n != 0) throw ParseException(
          s"until(count().is($n)) is not distributable; only is(0) — the " +
            "no-new-vertices fixed point — is supported")
        GRepeatUntil(sub)
      case "loops" =>
        emptyArgs(cur); cur.expectPunct('.')
        if (cur.expectIdent() != "is")
          throw ParseException("until(loops()...) must be loops().is(n)")
        val n = parseIntArgs(cur, 1).head
        // TinkerPop's post-repeat until checks loops AFTER round 1, so
        // loops().is(0) never yields the depth-0 frontier there —
        // lowering it to repeat-0-times (the identity) would silently
        // diverge, and with emit() it trips repeatEmit's n>=1 guard
        if (n < 1) throw ParseException(
          s"until(loops().is($n)) never terminates at n<1 in TinkerPop " +
            "semantics (loops is already 1 at the first check); use n >= 1")
        GRepeat(sub, n, emit)
      case other => throw ParseException(
        s"until() supports __.count().is(0) (fixed point), " +
          s"loops().is(n) (= times(n)), or a hasId/has/hasLabel/hasNot " +
          s"filter chain (target-reached stop), got $other")
    }
    cur.expectPunct(')')
    step
  }

  private def parseHas(cur: Cursor): GStep = {
    cur.expectPunct('(')
    val k = cur.next() match {
      case TStr(s) => s
      case t => throw ParseException(s"has() key must be a string, got $t")
    }
    if (cur.atPunct(')')) { cur.next(); return GHasKey(k, neg = false) }
    cur.expectPunct(',')
    val p = cur.next() match {
      case TIdent(pred) => parsePredicate(pred, cur)
      case TStr(s) => P.Eq(s)
      case TNum(s) => P.Eq(num(s))
      case t => throw ParseException(s"has() value must be literal or predicate, got $t")
    }
    cur.expectPunct(')')
    GHas(k, p)
  }

  private def num(s: String): Any = if (s.contains('.')) s.toDouble else s.toLong

  private def parsePredicate(pred: String, cur: Cursor): P = {
    def lits(): Seq[Any] = {
      cur.expectPunct('(')
      val vs = Vector.newBuilder[Any]
      while (!cur.atPunct(')')) {
        cur.next() match {
          case TStr(s) => vs += s
          case TNum(s) => vs += num(s)
          case TIdent("true") => vs += true
          case TIdent("false") => vs += false
          case t => throw ParseException(s"expected literal in $pred(), got $t")
        }
        if (cur.atPunct(',')) cur.next()
      }
      cur.expectPunct(')')
      vs.result()
    }
    def one(): Any = lits() match {
      case Seq(v) => v
      case vs => throw ParseException(s"$pred() takes one argument, got ${vs.length}")
    }
    def two(): (Any, Any) = lits() match {
      case Seq(a, b) => (a, b)
      case vs => throw ParseException(s"$pred() takes two arguments, got ${vs.length}")
    }
    def str(): String = one() match {
      case s: String => s
      case v => throw ParseException(s"$pred() takes a string, got $v")
    }
    pred match {
      case "eq" => P.Eq(one())
      case "neq" => P.Neq(one())
      case "gt" => P.Gt(one())
      case "gte" => P.Gte(one())
      case "lt" => P.Lt(one())
      case "lte" => P.Lte(one())
      case "between" => val (a, b) = two(); P.Between(a, b)
      case "inside" => val (a, b) = two(); P.Inside(a, b)
      case "outside" => val (a, b) = two(); P.Outside(a, b)
      case "within" => P.Within(lits())
      case "without" => P.Without(lits())
      case "textContains" | "containing" => P.TextContains(str())
      case "startingWith" => P.StartsWith(str())
      case "endingWith" => P.EndsWith(str())
      case "notStartingWith" => P.NotStartsWith(str())
      case "notEndingWith" => P.NotEndsWith(str())
      case "notContaining" => P.NotTextContains(str())
      case "contains" => P.Contains(one())
      case "containsKey" => P.ContainsKey(str())
      case "textContainsAny" => P.TextContainsAny(lits().map {
        case s: String => s
        case v => throw ParseException(s"textContainsAny takes strings, got $v")
      })
      case other => throw ParseException(s"unknown predicate $other")
    }
  }

  private def parseStrArgs(cur: Cursor): Seq[String] = {
    cur.expectPunct('(')
    val out = Vector.newBuilder[String]
    while (!cur.atPunct(')')) {
      cur.next() match {
        case TStr(s) => out += s
        case t => throw ParseException(s"expected string argument, got $t")
      }
      if (cur.atPunct(',')) cur.next()
    }
    cur.expectPunct(')')
    out.result()
  }

  private def oneKey(cur: Cursor, name: String): String =
    parseStrArgs(cur) match {
      case Seq(k) => k
      case _ => throw ParseException(s"$name() takes exactly one key")
    }

  private def parseIntArgs(cur: Cursor, min: Int, max: Int = 1): Seq[Int] = {
    cur.expectPunct('(')
    val out = Vector.newBuilder[Int]
    while (!cur.atPunct(')')) {
      cur.next() match {
        case TNum(s) => out += s.toInt
        case t => throw ParseException(s"expected int argument, got $t")
      }
      if (cur.atPunct(',')) cur.next()
    }
    cur.expectPunct(')')
    val r = out.result()
    if (r.length < min || r.length > math.max(min, max))
      throw ParseException(s"expected $min..$max int arguments, got ${r.length}")
    r
  }

  private def emptyArgs(cur: Cursor): Unit = {
    cur.expectPunct('(')
    cur.expectPunct(')')
  }

  /** one anonymous sub-traversal argument:  ( __.step... )  */
  private def parseSubArg(cur: Cursor): Seq[GStep] = {
    cur.expectPunct('(')
    val sub = parseAnon(cur)
    cur.expectPunct(')')
    sub
  }

  /** comma-separated anonymous sub-traversals:  ( __. ... , __. ... ) */
  private def parseSubArgs(cur: Cursor): Seq[Seq[GStep]] = {
    cur.expectPunct('(')
    val subs = Vector.newBuilder[Seq[GStep]]
    while (!cur.atPunct(')')) {
      subs += parseAnon(cur)
      if (cur.atPunct(',')) cur.next()
    }
    cur.expectPunct(')')
    subs.result()
  }

  private def parseAnon(cur: Cursor): Seq[GStep] = {
    if (cur.expectIdent() != "__")
      throw ParseException("sub-traversal must start with __")
    val steps = Vector.newBuilder[GStep]
    while (cur.atPunct('.')) {
      cur.next()
      steps += parseStep(cur)
    }
    val r = fuseModulators(steps.result())
    if (r.isEmpty) throw ParseException("empty sub-traversal")
    r
  }

  /** fold ByModulator placeholders into the preceding order()/groupCount(). */
  private def fuseModulators(steps: Seq[GStep]): Seq[GStep] = {
    // on the inject value pipeline a bare sum()/mean()/min()/max()
    // aggregates the value stream itself — no values('k') to fuse with
    val injectChain = steps.headOption.exists(_.isInstanceOf[GInject])
    val out = Vector.newBuilder[GStep]
    var prev: Option[GStep] = None
    steps.foreach {
      case GAgg(op, "") => prev match {
        case Some(GValues(k)) => prev = Some(GAgg(op, k))
        case _ if injectChain =>
          prev.foreach(out += _); prev = Some(GAgg(op, ""))
        case _ => throw ParseException(s"$op() must follow values('k')")
      }
      case ByModulator(k, asc) => prev match {
        case Some(GSack(op, "")) => prev = Some(GSack(op, k))
        case Some(GOrder("", _)) => prev = Some(GOrder(k, asc))
        case Some(GGroupCount("")) => prev = Some(GGroupCount(k))
        case Some(GGroup("", "", "")) => prev = Some(GGroup(k, "", ""))
        case Some(GPath) => prev = Some(GPathBy(k))
        case Some(GPageRank(e, n, "")) => prev = Some(GPageRank(e, n, k))
        case Some(GProject(ls, bys)) if bys.length < ls.length =>
          prev = Some(GProject(ls, bys :+ GByKey(k)))
        case Some(GSelect(ls, bys)) if ls.length > 1 && bys.length < ls.length =>
          prev = Some(GSelect(ls, bys :+ GByKey(k)))
        case _ => throw ParseException(
          ".by() must follow order(), group(), groupCount(), path(), " +
            "project(), pageRank() or a multi-label select()")
      }
      case ByAggModulator(op, vk) => prev match {
        case Some(GGroup(key, "", "")) if key.nonEmpty =>
          prev = Some(GGroup(key, vk, op))
        case _ => throw ParseException(
          ".by(__.values...) must follow group().by('key')")
      }
      case BySubCountModulator(sub) => prev match {
        case Some(GProject(ls, bys)) if bys.length < ls.length =>
          prev = Some(GProject(ls, bys :+ GBySubCount(sub)))
        case Some(GSelect(ls, bys)) if ls.length > 1 && bys.length < ls.length =>
          prev = Some(GSelect(ls, bys :+ GBySubCount(sub)))
        case _ => throw ParseException(
          ".by(__.<steps>.count()) must follow project() or a " +
            "multi-label select()")
      }
      case WithModulator(key, l, s) => prev match {
        case Some(p @ GPageRank(_, _, _)) =>
          prev = Some(olapKey(key, "pageRank") match {
            case "edges" =>
              val (ls, kind) = olapEdgeSub(s.getOrElse(throw ParseException(
                "pageRank().with(…edges…) takes a __.outE(…) sub")), "pageRank")
              if (kind != "outE") throw ParseException(
                s"pageRank().with(…edges, __.$kind…): rank flows along " +
                  "the stored src→dst orientation — spell the walk with " +
                  "__.outE(labels)")
              p.copy(edgeLabels = ls)
            case "times" => l match {
              case Some(n: Long) if n >= 1 => p.copy(times = n.toInt)
              case _ => throw ParseException(
                "pageRank().with(…times, n) needs an integer n >= 1")
            }
            case "propertyName" => l match {
              case Some(k: String) => p.copy(prop = k)
              case _ => throw ParseException(
                "pageRank().with(…propertyName, 'k') needs a string key")
            }
            case other => throw ParseException(
              s"pageRank() has no '$other' configuration (supported: " +
                "edges, times, propertyName)")
          })
        case Some(p @ GConnectedComponent(_, _)) =>
          prev = Some(olapKey(key, "connectedComponent") match {
            case "edges" =>
              val (ls, _) = olapEdgeSub(s.getOrElse(throw ParseException(
                "connectedComponent().with(…edges…) takes a " +
                  "__.outE/inE/bothE(…) sub")), "connectedComponent")
              p.copy(edgeLabels = ls)
            case "propertyName" => l match {
              case Some(k: String) => p.copy(prop = k)
              case _ => throw ParseException(
                "connectedComponent().with(…propertyName, 'k') needs a " +
                  "string key")
            }
            case other => throw ParseException(
              s"connectedComponent() has no '$other' configuration " +
                "(supported: edges, propertyName)")
          })
        case Some(p @ GShortestPath(_, _, _, _, _)) =>
          prev = Some(olapKey(key, "shortestPath") match {
            case "edges" =>
              val (ls, kind) = olapEdgeSub(s.getOrElse(throw ParseException(
                "shortestPath().with(…edges…) takes a __.outE/inE(…) " +
                  "sub")), "shortestPath")
              if (kind == "bothE") throw ParseException(
                "shortestPath().with(…edges, __.bothE…): the certified " +
                  "single-source programs are DIRECTED — use __.outE " +
                  "(src→dst) or __.inE (dst→src)")
              p.copy(edgeLabels = ls, reverse = kind == "inE")
            case "target" =>
              val sub = s.getOrElse(throw ParseException(
                "shortestPath().with(…target…) takes a filter sub"))
              sub.foreach {
                case GHasLabel(_) | GHas(_, _) | GHasId(_) | GHasKey(_, _) => ()
                case st => throw ParseException(
                  s"shortestPath().with(…target…) supports hasId/has/" +
                    s"hasLabel/hasNot filter chains (each vertex either " +
                    s"is or is not a target), got $st")
              }
              p.copy(target = sub)
            case "distance" => l match {
              case Some(k: String) => p.copy(weightProp = k)
              case _ => throw ParseException(
                "shortestPath().with(…distance, 'edgeProp') needs a " +
                  "string edge-property key")
            }
            case "maxDistance" => l match {
              case Some(n: Long) if n >= 0 => p.copy(maxDist = n)
              case _ => throw ParseException(
                "shortestPath().with(…maxDistance, n) needs an integer " +
                  "n >= 0")
            }
            case "includeEdges" => throw ParseException(
              "shortestPath().with(…includeEdges…): paths are not " +
                "materialized here — the distance relation is the " +
                "scalable reading; recover edges by joining it with E()")
            case other => throw ParseException(
              s"shortestPath() has no '$other' configuration (supported: " +
                "edges, target, distance, maxDistance)")
          })
        case _ => throw ParseException(
          ".with() must follow pageRank(), connectedComponent() or " +
            "shortestPath()")
      }
      case s =>
        prev.foreach(out += _)
        prev = Some(s)
    }
    prev.foreach(out += _)
    out.result().map {
      case GOrder("", _) =>
        throw ParseException("order() needs a key: order('k') or order().by('k')")
      case GGroupCount("") =>
        throw ParseException("groupCount() needs a key: groupCount('k') or groupCount().by('k')")
      case GGroup(k, v, op) if k.isEmpty || v.isEmpty || op.isEmpty =>
        throw ParseException(
          "group() needs .by('key').by(__.values('k').sum()/mean()/min()/max())")
      case GProject(ls, bys) if bys.length != ls.length =>
        throw ParseException(
          s"project(${ls.mkString(", ")}) needs one .by() per label " +
            s"(got ${bys.length} of ${ls.length})")
      case GSack(op, "") =>
        throw ParseException(s"sack($op) needs .by('k'): which property " +
          "folds into the sack")
      case s => s
    }
  }

  // ---------- renderer (parse's inverse) ----------

  /** Render an AST back to query text — `parse(render(s)) == s` for
    * every AST parse can produce (property-tested). Useful for
    * programmatic query construction and for logging the canonical
    * form of a user query.
    */
  def render(steps: Seq[GStep]): String = {
    def lit(v: Any): String = v match {
      case s: String => s"'$s'"
      case d: Double => d.toString
      case other => other.toString
    }
    def pred(p: P): String = p match {
      case P.Eq(v) => s"eq(${lit(v)})"
      case P.Neq(v) => s"neq(${lit(v)})"
      case P.Gt(v) => s"gt(${lit(v)})"
      case P.Gte(v) => s"gte(${lit(v)})"
      case P.Lt(v) => s"lt(${lit(v)})"
      case P.Lte(v) => s"lte(${lit(v)})"
      case P.Between(a, b) => s"between(${lit(a)}, ${lit(b)})"
      case P.Inside(a, b) => s"inside(${lit(a)}, ${lit(b)})"
      case P.Outside(a, b) => s"outside(${lit(a)}, ${lit(b)})"
      case P.Within(vs) => s"within(${vs.map(lit).mkString(", ")})"
      case P.Without(vs) => s"without(${vs.map(lit).mkString(", ")})"
      case P.TextContains(s) => s"textContains(${lit(s)})"
      case P.StartsWith(s) => s"startingWith(${lit(s)})"
      case P.EndsWith(s) => s"endingWith(${lit(s)})"
      case P.NotStartsWith(s) => s"notStartingWith(${lit(s)})"
      case P.NotEndsWith(s) => s"notEndingWith(${lit(s)})"
      case P.NotTextContains(s) => s"notContaining(${lit(s)})"
      case P.Contains(v) => s"contains(${lit(v)})"
      case P.ContainsKey(k) => s"containsKey(${lit(k)})"
      case P.TextContainsAny(ws) => s"textContainsAny(${ws.map(lit).mkString(", ")})"
    }
    def strs(ls: Seq[String]) = ls.map(l => s"'$l'").mkString(", ")
    def anon(sub: Seq[GStep]) = "__" + sub.map(s => "." + step(s)).mkString
    def step(s: GStep): String = s match {
      case GSource(true, _) => "E()"
      case GSource(false, ids) => s"V(${ids.mkString(", ")})"
      case GInject(vals) => s"inject(${vals.map(lit).mkString(", ")})"
      case GWithSack(init) => s"withSack($init)"
      case GSack(op, k) => s"sack($op).by('$k')"
      case GSackEmit => "sack()"
      case GIs(p) => s"is(${pred(p)})"
      case GCoin(p) => s"coin($p)"
      case GElementMap(ks) => s"elementMap(${strs(ks)})"
      case GHasLabel(ls) => s"hasLabel(${strs(ls)})"
      case GHas(k, p) => s"has('$k', ${pred(p)})"
      case GHasId(ids) => s"hasId(${ids.mkString(", ")})"
      case GHasKey(k, false) => s"has('$k')"
      case GHasKey(k, true) => s"hasNot('$k')"
      // the fused form: values(k).op() re-fuses to GAgg(op, k) on parse
      case GAgg(op, k) if k.nonEmpty => s"values('$k').$op()"
      // the bare form survives only on the inject value pipeline
      case GAgg(op, _) => s"$op()"
      case GHop(kind, ls) => s"$kind(${strs(ls)})"
      case GToV(kind) => s"$kind()"
      case GRepeat(sub, n, emit) =>
        s"repeat(${anon(sub)})" + (if (emit) ".emit()" else "") + s".times($n)"
      case GRepeatUntil(sub) =>
        s"repeat(${anon(sub)}).until(__.count().is(0))"
      case GRepeatUntilStop(sub, stop, emit) =>
        s"repeat(${anon(sub)})" + (if (emit) ".emit()" else "") +
          s".until(${anon(stop)})"
      case GId => "id()"
      case GLabel => "label()"
      case GFold => "fold()"
      case GUnfold => "unfold()"
      case GPathBy(k) => s"path().by('$k')"
      case GWhere(sub, false) => s"where(${anon(sub)})"
      case GWhere(sub, true) => s"not(${anon(sub)})"
      case GUnion(subs) => s"union(${subs.map(anon).mkString(", ")})"
      case GCoalesce(subs) => s"coalesce(${subs.map(anon).mkString(", ")})"
      case GChoose(c, t, Nil) => s"choose(${anon(c)}, ${anon(t)})"
      case GChoose(c, t, f) => s"choose(${anon(c)}, ${anon(t)}, ${anon(f)})"
      case GProject(ls, bys) =>
        s"project(${strs(ls)})" + bys.map {
          case GByKey(k) => s".by('$k')"
          case GBySubCount(sub) => s".by(${anon(sub)}.count())"
        }.mkString
      case GMatch(ps) => "match(" + ps.map { case (a, mid, b) =>
        anon((GAs(a) +: mid) :+ GAs(b))
      }.mkString(", ") + ")"
      case GAggregate(k) => s"aggregate('$k')"
      case GStore(k) => s"store('$k')"
      case GSideEffect(sub) => s"sideEffect(${anon(sub)})"
      case GSubgraph(k) => s"subgraph('$k')"
      case GBarrier => "barrier()"
      case GIdentity => "identity()"
      case GCap(k) => s"cap('$k')"
      case GLocal(sub, "", _, n) => s"local(${anon(sub)}.limit($n))"
      case GLocal(sub, k, asc, n) =>
        s"local(${anon(sub)}.order('$k', ${if (asc) "asc" else "desc"})" +
          s".limit($n))"
      case GOptional(sub) => s"optional(${anon(sub)})"
      case GAs(l) => s"as('$l')"
      case GSelect(ls, bys) =>
        s"select(${strs(ls)})" + bys.map {
          case GByKey(k) => s".by('$k')"
          case GBySubCount(sub) => s".by(${anon(sub)}.count())"
        }.mkString
      case GPageRank(ls, times, prop) =>
        "pageRank()" +
          (if (ls.nonEmpty)
            s".with('~tinkerpop.pageRank.edges', __.outE(${strs(ls)}))"
          else "") +
          (if (times != 10)
            s".with('~tinkerpop.pageRank.times', $times)" else "") +
          (if (prop.nonEmpty) s".by('$prop')" else "")
      case GConnectedComponent(ls, prop) =>
        "connectedComponent()" +
          (if (ls.nonEmpty)
            s".with('~tinkerpop.connectedComponent.edges', __.outE(${strs(ls)}))"
          else "") +
          (if (prop.nonEmpty)
            s".with('~tinkerpop.connectedComponent.propertyName', '$prop')"
          else "")
      case GShortestPath(ls, rev, w, target, maxDist) =>
        "shortestPath()" +
          (if (ls.nonEmpty || rev)
            s".with('~tinkerpop.shortestPath.edges', " +
              s"__.${if (rev) "inE" else "outE"}(${strs(ls)}))"
          else "") +
          (if (target.nonEmpty)
            s".with('~tinkerpop.shortestPath.target', ${anon(target)})"
          else "") +
          (if (w.nonEmpty)
            s".with('~tinkerpop.shortestPath.distance', '$w')" else "") +
          (if (maxDist >= 0)
            s".with('~tinkerpop.shortestPath.maxDistance', $maxDist)"
          else "")
      case GDedup => "dedup()"
      case GLimit(n) => s"limit($n)"
      case GRange(lo, hi) => s"range($lo, $hi)"
      case GSkip(n) => s"skip($n)"
      case GOrder(k, asc) => s"order('$k', ${if (asc) "asc" else "desc"})"
      case GSample(d, 0) => s"sample($d)"
      case GSample(d, b) => s"sample($d, $b)"
      case GSimplePath => "simplePath()"
      case GCount => "count()"
      case GValues(k) => s"values('$k')"
      case GMath(e) => s"math('$e')"
      case GValueMap(ks) => s"valueMap(${strs(ks)})"
      case GGroupCount(k) => s"groupCount('$k')"
      case GGroup(k, v, op) => s"group().by('$k').by(__.values('$v').$op())"
      case GPath => "path()"
      case GTree => "tree()"
      case GCyclicPath => "cyclicPath()"
      case other => // ByModulator never survives fuseModulators
        throw ParseException(s"unrenderable step $other")
    }
    "g." + steps.map(step).mkString(".")
  }

  // ---------- compiler ----------

  /** Compile + run a Gremlin string against a graph. Terminal steps
    * (count/values/valueMap/groupCount/path) yield their DataFrame;
    * a chain without a terminal yields the frontier's full frame.
    */
  def run(g: PropertyGraph, query: String): DataFrame = {
    val steps0 = parse(query)
    val (sackInit, steps) = steps0.head match {
      case GWithSack(i) => (Some(i), steps0.tail)
      case _ => (None, steps0)
    }
    steps.head match {
      case GInject(vals) =>
        if (sackInit.nonEmpty) throw new IllegalArgumentException(
          "withSack() does not compose with the inject() value source")
        return runInject(g, vals, steps.tail)
      case _ => ()
    }
    val src = steps.head.asInstanceOf[GSource]
    // the hasLabel run that opens a V()/E() chain is applied to the
    // source itself, before the sack/path riders below: on a schema'd
    // graph the start then reads only those labels' frames
    val (lead, rest) = src match {
      case GSource(_, Seq()) => steps.tail.span(_.isInstanceOf[GHasLabel])
      case _ => (Nil, steps.tail)
    }
    var t = src match {
      case GSource(true, _) => g.E
      case GSource(false, Seq()) => g.V
      case GSource(false, ids) => g.V(ids: _*)
    }
    t = lead.foldLeft(t)(applyStep)
    sackInit.foreach(i => t = t.withSackInit(i))
    if (rest.contains(GPath) || rest.contains(GTree) ||
        rest.contains(GSimplePath) || rest.contains(GCyclicPath) ||
        rest.exists(_.isInstanceOf[GPathBy])) t = t.withPath
    var result: Option[DataFrame] = None
    // fold() barrier state: the frontier id bag as one list row; only
    // unfold() may follow (or the chain ends with the list itself)
    var folded: Option[DataFrame] = None
    // aggregate('x') side-effect store: a snapshot is the frontier's
    // id-bag PLAN at that point in the chain (lazy, immutable — the
    // traversal value `t` never mutates, so the captured frame is
    // exactly the aggregate-time frontier)
    val sideEffects = scala.collection.mutable.Map.empty[String, DataFrame]
    // rider bookkeeping: fold() and repeat().until() are whole-frontier
    // barriers that consume path history and as() tags (they dedup or
    // collapse by vertex). A path step CONSUMED before the barrier is
    // fine; a consumer AFTER it gets a clean positional error here
    // instead of the opaque downstream failure the lost column causes.
    var pathBroken: Option[String] = None
    var liveTags = Set.empty[String]
    var lostTags = Set.empty[String]
    rest.foreach { s =>
      if (result.nonEmpty) s match {
        // count().is(gt(n)) / sum().is(...) / values(k).is(...) — the
        // TinkerPop post-aggregate filter idiom: is() applies to any
        // single-column terminal result (chains compose: each filters
        // the running result)
        case GIs(p) =>
          val r = result.get
          if (r.columns.length != 1) throw new IllegalArgumentException(
            s"is() after a terminal needs a single-column result, got " +
              s"(${r.columns.mkString(", ")})")
          result = Some(r.filter(p.toColumn(namedCol(r.columns.head))))
        // math() over the value stream a terminal produced — the
        // column keeps its name so is()/math() chains compose
        case GMath(e) =>
          val r = result.get
          if (r.columns.length != 1) throw new IllegalArgumentException(
            s"math() after a terminal needs a single-column result, got " +
              s"(${r.columns.mkString(", ")})")
          val cn = r.columns.head
          result = Some(r.select(mathColumn(e, namedCol(cn)).as(cn)))
        // the OLAP readout tail: order()/limit()/values() compose after
        // any relation-producing terminal (TinkerPop's
        // pageRank().order().by('rank').limit(k) idiom) — each is one
        // Catalyst operator over the terminal's named columns
        case GOrder(k, asc) =>
          val r = result.get
          if (!r.columns.contains(k)) throw new IllegalArgumentException(
            s"order().by('$k') after a terminal: no such column " +
              s"(have: ${r.columns.mkString(", ")})")
          result = Some(r.orderBy(if (asc) namedCol(k).asc else namedCol(k).desc))
        case GLimit(n) => result = Some(result.get.limit(n))
        case GValues(k) =>
          val r = result.get
          if (!r.columns.contains(k)) throw new IllegalArgumentException(
            s"values('$k') after a terminal: no such column " +
              s"(have: ${r.columns.mkString(", ")})")
          result = Some(r.select(namedCol(k)))
        case _ => throw ParseException(s"step after terminal: $s")
      }
      else {
      if (folded.nonEmpty && s != GUnfold && s != GBarrier && s != GIdentity)
        throw new IllegalArgumentException(
          s"only unfold() may follow fold(), got $s")
      s match { // positional rider checks (never consumes the step)
        case GAs(l) => liveTags += l; lostTags -= l
        case GFold | GRepeatUntil(_) | GRepeatUntilStop(_, _, _) =>
          pathBroken = Some(if (s == GFold) "fold()" else "repeat().until()")
          lostTags ++= liveTags; liveTags = Set.empty
        case GPath | GTree | GSimplePath | GCyclicPath | GPathBy(_)
            if pathBroken.nonEmpty =>
          throw new IllegalArgumentException(
            s"path history does not survive ${pathBroken.get} (a " +
              "whole-frontier barrier); move the path step before it, " +
              "or use repeat().times(n)")
        case GSack(_, _) | GSackEmit if pathBroken.nonEmpty =>
          throw new IllegalArgumentException(
            s"the sack does not survive ${pathBroken.get} (a " +
              "whole-frontier barrier); read or aggregate the sack " +
              "before it")
        case GSelect(ls, _) =>
          val dead = ls.filterNot(liveTags).filter(lostTags)
          if (dead.nonEmpty) throw new IllegalArgumentException(
            s"as(${dead.map(l => s"'$l'").mkString(", ")}) does not " +
              s"survive ${pathBroken.get} (a whole-frontier barrier); " +
              "re-tag after it or move the select before it")
        case _ => ()
      }
      if (folded.nonEmpty && (s == GBarrier || s == GIdentity)) ()
      else s match {
        case GFold => folded = Some(t.foldIds())
        case GUnfold =>
          val f = folded.getOrElse(throw new IllegalArgumentException(
            "unfold() has no fold() before it"))
          t = Traversal.unfoldIds(g, f)
          folded = None
        case GId => result = Some(t.idsDF())
        case GLabel => result = Some(t.labelsDF())
        case GPathBy(k) => result = Some(t.pathsBy(k))
        case GSideEffect(sub) =>
          val (body, key, name) = sub.lastOption match {
            case Some(GAggregate(k)) => (sub.dropRight(1), k, "aggregate")
            case Some(GStore(k)) => (sub.dropRight(1), k, "store")
            case _ => throw new IllegalArgumentException(
              "sideEffect(sub) must END in aggregate('k')/store('k') — " +
                "named snapshots are the only side effects this engine " +
                "has; an effect-free detour is identity (write the " +
                "steps inline)")
          }
          val detour = subFn(body)(t)
          if (detour.isEdge) throw new IllegalArgumentException(
            s"sideEffect(...$name('$key')) needs a vertex frontier at " +
              "the snapshot; end the detour with inV()/outV()/otherV()")
          sideEffects(key) = detour.toDF.select(
            org.apache.spark.sql.functions.col("id"))
          // t is untouched — the detour is invisible to the main chain
        case GSubgraph(k) =>
          if (!t.isEdge) throw new IllegalArgumentException(
            s"subgraph('$k') snapshots EDGES — put it after " +
              "outE()/inE()/bothE() (a vertex frontier has no edge to " +
              "collect)")
          sideEffects(k) = t.toDF.select(
            org.apache.spark.sql.functions.col("src"),
            org.apache.spark.sql.functions.col("label"),
            org.apache.spark.sql.functions.col("dst"))
        case GAggregate(_) | GStore(_) => // store = the legacy spelling
          val (k, name) = s match {
            case GAggregate(k0) => (k0, "aggregate")
            case _ => (s.asInstanceOf[GStore].key, "store")
          }
          // query-shape guard (mirrors cap()'s style): an edge frontier
          // has no id column — (src, label, sort_key, dst) identify an
          // edge — so a raw select("id") would surface as an opaque
          // AnalysisException instead of a clean error
          if (t.isEdge) throw new IllegalArgumentException(
            s"$name('$k') needs a vertex frontier; move it after " +
              "inV()/outV()/otherV()")
          sideEffects(k) = t.toDF.select(
            org.apache.spark.sql.functions.col("id"))
        case GCap(k) =>
          // a query-shape error, not a parse error: the text parsed
          // fine, the chain just never aggregated under this key
          result = Some(sideEffects.getOrElse(k,
            throw new IllegalArgumentException(
              s"cap('$k') has no aggregate('$k')/store('$k')/" +
                s"subgraph('$k') before it")))
        case GAgg("sum", k) => result = Some(t.sumOf(k))
        case GAgg("mean", k) => result = Some(t.meanOf(k))
        case GAgg("min", k) => result = Some(t.minOf(k))
        case GAgg("max", k) => result = Some(t.maxOf(k))
        case GGroup(k, v, op) => result = Some(t.group(k, v, op))
        case GSelect(ls, bys) if ls.length > 1 =>
          result = Some(if (bys.isEmpty) t.select(ls: _*)
            else t.selectByClauses(ls, bys.map {
              case GByKey(k) => Traversal.ByKey(k)
              case GBySubCount(sub) => Traversal.BySubCount(subFn(sub))
            }))
        case GPageRank(labels, iters, prop0) =>
          if (t.isEdge) throw new IllegalArgumentException(
            "pageRank() decorates a vertex frontier; move it after " +
              "inV()/outV()/otherV()")
          val prop =
            if (prop0.isEmpty) "gremlin.pageRankVertexProgram.pageRank"
            else prop0
          val pr = Algorithms.pageRankExact(g.vertices.sparkSession, g,
            labels = labels, iters = iters)
          result = Some(t.idsDF().join(pr, "id")
            .select(col("id"), col("pr").as(prop)))
        case GConnectedComponent(labels, prop0) =>
          if (t.isEdge) throw new IllegalArgumentException(
            "connectedComponent() decorates a vertex frontier; move it " +
              "after inV()/outV()/otherV()")
          val prop =
            if (prop0.isEmpty) "gremlin.connectedComponentVertexProgram.component"
            else prop0
          val gg =
            if (labels.isEmpty) g else PropertyGraph(g.vertices, g.edgesOf(labels))
          val cc = Algorithms.connectedComponents(g.vertices.sparkSession, gg)
          result = Some(t.idsDF().join(cc, "id")
            .select(col("id"), col("component").as(prop)))
        case GShortestPath(labels, reverse, wprop, target, maxDist) =>
          val srcIds = src match {
            case GSource(false, ids) => ids
            case _ => Nil
          }
          if (srcIds.isEmpty || !rest.headOption.contains(s))
            throw new IllegalArgumentException(
              "shortestPath() runs the certified SINGLE-SOURCE programs " +
                "— spell the sources as explicit ids directly after the " +
                "source (g.V(id…).shortestPath()); a computed frontier " +
                "would mean one single-source search per frontier vertex")
          val spark = g.vertices.sparkSession
          if (wprop.nonEmpty && !g.edges.columns.contains(wprop))
            throw new IllegalArgumentException(
              s"shortestPath().with(…distance, '$wprop'): no such edge " +
                s"property (have: ${g.edges.columns.mkString(", ")})")
          var out = srcIds.map { sid =>
            val d =
              if (wprop.isEmpty)
                Algorithms.ssspHops(spark, g, sid, labels, reverse)
              else
                Algorithms.ssspWeighted(spark, g, sid,
                  col(wprop).cast("long"), labels, reverse)
            d.select(lit(sid).as("source"), col("id"), col("dist"))
          }.reduce(_ unionByName _)
          if (maxDist >= 0) out = out.filter(col("dist") <= maxDist)
          if (target.nonEmpty)
            out = out.join(
              subFn(target)(Traversal.vertices(g)).toDF.select(col("id")),
              Seq("id"), "left_semi")
          result = Some(out.select(col("source"), col("id"), col("dist")))
        case GPath => result = Some(t.paths)
        case GTree => result = Some(t.treeEdges())
        case GCount => result = Some(t.count())
        case GValues(k) => result = Some(t.values(k))
        case GValueMap(ks) => result = Some(t.valueMap(ks: _*))
        case GElementMap(ks) => result = Some(t.elementMap(ks: _*))
        case GSackEmit => result = Some(t.sackValues())
        case GGroupCount(k) => result = Some(t.groupCount(k))
        case GMatch(ps) =>
          result = Some(t.matchPatterns(ps.head._1,
            ps.map { case (a, mid, b) => (a, subFn(mid), b) }: _*))
        case GProject(ls, bys) =>
          result = Some(t.project(ls.zip(bys.map {
            case GByKey(k) => Traversal.ByKey(k)
            case GBySubCount(sub) => Traversal.BySubCount(subFn(sub))
          }): _*))
        case other => t = applyStep(t, other)
      }
      }
    }
    result.orElse(folded).getOrElse(t.toDF)
  }

  /** the inject() value pipeline: a constant value stream with the
    * follow-on steps that have a clean relational reading over one
    * `value` column. Homogeneous types only (all integral, all
    * numeric, all string, or all boolean) — a mixed list has no single
    * column type.
    */
  private def runInject(g: PropertyGraph, vals: Seq[Any],
                        rest: Seq[GStep]): DataFrame = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val vdf0: DataFrame =
      if (vals.forall(_.isInstanceOf[Long]))
        vals.map(_.asInstanceOf[Long]).toDF("value")
      else if (vals.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Double]))
        vals.map {
          case l: Long => l.toDouble
          case d: Double => d
          case v => throw new IllegalArgumentException(s"unexpected $v")
        }.toDF("value")
      else if (vals.forall(_.isInstanceOf[String]))
        vals.map(_.asInstanceOf[String]).toDF("value")
      // the literal grammar accepts true/false, so the ladder must too
      // (ADVICE r13: an all-boolean inject died with the misleading
      // "all numbers or all strings" error at run time)
      else if (vals.forall(_.isInstanceOf[Boolean]))
        vals.map(_.asInstanceOf[Boolean]).toDF("value")
      else throw new IllegalArgumentException(
        "inject() values must be homogeneous (all numbers, all strings " +
          "or all booleans)")
    var vdf = vdf0
    var result: Option[DataFrame] = None
    rest.foreach { s =>
      if (result.nonEmpty) s match {
        case GIs(p) =>
          val r = result.get
          result = Some(r.filter(p.toColumn(namedCol(r.columns.head))))
        case _ => throw ParseException(s"step after terminal: $s")
      }
      else s match {
        case GDedup => vdf = vdf.distinct()
        case GLimit(n) => vdf = vdf.limit(n)
        case GSkip(n) => vdf = vdf.offset(n)
        case GRange(lo, hi) => vdf = vdf.offset(lo).limit(hi - lo)
        case GIs(p) => vdf = vdf.filter(p.toColumn(col("value")))
        case GMath(e) =>
          if (vdf.schema.head.dataType ==
              org.apache.spark.sql.types.StringType)
            throw new IllegalArgumentException(
              "math() needs a numeric value stream; this inject() " +
                "pipeline carries strings")
          vdf = vdf.select(mathColumn(e, col("value")).as("value"))
        case GCount => result = Some(vdf.agg(count(lit(1)).as("cnt")))
        case GAgg("sum", "") => result = Some(vdf.agg(sum(col("value")).as("sum_value")))
        case GAgg("mean", "") => result = Some(vdf.agg(avg(col("value")).as("mean_value")))
        case GAgg("min", "") => result = Some(vdf.agg(min(col("value")).as("min_value")))
        case GAgg("max", "") => result = Some(vdf.agg(max(col("value")).as("max_value")))
        case GFold => result = Some(
          vdf.agg(sort_array(collect_list(col("value"))).as("values")))
        case other => throw new IllegalArgumentException(
          s"inject() value stream supports dedup/limit/skip/range/is/" +
            s"math/count/sum/mean/min/max/fold, got $other")
      }
    }
    result.getOrElse(vdf)
  }

  private def subFn(sub: Seq[GStep]): Traversal => Traversal =
    t0 => sub.foldLeft(t0)(applyStep)

  /** col() reads '.' as struct-field access — backtick-quote plain
    * column names that contain one (the TinkerPop OLAP default
    * property names: gremlin.pageRankVertexProgram.pageRank etc.).
    */
  private def namedCol(k: String): org.apache.spark.sql.Column =
    col(if (k.contains(".")) s"`$k`" else k)

  /** compile a math() expression to ONE Column over the current value
    * traverser (`_`). Recursive descent:
    * {{{
    * expr  := term (('+'|'-') term)*
    * term  := unary (('*'|'/'|'%') unary)*
    * unary := '-' unary | pow           // '-' BELOW '^' (exp4j): -2^2 = -4
    * pow   := atom ('^' unary)?         // right-associative, signed exponent ok
    * atom  := number | '_' | fn '(' expr ')' | '(' expr ')'
    * }}}
    * fn ∈ abs/ceil/floor/sqrt/exp/log/log10/signum/sin/cos/tan — each
    * maps to the codegen'd Spark built-in, so the whole expression
    * stays inside whole-stage codegen (and a SQL oracle replays it
    * operator-for-operator: IEEE-754 doubles both sides). Any other
    * identifier is refused with the label-operand explanation.
    */
  private def mathColumn(expr: String, in: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    type Col = org.apache.spark.sql.Column
    var i = 0
    def ws(): Unit = while (i < expr.length && expr.charAt(i).isWhitespace) i += 1
    def peekCh: Char = if (i < expr.length) expr.charAt(i) else ' '
    def fail(msg: String): Nothing =
      throw ParseException(s"math('$expr') at position $i: $msg")
    def atom(): Col = {
      ws()
      peekCh match {
        case '(' =>
          i += 1; val e = add(); ws()
          if (peekCh != ')') fail("expected ')'")
          i += 1; e
        case '_' =>
          i += 1
          if (i < expr.length && (expr.charAt(i).isLetterOrDigit
              || expr.charAt(i) == '_'))
            fail("only '_' (the current value) is a legal operand")
          in.cast("double")
        case c if c.isDigit || c == '.' =>
          val j = i
          var dotSeen = false
          while (i < expr.length && (expr.charAt(i).isDigit
            || expr.charAt(i) == '.')) {
            if (expr.charAt(i) == '.') {
              if (dotSeen) fail("malformed number: second '.'")
              dotSeen = true
            }
            i += 1
          }
          val s = expr.substring(j, i)
          if (s == ".") fail("malformed number: '.' alone")
          lit(s.toDouble)
        case c if c.isLetter =>
          val j = i
          while (i < expr.length && expr.charAt(i).isLetter) i += 1
          val name = expr.substring(j, i)
          ws()
          if (peekCh != '(')
            fail(s"'$name' looks like a label operand — math() here " +
              "computes over the current VALUE traverser ('_') only " +
              "(as()-tags bind vertex ids, not by()-modulated " +
              "properties); select the property and compute " +
              "relationally instead")
          i += 1; val arg = add(); ws()
          if (peekCh != ')') fail("expected ')'")
          i += 1
          name match {
            case "abs" => abs(arg)
            case "ceil" => ceil(arg).cast("double")
            case "floor" => floor(arg).cast("double")
            case "sqrt" => sqrt(arg)
            case "exp" => exp(arg)
            case "log" => log(arg)
            case "log10" => log10(arg)
            case "signum" => signum(arg)
            case "sin" => sin(arg)
            case "cos" => cos(arg)
            case "tan" => tan(arg)
            case other => fail(s"unknown function '$other' (supported: " +
              "abs/ceil/floor/sqrt/exp/log/log10/signum/sin/cos/tan)")
          }
        case _ => fail("expected a number, '_', a function, or '('")
      }
    }
    // Precedence matches TinkerPop's math() (exp4j): power binds TIGHTER
    // than unary minus, so '-2^2' is -(2^2) = -4, while an exponent may
    // itself be signed ('2^-3' = 0.125). Hence unary sits ABOVE powT and
    // the exponent recurses through unary (right-associative).
    def unary(): Col = {
      ws()
      if (peekCh == '-') { i += 1; lit(0.0) - unary() } else powT()
    }
    def powT(): Col = {
      val base = atom(); ws()
      if (peekCh == '^') { i += 1; pow(base, unary()) } else base
    }
    def mul(): Col = {
      var e = unary(); ws()
      while (peekCh == '*' || peekCh == '/' || peekCh == '%') {
        val op = peekCh; i += 1
        val r = unary()
        e = op match {
          case '*' => e * r
          case '/' => e / r
          case _ => e % r
        }
        ws()
      }
      e
    }
    def add(): Col = {
      var e = mul(); ws()
      while (peekCh == '+' || peekCh == '-') {
        val op = peekCh; i += 1
        val r = mul()
        e = if (op == '+') e + r else e - r
        ws()
      }
      e
    }
    val res = add(); ws()
    if (i < expr.length) fail(s"trailing input '${expr.substring(i)}'")
    res.cast("double")
  }

  /** nondeterministic-cut detection for choose() conds (ADVICE r12,
    * tightened per ADVICE r13): a limit/range/skip inside the cond
    * makes its result set run-dependent, so the semi/anti pair could
    * double-route or drop a row if the shared subplan were ever
    * evaluated twice — such conds compile with `pinCond = true`
    * (materialized once via localCheckpoint). ANY cut pins: the old
    * order()-before-the-cut exemption was unsound twice over — a hop
    * or branch AFTER the order() destroys it, and order() on a
    * tie-heavy property key is not a total order in the first place —
    * and the pin costs one localCheckpoint of a narrow id set, far
    * cheaper than the silent double-route window the exemption left
    * open. sample() stays exempt: it is hash-deterministic by design
    * (a pure function of the data, no ordering involved).
    */
  private def hasUnorderedCut(steps: Seq[GStep]): Boolean =
    steps.exists {
      case GLimit(_) | GRange(_, _) | GSkip(_) => true
      case GLocal(sub, _, _, _) => hasUnorderedCut(sub)
      case GUnion(subs) => subs.exists(hasUnorderedCut)
      case GCoalesce(subs) => subs.exists(hasUnorderedCut)
      case GWhere(sub, _) => hasUnorderedCut(sub)
      case GOptional(sub) => hasUnorderedCut(sub)
      case GChoose(c, tr, f) =>
        hasUnorderedCut(c) || hasUnorderedCut(tr) || hasUnorderedCut(f)
      case GRepeat(sub, _, _) => hasUnorderedCut(sub)
      case GRepeatUntil(sub) => hasUnorderedCut(sub)
      case GRepeatUntilStop(sub, stop, _) =>
        hasUnorderedCut(sub) || hasUnorderedCut(stop)
      case _ => false
    }

  private def applyStep(t: Traversal, s: GStep): Traversal = s match {
    case GHasLabel(ls) => t.hasLabel(ls: _*)
    case GHas(k, p) => t.has(k, p)
    case GHasId(ids) => t.hasId(ids: _*)
    case GHop("out", ls) => t.out(ls: _*)
    case GHop("in", ls) => t.in(ls: _*)
    case GHop("both", ls) => t.both(ls: _*)
    case GHop("outE", ls) => t.outE(ls: _*)
    case GHop("inE", ls) => t.inE(ls: _*)
    case GHop("bothE", ls) => t.bothE(ls: _*)
    case GToV("inV") => t.inV
    case GToV("outV") => t.outV
    case GToV("otherV") => t.otherV
    case GRepeat(sub, n, false) => t.repeat(n)(subFn(sub))
    case GRepeat(sub, n, true) => t.repeatEmit(n)(subFn(sub))
    case GRepeatUntil(sub) => t.repeatUntil(subFn(sub))
    case GRepeatUntilStop(sub, stop, emit) =>
      t.repeatUntilReached(subFn(sub), subFn(stop), emitAll = emit)
    case GSimplePath => t.simplePath()
    case GCyclicPath => t.cyclicPath()
    case GWhere(sub, false) => t.where(subFn(sub))
    case GWhere(sub, true) => t.not(subFn(sub))
    case GUnion(subs) => t.union(subs.map(subFn): _*)
    case GCoalesce(subs) => t.coalesce(subs.map(subFn): _*)
    case GChoose(c, tr, Nil) =>
      t.choose(subFn(c), subFn(tr), pinCond = hasUnorderedCut(c))
    case GChoose(c, tr, f) =>
      t.choose(subFn(c), subFn(tr), subFn(f), pinCond = hasUnorderedCut(c))
    case GLocal(sub, k, asc, n) => t.localLimit(subFn(sub), n, k, asc)
    case GOptional(sub) => t.optional(subFn(sub))
    case GAs(l) => t.as(l)
    case GBarrier | GIdentity => t // full-barrier engine: pass-through
    case GHasKey(k, false) => t.hasKey(k)
    case GHasKey(k, true) => t.hasNot(k)
    case GSelect(Seq(l), Seq()) => t.selectStep(l)
    case GSelect(Seq(_), _) => throw new IllegalArgumentException(
      "select('a').by('k') on one label is ambiguous with the jump-back " +
        "step — use select('a').values('k') instead")
    case GDedup => t.dedup()
    case GLimit(n) => t.limit(n)
    case GRange(lo, hi) => t.range(lo, hi)
    case GSkip(n) => t.skip(n)
    case GOrder(k, asc) => t.order(k, asc)
    case GSample(d, b) => t.sample(d, b)
    case GCoin(p) => t.coin(p)
    case GSack(op, k) if k.nonEmpty => t.sackOp(op, k)
    case GIs(_) => throw new IllegalArgumentException(
      "is() filters a VALUE traverser — legal on the g.inject(...) " +
        "pipeline or after a single-column terminal " +
        "(count()/sum()/values('k')), not on an element frontier")
    case GMath(_) => throw new IllegalArgumentException(
      "math() computes over a VALUE traverser — legal on the " +
        "g.inject(...) pipeline or after a single-column terminal " +
        "(values('k')/count()/sum()/sack()), not on an element frontier")
    // a placement error, not a parse error: terminals/side-effect
    // steps inside a sub-traversal parse fine but cannot compile there
    case other => throw new IllegalArgumentException(
      s"cannot apply step $other here")
  }
}
