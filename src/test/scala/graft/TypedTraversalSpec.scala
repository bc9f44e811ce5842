package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GremlinParser, PropertyGraph}

/** Differential check of schema-typed traversal: every query must give
  * the same rows on `fromTpch`, whose steps read only the per-label
  * frames their label sets allow, as on a graph over the same two
  * union frames with no schema, whose steps read the unions. The cases
  * cover each step that narrows, moves or resets a label set, and put
  * a hop after each resetting step, where a set kept by mistake would
  * read the wrong frames.
  */
class TypedTraversalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val typed = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
  private lazy val plain = PropertyGraph(typed.vertices, typed.edges)

  private val cust7 = PropertyGraph.encodeId("customer", 7L)
  private val nation3 = PropertyGraph.encodeId("nation", 3L)

  private val queries: Seq[(String, String)] = Seq(
    "hasLabel" -> "g.V().hasLabel('customer', 'region').groupCount('label')",
    "E hasLabel" -> "g.E().hasLabel('located_in').inV().dedup().count()",
    "V ids" -> s"g.V($cust7, $nation3).out().label()",
    "out chain" -> ("g.V().hasLabel('customer').out('placed')" +
      ".has('totalprice', gt(150000.0)).out('contains').dedup().count()"),
    "in chain" -> ("g.V().hasLabel('part').in('contains').in('placed')" +
      ".dedup().values('name')"),
    "both" -> ("g.V().hasLabel('nation').both('part_of').both('part_of')" +
      ".dedup().id()"),
    "outE inV" -> "g.V().hasLabel('customer').outE('placed').inV().values('totalprice')",
    "inE outV" -> "g.V().hasLabel('order').inE('placed').outV().dedup().id()",
    "outE otherV" -> "g.V().hasLabel('supplier').outE().otherV().values('name')",
    "inE otherV" -> "g.V().hasLabel('nation').inE().otherV().groupCount('label')",
    "bothE otherV" -> ("g.V().hasLabel('nation').bothE().otherV()" +
      ".out().groupCount('label')"),
    "as select" -> ("g.V().hasLabel('customer').as('c').out('placed')" +
      ".has('totalprice', gt(200000.0)).select('c').out('located_in').values('name')"),
    "select by" -> ("g.V().hasLabel('supplier').as('s').out('located_in').as('n')" +
      ".select('s', 'n').by('name')"),
    "path" -> ("g.V().hasLabel('region').in('part_of').in('located_in')" +
      ".hasLabel('supplier').path().by('name')"),
    "union then hop" -> ("g.V().hasLabel('customer')" +
      ".union(__.out('placed'), __.out('located_in')).out().groupCount('label')"),
    "coalesce then hop" -> ("g.V().hasLabel('nation')" +
      ".coalesce(__.in('located_in').hasLabel('supplier'), __.out('part_of'))" +
      ".out().groupCount('label')"),
    "optional then hop" -> ("g.V().hasLabel('region').optional(__.in('part_of'))" +
      ".in('located_in').groupCount('label')"),
    "choose then hop" -> ("g.V().hasLabel('nation')" +
      ".choose(__.in('located_in').hasLabel('supplier'), __.out('part_of')," +
      " __.in('located_in')).in().dedup().count()"),
    "repeat then hop" -> ("g.V().hasLabel('region').repeat(__.in()).times(2)" +
      ".out('placed').count()"),
    "repeat emit then hop" -> ("g.V().hasLabel('region').repeat(__.in()).emit()" +
      ".times(2).out().groupCount('label')"),
    "repeat until then hop" -> ("g.V().hasLabel('region').repeat(__.in())" +
      ".until(__.hasLabel('customer')).out('placed').count()"),
    "local then hop" -> ("g.V().hasLabel('nation')" +
      ".local(__.in('located_in').order('name', asc).limit(2))" +
      ".out('placed').count()"),
    "unfold then hop" -> ("g.V().hasLabel('nation').fold().unfold()" +
      ".out('part_of').count()"),
    "where keeps" -> ("g.V().hasLabel('customer')" +
      ".where(__.out('placed').has('totalprice', gt(200000.0)))" +
      ".out('located_in').dedup().values('name')"),
    "match" -> ("g.V().hasLabel('customer').has('mktsegment', eq('BUILDING'))" +
      ".match(__.as('c').out('placed').as('o'), __.as('o').out('contains').as('p'))"))

  private def rows(g: PropertyGraph, q: String): (Seq[(String, String)], Seq[String]) = {
    val df = GremlinParser.run(g, q)
    (df.schema.map(f => (f.name, f.dataType.catalogString)),
      df.collect().map(_.toString).toSeq.sorted)
  }

  queries.foreach { case (name, q) =>
    test(s"typed = untyped: $name") {
      val (typedSchema, typedRows) = rows(typed, q)
      val (plainSchema, plainRows) = rows(plain, q)
      assert(typedSchema == plainSchema, q)
      assert(plainRows.nonEmpty && !plainRows.contains("[0]"),
        s"vacuous case: $q gives $plainRows")
      assert(typedRows == plainRows, q)
    }
  }

  test("the DSL narrows like the parser") {
    val dsl = typed.V.hasLabel("customer").as("c").out("placed").selectStep("c")
      .out("located_in").dedup().count()
    val parsed = GremlinParser.run(typed,
      "g.V().hasLabel('customer').as('c').out('placed').select('c')" +
        ".out('located_in').dedup().count()")
    assert(dsl.collect().toSeq == parsed.collect().toSeq)
    assert(dsl.collect().head.getLong(0) > 0)
  }
}
