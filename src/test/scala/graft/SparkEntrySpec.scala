package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract's registry: the flagship smoke, and that every
  * operator group's queries and oracles land in the union. */
class SparkEntrySpec extends AnyFunSuite {

  test("entry returns rows on sf0.001 (the driver's flagship smoke)") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("the seven query groups register pairwise-disjoint names") {
    // a name clash inside `++` silently drops one group's query
    val groups = Seq(queries.StoreOps.defs, queries.Relational.defs,
      queries.GraphQueries.defs, queries.AlgoQueries.defs,
      queries.PipelineQueries.defs, queries.StreamingQueries.defs,
      queries.WriteQueries.defs)
    val clashes = groups.flatMap(_.keys).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }
    assert(clashes.isEmpty)
    assert(groups.map(_.size).sum == SparkEntry.queries.size)
  }

  test("every oracle names a registered query") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }
}
