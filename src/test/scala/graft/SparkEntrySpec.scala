package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  test("oracle_sql.json parses back to exactly the oracle map") {
    val sql = SparkEntry.oracleSql +
      ("x_escapes" -> "SELECT '\"q\"', 'a\\b', '\t', '\r\n', '\u0001' -- end")
    val back = new ObjectMapper()
      .readValue(Verify.oracleJson(sql), classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql)
    assert(back.get("x_escapes").exists(_ == '\u0001'))
  }
}
