package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsOf
import graft.graph.PropertyGraph
import graft.queries.StoreOps

/** Guards the declared table schemas in `Tables`: a declared schema is
  * not checked against the parquet footer, so a misspelled column or a
  * wrong type would read as silent NULLs or fail deep inside a query.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The three sf dirs of TESTDATA.md, beside the test session's. */
  private val sfDirs: Seq[String] = {
    val root = Paths.get(TestSpark.sfDir).getParent
    Seq("sf0.001", "sf0.01", "sf0.1").map(d => root.resolve(d).toString)
  }

  for (dir <- sfDirs; t <- Tables.all)
    test(s"declared schema of $t equals the inferred one in ${Paths.get(dir).getFileName}") {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables.schemas(t) == inferred)
      assert(Tables.load(spark, dir, t).schema == inferred)
    }

  test("PropertyGraph.fromTpch launches no Spark job") {
    val (g, jobs) = jobsOf(PropertyGraph.fromTpch(spark, TestSpark.sfDir))
    assert(jobs == 0)
    // the counter sees jobs: the graph's first action launches some
    assert(jobsOf(g.vertices.limit(1).collect())._2 > 0)
  }

  test("StoreOps.r2PointGet launches no Spark job before its action") {
    val (df, jobs) = jobsOf(StoreOps.r2PointGet(spark, TestSpark.sfDir))
    assert(jobs == 0)
    val (rows, actionJobs) = jobsOf(df.collect())
    assert(rows.length == 1 && actionJobs > 0)
  }
}
