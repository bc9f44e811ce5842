package graft

import org.apache.spark.sql.SparkSession

/** Shared test session (one JVM-wide session; suites reuse it), under
  * the same policy as Bench and Verify (`graft.Session`).
  */
object TestSpark {
  lazy val spark: SparkSession =
    Session.local(4, s"${sys.props("java.io.tmpdir")}/graft_test_ckpt")
  val sfDir = "/root/testdata/sf0.001"
}
