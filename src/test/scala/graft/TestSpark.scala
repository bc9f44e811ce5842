package graft

import org.apache.spark.sql.SparkSession
import graft.sources.QueryMetrics

/** Shared test session (one JVM-wide session; suites reuse it), under
  * the same policy as Bench and Verify (`graft.Session`).
  */
object TestSpark {
  lazy val spark: SparkSession =
    Session.local(4, s"${sys.props("java.io.tmpdir")}/graft_test_ckpt")
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it started. Only jobs
    * carrying this thread's job group count: suites share one session.
    * The listener bus is drained before the listener joins (so no
    * earlier job's event reaches it) and after `body` returns.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val gid = "jobs-probe"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (gid == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
        ()
      }
    }
    QueryMetrics.flush(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(gid, "job probe")
      val out = try body finally spark.sparkContext.clearJobGroup()
      QueryMetrics.flush(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
