package graft

import org.apache.spark.sql.SparkSession

/** Shared test session (one JVM-wide session; suites reuse it), under
  * the same policy as Bench and Verify (`graft.Session`).
  */
object TestSpark {
  lazy val spark: SparkSession =
    Session.local(4, s"${sys.props("java.io.tmpdir")}/graft_test_ckpt")
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it started. Only jobs
    * carrying this thread's job group count: suites share one session.
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
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(gid, "job probe")
      val out = try body finally spark.sparkContext.clearJobGroup()
      Thread.sleep(1500) // listener bus drain
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
