package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** Run `body` and return the physical plans of the SQL executions it
    * ran under the action `action` (`localCheckpoint`, `collect`, ..),
    * in the order they finished.
    */
  def plansOf(action: String)(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == action) seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    QueryMetrics.flush(spark)
    spark.listenerManager.register(l)
    try { body; QueryMetrics.flush(spark) }
    finally spark.listenerManager.unregister(l)
    seen.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** The shuffle exchanges of a physical plan, AQE's query stages
    * included.
    */
  def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    new AdaptiveSparkPlanHelper {}.collect(plan) { case e: ShuffleExchangeExec => e }

  /** Whether `e` is a fixed-count hash exchange on doc_id into
    * `spark.sql.shuffle.partitions` parts — the text operators' spread.
    */
  def isDocSpread(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
    case HashPartitioning(Seq(a: Attribute), n) =>
      a.name == "doc_id" &&
        n == spark.conf.get("spark.sql.shuffle.partitions").toInt &&
        e.shuffleOrigin == org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM
    case _ => false
  }
}
