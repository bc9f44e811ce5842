package graft.tools

import graft.{Bench, Session, SparkEntry}
import graft.sources.QueryMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.concurrent.TrieMap

/** Operator-facing probe over the registered queries, run under the
  * bench's session policy (`graft.Session`):
  *
  *   - `time <query>...`: median of SPARK_GRAFT_RUNS (default 3) timed
  *     runs per query, steal-contaminated runs excluded.
  *   - `jobs <query>...`: one run split into its Spark jobs, grouped
  *     under the SQL execution (a checkpoint, a count, the final write)
  *     that launched them — which of an iterative query's steps (round
  *     checkpoints, emptiness tests, final materialization) carry the
  *     wall-clock — each with the task count of its own stage, so a
  *     stage that runs on fewer tasks than the session has slots shows.
  *   - `explain <query>...`: formatted physical plans.
  *   - `inventory`: query and oracle counts, rows-only queries and
  *     oracles with no query.
  *
  * Queries run on SPARK_GRAFT_SF_DIR (default sf0.01) at
  * `local[SPARK_GRAFT_CPUS]` (default 32); SPARK_GRAFT_CONF="k=v;k=v"
  * sets extra session confs for plan-shape experiments. `time` and
  * `jobs` first run each query once, untimed, on SPARK_GRAFT_WARM when
  * it is set — the Bench warmup protocol, so cold-JIT spikes don't land
  * in run 1.
  */
object Probe {
  private val Usage =
    "usage: graft.tools.Probe time|jobs|explain <query>... | inventory"

  def main(args: Array[String]): Unit = {
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    args.headOption match {
      case Some("inventory") if names.isEmpty => inventory()
      case Some(cmd @ ("time" | "jobs" | "explain"))
          if names.nonEmpty && unknown.isEmpty =>
        val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
        val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
        val spark = Session.local(cpus,
          s"${sys.props("java.io.tmpdir")}/graft_probe_ckpt")
        sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
          .foreach { kv =>
            val Array(k, v) = kv.split("=", 2)
            spark.conf.set(k.trim, v.trim)
          })
        try cmd match {
          case "time" => time(spark, dir, cpus, names)
          case "jobs" => jobs(spark, dir, names)
          case _ => names.foreach { n =>
            println(s"\n========== $n ==========")
            SparkEntry.queries(n)(spark, dir).explain("formatted")
          }
        } finally spark.stop()
      case _ =>
        if (unknown.nonEmpty)
          System.err.println(s"unregistered queries: ${unknown.mkString(", ")}")
        System.err.println(Usage)
        sys.exit(2)
    }
  }

  private def inventory(): Unit = {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    println(s"queries=${q.size} oracles=${o.size} rowsOnly=${(q -- o).toSeq.sorted.mkString(",")} orphanOracles=${(o -- q).toSeq.sorted.mkString(",")}")
  }

  private def run(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  private def warm(spark: SparkSession, name: String): Unit =
    sys.env.get("SPARK_GRAFT_WARM").foreach { wd =>
      try run(spark, name, wd) catch { case _: Throwable => }
    }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def time(spark: SparkSession, dir: String, cpus: Int,
      names: Seq[String]): Unit = {
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // SPARK_GRAFT_CANARY=1 brackets the measured set with the bench's
    // two reference jobs (scan q1_agg + the iterative nation loop) so
    // an isolated median can be certified as taken on a window both
    // canaries saw quiet — steal throttles many-short-stage jobs while
    // scans stay flat, so a lone median with no iterative reference is
    // uninterpretable when it disagrees with history.
    val canary = sys.env.get("SPARK_GRAFT_CANARY").contains("1")
    lazy val iterCanaryJob = Bench.iterCanary(spark, dir)
    def canaries(tag: String): Unit = if (canary) {
      val scan = (1 to 2).map(_ => seconds(run(spark, "q1_agg", dir))).min
      val iter = (1 to 2).map(_ => seconds(iterCanaryJob())).min
      println(f"[canary/$tag] scan=$scan%.2fs iter=$iter%.2fs")
    }
    if (canary) { iterCanaryJob(); canaries("start") } // warm, then observe

    names.foreach { n =>
      warm(spark, n)
      val timed = (1 to runs).map { _ =>
        val s0 = Bench.stealJiffies()
        val el = seconds(run(spark, n, dir))
        // a run that lost more than the bench's steal limit to the host
        // ran on the hypervisor's clock and is excluded from the median
        // whenever any clean run exists (Bench's steal-clean median
        // rule). Beyond 60 s the limit scales:
        // a run is flagged only when steal exceeds 2% of its total
        // core-time, since the background steal rate alone crosses the
        // absolute limit on every multi-minute run.
        val limit = if (el <= 60.0) Bench.StealMaxJiffies
          else math.max(Bench.StealMaxJiffies, (el * cpus * 100 * 0.02).toLong)
        Bench.Timed(el, ok = true, stealClean = Bench.stealJiffies() - s0 <= limit,
          capped = false)
      }
      val med = Bench.measured(timed).median
      val clean = timed.count(_.stealClean)
      val ann = timed.map(t => f"${t.sec}%.2f" + (if (t.stealClean) "" else "*"))
      println(f"$n%-24s median=$med%7.2fs  clean=$clean/$runs  " +
        s"in-order=${ann.mkString(",")}  (*=steal-contaminated, excluded)")
      canaries(n)
    }
  }

  private def jobs(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    // a job carries the id of the SQL execution that launched it (AQE
    // submits query stages and broadcasts from a thread pool, so the
    // job's own call site rarely names the step); the execution's
    // description does
    val execs = TrieMap.empty[Long, String]
    val starts = TrieMap.empty[Int, (Long, String, Int, Option[Long])]
    val done = TrieMap.empty[Int, (Double, String, Int, Option[Long])]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execs.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the job's own stage is its newest; the others are parents a
        // shuffle already wrote, skipped
        val last = js.stageInfos.maxByOption(_.stageId)
        val exec = Option(js.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong)
        starts.put(js.jobId, (System.nanoTime(), last.fold("?")(_.name),
          last.fold(0)(_.numTasks), exec))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, name, tasks, exec) =>
          done.put(je.jobId, ((System.nanoTime() - t0) / 1e9, name, tasks, exec))
        }
    }
    names.foreach { n =>
      warm(spark, n)
      run(spark, n, dir)
      QueryMetrics.flush(spark)
      done.clear()
      execs.clear()
      spark.sparkContext.addSparkListener(listener)
      val total = seconds(run(spark, n, dir))
      QueryMetrics.flush(spark)
      spark.sparkContext.removeSparkListener(listener)
      val rs = done.toSeq.sortBy(_._1)
      val jobSum = rs.map(_._2._1).sum
      println(f"\n===== $n total=$total%.2fs jobs=${rs.size} jobSum=$jobSum%.2fs (gap=${total - jobSum}%.2fs driver/plan) =====")
      // executions in the order of their first job
      rs.groupBy(_._2._4).toSeq.sortBy(_._2.head._1).foreach { case (exec, js) =>
        val what = exec.fold("(no SQL execution)")(e =>
          s"execution $e: ${execs.getOrElse(e, "?")}")
        println(f"  ${js.size}%3d jobs  ${js.map(_._2._1).sum}%7.3fs  $what")
        js.foreach { case (id, (d, name, tasks, _)) =>
          println(f"      job $id%4d  $d%7.3fs  $tasks%4d tasks  $name") }
      }
    }
  }
}
