package graftbench

import scala.collection.mutable

/** One traced interval. Harness spans are opened on the client thread;
  * `spark.job` and `spark.stage` spans come from [[JobListener]]. All
  * spans of one request carry its `request` id (0 = set-up).
  */
final case class Span(id: Long, parent: Long, request: Int, name: String,
                      startNs: Long, endNs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Total length of the union of `ivs`, clipped to [lo, hi]. Overlapping
    * intervals (concurrent jobs or stages) are counted once.
    */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durNs - covered(children.map(c => (c.startNs, c.endNs)),
      span.startNs, span.endNs)
}

/** Harness-side span recorder. Disabled, it runs each body directly and
  * records nothing. Enabled, it keeps every span in memory; the run
  * writes them out when it ends.
  */
final class Tracer(val enabled: Boolean,
                   onOpen: (Int, Long) => Unit = (_, _) => ()) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L
  @volatile var request: Int = 0
  /** Off during set-up, whose passes run on several threads. */
  @volatile var active: Boolean = enabled

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def current: Long = synchronized(stack.headOption.getOrElse(0L))

  def add(s: Span): Unit = synchronized(spans += s)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = newId()
      val parent = current
      synchronized(stack.push(id))
      onOpen(request, id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized(stack.pop())
        onOpen(request, parent)
        add(Span(id, parent, request, name, t0, t1))
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Task-level counters of one finished task, kept for the traced run. */
final case class TaskRec(request: Int, span: Long, stage: Int,
                         launchNs: Long, finishNs: Long, runMs: Long,
                         cpuNs: Long, schedDelayMs: Long,
                         shuffleWriteB: Long, shuffleReadB: Long,
                         fetchWaitMs: Long, spillB: Long)

/** Registered only in the traced run. Turns Spark jobs and stages into
  * spans under the harness span that was open when the job was
  * submitted (read from the `graftbench.span` local property the
  * harness sets), and keeps every task's metrics.
  */
final class JobListener(tracer: Tracer)
    extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  import JobListener.JobCtx

  /** Listener times are epoch milliseconds; spans use System.nanoTime. */
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  private val jobs = scala.collection.mutable.Map.empty[Int, JobCtx]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val tasks = scala.collection.mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobListener.Property)))
    prop.foreach { v =>
      val Array(req, parent) = v.split(':')
      val resultStage = e.stageInfos.maxByOption(_.stageId)
      jobs(e.jobId) = JobCtx(req.toInt, parent.toLong, tracer.newId(), e.time,
        resultStage.map(_.name).getOrElse(""))
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    // the job context stays: late task-end events still find it
    jobs.get(e.jobId).foreach { j =>
      tracer.add(Span(j.spanId, j.parent, j.request, "spark.job",
        ns(j.startMs), ns(e.time),
        Map("job_id" -> e.jobId.toDouble,
          "infer" -> (if (JobListener.isInference(j.name)) 1.0 else 0.0))))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val st = e.stageInfo
      for (jobId <- stageJob.get(st.stageId); j <- jobs.get(jobId)) {
        tracer.add(Span(tracer.newId(), j.spanId, j.request, "spark.stage",
          ns(st.submissionTime.getOrElse(j.startMs)),
          ns(st.completionTime.getOrElse(System.currentTimeMillis())),
          Map("stage_id" -> st.stageId.toDouble,
            "tasks" -> st.numTasks.toDouble)))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)
         if e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      val sched = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
      tasks += TaskRec(j.request, j.parent, e.stageId, ns(i.launchTime),
        ns(i.finishTime), m.executorRunTime, m.executorCpuTime, sched,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
    }
  }

  def taskRecs: Seq[TaskRec] = synchronized(tasks.toList)

  /** The largest size each RDD block reached: the blocks of checkpoints
    * and loop caches, which live in the block manager, not in the
    * checkpoint dir.
    */
  private val blocks = scala.collection.mutable.Map.empty[org.apache.spark.storage.BlockId, Long]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks(b.blockId) = math.max(blocks.getOrElse(b.blockId, 0L), b.memSize + b.diskSize)
  }

  /** Bytes of the RDD blocks stored since the last call. */
  def takeBlockBytes(): Long = synchronized {
    val b = blocks.values.sum; blocks.clear(); b
  }
}

object JobListener {
  private final case class JobCtx(request: Int, parent: Long, spanId: Long,
                                  startMs: Long, name: String)

  val Property = "graftbench.span"
  /** names of the spans this listener adds */
  val Names = Set("spark.job", "spark.stage")

  /** Schema-inference and file-listing jobs of a parquet source. */
  def isInference(callSite: String): Boolean = callSite.startsWith("parquet at ")
}
