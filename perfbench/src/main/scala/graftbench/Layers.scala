package graftbench

/** Per-layer metrics of the traced run, derived from the spans, the task
  * records and the counters each request collected. Per-request values
  * are summed within a request and reported as the median over the
  * requests that have them; ratios are taken over the summed parts.
  * `util.ckpt_mb` is the mean per request instead: only the few requests
  * that checkpoint store blocks, so its median would read 0.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "sources.setup_s" -> "s", "sources.infer_jobs" -> "count",
    "sources.scan_rows_per_out_row" -> "ratio", "sources.scan_mb" -> "MiB",
    "graph.parse_ms" -> "ms", "graph.build_s" -> "s", "graph.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.codegen_compiles" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.idle_s" -> "s", "spark.sched_delay_s" -> "s", "spark.slot_util" -> "ratio",
    "spark.straggler_ratio" -> "ratio",
    "executor.run_s" -> "s", "executor.cpu_s" -> "s", "executor.cpu_frac" -> "ratio",
    "shuffle.write_mb" -> "MiB", "shuffle.read_mb" -> "MiB",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_mb" -> "MiB",
    "jvm.gc_s" -> "s",
    "util.ckpt_mb" -> "MiB", "util.persisted_rdds_left" -> "count",
    "util.cached_mb_left" -> "MiB",
    "operators.build_s" -> "s",
    "sources.write_s" -> "s", "sources.write_mb" -> "MiB",
    "sources.files_written" -> "count", "sources.root_mb" -> "MiB",
    "trace.span_coverage" -> "ratio",
    "write_p50_s" -> "s", "write_tail_s" -> "s", "write_amp" -> "ratio",
    "error_rate" -> "fraction")

  /** End-to-end figures that only some workloads have; they are reported
    * beside the layer metrics, not as gated end-to-end metrics.
    */
  val fromEndToEnd: Seq[String] = Seq("write_p50_s", "write_tail_s", "write_amp",
    "error_rate")

  private val Ratios = Set("sources.scan_rows_per_out_row", "executor.cpu_frac",
    "spark.slot_util", "trace.span_coverage")
  private val Means = Set("util.ckpt_mb")

  /** Per-request layer values of request `r`. */
  def perRequest(r: ReqRec, spans: Seq[Span], tasks: Seq[TaskRec]): Map[String, Double] = {
    val mine = spans.filter(_.request == r.id)
    val harness = mine.filter(s => !JobListener.Names(s.name) && s.name != "check")
    val ids = harness.map(_.id).toSet
    val byId = harness.map(s => s.id -> s).toMap
    val jobs = mine.filter(s => s.name == "spark.job" && ids(s.parent))
    val jobIds = jobs.map(_.id).toSet
    val stages = mine.filter(s => s.name == "spark.stage" && jobIds(s.parent))
    val ts = tasks.filter(t => t.request == r.id && ids(t.span))
    def named(n: String) = harness.filter(_.name == n)
    def dur(n: String): Option[Double] =
      Some(named(n)).filter(_.nonEmpty).map(_.map(_.durNs).sum / 1e9)
    val infer = jobs.filter(_.attrs.get("infer").contains(1.0))
    // inference jobs submitted outside a sources.setup span (inside a
    // registered query) still count as source set-up time
    val strayInfer = infer.filter(j => !byId.get(j.parent).exists(_.name == "sources.setup"))
    val sourcesS = dur("sources.setup").getOrElse(0.0) +
      strayInfer.map(_.durNs).sum / 1e9
    val reqSpan = harness.find(_.name == "request")
    val coverage = reqSpan.map { rs =>
      val kids = harness.filter(_.parent == rs.id).map(s => (s.startNs, s.endNs))
      Span.covered(kids, rs.startNs, rs.endNs).toDouble / math.max(rs.durNs, 1L)
    }
    val taskCover = Span.covered(ts.map(t => (t.launchNs, t.finishNs)), r.startNs, r.endNs)
    val stragglers = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(t => (t.finishNs - t.launchNs).toDouble)
      d.max / math.max(Stats.median(d), 1.0)
    }
    val buildJobs = named("graph.build").flatMap(b =>
      jobs.filter(j => j.parent == b.id && !infer.contains(j)))
    val m = scala.collection.mutable.Map[String, Double](
      "sources.setup_s" -> sourcesS,
      "sources.infer_jobs" -> infer.size.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.idle_s" -> (r.endNs - r.startNs - taskCover) / 1e9,
      "spark.sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1000.0,
      "executor.run_s" -> ts.map(_.runMs).sum / 1000.0,
      "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "shuffle.write_mb" -> ts.map(_.shuffleWriteB).sum / 1048576.0,
      "shuffle.read_mb" -> ts.map(_.shuffleReadB).sum / 1048576.0,
      "shuffle.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1000.0,
      "shuffle.spill_mb" -> ts.map(_.spillB).sum / 1048576.0,
      "task_s" -> ts.map(t => t.finishNs - t.launchNs).sum / 1e9)
    if (stragglers.nonEmpty) m("spark.straggler_ratio") = stragglers.max
    coverage.foreach(c => m("trace.span_coverage") = c)
    dur("graph.parse").foreach(s => m("graph.parse_ms") = s * 1000.0)
    dur("graph.build").foreach { s =>
      m("graph.build_s") = s
      m("graph.build_jobs") = buildJobs.size.toDouble
    }
    dur("operators.build").foreach(s => m("operators.build_s") = s)
    dur("sources.write").foreach(s => m("sources.write_s") = s)
    m.toMap ++ r.layer
  }

  def compute(recs: Seq[ReqRec], spans: Seq[Span], tasks: Seq[TaskRec]): Map[String, Double] = {
    val per = recs.map(r => perRequest(r, spans, tasks))
    def sum(k: String) = per.flatMap(_.get(k)).sum
    val medians = units.map(_._1).filterNot(Ratios).flatMap { k =>
      val xs = per.flatMap(_.get(k))
      if (xs.isEmpty) None
      else Some(k -> (if (Means(k)) xs.sum / xs.size else Stats.median(xs)))
    }.toMap
    val reqS = recs.map(_.latencyS).sum
    val covs = per.flatMap(_.get("trace.span_coverage"))
    medians ++ Map(
      "sources.scan_rows_per_out_row" ->
        (if (sum("out_rows") > 0) sum("scan_rows") / sum("out_rows") else 0.0),
      "executor.cpu_frac" ->
        (if (sum("executor.run_s") > 0) sum("executor.cpu_s") / sum("executor.run_s") else 0.0),
      "spark.slot_util" -> (if (reqS > 0) sum("task_s") / (reqS * Session.Slots) else 0.0),
      "trace.span_coverage" -> (if (covs.isEmpty) 0.0 else covs.min))
  }
}
