package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.QueryMetrics

/** Command-line options of the harness JVM (run.py passes them). */
final case class Opts(mode: String = "run", workload: String = "traverse",
                      seed: Long = 1L, seconds: Double = 8.0,
                      trace: Boolean = false, data: String = "",
                      warm: String = "", work: String = "", out: String = "",
                      golden: String = "")

object Opts {
  def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--mode", v)) => o.copy(mode = v)
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v)) => o.copy(seconds = v.toDouble)
      case (o, Array("--trace", v)) => o.copy(trace = v == "1")
      case (o, Array("--data", v)) => o.copy(data = v)
      case (o, Array("--warm", v)) => o.copy(warm = v)
      case (o, Array("--work", v)) => o.copy(work = v)
      case (o, Array("--out", v)) => o.copy(out = v)
      case (o, Array("--golden", v)) => o.copy(golden = v)
      case (_, a) => throw new IllegalArgumentException(s"bad option ${a.mkString(" ")}")
    }
}

/** Timed outcome of one request. */
final case class ReqRec(id: Int, name: String, write: Boolean, startNs: Long,
                        endNs: Long, cpuS: Double, error: Option[String],
                        layer: Map[String, Double]) {
  def latencyS: Double = (endNs - startNs) / 1e9
}

/** Captures the Catalyst phase times of every query execution. */
final class PhaseListener extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Double]]
  private def phases(qe: QueryExecution): Unit = synchronized {
    buf += qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  def drain(): Seq[Map[String, Double]] = synchronized {
    val r = buf.toList; buf.clear(); r
  }
}

object Session {
  /** local[4]: one task slot per core of the 4-core machine the
    * benchmark is sized for
    */
  val Slots = 4

  /** local[slots], Kryo with the GraphX registrations and the session
    * settings of `graft.Bench`; every file Spark writes stays under `work`.
    */
  def start(work: Path): SparkSession = {
    val conf = new SparkConf()
      .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    org.apache.spark.graphx.GraphXUtils.registerKryoClasses(conf)
    val spark = SparkSession.builder()
      .config(conf)
      .master(s"local[$Slots]")
      .config("spark.sql.shuffle.partitions", Slots)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .config("spark.graphx.pregel.checkpointInterval", "10")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(work.resolve("ckpt").toString)
    spark
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val code =
      try {
        o.mode match {
          case "run" => new Runner(o).run()
          case "golden" => Golden.run(o)
        }
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          1
      }
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(code)
  }

  def workload(o: Opts, ctx: Ctx): Workload = o.workload match {
    case "traverse" => new Traverse(ctx, Traverse.defaultPool)
    case "analytics" => new Analytics(ctx, Analytics.defaultPool)
    case "curate" => new Curate(ctx, o.seed, Curate.defaultReads)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** JSON text of maps, sequences, options, strings and numbers. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** One benchmark run: set-up, the closed loop, checks and the result. */
final class Runner(o: Opts) {
  private val t0 = System.nanoTime()
  private def wallS: Double = (System.nanoTime() - t0) / 1e9
  private val work = Paths.get(o.work)
  /** state builds per run; set-up reports their median */
  private val StateBuilds = 3
  /** a run stops starting requests after this, to end inside its limit */
  private val MaxWallS = 150.0

  def run(): Unit = {
    val steal0 = Proc.stealJiffies()
    // ---- set-up: session, warm-up pass, workload state (repeated)
    val spark = Session.start(work)
    val sessionS = wallS
    val sc = spark.sparkContext
    lazy val tracer: Tracer = new Tracer(o.trace, (req, id) =>
      sc.setLocalProperty(JobListener.Property, if (id == 0L) null else s"$req:$id"))
    val ctx = new Ctx(spark, tracer, o.data, o.warm, work,
      Digest.load(Paths.get(o.golden)))
    val wl = Main.workload(o, ctx)
    tracer.active = false
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    val stateS = (1 to StateBuilds).map { _ =>
      val s0 = System.nanoTime(); wl.setupState(); (System.nanoTime() - s0) / 1e9
    }
    val setupS = sessionS + warmS + Stats.median(stateS)
    wl.ready()
    // peak RSS counts from here: the requests, not the set-up
    val rssReset = Proc.resetPeakRss()

    // ---- traced run only: listeners
    val jobs = new JobListener(tracer)
    val phases = new PhaseListener
    val recorder = new QueryMetrics.Recorder
    if (o.trace) {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(phases)
      spark.listenerManager.register(recorder)
    }
    val ckptDir = work.resolve("ckpt")
    tracer.active = o.trace

    // ---- the closed loop: a fixed number of whole seeded rounds, about
    // `seconds` of timed requests on the tree the benchmark was set up on
    val rounds = math.max(1, math.round(o.seconds / wl.roundS).toInt)
    val rng = new Random(o.seed)
    val recs = mutable.ArrayBuffer.empty[ReqRec]
    val writes = mutable.ArrayBuffer.empty[WriteStat]
    var truncated = false
    for (_ <- 1 to rounds; req <- wl.round(rng)) {
      if (wallS > MaxWallS) truncated = true
      else {
        val id = recs.size + 1
        tracer.request = id
        wl.prepare(req)
        if (o.trace) { QueryMetrics.flush(spark); jobs.takeBlockBytes() }
        val ckpt0 = if (o.trace) Proc.du(ckptDir)._1 else 0L
        val persisted0 = if (o.trace) sc.getPersistentRDDs.size else 0
        val cached0 = if (o.trace) cachedBytes(spark) else 0L
        val codegen0 = if (o.trace) Runner.codegenCompiles() else 0L
        val gc0 = Proc.gcMs()
        val cpu0 = Proc.cpuS()
        val a = System.nanoTime()
        val res =
          try Right(tracer.span("request")(wl.execute(req)))
          catch { case e: Throwable => Left(e) }
        val b = System.nanoTime()
        val cpu = Proc.cpuS() - cpu0
        val gc = Proc.gcMs() - gc0
        // ---- untimed from here: layer counters, then the check
        val layer = mutable.Map.empty[String, Double]
        if (o.trace) {
          QueryMetrics.flush(spark)
          val recsQ = recorder.records
          recorder.clear()
          // scan counters exist where the recorder sees the file scans
          // (plans without an adaptive root: the store reads)
          val scanRows = recsQ.map(_.scanRows).sum
          if (scanRows > 0) layer ++= Seq("scan_rows" -> scanRows.toDouble,
            "out_rows" -> recsQ.flatMap(_.outputRows).sum.toDouble,
            "sources.scan_mb" -> recsQ.map(_.scanBytes).sum / 1048576.0)
          // checkpoint and loop-cache blocks the request stored, plus
          // growth of the reliable checkpoint dir
          val ckptB = jobs.takeBlockBytes() + Proc.du(ckptDir)._1 - ckpt0
          layer ++= Seq(
            "catalyst.codegen_compiles" ->
              (Runner.codegenCompiles() - codegen0).toDouble,
            "jvm.gc_s" -> gc / 1000.0,
            "util.ckpt_mb" -> ckptB / 1048576.0,
            "util.persisted_rdds_left" -> (sc.getPersistentRDDs.size - persisted0).toDouble,
            "util.cached_mb_left" -> (cachedBytes(spark) - cached0) / 1048576.0)
          // every query execution of the request, its result's included
          val ph = phases.drain()
          if (ph.nonEmpty) Seq("analysis", "optimization", "planning").foreach { k =>
            layer(s"catalyst.${k}_ms") = ph.flatMap(_.get(k)).sum
          }
        }
        val error = tracer.span("check")(Runner.outcome(req.name, res))
        if (o.trace) { QueryMetrics.flush(spark); recorder.clear(); phases.drain() }
        if (req.write) wl.lastWrite.foreach { w =>
          writes += w
          layer ++= Seq("sources.write_mb" -> w.writtenB / 1048576.0,
            "sources.files_written" -> w.files.toDouble,
            "sources.root_mb" -> w.rootB / 1048576.0)
        }
        recs += ReqRec(id, req.name, req.write, a, b, cpu, error, layer.toMap)
      }
    }
    tracer.request = 0
    val peakRssMb = Proc.peakRssMb()
    recs.flatMap(r => r.error.map(e => s"request ${r.id} failed: $e"))
      .foreach(e => System.err.println(s"[perfbench] $e"))
    val timedNs = recs.map(r => r.endNs - r.startNs).sum
    if (o.trace) QueryMetrics.flush(spark)
    val steal1 = Proc.stealJiffies()

    // ---- results
    val e2e = Metrics.endToEnd(recs.toSeq, writes.toSeq, setupS, peakRssMb)
    // the write and error metrics ride along with the layer metrics
    val layers =
      if (o.trace) Layers.compute(recs.toSeq, tracer.all, jobs.taskRecs) ++
        Layers.fromEndToEnd.map(k => k -> e2e.toMap.apply(k)._1)
      else Map.empty[String, Double]
    val failed = recs.count(_.error.nonEmpty)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "correct" -> (failed == 0 && recs.nonEmpty && !truncated),
      "attempted" -> recs.size, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(e2e.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*),
      "layers" -> mutable.LinkedHashMap(Layers.units.map { case (k, u) =>
        k -> Map("value" -> layers.getOrElse(k, 0.0), "unit" -> u) }: _*),
      "tails" -> Metrics.tails(recs.toSeq),
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS,
        "state_s" -> stateS, "setup_s" -> setupS),
      "rounds" -> rounds, "timed_s" -> timedNs / 1e9, "truncated" -> truncated,
      "errors" -> recs.flatMap(_.error).take(20),
      "facts" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "task_slots" -> Session.Slots,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "data_dir" -> o.data, "warm_dir" -> o.warm,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "steal_jiffies" -> (steal1 - steal0), "wall_s" -> wallS,
        "peak_rss_from_requests" -> rssReset),
      "requests" -> recs.map(r => Map("id" -> r.id, "name" -> r.name,
        "write" -> r.write, "latency_s" -> r.latencyS, "cpu_s" -> r.cpuS,
        "ok" -> r.error.isEmpty) ++ r.layer))
    if (o.trace) {
      val all = tracer.all
      val kids = all.groupBy(_.parent)
      val spans = all.sortBy(_.startNs).map(s => Main.json(Map(
        "id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0),
        "self_ns" -> Span.selfNs(s, kids.getOrElse(s.id, Nil)), "attrs" -> s.attrs)))
      Main.write(o.out.stripSuffix(".json") + "-spans.jsonl", spans.mkString("", "\n", "\n"))
    }
    Main.write(o.out, Main.json(result))
    spark.stop()
  }

  /** Bytes held by cached RDD blocks, memory plus disk. */
  private def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

object Runner {
  /** Generated classes compiled so far: misses of Spark's code cache. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The error of a request, if any: it threw, its check threw, or its
    * check found a wrong output. Each counts toward `failed`.
    */
  def outcome(name: String,
              res: Either[Throwable, () => Option[String]]): Option[String] =
    res match {
      case Left(e) => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(check) =>
        try check()
        catch { case e: Throwable =>
          Some(s"$name: check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
    }
}

/** End-to-end metrics, always taken from the requests' timed intervals. */
object Metrics {
  def endToEnd(recs: Seq[ReqRec], writes: Seq[WriteStat], setupS: Double,
               peakRssMb: Double): Seq[(String, (Double, String))] = {
    val reads = recs.filter(r => !r.write && r.error.isEmpty).map(_.latencyS)
    val ws = recs.filter(r => r.write && r.error.isEmpty).map(_.latencyS)
    val ok = recs.count(_.error.isEmpty)
    val timed = recs.map(_.latencyS).sum
    def orZero(xs: Seq[Double])(f: Seq[Double] => Double): Double =
      if (xs.isEmpty) 0.0 else f(xs)
    Seq(
      "setup_s" -> (setupS, "s"),
      "read_p50_s" -> (orZero(reads)(Stats.median), "s"),
      "read_tail_s" -> (orZero(reads)(Stats.tail(_).value), "s"),
      "throughput_rps" -> (if (timed > 0) ok / timed else 0.0, "req/s"),
      "cpu_s_per_req" -> (if (recs.isEmpty) 0.0 else recs.map(_.cpuS).sum / recs.size, "s"),
      "peak_rss_mb" -> (peakRssMb, "MiB"),
      "write_p50_s" -> (orZero(ws)(Stats.median), "s"),
      "write_tail_s" -> (orZero(ws)(Stats.tail(_).value), "s"),
      "write_amp" -> (if (writes.isEmpty) 0.0
        else writes.map(_.writtenB).sum.toDouble / writes.map(_.userB).sum, "ratio"),
      "error_rate" -> (if (recs.isEmpty) 0.0
        else recs.count(_.error.nonEmpty).toDouble / recs.size, "fraction"))
  }

  def tails(recs: Seq[ReqRec]): Map[String, Any] =
    Seq("read" -> recs.filter(!_.write), "write" -> recs.filter(_.write))
      .filter(_._2.nonEmpty).map { case (k, rs) =>
        val t = Stats.tail(rs.map(_.latencyS))
        k -> Map("value_s" -> t.value, "percentile" -> t.percentile,
          "samples" -> t.samples, "beyond" -> t.beyond)
      }.toMap
}
