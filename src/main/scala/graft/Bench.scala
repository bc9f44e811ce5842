package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":…,"value":total_sec,"unit":"sec","queries":{name:sec,…}}.
  *
  * Each query is fully materialized through the `noop` sink (a bare
  * count() would let Catalyst elide projections/sorts and measure
  * nothing). A warmup pass at sf0.001 first amortizes JVM/codegen
  * startup out of the measured numbers.
  *
  * Trustworthiness guards (round-6 lesson: a shipped BENCH with
  * contaminated medians misread as a 3-4x regression):
  *   - LOAD GUARD: the 1-min system load average is sampled BEFORE any
  *     timing. If the machine is already busy (load > half the bench's
  *     own cores — e.g. a concurrent sbt/Spark job), the run is marked
  *     "contended":true in both JSON outputs so a reader never takes
  *     the numbers at face value; the load values themselves are
  *     recorded in the detail file.
  *   - RERUN-ON-SPREAD: any query whose successful timings spread more
  *     than SPREAD_MAX (max/min > 3, and by more than 1s absolute —
  *     sub-second jitter on trivial queries is not signal) gets extra
  *     timed runs and the median is retaken over the combined set.
  *     This absorbs one-off JIT/GC spikes (observed: a 68s first run
  *     vs 8.5s steady state on the 64-hash minhash stage) that a
  *     plain median-of-3 lets leak into the shipped number when two
  *     of three runs are hit.
  *   - CANARY (round-7 lesson: the load guard read 2.6/32 and still
  *     let a window where unchanged queries measured 3-9× slow):
  *     a fixed reference query is re-timed (min of 2) after every
  *     window of queries and compared against the ROLLING MEDIAN of
  *     all prior clean canary observations. A step change beyond
  *     CANARY_MAX_DRIFT means the window was measured on a machine
  *     that differs from the one every other window saw (co-runner,
  *     page-cache churn, cleaner debt) regardless of what the load
  *     average claims — the window's queries are re-timed from
  *     scratch after a GC-and-settle pause, and the contaminated runs
  *     are DISCARDED (contention only ever adds time). The reference
  *     is rolling, not the bench-start value: a fresh JVM runs the
  *     canary ~2× faster than the same JVM after exercising 160
  *     query plans (code-cache pressure, loaded classes — measured
  *     0.34 s fresh vs a steady 0.7 s for the rest of the run), so a
  *     fixed fresh-start reference trips every window forever. The
  *     rolling median detects the step changes that actually signal
  *     contamination; contention already present before the bench
  *     starts is the load guard's job. Canary checkpoints and rerun
  *     decisions land in BENCH_DETAIL.json.
  *   - ITERATIVE CANARY (round-8 lesson: scan canaries are blind to
  *     steal that selectively throttles many-short-stage jobs — the
  *     scan canary held 0.36-0.58 s while an unchanged LPA tripled):
  *     a second fixed reference, a tiny 5-round join+agg loop whose
  *     cost is stage-scheduling latency rather than data volume, is
  *     re-timed beside the scan canary each window with its own
  *     rolling median. A window is clean only when BOTH canaries are
  *     within drift; either one tripping triggers the same
  *     settle-and-remeasure path.
  *   - STEAL GUARD: every timed run brackets /proc/stat's hypervisor
  *     steal counter; a run that lost > 2.5 core-seconds to the host
  *     ran on the hypervisor's clock, not ours, and is excluded from
  *     the median when any steal-clean run exists (all-stolen triggers
  *     one retry batch). This is the ground-truth form of what the
  *     spread heuristic infers statistically — the observed 3-10×
  *     one-off spikes on iterative queries coincide with steal bursts
  *     on this shared VM. The total stolen-run count is recorded as
  *     "stolen_runs" in BENCH_DETAIL.json.
  *   - WALL-CLOCK BUDGET (round-10 lesson: BENCH_r10.json is an rc=124
  *     timeout corpse with parsed:null — all the robustness machinery
  *     above adds wall-clock precisely when the host steals CPU, which
  *     is exactly when the driver's external timeout bites, and a
  *     killed bench ships NOTHING). SPARK_GRAFT_BUDGET_S (default
  *     2700 s) bounds the whole run. Degradation ladder as elapsed
  *     crosses fractions of the budget: warmup stops at 15%; at 50%
  *     remaining queries drop to a single timed run with no spread
  *     reruns or steal retries; at 70% the end-of-bench re-pass
  *     narrows to a BOUNDED outlier pass picked by RATIO against the
  *     committed BENCH_DETAIL.json medians — every entry ≥ 2× its
  *     certified close value gets a slot, then suspects/largest top
  *     up to OutlierRepassMax (never zero, because
  *     the re-pass is the only machinery that corrects a steal spike
  *     already shipped into a window value; round-11's degraded
  *     artifact carried a 44.8 s a_cc_alt against a 4.4-7.6 s
  *     certified envelope for exactly this reason); at 80% the
  *     per-query priming run is skipped; at 92% remaining queries are
  *     skipped outright (recorded in "skipped", excluded from the
  *     total); the bounded outlier pass stays alive until 95% and
  *     only past that is the re-pass dropped entirely. A JVM shutdown hook emits the final
  *     JSON line with whatever was measured ("aborted":true) even if
  *     an external SIGTERM lands mid-query — a partial artifact a
  *     reader can audit always beats a stack-trace tail. Everything
  *     degraded is flagged: "degraded":true plus the tier names in
  *     the detail file.
  *   - HEAVY-TAIL TRIM (round-10 task 2): a query whose priming run at
  *     the target SF already costs ≥ HeavyOneRunSec gets ONE timed run
  *     instead of `runs` — the ~37 heavy queries cost ~200 s of a
  *     330 s close run, so median-of-3 on them triples the bench's
  *     exposure to the timeout for queries whose isolated medians are
  *     separately certified (BASELINE.md). The steal guard still
  *     applies to the single run, and every ≥3 s query is eligible
  *     for the end-of-bench re-pass, so a one-off spike still gets a
  *     second independent look; min(window, re-pass) ships.
  *   - ENVELOPE WALL CAP + COVERAGE-FIRST (round-13 lesson: a
  *     catastrophically stolen driver window — canary 2.4×, single
  *     queries 17-20× — spent 342 s measuring ONE query to completion
  *     and re-passing it, blew the budget, and shipped a 108/252
  *     artifact via skipped_tail). Two mechanisms: (a) every timed run
  *     races a watchdog that cancels its Spark job group once it
  *     exceeds CapRatio× its committed-close median (floor CapFloorS);
  *     an abandoned run is recorded as CAPPED, excluded from medians
  *     when any completed run exists, and a query with only capped
  *     runs ships the cap value flagged in "capped" — a marked lower
  *     bound in a complete artifact beats both a 160 s "measurement"
  *     of hypervisor weather and a hole. (b) a coverage-first
  *     projection (committed envelope × observed window inflation)
  *     drops every remaining query to a minimal capped single run as
  *     soon as one-run-of-everything barely fits the budget, and a
  *     COVERAGE PASS reclaims any skipped queries BEFORE any re-pass
  *     budget is spent — one number for each beats three for half.
  *     `BenchSpec` drives the cap deterministically: an injected run
  *     that sleeps inside a Spark job past its cap is cancelled and
  *     recorded as capped, and the median rule, the outlier pick, the
  *     envelope read and both JSON lines are checked without a run.
  */
object Bench {
  private val SpreadMaxRatio = 3.0
  private val SpreadMinAbs = 1.0 // seconds
  private val CanaryName = "q1_agg" // codegen-heavy scan+agg, ~stable
  private val CanaryMaxDrift = 1.5
  private val CanaryMinAbs = 0.3 // seconds — ignore drift on a sub-noise ref
  // the iterative canary runs many short stages, so its noise floor is
  // scheduler jitter, not codegen: tolerate a little more absolute
  // drift before declaring the window dirty
  private val IterCanaryMinAbs = 0.5
  private val IterCanaryRounds = 5
  private val WindowSize = 20
  private val MaxWindowReruns = 2
  // all-stolen retry budget per query (each batch preceded by a 3 s
  // settle) and the end-of-bench re-pass: every query whose shipped
  // median exceeds RepassMinSec — plus every SUSPECT one — gets one
  // extra independent measure() at the END of the bench, hours of
  // weather away from its window, and ships min(window, repass).
  // Contention only ever ADDS time, so the min of two steal-clean
  // medians taken in different windows is the better estimate of the
  // query's uncontended cost; both values are recorded in
  // BENCH_DETAIL.json ("repass") for audit.
  private val StealMaxRetryBatches = 3
  private val RepassMinSec = 3.0
  // heavy queries ship a single timed run since the r11 trim, so the
  // re-pass is their only second sample — the cap covers the whole
  // ≥3 s family (37 queries ≈ 200 s of re-pass on a clean window,
  // inside the budget ladder's 70%→85% slot)
  private val RepassMaxQueries = 40
  // budget-tight tiers keep a BOUNDED re-pass alive instead of
  // shedding the re-pass entirely — a steal spike on one heavy query
  // can add 40 s to the shipped total, and the re-pass is the only
  // machinery that corrects it (round-11 lesson). Round-12 lesson
  // (a_hits shipped 16.4 s vs its committed-close 8.3 s because the 5
  // slots were absolute-sorted, suspects first): candidates are now
  // picked by RATIO against the committed BENCH_DETAIL.json medians —
  // the reference envelope the repo ships — so a clean-window steal
  // spike outranks a merely-large certified median. Every entry ≥
  // OutlierRatioMin× its committed value gets a slot (up to
  // OutlierOverCap; repassOver re-checks the budget per query so a
  // long list self-truncates), then the list tops up to
  // OutlierRepassMax by suspect-first / ratio / size.
  private val OutlierRepassMax = 5
  private val OutlierRatioMin = 2.0
  private val OutlierOverCap = 12
  // a priming run at the target SF this slow marks the query HEAVY:
  // ship a single timed run (the re-pass provides the second
  // independent sample for the top of the tail)
  private val HeavyOneRunSec = 3.0
  // ENVELOPE WALL CAP (round-13 lesson: the driver window measured a
  // 17×-stolen g18 to completion at 160.7 s and then re-passed it for
  // another 181.8 s — 342 s, 12.7% of the whole budget, on ONE query
  // whose canary already explained the inflation): a single run is
  // ABANDONED (Spark job group cancelled) once it exceeds
  // CapRatio × its committed-close median (floored at CapFloorS so
  // sub-noise queries never trip on jitter). A capped run is not a
  // measurement — it's a lower bound taken on the hypervisor's clock —
  // so it is excluded from medians whenever any completed run exists;
  // a query with ONLY capped runs ships the cap value, flagged in
  // "capped" (and suspect) in both JSON outputs. Queries with no
  // committed envelope run uncapped — there is no honest cap to apply.
  private val CapRatio = 4.0
  private[graft] val CapFloorS = 10.0
  // the caller reads a 2000-char stdout tail; the last line stays
  // under this with the slowest entries kept and the rest in "other"
  private val StdoutMaxChars = 1900

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** cumulative hypervisor steal jiffies (field 8 of /proc/stat's cpu
    * line) — ground truth for "the host starved this VM during that
    * run", which no in-process heuristic can see. 0 where unavailable.
    */
  private[graft] def stealJiffies(): Long =
    try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  /** a timed run that lost more than this many steal jiffies (100 Hz →
    * 2.5 core-seconds) to the hypervisor did not execute on the
    * machine the other runs saw; its timing is excluded from the
    * median whenever at least one steal-clean run exists. Measured
    * diagnosis: ~4.3 cumulative core-HOURS of steal over one session,
    * concentrated in bursts that hit many-short-stage iterative
    * queries 3-10× while scan-bound queries barely notice.
    */
  private[graft] val StealMaxJiffies = 250L

  /** The ITERATIVE canary job over `sfDir`'s nation table (round-8
    * lesson: the scan canary stayed flat at 0.36-0.58 s through a
    * window where an unchanged iterative query recorded 3.2× its
    * history — hypervisor steal throttles many-short-stage jobs via
    * scheduling latency while a single scan+agg stage barely notices).
    * The job is a fixed 5-round join+min-agg loop over the 25-row
    * nation table: ~2 shuffles per round × `cpus` tasks each, so its
    * cost IS stage-scheduling latency — the exact axis the scan canary
    * is blind on. Data volume is negligible by construction so the two
    * canaries separate the two contamination modes (CPU/cache pressure
    * vs scheduler starvation). The table is read once, here.
    */
  private[graft] def iterCanary(spark: SparkSession, sfDir: String): () => Unit = {
    val nation = Tables.nation(spark, sfDir)
      .selectExpr("n_nationkey AS id", "n_regionkey AS r")
    () => {
      var lbl = nation.selectExpr("id", "id AS lbl")
      (1 to IterCanaryRounds).foreach { _ =>
        val regionMin = lbl.join(nation, "id")
          .groupBy("r").agg(org.apache.spark.sql.functions.min("lbl").as("rlbl"))
        lbl = nation.join(regionMin, "r").selectExpr("id", "rlbl AS lbl")
      }
      lbl.write.format("noop").mode("overwrite").save()
    }
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the driver contract is local[32] / shuffle.partitions=32; the
    // old default of 4 silently benched at local[4] when launched
    // without the env var (round-9 mislabeled-artifact lesson)
    val cfg = Config(sfDir,
      cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt,
      budgetS = sys.env.getOrElse("SPARK_GRAFT_BUDGET_S", "2700").toDouble,
      detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json"))
    val spark = Session.local(cfg.cpus,
      s"${sys.props("java.io.tmpdir")}/graft_bench_ckpt")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val bench = new Stages(spark, cfg, names, envelope(names), tStart)
    // GNU timeout sends SIGTERM first; the JVM runs shutdown hooks on
    // SIGTERM, so the artifact survives everything short of SIGKILL.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try bench.emit(aborted = true)
      catch { case e: Throwable =>
        // last resort: a minimal parseable line beats nothing
        try println(s"""{"metric":"total","value":0,"unit":"sec","aborted":true,"emit_error":"${e.getClass.getSimpleName}","sf":"$sfDir"}""")
        catch { case _: Throwable => }
      }
    }, "bench-emit-on-term"))
    bench.warmup()
    bench.loadGuard()
    bench.seedCanaries()
    bench.windows()
    bench.coveragePass()
    bench.repass()
    bench.emit(aborted = false)
  }

  /** The run settings: SPARK_GRAFT_SF_DIR, _CPUS, _RUNS, _BUDGET_S and
    * the output path SPARK_GRAFT_DETAIL. */
  private[graft] final case class Config(sfDir: String, cpus: Int, runs: Int,
      budgetS: Double, detailPath: String)

  /** One timed run: wall seconds, whether it completed, whether it kept
    * under the steal limit, and whether the wall cap abandoned it. */
  private[graft] final case class Timed(sec: Double, ok: Boolean,
      stealClean: Boolean, capped: Boolean)

  /** One query's shipped value from its timed runs (`measured`), with
    * the bookkeeping the ledger folds in: stolen-run count and whether
    * a spread rerun was taken. */
  private[graft] final case class Measured(median: Double, cleanOnly: Boolean,
      anySuccess: Boolean, anyCapped: Boolean, stolen: Int, rerun: Boolean = false)

  /** One canary-pair observation: the startup seed (`tag` None) or a
    * window check "w<window>/a<attempt>". `keep` adds it to the rolling
    * references; `rerunWindow` marks a window re-measured for drift. */
  private[graft] final case class Canary(tag: Option[String], scan: Option[Double],
      iter: Double, stolen: Int, keep: Boolean, rerunWindow: Option[Int])

  /** The steal-clean median rule: the median over SUCCESSFUL,
    * STEAL-CLEAN runs — a near-instant failure must not masquerade as a
    * fast timing, and a run the hypervisor paused measures the host,
    * not the query; fall back to successful-any-steal, then to the
    * worst time (which for an all-capped query IS the cap value — a
    * flagged lower bound).
    *
    * cleanOnly=false means the shipped value includes steal-contaminated
    * runs (every retry batch was also stolen) — the ledger marks those
    * queries SUSPECT in both JSON outputs so a slow artifact value
    * carries its own health flag (round-9 lesson: a_simrank shipped
    * 35.8 s vs a certified 11.5 s with nothing in the artifact saying
    * the window was bad). anySuccess=false means EVERY run threw — the
    * value is the worst failure elapsed, which for a fast failure mode
    * (e.g. a stopped SparkContext after an external kill) is
    * milliseconds; the ledger records the query as FAILED and never
    * lets that number displace a real measurement (round-10 lesson: a
    * session kill mid-re-pass shipped 5 ms "timings" for nine iterative
    * queries).
    */
  private[graft] def measured(runs: Seq[Timed]): Measured = {
    val clean = runs.filter(t => t.ok && t.stealClean).map(_.sec).sorted
    val good = if (clean.nonEmpty) clean else runs.filter(_.ok).map(_.sec).sorted
    val anySuccess = runs.exists(_.ok)
    val med = if (good.nonEmpty) good(good.length / 2) else runs.map(_.sec).max
    Measured(med, clean.nonEmpty || !anySuccess, anySuccess, runs.exists(_.capped),
      runs.count(t => !t.stealClean && !t.capped))
  }

  /** A run's envelope wall cap: CapRatio × its committed median, floored
    * at CapFloorS; no committed value, no cap. */
  private[graft] def capFor(ref: Map[String, Double], name: String): Option[Double] =
    ref.get(name).filter(_ > 0).map(m => math.max(m * CapRatio, CapFloorS))

  /** COVERAGE-FIRST projection (round-13 lesson: skipped_tail fired on
    * 144 of 252 queries while 40-query repasses ran): estimate the cost
    * of ONE run of every still-unmeasured query from the committed
    * envelope scaled by the OBSERVED window inflation (the median
    * measured/committed ratio so far — a 2.4× window projects 2.4×
    * costs, which raw envelope sums would underestimate). Once the
    * projection no longer fits 90% of the budget, every query drops to
    * a minimal capped single run — one number for each beats three for
    * half; the artifact's comparability lives on coverage.
    */
  private[graft] def projectedTight(names: Seq[String], medians: Map[String, Double],
      ref: Map[String, Double], elapsedS: Double, budgetS: Double): Boolean = {
    val remaining = names.filterNot(medians.contains)
    if (ref.isEmpty || remaining.isEmpty) return false
    val ratios = names.flatMap(n => for {
      m <- medians.get(n); r <- ref.get(n) if r > 0
    } yield m / r)
    val inflation =
      if (ratios.isEmpty) 1.0
      else math.max(1.0, ratios.sorted.apply(ratios.length / 2))
    val avgRef = ref.values.sum / ref.size
    val est = remaining.map(n => ref.getOrElse(n, avgRef)).sum * inflation
    elapsedS + est > budgetS * 0.9
  }

  /** The bounded outlier re-pass pick (budget 70%..95%): tier 1 is
    * everything ≥ OutlierRatioMin× its committed-close value — the
    * entries a steal spike actually damaged (r12's a_hits case) — worst
    * ratio first, up to OutlierOverCap; tier 2 tops up to
    * OutlierRepassMax by suspect-first, then ratio, then absolute size
    * (covers no-envelope queries). Only ≥ RepassMinSec entries count.
    */
  private[graft] def outlierPick(names: Seq[String], medians: Map[String, Double],
      suspect: Set[String], ref: Map[String, Double]): Seq[String] = {
    val scored = names.flatMap { q =>
      medians.get(q).filter(_ >= RepassMinSec).map { med =>
        (q, med, ref.get(q).filter(_ > 0).map(med / _))
      }
    }
    val over = scored.filter(_._3.exists(_ >= OutlierRatioMin))
      .sortBy(-_._3.get).map(_._1).take(OutlierOverCap)
    val rest = scored.filterNot(s => over.contains(s._1))
      .sortBy(s => (if (suspect(s._1)) 0 else 1, -s._3.getOrElse(1.0), -s._2))
      .map(_._1)
    (over ++ rest).take(math.max(OutlierRepassMax, over.length))
  }

  private val Json = new ObjectMapper()

  /** The committed reference envelope: the per-query "queries" medians
    * of a detail file, compact or pretty-printed, whatever else it
    * nests. A missing or unparseable file gives an empty map, which
    * leaves every run uncapped and the outlier pick on absolute size.
    */
  private[graft] def readEnvelope(path: Path): Map[String, Double] =
    try Json.readTree(path.toFile).path("queries").properties().asScala
      .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }
      .toMap
    catch { case NonFatal(_) => Map.empty }

  /** The envelope file: BENCH_ENVELOPE.json (written only at clean
    * closes) is preferred over BENCH_DETAIL.json (every run's output —
    * which an external harness can overwrite with a degraded artifact:
    * the r13 run committed its catastrophic 108-query window there,
    * and an r14 close almost ran with 43%-coverage caps inflated up to
    * 20× before the contamination was caught by hand; this two-file
    * split makes that failure structural rather than a review catch).
    * Read BEFORE this run overwrites BENCH_DETAIL.json, and never from
    * SPARK_GRAFT_DETAIL: a redirected output still measures against
    * the repo's committed envelope.
    */
  private def envelope(names: Seq[String]): Map[String, Double] = {
    val committed = Paths.get("BENCH_ENVELOPE.json")
    val path = if (Files.exists(committed)) committed else Paths.get("BENCH_DETAIL.json")
    System.err.println(s"[bench] reference envelope source: $path")
    val ref = readEnvelope(path)
    if (ref.nonEmpty) {
      System.err.println(s"[bench] reference envelope: ${ref.size} " +
        "committed medians loaded for the outlier re-pass + wall caps")
      // an implausibly thin envelope means a stale detail file or one
      // from a much smaller suite — say so rather than quietly
      // degrading the re-pass to absolute ordering (ADVICE r13)
      if (ref.size < names.length / 2)
        System.err.println(s"[bench] WARNING: envelope covers only " +
          s"${ref.size} of ${names.length} queries — stale detail file?")
    }
    ref
  }

  /** Everything the JSON outputs carry, copied out of the ledger under
    * its lock; `results` follows the sorted query order. */
  private[graft] final case class Snapshot(results: Seq[(String, Double)],
      suspect: Seq[String], failed: Seq[String], capped: Seq[String],
      skipped: Seq[String], tiers: Seq[String], reruns: Seq[String],
      canaryChecks: Seq[(String, Double)], iterChecks: Seq[(String, Double)],
      windowsRerun: Seq[Int], repass: Seq[(String, (Double, Double))],
      stolenRuns: Long, canaryRef: Double, iterRef: Double, loadBefore: Double) {
    lazy val medians: Map[String, Double] = results.toMap
  }

  /** The one result ledger: every measured value and every flag the
    * JSON outputs carry. The stages and the shutdown hook share only
    * this; each method holds its lock, so a SIGTERM landing
    * mid-mutation still snapshots a consistent state.
    */
  private[graft] final class Ledger(names: Seq[String]) {
    private val medians = mutable.HashMap.empty[String, Double]
    private val suspect = mutable.LinkedHashSet.empty[String]
    private val failed = mutable.LinkedHashSet.empty[String]
    private val capped = mutable.LinkedHashSet.empty[String]
    private val skipped = mutable.LinkedHashSet.empty[String]
    private val tiers = mutable.LinkedHashSet.empty[String]
    private val reruns = mutable.ArrayBuffer.empty[String]
    private var stolenRuns = 0L
    private val canaryObs = mutable.ArrayBuffer.empty[Double]
    private val iterObs = mutable.ArrayBuffer.empty[Double]
    private val canaryChecks = mutable.ArrayBuffer.empty[(String, Double)]
    private val iterChecks = mutable.ArrayBuffer.empty[(String, Double)]
    private val windowsRerun = mutable.ArrayBuffer.empty[Int]
    private val repassLog = mutable.LinkedHashMap.empty[String, (Double, Double)]
    /** the load guard's 1-min load average; -1 until it has run */
    @volatile var loadBefore = -1.0

    /** Fold one measurement in. An all-capped query ships its cap value
      * flagged "capped" (+suspect) — a flagged lower bound in a complete
      * artifact beats a hole; an all-failed query stays FAILED so a
      * millisecond exception can never masquerade as a timing. */
    def record(n: String, m: Measured): Unit = synchronized {
      medians(n) = m.median
      skipped -= n
      if (m.cleanOnly) suspect -= n else suspect += n
      if (m.anySuccess) { failed -= n; capped -= n }
      else if (m.anyCapped) { capped += n; failed -= n; suspect += n }
      else failed += n
      tally(n, m)
    }

    /** Fold one canary-pair observation in. The drift reference is the
      * rolling median of the kept ones (see `Bench`'s scaladoc: a
      * fresh-JVM min is NOT a valid reference for a warm JVM — measured
      * 2× apart with no external load); drifted observations are not
      * kept, so a co-runner cannot drag the baseline toward its own
      * contamination. */
    def record(c: Canary): Unit = synchronized {
      c.tag.foreach { t =>
        c.scan.foreach(s => canaryChecks += (t -> s))
        iterChecks += (t -> c.iter)
      }
      if (c.keep) { c.scan.foreach(canaryObs += _); iterObs += c.iter }
      c.rerunWindow.foreach(windowsRerun += _)
      stolenRuns += c.stolen
    }

    /** budget endgame: an unmeasured query is skipped outright */
    def skip(n: String): Unit = synchronized {
      if (!medians.contains(n)) skipped += n
      tiers += "skipped_tail"
    }

    def tier(t: String): Unit = synchronized { tiers += t }

    /** Fold a re-pass measurement in: min(window, re-pass) ships. An
      * all-failed/all-capped re-pass (e.g. the context was torn down
      * under us, or the storm persisted) never displaces the window
      * measurement. Returns (window value, shipped value). */
    def repass(n: String, m: Measured): (Double, Double) = synchronized {
      val window = medians(n)
      repassLog(n) = (window, m.median)
      if (m.anySuccess && m.median < window) {
        medians(n) = m.median
        if (m.cleanOnly) suspect -= n
        capped -= n // a completed run supersedes a capped bound
      }
      tally(n, m)
      (window, medians(n))
    }

    private def tally(n: String, m: Measured): Unit = {
      stolenRuns += m.stolen
      if (m.rerun) reruns += n
    }

    private def rollingMedian(obs: Seq[Double]): Double =
      if (obs.isEmpty) -1.0 else obs.sorted.apply(obs.length / 2)

    def snapshot(): Snapshot = synchronized {
      Snapshot(names.flatMap(n => medians.get(n).map(n -> _)),
        suspect.toSeq, failed.toSeq, capped.toSeq, skipped.toSeq, tiers.toSeq,
        reruns.toSeq, canaryChecks.toSeq, iterChecks.toSeq, windowsRerun.toSeq,
        repassLog.toSeq, stolenRuns, rollingMedian(canaryObs.toSeq),
        rollingMedian(iterObs.toSeq), loadBefore)
    }
  }

  /** The per-run ENVELOPE WALL CAP: a daemon watchdog (never blocks
    * shutdown) that cancels a run's Spark job group once it exceeds its
    * cap, plus the steal bracket around every timed run. */
  private[graft] final class WallCap(spark: SparkSession) {
    private val watchdog = Executors.newSingleThreadScheduledExecutor((r: Runnable) => {
      val t = new Thread(r, "bench-wall-cap"); t.setDaemon(true); t
    })
    private val runCounter = new AtomicLong(0)

    /** One timed run of `body`: a run bracketed by a steal burst carries
      * the hypervisor's timing, not ours; a capped run was ABANDONED at
      * its wall cap — the r13 window spent 342 s measuring one
      * 17×-stolen query to completion, and the cap makes that
      * impossible. */
    def run(name: String, cap: Option[Double])(body: => Unit): Timed = {
      val sc = spark.sparkContext
      // ADVICE r14 race fix, two guards: (a) the job-group name is
      // unique PER RUN, so a watchdog task that outlives its run can at
      // worst cancel an empty group, never the query's next run; (b) a
      // CAS state machine (0=running, 1=completed, 2=capped) arbitrates
      // the fire-vs-finish race — the watchdog only cancels if it wins
      // the CAS, and a run that completed before cancellation took
      // effect counts as a valid measurement.
      val grp = s"bench-$name-${runCounter.incrementAndGet()}"
      val state = new AtomicInteger(0)
      sc.setJobGroup(grp, s"bench $name", interruptOnCancel = true)
      val killer = cap.map(c => watchdog.schedule(new Runnable {
        def run(): Unit = if (state.compareAndSet(0, 2)) {
          try sc.cancelJobGroup(grp)
          catch { case _: Throwable => }
        }
      }, (c * 1000).toLong, TimeUnit.MILLISECONDS))
      val s0 = stealJiffies()
      val t0 = System.nanoTime()
      val ok =
        try { body; true }
        catch { case e: Throwable =>
          if (state.get != 2)
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      state.compareAndSet(0, 1) // close the race window: run is over
      killer.foreach(_.cancel(false))
      sc.clearJobGroup()
      // capped = the cancel actually cost us the run; a run that beat
      // the watchdog to completion is a real measurement even if the
      // cap task fired concurrently
      val wasCapped = state.get == 2 && !ok
      val el = (System.nanoTime() - t0) / 1e9
      val stolen = stealJiffies() - s0 > StealMaxJiffies
      if (stolen && !wasCapped)
        System.err.println(f"[bench] $name run $el%.2f s lost >" +
          f"${StealMaxJiffies / 100.0}%.1f core-s to hypervisor steal")
      if (wasCapped)
        System.err.println(f"[bench] $name run ABANDONED at " +
          f"${cap.getOrElse(0.0)}%.1f s (${CapRatio}%.0f× committed " +
          "median wall cap) — recorded as capped, not measured")
      Timed(el, ok, !stolen, wasCapped)
    }
  }

  private def fmt(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  private def str(s: String): String = Json.writeValueAsString(s)
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  private def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  private def secs(kv: Seq[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> fmt(v) })
  /** the first `keep` names, then "+N more" — a storm cannot blow the
    * stdout line past the window (full list in the detail file) */
  private def firstOf(xs: Seq[String], keep: Int): String =
    strs(if (xs.size > keep) xs.take(keep) :+ s"+${xs.size - keep} more" else xs)

  private def degraded(s: Snapshot, aborted: Boolean): Boolean =
    aborted || s.tiers.nonEmpty || s.skipped.nonEmpty
  private def contended(s: Snapshot, cfg: Config): Boolean =
    s.loadBefore > cfg.cpus / 2.0

  /** The BENCH_DETAIL.json line: every flag, list and canary check. */
  private[graft] def detailLine(s: Snapshot, cfg: Config, nexpected: Int,
      elapsedS: Double, loadAfter: Double, aborted: Boolean): String = obj(Seq(
    "metric" -> str("total"), "value" -> fmt(s.results.map(_._2).sum),
    "unit" -> str("sec"), "runs" -> cfg.runs.toString, "cpus" -> cfg.cpus.toString,
    "nqueries" -> s.results.length.toString, "nexpected" -> nexpected.toString,
    "contended" -> contended(s, cfg).toString, "degraded" -> degraded(s, aborted).toString,
    "aborted" -> aborted.toString, "budget_s" -> fmt(cfg.budgetS),
    "elapsed_s" -> fmt(elapsedS), "degraded_tiers" -> strs(s.tiers),
    "skipped" -> strs(s.skipped), "load_before" -> fmt(s.loadBefore),
    "load_after" -> fmt(loadAfter), "reruns" -> strs(s.reruns),
    "canary" -> str(CanaryName), "canary_ref" -> fmt(s.canaryRef),
    "canary_checks" -> secs(s.canaryChecks),
    "iter_canary" -> str(s"nation-lpa-${IterCanaryRounds}r"),
    "iter_canary_ref" -> fmt(s.iterRef), "iter_canary_checks" -> secs(s.iterChecks),
    "windows_rerun" -> s.windowsRerun.mkString("[", ",", "]"),
    "stolen_runs" -> s.stolenRuns.toString, "suspect" -> strs(s.suspect),
    "failed" -> strs(s.failed), "capped" -> strs(s.capped),
    "repass" -> obj(s.repass.map { case (k, (a, b)) => k -> s"[${fmt(a)},${fmt(b)}]" }),
    "queries" -> secs(s.results), "sf" -> str(cfg.sfDir)))

  /** The final stdout line: the per-query map trimmed to the slowest
    * entries that keep the whole line within StdoutMaxChars, the rest
    * rolled up into "other" so the total is still the sum of the parts;
    * the suspect, capped and skipped lists are cut the same way. */
  private[graft] def stdoutLine(s: Snapshot, cfg: Config, aborted: Boolean): String = {
    val total = s.results.map(_._2).sum
    val bySlow = s.results.sortBy(-_._2)
    def line(n: Int): String = {
      val kept = bySlow.take(n)
      val entries = if (n < s.results.length) kept :+ ("other" -> bySlow.drop(n).map(_._2).sum)
        else kept
      obj(Seq("metric" -> str("total"), "value" -> fmt(total), "unit" -> str("sec"),
        "runs" -> cfg.runs.toString, "nqueries" -> s.results.length.toString,
        "contended" -> contended(s, cfg).toString,
        "degraded" -> degraded(s, aborted).toString, "aborted" -> aborted.toString,
        "stolen_runs" -> s.stolenRuns.toString, "suspect" -> firstOf(s.suspect, 8),
        "failed" -> strs(s.failed), "capped" -> firstOf(s.capped, 6),
        "skipped" -> firstOf(s.skipped, 6), "queries" -> secs(entries),
        "sf" -> str(cfg.sfDir)))
    }
    (s.results.length to 1 by -1).view.map(line).find(_.length <= StdoutMaxChars)
      .getOrElse(line(1))
  }

  /** The bench's stages over one run's session, settings, query names
    * and committed envelope; they share state only through `ledger`. */
  private final class Stages(spark: SparkSession, cfg: Config, names: Seq[String],
      ref: Map[String, Double], tStart: Long) {
    private val ledger = new Ledger(names)
    private val wallCap = new WallCap(spark)
    private val emitted = new AtomicBoolean(false)
    private val haveCanary = names.contains(CanaryName)
    private lazy val iterCanaryJob = iterCanary(spark, cfg.sfDir)

    private def elapsedS: Double = (System.nanoTime() - tStart) / 1e9
    private def budgetFrac: Double = elapsedS / cfg.budgetS
    private def tightProjection: Boolean =
      projectedTight(names, ledger.snapshot().medians, ref, elapsedS, cfg.budgetS)

    private def materialize(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    private def timedRuns(name: String, n: Int): Seq[Timed] =
      (1 to n).map(_ => wallCap.run(name, capFor(ref, name))(materialize(name, cfg.sfDir)))

    /** Write the detail file and print the final stdout JSON line.
      * Idempotent via `emitted`: called once on the normal path, or once
      * by the shutdown hook when an external SIGTERM (an outer
      * timeout) lands mid-run — a partial, honestly-flagged artifact
      * always beats an rc=124 stack-trace tail (round-10).
      */
    def emit(aborted: Boolean): Unit = if (emitted.compareAndSet(false, true)) {
      val s = ledger.snapshot()
      val detail = detailLine(s, cfg, names.length, elapsedS, loadAvg(), aborted)
      try Files.write(Paths.get(cfg.detailPath), (detail + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] detail write failed: ${e.getMessage}")
      }
      System.err.println(detail)
      // On the normal path stop() BEFORE the JSON line so shutdown
      // logging lands above it; in the hook Spark's own shutdown hook
      // races us and logs to stderr either way, so just print.
      if (!aborted) {
        try spark.stop()
        catch { case e: Throwable =>
          System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
        }
      }
      println(stdoutLine(s, cfg, aborted))
      System.out.flush()
    }

    val warmDir = "/root/testdata/sf0.001"

    /** warmup: exercise codegen/JIT on the tiny SF (errors surface in
      * the timed run; ignore here). Budget-capped at 15%: past that,
      * remaining plans warm up inside their own priming run instead. */
    def warmup(): Unit = {
      var warmupsSkipped = 0
      names.foreach { n =>
        if (budgetFrac < 0.15) {
          try materialize(n, warmDir) catch { case _: Throwable => }
        } else warmupsSkipped += 1
      }
      if (warmupsSkipped > 0) {
        ledger.tier("warmup_capped")
        System.err.println(s"[bench] budget: skipped $warmupsSkipped warmups " +
          f"(elapsed ${elapsedS}%.0f s of ${cfg.budgetS}%.0f)")
      }
    }

    /** load guard: sample BEFORE any timed work — a busy machine here
      * means something ELSE is running and every median below is
      * suspect ("contended" when load > half the bench's cores) */
    def loadGuard(): Unit = ledger.loadBefore = loadAvg()

    /** One query's shipped median: one TIMED-but-unshipped priming run
      * at the TARGET SF first (the sf0.001 warmup compiles every plan
      * but not the data-scale-dependent JIT profiles — round 6's first
      * query ran a consistent ~2.5× slow across all 3 timed runs, under
      * the rerun guard's threshold), then the timed runs, then
      * rerun-on-spread: a >3x spread among successful runs means at
      * least one timing is not steady state (JIT compile, GC storm,
      * transient contention) — take extra runs so the median reflects
      * the reproducible cost.
      *
      * Run-count ladder: a priming run ≥ HeavyOneRunSec marks the query
      * heavy → 1 timed run (the heavy tail is where median-of-3 costs
      * minutes of wall-clock for queries whose isolated medians are
      * certified in BASELINE.md; the end-of-bench re-pass is their
      * second sample). Past 50% of budget EVERY query gets 1 run and
      * spread/steal retries are disabled; past 80% the priming run is
      * dropped too (the sf0.001 warmup still compiled the plan).
      * minimal=true (the coverage pass) forces single-run/no-prime/
      * no-retries without re-adding the budget-ladder tier names.
      */
    private def measure(name: String, minimal: Boolean = false): Measured = {
      val coverageFirst = !minimal && tightProjection
      if (coverageFirst) ledger.tier("coverage_first")
      val tight = minimal || coverageFirst || budgetFrac > 0.5
      if (tight && !minimal) ledger.tier("single_run")
      val skipPrime = minimal || coverageFirst || budgetFrac > 0.8
      if (skipPrime && !minimal && budgetFrac > 0.8) ledger.tier("no_prime")
      var heavy = false
      if (!skipPrime) {
        val t0 = System.nanoTime()
        try materialize(name, cfg.sfDir) catch { case _: Throwable => }
        heavy = (System.nanoTime() - t0) / 1e9 >= HeavyOneRunSec
      }
      val nRuns = if (tight || heavy) 1 else cfg.runs
      var timed = timedRuns(name, nRuns)
      val g0 = timed.filter(_.ok).map(_.sec)
      val rerun = !tight && g0.length >= 2 && g0.max / g0.min.max(1e-9) > SpreadMaxRatio &&
        g0.max - g0.min > SpreadMinAbs
      if (rerun) {
        System.err.println(
          f"[bench] $name spread ${g0.min}%.2f..${g0.max}%.2f s — rerunning")
        timed = timed ++ timedRuns(name, math.max(nRuns - 1, 2))
      }
      // every successful run steal-contaminated → retry batches (with
      // settle pauses so a burst can pass) until a clean run exists;
      // bounded so a steal STORM cannot wedge the bench. All-CAPPED
      // gets exactly ONE retry batch — each retry costs up to the cap
      // itself, and the re-pass supplies the later independent look
      var stealRetries = 0
      val stealBudget = if (tight) 0 else StealMaxRetryBatches
      while (!timed.exists(t => t.ok && t.stealClean) && stealRetries < stealBudget
          && (timed.exists(_.ok) || (timed.exists(_.capped) && stealRetries < 1))) {
        stealRetries += 1
        System.err.println(s"[bench] $name: all runs steal-contaminated/" +
          s"capped — settling + retry batch $stealRetries/$stealBudget")
        Thread.sleep(3000)
        timed = timed ++ timedRuns(name, 1)
      }
      // Spark's ContextCleaner releases dead cache/localCheckpoint
      // blocks only when a GC notices them; across 150 queries the
      // debt accumulates until a mid-bench query eats a multi-second
      // collection that reads as a 5-7× outlier (observed bimodal
      // 7.8 s / 54.8 s on the same query). Collect BETWEEN queries so
      // each starts with a clean heap and pays only its own garbage.
      System.gc()
      measured(timed).copy(rerun = rerun)
    }

    // one canary observation: min of 2 back-to-back runs — a single run
    // can eat a GC pause and read 2-3× high on its own, which would trip
    // windows on the canary's noise rather than the machine's state
    private def canaryTime(): (Double, Int) = {
      val rs = timedRuns(CanaryName, 2)
      System.gc()
      (rs.map(_.sec).min, measured(rs).stolen)
    }

    private def iterCanaryTime(): Double = {
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try iterCanaryJob() catch { case _: Throwable => }
        (System.nanoTime() - t0) / 1e9
      }.min
      System.gc()
      t
    }

    /** Seed both canaries' rolling references with a startup
      * observation, so window 0 has a baseline. */
    def seedCanaries(): Unit = {
      val scan = if (haveCanary) {
        try materialize(CanaryName, cfg.sfDir) catch { case _: Throwable => }
        Some(canaryTime())
      } else None
      iterCanaryJob() // warm the loop's codegen before the seed observation
      ledger.record(Canary(None, scan.map(_._1), iterCanaryTime(),
        scan.fold(0)(_._2), keep = true, rerunWindow = None))
    }

    /** Measure in windows; after each, the canary pair decides whether
      * the window's numbers were taken on the same machine every other
      * window saw — if not, everything in the window is suspect (the r7
      * failure mode: a quiet-looking load average while unchanged
      * queries measured 3-9× slow) and is re-measured from scratch.
      * Past 50% of budget — or once the coverage-first projection says
      * one run of everything barely fits — windows are never
      * re-measured: re-measuring a whole window under a persisting
      * storm is exactly the budget burn that starved the r13 tail.
      */
    def windows(): Unit =
      names.grouped(WindowSize).zipWithIndex.foreach { case (window, wi) =>
        var attempt = 0
        var clean = false
        while (!clean) {
          window.foreach { n =>
            // budget endgame: past 92% every unmeasured query is skipped
            // outright — the shutdown hook may fire any moment, and a
            // flagged hole beats a half-timed value
            if (budgetFrac > 0.92) ledger.skip(n) else ledger.record(n, measure(n))
          }
          attempt += 1
          clean = !haveCanary || budgetFrac > 0.5 || tightProjection ||
            canariesClean(wi, attempt)
        }
      }

    /** Time both canaries against their rolling references; false when
      * window `wi` drifted and gets re-measured (at most MaxWindowReruns
      * times) after a settle pause. */
    private def canariesClean(wi: Int, attempt: Int): Boolean = {
      val snap = ledger.snapshot()
      val (ref, iRef) = (snap.canaryRef, snap.iterRef)
      val (c, stolen) = canaryTime()
      val ic = iterCanaryTime()
      val scanDrift = c > ref * CanaryMaxDrift && c - ref > CanaryMinAbs
      val iterDrift = ic > iRef * CanaryMaxDrift && ic - iRef > IterCanaryMinAbs
      val drifted = scanDrift || iterDrift
      val rerun = drifted && attempt <= MaxWindowReruns
      ledger.record(Canary(Some(s"w$wi/a$attempt"), Some(c), ic, stolen,
        keep = !drifted, rerunWindow = if (rerun) Some(wi) else None))
      if (rerun) {
        val which =
          if (scanDrift && iterDrift) "scan+iter" else if (scanDrift) "scan" else "iter"
        System.err.println(
          f"[bench] $which canary drift (scan ${c}%.2f vs ${ref}%.2f, " +
            f"iter ${ic}%.2f vs ${iRef}%.2f s) — " +
            s"window $wi contaminated; settling and re-measuring")
        // settle: let a co-runner finish / cleaner catch up, then
        // re-measure the whole window, discarding the tainted runs
        System.gc()
        Thread.sleep(5000)
      } else if (drifted)
        System.err.println(
          f"[bench] canary still scan=${c}%.2f/iter=${ic}%.2f s vs refs " +
            f"${ref}%.2f/${iRef}%.2f after " +
            s"$MaxWindowReruns reruns — keeping window $wi as measured")
      !rerun
    }

    /** COVERAGE PASS (round-13 task 1 — the r13 run shipped a 108/252
      * artifact while 40-query repasses ran): anything the in-window
      * endgame skipped gets ONE minimal capped run BEFORE any re-pass
      * spends budget polishing already-measured entries. skipped_tail is
      * the last resort now, not a default under a stolen window — wall
      * caps bound every run, so this pass costs at most Σ caps.
      * CHEAPEST-FIRST: when the budget is dying, filling holes per
      * second is the objective — the sub-second relational/stream/write
      * tail reclaims 10× more entries per budget-second than another
      * heavy graph query (the first drill left 64 cheap queries skipped
      * while alphabetical order spent the remnant on mid-cost ones);
      * queries with no envelope go last.
      */
    def coveragePass(): Unit = {
      val measuredNow = ledger.snapshot().medians
      val uncovered = names.filterNot(measuredNow.contains)
        .sortBy(n => ref.getOrElse(n, Double.MaxValue))
      if (uncovered.nonEmpty) {
        ledger.tier("coverage_pass")
        System.err.println(s"[bench] coverage pass: ${uncovered.length} " +
          "unmeasured queries get minimal capped single runs before any re-pass")
        uncovered.foreach { n =>
          if (budgetFrac < 0.99) ledger.record(n, measure(n, minimal = true))
        }
      }
    }

    /** END-OF-BENCH RE-PASS (round-10, the a_simrank lesson): heavy and
      * suspect queries get one more independent measurement now — their
      * original window may have sat inside a steal storm the guards
      * could only flag, not dodge. Ship min(window, repass): each value
      * is itself a steal-clean-preferred median, and noise on this VM is
      * one-sided (contention adds time, nothing subtracts).
      *
      * Budget ladder (round-11 lesson: the r11 artifact shipped
      * a_cc_alt at 44.8 s against a 4.4-7.6 s certified envelope and
      * landed the headline at 2.01× — because `repass_skipped` shed
      * exactly the machinery that corrects one-off steal inflation):
      *   < 70% of budget → full re-pass over the whole ≥RepassMinSec +
      *     suspect family (up to RepassMaxQueries);
      *   70%..95%        → NEVER zero: the bounded `outlierPick` re-pass;
      *     each query re-checks the budget before running so a
      *     persisting storm cannot push the bench into its external
      *     timeout (entry up to 95% because the skipped-tail
      *     tier itself ends the window loop just past 92% — a 92% entry
      *     cut made the outlier pass unreachable exactly when it
      *     matters);
      *   > 95%           → emit with what we have (the shutdown hook
      *     may fire any moment).
      */
    def repass(): Unit =
      if (budgetFrac < 0.7) {
        val s = ledger.snapshot()
        val repassSet = names
          .filter(n => s.medians.get(n).exists(_ >= RepassMinSec) || s.suspect.contains(n))
          .sortBy(n => -s.medians.getOrElse(n, 0.0)).take(RepassMaxQueries)
        if (repassSet.nonEmpty) {
          System.err.println(s"[bench] re-pass over ${repassSet.length} heavy/suspect " +
            s"queries: ${repassSet.mkString(", ")}")
          repassOver(repassSet, stopFrac = 0.85)
        }
      } else if (budgetFrac < 0.95) {
        ledger.tier("repass_outliers_only")
        val s = ledger.snapshot()
        val outliers = outlierPick(names, s.medians, s.suspect.toSet, ref)
        System.err.println(s"[bench] budget tight (elapsed " +
          f"${elapsedS}%.0f s of ${cfg.budgetS}%.0f) — bounded outlier re-pass " +
          s"(ratio-vs-envelope) over ${outliers.mkString(", ")}")
        repassOver(outliers, stopFrac = 0.97)
      } else {
        ledger.tier("repass_skipped")
        System.err.println(f"[bench] budget: skipping re-pass (elapsed " +
          f"${elapsedS}%.0f s of ${cfg.budgetS}%.0f)")
      }

    private def repassOver(set: Seq[String], stopFrac: Double): Unit =
      set.foreach { n =>
        if (budgetFrac < stopFrac) {
          val m = measure(n)
          val (window, shipped) = ledger.repass(n, m)
          System.err.println(
            f"[bench] re-pass $n: window $window%.2f s vs ${m.median}%.2f s" +
              (if (m.anySuccess) "" else " (ALL RUNS FAILED/CAPPED — discarded)") +
              f" → shipped $shipped%.2f s")
        }
      }
  }
}
