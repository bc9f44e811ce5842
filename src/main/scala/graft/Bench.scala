package graft

import org.apache.spark.sql.SparkSession

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
  *     Forced-drill hooks (SPARK_GRAFT_DRILL_SLOW / _SPIKE) simulate
  *     the r13 window shape to exercise all of this deterministically.
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
  private val CapFloorS = 10.0

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
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
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
    def elapsedS: Double = (System.nanoTime() - tStart) / 1e9
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BUDGET_S", "2700").toDouble
    def budgetFrac: Double = elapsedS / budgetS

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the driver contract is local[32] / shuffle.partitions=32; the
    // old default of 4 silently benched at local[4] when launched
    // without the env var (round-9 mislabeled-artifact lesson)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt,
      s"${sys.props("java.io.tmpdir")}/graft_bench_ckpt")

    def materialize(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.keys.toSeq.sorted

    // the committed reference envelope: per-query medians from the last
    // clean-close BENCH_DETAIL.json (read BEFORE this run overwrites
    // it). Used by the bounded outlier re-pass to pick candidates by
    // ratio-vs-certified instead of absolute size. Empty map (no file,
    // no parse) degrades to the old absolute ordering.
    val refMedians: Map[String, Double] = {
      // the COMMITTED envelope, not this run's output path: when
      // SPARK_GRAFT_DETAIL redirects the output (drills, probes), the
      // reference must still come from the repo's committed file.
      // BENCH_ENVELOPE.json (written only at clean closes) is
      // preferred over BENCH_DETAIL.json (every run's output — which
      // an external harness can overwrite with a degraded artifact:
      // the r13 driver committed its catastrophic 108-query window
      // there, and an r14 close almost ran with 43%-coverage caps
      // inflated up to 20× before the contamination was caught by
      // hand; this two-file split makes that failure structural
      // rather than a review catch)
      val path = sys.env.get("SPARK_GRAFT_REF_DETAIL").getOrElse {
        if (java.nio.file.Files.exists(
            java.nio.file.Paths.get("BENCH_ENVELOPE.json")))
          "BENCH_ENVELOPE.json"
        else "BENCH_DETAIL.json"
      }
      try {
        System.err.println(s"[bench] reference envelope source: $path")
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        // whitespace-tolerant: a pretty-printed or re-serialized detail
        // file ("queries": { ... }) must load too, not just Bench's own
        // compact output
        "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(txt) match {
          case None => Map.empty
          case Some(m) =>
            // balanced-brace scan, not indexOf('}'): a future detail
            // format nesting values (e.g. per-query run arrays) must
            // not silently truncate the envelope (ADVICE r13)
            var depth = 1
            var j = m.end
            while (j < txt.length && depth > 0) {
              txt.charAt(j) match {
                case '{' => depth += 1
                case '}' => depth -= 1
                case _ =>
              }
              j += 1
            }
            if (depth != 0) Map.empty
            else "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
              .findAllMatchIn(txt.substring(m.end, j - 1))
              .map(g => g.group(1) -> g.group(2).toDouble).toMap
        }
      } catch { case _: Throwable => Map.empty }
    }
    if (refMedians.nonEmpty) {
      System.err.println(s"[bench] reference envelope: ${refMedians.size} " +
        "committed medians loaded for the outlier re-pass + wall caps")
      // an implausibly thin envelope means the parse truncated (or the
      // detail file is from a much smaller suite) — say so rather than
      // quietly degrading the re-pass to absolute ordering (ADVICE r13)
      if (refMedians.size < names.length / 2)
        System.err.println(s"[bench] WARNING: envelope covers only " +
          s"${refMedians.size} of ${names.length} queries — parse " +
          "truncation or stale detail file?")
    }

    // forced-drill hooks (round-13 task 1 acceptance: a simulated
    // degraded window inside a tight budget must still emit EVERY
    // query, with capped-run markers and no skipped entries).
    // SPARK_GRAFT_DRILL_SLOW=<f> inflates every run's wall time f×
    // (sleep in slices, so the wall cap can abandon the inflated run
    // exactly as it would a stolen one); SPARK_GRAFT_DRILL_SPIKE=
    // "name:f,name:f" adds per-query spikes on top — the r13 window's
    // actual profile was a 2.4× aggregate with 17-20× single-query
    // spikes. Production runs leave both unset (factor 1 = no-op).
    val drillSlow = sys.env.getOrElse("SPARK_GRAFT_DRILL_SLOW", "1").toDouble
    val drillSpike: Map[String, Double] =
      sys.env.getOrElse("SPARK_GRAFT_DRILL_SPIKE", "").split(',')
        .filter(_.contains(':')).map { kv =>
          val Array(k, v) = kv.split(':'); k -> v.toDouble
        }.toMap
    if (drillSlow > 1.0 || drillSpike.nonEmpty)
      System.err.println(s"[bench] DRILL MODE: slow=${drillSlow}x " +
        s"spikes=$drillSpike — numbers are synthetic, do not commit")

    // ---- shared result state (also read by the shutdown hook; all
    // mutations and the hook's snapshot synchronize on `medians`) ----
    val medians = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val suspect = scala.collection.mutable.LinkedHashSet.empty[String]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val capped = scala.collection.mutable.LinkedHashSet.empty[String]
    val skipped = scala.collection.mutable.LinkedHashSet.empty[String]
    val degradedTiers = scala.collection.mutable.LinkedHashSet.empty[String]
    val rerunsTaken = scala.collection.mutable.ArrayBuffer.empty[String]
    var stolenRuns = 0L
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    var loadBefore = -1.0
    var contended = false
    val canaryObs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val iterObs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaryChecks = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val iterChecks = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val windowsRerun = scala.collection.mutable.ArrayBuffer.empty[Int]
    val repassLog = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]

    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def qJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    def rollingMedian(obs: scala.collection.mutable.ArrayBuffer[Double]): Double =
      if (obs.isEmpty) -1.0 else obs.sorted.apply(obs.length / 2)
    def canaryRef: Double = rollingMedian(canaryObs)
    def iterRef: Double = rollingMedian(iterObs)

    /** Build + write the detail file and print the final stdout JSON
      * line. Idempotent via `emitted`: called once on the normal path,
      * or once by the shutdown hook when an external SIGTERM (the
      * driver's timeout) lands mid-run — a partial, honestly-flagged
      * artifact always beats an rc=124 stack-trace tail (round-10).
      */
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def emitFinal(aborted: Boolean): Unit = {
      if (!emitted.compareAndSet(false, true)) return
      // ONE snapshot of every hook-visible structure under the lock: a
      // SIGTERM can land mid-mutation, and an iteration over a live
      // buffer here would throw and degrade the emergency artifact to
      // the minimal fallback line — the exact rc=124-corpse scenario
      // the hook exists to avoid
      val (results, susp, fld, skip, capd, reruns, tiers,
           canarySnap, iterSnap, windowsSnap, repassSnap,
           stolenSnap, canaryRefSnap, iterRefSnap) = medians.synchronized {
        (names.flatMap(n => medians.get(n).map(n -> _)),
          suspect.toSeq, failed.toSeq, skipped.toSeq, capped.toSeq,
          rerunsTaken.toSeq, degradedTiers.toSeq,
          canaryChecks.toSeq, iterChecks.toSeq, windowsRerun.toSeq,
          repassLog.toSeq, stolenRuns, canaryRef, iterRef)
      }
      val total = results.map(_._2).sum
      val loadAfter = loadAvg()
      val degraded = aborted || tiers.nonEmpty || skip.nonEmpty

      val rerunJson = reruns.map("\"" + _ + "\"").mkString("[", ",", "]")
      val canaryJson = canarySnap
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val iterJson = iterSnap
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val windowsJson = windowsSnap.mkString("[", ",", "]")
      val suspectJson = susp.map("\"" + _ + "\"").mkString("[", ",", "]")
      val failedJson = fld.map("\"" + _ + "\"").mkString("[", ",", "]")
      val cappedJson = capd.map("\"" + _ + "\"").mkString("[", ",", "]")
      val skippedJson = skip.map("\"" + _ + "\"").mkString("[", ",", "]")
      val tiersJson = tiers.map("\"" + _ + "\"").mkString("[", ",", "]")
      val repassJson = repassSnap
        .map { case (k, (a, b)) => "\"" + k + "\":[" + fmt(a) + "," + fmt(b) + "]" }
        .mkString("{", ",", "}")
      val detail =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"cpus":$cpus,"nqueries":${results.length},"nexpected":${names.length},"contended":$contended,"degraded":$degraded,"aborted":$aborted,"budget_s":${fmt(budgetS)},"elapsed_s":${fmt(elapsedS)},"degraded_tiers":$tiersJson,"skipped":$skippedJson,"load_before":${fmt(loadBefore)},"load_after":${fmt(loadAfter)},"reruns":$rerunJson,"canary":"$CanaryName","canary_ref":${fmt(canaryRefSnap)},"canary_checks":$canaryJson,"iter_canary":"nation-lpa-${IterCanaryRounds}r","iter_canary_ref":${fmt(iterRefSnap)},"iter_canary_checks":$iterJson,"windows_rerun":$windowsJson,"stolen_runs":$stolenSnap,"suspect":$suspectJson,"failed":$failedJson,"capped":$cappedJson,"repass":$repassJson,"queries":${qJson(results)},"sf":"$sfDir"}"""
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(detailPath),
          (detail + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] detail write failed: ${e.getMessage}")
      }
      System.err.println(detail)

      // Final stdout line: per-query map trimmed to the slowest entries
      // that keep the whole line under the driver's 2000-char stdout
      // tail window, the rest rolled up into "other" so the total is
      // still the sum of the parts. The suspect list is capped here
      // (full list in the detail file) so a storm cannot blow the line
      // past the window.
      val suspectStdout = {
        val kept = susp.take(8).map("\"" + _ + "\"")
        val extra = susp.size - kept.size
        (if (extra > 0) kept ++ Seq("\"+" + extra + " more\"") else kept)
          .mkString("[", ",", "]")
      }
      val skippedStdout = {
        val kept = skip.take(6).map("\"" + _ + "\"")
        val extra = skip.size - kept.size
        (if (extra > 0) kept ++ Seq("\"+" + extra + " more\"") else kept)
          .mkString("[", ",", "]")
      }
      val cappedStdout = {
        val kept = capd.take(6).map("\"" + _ + "\"")
        val extra = capd.size - kept.size
        (if (extra > 0) kept ++ Seq("\"+" + extra + " more\"") else kept)
          .mkString("[", ",", "]")
      }
      val budget = 1900
      val bySlow = results.sortBy(-_._2)
      def compact(n: Int): String = {
        val kept = bySlow.take(n)
        val rest = bySlow.drop(n).map(_._2).sum
        val entries = if (kept.length < results.length)
          qJson(kept).dropRight(1) + s""","other":${fmt(rest)}}"""
        else qJson(kept)
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"nqueries":${results.length},"contended":$contended,"degraded":$degraded,"aborted":$aborted,"stolen_runs":$stolenSnap,"suspect":$suspectStdout,"failed":$failedJson,"capped":$cappedStdout,"skipped":$skippedStdout,"queries":$entries,"sf":"$sfDir"}"""
      }
      val line = (results.length to 1 by -1).view.map(compact).find(_.length <= budget)
        .getOrElse(compact(1))

      // On the normal path stop() BEFORE the JSON line so shutdown
      // logging lands above it; in the hook Spark's own shutdown hook
      // races us and logs to stderr either way, so just print.
      if (!aborted) {
        try spark.stop()
        catch { case e: Throwable =>
          System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
        }
      }
      println(line)
      System.out.flush()
    }
    // GNU timeout sends SIGTERM first; the JVM runs shutdown hooks on
    // SIGTERM, so the artifact survives everything short of SIGKILL.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try emitFinal(aborted = true)
      catch { case e: Throwable =>
        // last resort: a minimal parseable line beats nothing
        try println(s"""{"metric":"total","value":0,"unit":"sec","aborted":true,"emit_error":"${e.getClass.getSimpleName}","sf":"$sfDir"}""")
        catch { case _: Throwable => }
      }
    }, "bench-emit-on-term"))

    // warmup: exercise codegen/JIT on the tiny SF (errors surface in
    // the timed run; ignore here). Budget-capped at 15%: past that,
    // remaining plans warm up inside their own priming run instead.
    val warmDir = "/root/testdata/sf0.001"
    var warmupsSkipped = 0
    names.foreach { n =>
      if (budgetFrac < 0.15) {
        try materialize(n, warmDir) catch { case _: Throwable => }
      } else warmupsSkipped += 1
    }
    if (warmupsSkipped > 0) {
      medians.synchronized { degradedTiers += "warmup_capped" }
      System.err.println(s"[bench] budget: skipped $warmupsSkipped warmups " +
        f"(elapsed ${elapsedS}%.0f s of ${budgetS}%.0f)")
    }

    // load guard: sample BEFORE any timed work — a busy machine here
    // means something ELSE is running and every median below is suspect
    loadBefore = loadAvg()
    contended = loadBefore > cpus.toInt / 2.0

    // per-run wall-cap watchdog (daemon — never blocks shutdown): fires
    // the envelope cap by cancelling the run's Spark job group
    val watchdog = java.util.concurrent.Executors
      .newSingleThreadScheduledExecutor((r: Runnable) => {
        val t = new Thread(r, "bench-wall-cap"); t.setDaemon(true); t
      })
    val runCounter = new java.util.concurrent.atomic.AtomicLong(0)
    def capFor(name: String): Option[Double] =
      refMedians.get(name).filter(_ > 0)
        .map(m => math.max(m * CapRatio, CapFloorS))

    // (seconds, succeeded, steal-clean, capped): a run bracketed by a
    // steal burst carries the hypervisor's timing, not ours; a capped
    // run was ABANDONED at its envelope wall cap (CapRatio scaladoc) —
    // the r13 driver window spent 342 s measuring one 17×-stolen query
    // to completion, and the cap is what makes that impossible now
    def timedRuns(name: String, n: Int): Seq[(Double, Boolean, Boolean, Boolean)] =
      (1 to n).map { _ =>
        val cap = capFor(name)
        // ADVICE r14 race fix, two guards: (a) the job-group name is
        // unique PER RUN, so a watchdog task that outlives its run can
        // at worst cancel an empty group, never the query's next run;
        // (b) a CAS state machine (0=running, 1=completed, 2=capped)
        // arbitrates the fire-vs-finish race — the watchdog only
        // cancels if it wins the CAS, and a run that completed before
        // cancellation took effect counts as a valid measurement.
        val runIdx = runCounter.incrementAndGet()
        val grp = s"bench-$name-$runIdx"
        val state = new java.util.concurrent.atomic.AtomicInteger(0)
        spark.sparkContext.setJobGroup(grp, s"bench $name",
          interruptOnCancel = true)
        val killer = cap.map(c => watchdog.schedule(new Runnable {
          def run(): Unit = if (state.compareAndSet(0, 2)) {
            try spark.sparkContext.cancelJobGroup(grp)
            catch { case _: Throwable => }
          }
        }, (c * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS))
        val s0 = stealJiffies()
        val t0 = System.nanoTime()
        var ok =
          try { materialize(name, sfDir); true }
          catch { case e: Throwable =>
            if (state.get != 2)
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        // drill inflation: sliced sleep so the wall cap abandons the
        // inflated run exactly as it would a genuinely stolen one
        var drillCapped = false
        val factor = drillSlow * drillSpike.getOrElse(name, 1.0)
        if (ok && factor > 1.0) {
          val extraMs =
            ((factor - 1.0) * (System.nanoTime() - t0) / 1e6).toLong
          var slept = 0L
          while (slept < extraMs && state.get == 0) {
            val s = math.min(250L, extraMs - slept)
            Thread.sleep(s); slept += s
          }
          drillCapped = state.get == 2
        }
        state.compareAndSet(0, 1) // close the race window: run is over
        killer.foreach(_.cancel(false))
        spark.sparkContext.clearJobGroup()
        // capped = the cancel actually cost us the run (or, in a
        // drill, cut the simulated inflation short); a run that beat
        // the watchdog to completion is a real measurement even if
        // the cap task fired concurrently
        val wasCapped = drillCapped || (state.get == 2 && !ok)
        if (wasCapped) ok = false
        val el = (System.nanoTime() - t0) / 1e9
        val stolen = stealJiffies() - s0 > StealMaxJiffies
        if (stolen && !wasCapped) {
          medians.synchronized { stolenRuns += 1 }
          System.err.println(f"[bench] $name run $el%.2f s lost >" +
            f"${StealMaxJiffies / 100.0}%.1f core-s to hypervisor steal")
        }
        if (wasCapped)
          System.err.println(f"[bench] $name run ABANDONED at " +
            f"${cap.getOrElse(0.0)}%.1f s (${CapRatio}%.0f× committed " +
            "median wall cap) — recorded as capped, not measured")
        (el, ok, !stolen, wasCapped)
      }

    // one query's shipped median: one TIMED-but-unshipped priming run
    // at the TARGET SF first (the sf0.001 warmup compiles every plan
    // but not the data-scale-dependent JIT profiles — round 6's first
    // query ran a consistent ~2.5× slow across all 3 timed runs, under
    // the rerun guard's threshold), then the timed runs, then
    // rerun-on-spread: a >3x spread among successful runs means at
    // least one timing is not steady state (JIT compile, GC storm,
    // transient contention) — take extra runs so the median reflects
    // the reproducible cost.
    //
    // Run-count ladder: a priming run ≥ HeavyOneRunSec marks the query
    // heavy → 1 timed run (the heavy tail is where median-of-3 costs
    // minutes of wall-clock for queries whose isolated medians are
    // certified in BASELINE.md; the end-of-bench re-pass is their
    // second sample). Past 50% of budget EVERY query gets 1 run and
    // spread/steal retries are disabled; past 80% the priming run is
    // dropped too (the sf0.001 warmup still compiled the plan).
    //
    // Returns (median, cleanOnly, anySuccess): cleanOnly=false means
    // the shipped value includes steal-contaminated runs (every retry
    // batch was also stolen) — the caller marks those queries SUSPECT
    // in both JSON outputs so a slow artifact value carries its own
    // health flag (round-9 lesson: a_simrank shipped 35.8 s vs a
    // certified 11.5 s with nothing in the artifact saying the window
    // was bad). anySuccess=false means EVERY run threw — the returned
    // value is the worst failure elapsed, which for a fast failure
    // mode (e.g. a stopped SparkContext after an external kill) is
    // milliseconds; the caller must record the query as FAILED and
    // never let that number displace a real measurement (round-10
    // lesson: a session kill mid-re-pass shipped 5 ms "timings" for
    // nine iterative queries).
    // COVERAGE-FIRST projection (round-13 lesson: skipped_tail fired on
    // 144 of 252 queries while 40-query repasses ran): estimate the
    // cost of ONE run of every still-unmeasured query from the
    // committed envelope scaled by the OBSERVED window inflation (the
    // median measured/committed ratio so far — a 2.4× window projects
    // 2.4× costs, which raw envelope sums would underestimate). Once
    // the projection no longer fits 90% of the budget, every query
    // drops to a minimal capped single run — one number for each beats
    // three for half; the artifact's comparability lives on coverage.
    def projectedTight: Boolean = {
      if (refMedians.isEmpty) return false
      val (remaining, ratios) = medians.synchronized {
        (names.filterNot(medians.contains),
          names.flatMap(n => for {
            m <- medians.get(n); r <- refMedians.get(n) if r > 0
          } yield m / r))
      }
      if (remaining.isEmpty) return false
      val inflation =
        if (ratios.isEmpty) 1.0
        else math.max(1.0, ratios.sorted.apply(ratios.length / 2))
      val avgRef = refMedians.values.sum / refMedians.size
      val est = remaining.map(n => refMedians.getOrElse(n, avgRef)).sum * inflation
      elapsedS + est > budgetS * 0.9
    }

    // returns (median, cleanOnly, anySuccess, anyCapped); minimal=true
    // (the coverage pass) forces single-run/no-prime/no-retries without
    // re-adding the budget-ladder tier names
    def measure(name: String,
        minimal: Boolean = false): (Double, Boolean, Boolean, Boolean) = {
      val coverageFirst = !minimal && projectedTight
      if (coverageFirst)
        medians.synchronized { degradedTiers += "coverage_first" }
      val tight = minimal || coverageFirst || budgetFrac > 0.5
      if (tight && !minimal)
        medians.synchronized { degradedTiers += "single_run" }
      val skipPrime = minimal || coverageFirst || budgetFrac > 0.8
      if (skipPrime && !minimal && budgetFrac > 0.8)
        medians.synchronized { degradedTiers += "no_prime" }
      var heavy = false
      if (!skipPrime) {
        val t0 = System.nanoTime()
        try materialize(name, sfDir) catch { case _: Throwable => }
        heavy = (System.nanoTime() - t0) / 1e9 >= HeavyOneRunSec
      }
      val nRuns = if (tight || heavy) 1 else runs
      var timed = timedRuns(name, nRuns)
      val g0 = timed.filter(_._2).map(_._1)
      if (!tight && g0.length >= 2 && g0.max / g0.min.max(1e-9) > SpreadMaxRatio
          && g0.max - g0.min > SpreadMinAbs) {
        medians.synchronized { rerunsTaken += name }
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
      def cleanExists = timed.exists(t => t._2 && t._3)
      while (!cleanExists && stealRetries < stealBudget
          && (timed.exists(_._2)
            || (timed.exists(_._4) && stealRetries < 1))) {
        stealRetries += 1
        System.err.println(s"[bench] $name: all runs steal-contaminated/" +
          s"capped — settling + retry batch $stealRetries/$stealBudget")
        Thread.sleep(3000)
        timed = timed ++ timedRuns(name, 1)
      }
      // median over SUCCESSFUL, STEAL-CLEAN runs — a near-instant
      // failure must not masquerade as a fast timing, and a run the
      // hypervisor paused measures the host, not the query; fall back
      // to successful-any-steal, then to the worst time (which for an
      // all-capped query IS the cap value — a flagged lower bound)
      val clean = timed.filter(t => t._2 && t._3).map(_._1).sorted
      val good = if (clean.nonEmpty) clean
        else timed.filter(_._2).map(_._1).sorted
      val anySuccess = timed.exists(_._2)
      val anyCapped = timed.exists(_._4)
      val med = if (good.nonEmpty) good(good.length / 2) else timed.map(_._1).max
      // Spark's ContextCleaner releases dead cache/localCheckpoint
      // blocks only when a GC notices them; across 150 queries the
      // debt accumulates until a mid-bench query eats a multi-second
      // collection that reads as a 5-7× outlier (observed bimodal
      // 7.8 s / 54.8 s on the same query). Collect BETWEEN queries so
      // each starts with a clean heap and pays only its own garbage.
      System.gc()
      (med, clean.nonEmpty || !anySuccess, anySuccess, anyCapped)
    }

    // fold one measurement into the shared result state. An all-capped
    // query ships its cap value flagged "capped" (+suspect) — a flagged
    // lower bound in a complete artifact beats a hole; an all-failed
    // query stays FAILED so a millisecond exception can never
    // masquerade as a timing.
    def record(n: String, r: (Double, Boolean, Boolean, Boolean)): Unit = {
      val (med, cleanOnly, anyOk, anyCapped) = r
      medians.synchronized {
        medians(n) = med
        skipped -= n
        if (cleanOnly) suspect -= n else suspect += n
        if (anyOk) { failed -= n; capped -= n }
        else if (anyCapped) { capped += n; failed -= n; suspect += n }
        else failed += n
      }
    }

    // one canary observation: min of 2 back-to-back runs — a single
    // run can eat a GC pause and read 2-3× high on its own, which
    // would trip windows on the canary's noise rather than the
    // machine's state
    def canaryTime(): Double = {
      val t = (1 to 2).map(_ => timedRuns(CanaryName, 1).head._1).min
      System.gc()
      t
    }

    val iterCanaryJob = iterCanary(spark, sfDir)
    def iterCanaryTime(): Double = {
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        try iterCanaryJob() catch { case _: Throwable => }
        (System.nanoTime() - t0) / 1e9
      }.min
      System.gc()
      t
    }

    // clean canary observations; the drift reference is their rolling
    // median (see object scaladoc: a fresh-JVM min is NOT a valid
    // reference for a warm JVM — measured 2× apart with no external
    // load). Seeded with the startup observation so window 0 has a
    // baseline; drifted observations are excluded so a co-runner
    // cannot drag the baseline toward its own contamination.
    val haveCanary = names.contains(CanaryName)
    if (haveCanary) {
      try materialize(CanaryName, sfDir) catch { case _: Throwable => }
      val c0 = canaryTime()
      medians.synchronized { canaryObs += c0 }
    }
    iterCanaryJob() // warm the loop's codegen before the seed observation
    val i0 = iterCanaryTime()
    medians.synchronized { iterObs += i0 }

    // measure in windows; after each, the canary decides whether the
    // window's numbers were taken on the same machine every other
    // window saw — if not, everything in the window is suspect (the
    // r7 failure mode: a quiet-looking load average while unchanged
    // queries measured 3-9× slow) and is re-measured from scratch.
    names.grouped(WindowSize).zipWithIndex.foreach { case (window, wi) =>
      var attempt = 0
      var clean = false
      while (!clean) {
        window.foreach { n =>
          // budget endgame: past 92% every unmeasured query is skipped
          // outright — the shutdown hook may fire any moment, and a
          // flagged hole beats a half-timed value
          if (budgetFrac > 0.92) {
            medians.synchronized {
              if (!medians.contains(n)) skipped += n
              degradedTiers += "skipped_tail"
            }
          } else {
            record(n, measure(n))
          }
        }
        attempt += 1
        // past 50% of budget — or once coverage-first projection says
        // one run of everything barely fits — windows are never
        // re-measured: the canary pair still logs its observations for
        // the audit trail, but re-measuring a whole window under a
        // persisting storm is exactly the budget burn that starved the
        // r13 tail
        if (!haveCanary || budgetFrac > 0.5 || projectedTight) clean = true
        else {
          val ref = canaryRef
          val c = canaryTime()
          medians.synchronized { canaryChecks += (s"w$wi/a$attempt" -> c) }
          val iRef = iterRef
          val ic = iterCanaryTime()
          medians.synchronized { iterChecks += (s"w$wi/a$attempt" -> ic) }
          val scanDrift = c > ref * CanaryMaxDrift && c - ref > CanaryMinAbs
          val iterDrift = ic > iRef * CanaryMaxDrift && ic - iRef > IterCanaryMinAbs
          val drifted = scanDrift || iterDrift
          if (!drifted) {
            medians.synchronized { canaryObs += c; iterObs += ic }
            clean = true
          }
          else if (attempt > MaxWindowReruns) {
            System.err.println(
              f"[bench] canary still scan=${c}%.2f/iter=${ic}%.2f s vs refs " +
                f"${ref}%.2f/${iRef}%.2f after " +
                s"$MaxWindowReruns reruns — keeping window $wi as measured")
            clean = true
          } else {
            medians.synchronized { windowsRerun += wi }
            val which =
              if (scanDrift && iterDrift) "scan+iter"
              else if (scanDrift) "scan" else "iter"
            System.err.println(
              f"[bench] $which canary drift (scan ${c}%.2f vs ${ref}%.2f, " +
                f"iter ${ic}%.2f vs ${iRef}%.2f s) — " +
                s"window $wi contaminated; settling and re-measuring")
            // settle: let a co-runner finish / cleaner catch up, then
            // re-measure the whole window, discarding the tainted runs
            System.gc()
            Thread.sleep(5000)
          }
        }
      }
    }
    // END-OF-BENCH RE-PASS (round-10, the a_simrank lesson): heavy and
    // suspect queries get one more independent measurement now — their
    // original window may have sat inside a steal storm the guards
    // could only flag, not dodge. Ship min(window, repass): each value
    // is itself a steal-clean-preferred median, and noise on this VM
    // is one-sided (contention adds time, nothing subtracts).
    //
    // Budget ladder (round-11 lesson: the r11 driver artifact shipped
    // a_cc_alt at 44.8 s against a 4.4-7.6 s certified envelope and
    // landed the headline at 2.01× — because `repass_skipped` shed
    // exactly the machinery that corrects one-off steal inflation):
    //   < 70% of budget → full re-pass over the whole ≥RepassMinSec +
    //     suspect family (up to RepassMaxQueries);
    //   70%..95%        → NEVER zero: a bounded outlier-only re-pass of
    //     the top OutlierRepassMax window values (suspect-flagged
    //     first, then largest medians) — the handful of entries where
    //     a steal spike does the most damage to the total; each query
    //     re-checks the budget before running so a persisting storm
    //     cannot push the bench into the driver's external timeout
    //     (entry up to 95% because the skipped-tail tier itself ends
    //     the window loop just past 92% — a 92% entry cut made the
    //     outlier pass unreachable exactly when it matters);
    //   > 95%           → emit with what we have (the shutdown hook
    //     may fire any moment).
    def repassOver(set: Seq[String], stopFrac: Double): Unit =
      set.foreach { n =>
        if (budgetFrac < stopFrac) {
          val (med2, cleanOnly2, anyOk2, _) = measure(n)
          val shipped = medians.synchronized {
            repassLog(n) = (medians(n), med2)
            // an all-failed/all-capped re-pass (e.g. the context was
            // torn down under us, or the storm persisted) must never
            // displace the real window measurement
            if (anyOk2 && med2 < medians(n)) {
              medians(n) = med2
              if (cleanOnly2) suspect -= n
              capped -= n // a completed run supersedes a capped bound
            }
            medians(n)
          }
          System.err.println(
            f"[bench] re-pass $n: window ${repassLog(n)._1}%.2f s vs ${med2}%.2f s" +
              (if (anyOk2) "" else " (ALL RUNS FAILED/CAPPED — discarded)") +
              f" → shipped $shipped%.2f s")
        }
      }

    // COVERAGE PASS (round-13 task 1 — the driver shipped a 108/252
    // artifact while 40-query repasses ran): anything the in-window
    // endgame skipped gets ONE minimal capped run BEFORE any re-pass
    // spends budget polishing already-measured entries. skipped_tail is
    // the last resort now, not a default under a stolen window — wall
    // caps bound every run, so this pass costs at most Σ caps.
    // CHEAPEST-FIRST: when the budget is dying, filling holes per
    // second is the objective — the sub-second relational/stream/write
    // tail reclaims 10× more entries per budget-second than another
    // heavy graph query (the first drill left 64 cheap queries skipped
    // while alphabetical order spent the remnant on mid-cost ones);
    // queries with no envelope go last
    val uncovered = medians.synchronized { names.filterNot(medians.contains) }
      .sortBy(n => refMedians.getOrElse(n, Double.MaxValue))
    if (uncovered.nonEmpty) {
      medians.synchronized { degradedTiers += "coverage_pass" }
      System.err.println(s"[bench] coverage pass: ${uncovered.length} " +
        "unmeasured queries get minimal capped single runs before any re-pass")
      uncovered.foreach { n =>
        if (budgetFrac < 0.99) record(n, measure(n, minimal = true))
      }
    }

    if (budgetFrac < 0.7) {
      val repassSet = medians.synchronized {
        names.filter(n => medians.get(n).exists(_ >= RepassMinSec) || suspect(n))
          .sortBy(n => -medians.getOrElse(n, 0.0)).take(RepassMaxQueries)
      }
      if (repassSet.nonEmpty) {
        System.err.println(s"[bench] re-pass over ${repassSet.length} heavy/suspect " +
          s"queries: ${repassSet.mkString(", ")}")
        repassOver(repassSet, stopFrac = 0.85)
      }
    } else if (budgetFrac < 0.95) {
      medians.synchronized { degradedTiers += "repass_outliers_only" }
      val outliers = medians.synchronized {
        val scored = names.flatMap { q =>
          medians.get(q).filter(_ >= RepassMinSec).map { med =>
            (q, med, refMedians.get(q).filter(_ > 0).map(med / _))
          }
        }
        // tier 1: everything ≥ OutlierRatioMin× its committed-close
        // value — the entries a steal spike actually damaged (r12's
        // a_hits case) — worst ratio first, capped
        val over = scored.filter(_._3.exists(_ >= OutlierRatioMin))
          .sortBy(-_._3.get).map(_._1).take(OutlierOverCap)
        // tier 2: top-up to the old bound by suspect-first, then
        // ratio, then absolute size (covers no-envelope queries)
        val rest = scored.filterNot(s => over.contains(s._1))
          .sortBy(s => (if (suspect(s._1)) 0 else 1,
            -s._3.getOrElse(1.0), -s._2)).map(_._1)
        (over ++ rest).take(math.max(OutlierRepassMax, over.length))
      }
      System.err.println(s"[bench] budget tight (elapsed " +
        f"${elapsedS}%.0f s of ${budgetS}%.0f) — bounded outlier re-pass " +
        s"(ratio-vs-envelope) over ${outliers.mkString(", ")}")
      repassOver(outliers, stopFrac = 0.97)
    } else {
      medians.synchronized { degradedTiers += "repass_skipped" }
      System.err.println(f"[bench] budget: skipping re-pass (elapsed " +
        f"${elapsedS}%.0f s of ${budgetS}%.0f)")
    }

    emitFinal(aborted = false)
  }
}
