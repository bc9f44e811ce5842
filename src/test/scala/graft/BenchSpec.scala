package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench's decisions without a bench run: the envelope read, the
  * steal-clean median rule, the two JSON lines, the outlier re-pass
  * pick, the coverage-first projection, and the wall cap on an injected
  * slow run. */
class BenchSpec extends AnyFunSuite {
  import Bench._

  private val json = new ObjectMapper()
  private val cfg = Config("/data/sf0.1", cpus = 4, runs = 3, budgetS = 2700.0,
    detailPath = "unused")

  private def tmpFile(text: String): Path = {
    val p = Files.createTempFile("bench-envelope", ".json")
    p.toFile.deleteOnExit()
    Files.writeString(p, text)
  }
  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq
  private def ok(sec: Double, clean: Boolean = true) = Timed(sec, ok = true, clean, capped = false)

  test("envelope read: compact, pretty-printed and nested detail files") {
    val compact = """{"metric":"total","value":3.750,"queries":{"a_x":1.500,"q1":2.250},"sf":"s"}"""
    assert(readEnvelope(tmpFile(compact)) == Map("a_x" -> 1.5, "q1" -> 2.25))
    val pretty =
      """{
        |  "metric" : "total",
        |  "queries" : {
        |    "a_x" : 1.5,
        |    "q1" : 2.25
        |  }
        |}""".stripMargin
    assert(readEnvelope(tmpFile(pretty)) == Map("a_x" -> 1.5, "q1" -> 2.25))
    // the real detail line nests arrays and maps before "queries"
    val nested = """{"canary_checks":{"w0/a1":0.3},"windows_rerun":[1],""" +
      """"repass":{"a_x":[9.100,8.200],"q1":[3.0,4.0]},"queries":{"a_x":8.2,"q1":3.0},"sf":"s"}"""
    assert(readEnvelope(tmpFile(nested)) == Map("a_x" -> 8.2, "q1" -> 3.0))
  }

  test("envelope read: a missing or unparseable file gives an empty map") {
    val missing = Files.createTempDirectory("bench-envelope").resolve("none.json")
    assert(readEnvelope(missing) == Map.empty)
    assert(readEnvelope(tmpFile("""{"queries":{"a":1.0""")) == Map.empty)
  }

  test("median rule: steal-clean runs beat stolen ones") {
    val m = measured(Seq(ok(1.0, clean = false), ok(2.0), ok(9.0, clean = false),
      ok(3.0), ok(4.0)))
    assert(m == Measured(3.0, cleanOnly = true, anySuccess = true, anyCapped = false,
      stolen = 2))
    // all stolen: the successful runs' median ships, flagged not clean
    val s = measured(Seq(ok(5.0, clean = false), ok(7.0, clean = false)))
    assert(s.median == 7.0 && !s.cleanOnly && s.stolen == 2)
    val ledger = new Ledger(Seq("q"))
    ledger.record("q", s)
    assert(ledger.snapshot().suspect == Seq("q"))
  }

  test("median rule: failed runs are never a timing") {
    val fail = Timed(0.001, ok = false, stealClean = true, capped = false)
    assert(measured(Seq(fail, ok(5.0), ok(6.0))).median == 6.0)
    val allFailed = measured(Seq(fail, fail.copy(sec = 0.002)))
    assert(!allFailed.anySuccess && !allFailed.anyCapped)
    val ledger = new Ledger(Seq("q", "r"))
    ledger.record("q", allFailed)
    ledger.record("r", measured(Seq(ok(5.0))))
    // an all-failed re-pass never displaces the window measurement
    assert(ledger.repass("r", allFailed) == (5.0, 5.0))
    val s = ledger.snapshot()
    assert(s.failed == Seq("q") && s.suspect.isEmpty && s.capped.isEmpty)
    assert(s.medians("r") == 5.0 && s.repass == Seq("r" -> (5.0, 0.002)))
  }

  test("median rule: all-capped ships the cap value flagged capped and suspect") {
    val cap = Timed(10.2, ok = false, stealClean = true, capped = true)
    val m = measured(Seq(cap, cap.copy(sec = 10.1)))
    assert(m.median == 10.2 && !m.anySuccess && m.anyCapped && m.stolen == 0)
    val ledger = new Ledger(Seq("q"))
    ledger.record("q", m)
    val s = ledger.snapshot()
    assert(s.medians == Map("q" -> 10.2))
    assert(s.capped == Seq("q") && s.suspect == Seq("q") && s.failed.isEmpty)
    // a completed re-pass run supersedes the capped bound
    ledger.repass("q", measured(Seq(ok(6.0))))
    val after = ledger.snapshot()
    assert(after.medians == Map("q" -> 6.0) && after.capped.isEmpty && after.suspect.isEmpty)
  }

  /** 263 measured queries (values k × 0.25 s, exact in binary), 20 of
    * them suspect and 7 capped, plus 10 skipped names. */
  private def bigLedger(): (Seq[String], Ledger) = {
    val names = (0 until 273).map(i => f"q$i%03d")
    val ledger = new Ledger(names)
    names.take(263).zipWithIndex.foreach { case (n, i) =>
      val sec = (i + 1) * 0.25
      val m =
        if (i < 7) Measured(sec, cleanOnly = false, anySuccess = false, anyCapped = true, 0)
        else Measured(sec, cleanOnly = i >= 20, anySuccess = true, anyCapped = false, 0)
      ledger.record(n, m)
    }
    names.drop(263).foreach(ledger.skip)
    (names, ledger)
  }

  test("stdout line: within 1900 chars for 263 entries, the rest in \"other\"") {
    val (names, ledger) = bigLedger()
    val s = ledger.snapshot()
    val line = stdoutLine(s, cfg, aborted = false)
    assert(line.length <= 1900)
    val root = json.readTree(line)
    assert(keys(root) == Seq("metric", "value", "unit", "runs", "nqueries", "contended",
      "degraded", "aborted", "stolen_runs", "suspect", "failed", "capped", "skipped",
      "queries", "sf"))
    val qs = root.get("queries").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    val kept = qs - "other"
    assert(kept.nonEmpty && kept.size < 263)
    assert(qs("other") == root.get("value").asDouble - kept.values.sum)
    // the slowest entries are the ones kept
    assert(kept.keySet == s.results.sortBy(-_._2).take(kept.size).map(_._1).toSet)
    def list(k: String) = root.get(k).elements().asScala.map(_.asText).toSeq
    assert(list("suspect") == names.take(8) :+ "+12 more")
    assert(list("capped") == names.take(6) :+ "+1 more")
    assert(list("skipped") == names.slice(263, 269) :+ "+4 more")
    assert(root.get("nqueries").asInt == 263 && root.get("degraded").asBoolean)
  }

  test("detail line: every key in contract order, every query, 3-decimal values") {
    val (_, ledger) = bigLedger()
    ledger.repass("q100", measured(Seq(ok(1.0))))
    val line = detailLine(ledger.snapshot(), cfg, nexpected = 273, elapsedS = 12.3456,
      loadAfter = 1.0, aborted = false)
    val root = json.readTree(line)
    assert(keys(root) == Seq("metric", "value", "unit", "runs", "cpus", "nqueries",
      "nexpected", "contended", "degraded", "aborted", "budget_s", "elapsed_s",
      "degraded_tiers", "skipped", "load_before", "load_after", "reruns", "canary",
      "canary_ref", "canary_checks", "iter_canary", "iter_canary_ref",
      "iter_canary_checks", "windows_rerun", "stolen_runs", "suspect", "failed",
      "capped", "repass", "queries", "sf"))
    assert(root.get("queries").size == 263 && root.get("skipped").size == 10)
    assert(line.contains(""""elapsed_s":12.346,""") && line.contains(""""budget_s":2700.000,"""))
    assert(line.contains(""""repass":{"q100":[25.250,1.000]}"""))
    assert(line.endsWith(""""sf":"/data/sf0.1"}"""))
  }

  test("outlier pick: ≥ 2× the envelope first, topped up to 5") {
    val medians = Map("a" -> 10.0, "b" -> 6.0, "c" -> 20.0, "d" -> 5.0, "e" -> 4.0,
      "f" -> 3.5, "g" -> 8.0, "h" -> 2.0)
    val ref = Map("a" -> 4.0, "b" -> 2.0, "c" -> 18.0, "d" -> 5.0, "f" -> 3.4,
      "g" -> 7.9, "h" -> 0.5)
    val names = medians.keys.toSeq.sorted
    // b (3×) and a (2.5×), then the suspect f, then by ratio: c, g;
    // h is 4× but under the 3 s re-pass floor
    assert(outlierPick(names, medians, Set("f"), ref) == Seq("b", "a", "f", "c", "g"))
    // every ≥ 2× entry gets a slot, past the top-up bound, up to 12
    val many = (1 to 14).map(i => s"o$i")
    val pick = outlierPick(many, many.map(_ -> 10.0).toMap, Set.empty,
      many.zipWithIndex.map { case (n, i) => n -> 4.0 / (1 + i * 0.01) }.toMap)
    assert(pick == many.reverse.take(12))
  }

  test("coverage-first projection: envelope × observed inflation against 90% of budget") {
    val names = Seq("a", "b", "c")
    val ref = Map("a" -> 10.0, "b" -> 10.0, "c" -> 10.0)
    assert(!projectedTight(names, Map.empty, Map.empty, 0.0, 25.0))
    assert(!projectedTight(names, Map("a" -> 10.0), ref, 10.0, 40.0)) // 10 + 20 ≤ 36
    assert(projectedTight(names, Map("a" -> 20.0), ref, 20.0, 60.0)) // 20 + 40 > 54
    assert(!projectedTight(names, ref, ref, 1000.0, 10.0)) // nothing left to run
  }

  test("wall cap: a run sleeping past its cap is cancelled and recorded as capped") {
    val spark = TestSpark.spark
    val cap = capFor(Map("slow" -> 0.5), "slow")
    assert(cap.contains(CapFloorS))
    val wallCap = new WallCap(spark)
    val fast = wallCap.run("fast", cap)(spark.range(5).count())
    assert(fast.ok && !fast.capped)
    val slow = wallCap.run("slow", cap) {
      spark.sparkContext.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(120000))
    }
    assert(slow.capped && !slow.ok)
    assert(slow.sec >= CapFloorS && slow.sec < 60.0)
    val ledger = new Ledger(Seq("slow"))
    ledger.record("slow", measured(Seq(slow)))
    val s = ledger.snapshot()
    assert(s.capped == Seq("slow") && s.suspect == Seq("slow") && s.failed.isEmpty)
    assert(s.medians("slow") == slow.sec)
    // the shared session keeps working after the cancel
    assert(spark.range(10).count() == 10)
  }
}
