package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  /** scratch files stay under the build's target directory */
  private lazy val tmp = Files.createDirectories(Paths.get("target", "test-tmp"))

  test("tail: the sample with exactly ten beyond it, from twenty samples on") {
    val xs = (1 to 30).map(_.toDouble).reverse
    val t = Stats.tail(xs)
    assert(t.value == 20.0 && t.beyond == 10 && t.samples == 30)
    assert(math.abs(t.percentile - 200.0 / 3) < 1e-9)
    val t20 = Stats.tail((1 to 20).map(_.toDouble))
    assert(t20.value == 10.0 && t20.beyond == 10)
    // 100 samples: the rule lands on p90
    assert(Stats.tail((1 to 100).map(_.toDouble)).percentile == 90.0)
  }

  test("tail: under twenty samples one in ten lies beyond, at least one") {
    assert(Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(2.0, 200.0 / 3, 3, 1))
    // 16 samples: the second-slowest, at p93.75
    assert(Stats.tail((1 to 16).map(_.toDouble)) == Stats.Tail(15.0, 93.75, 16, 1))
    // a lone sample is its own tail
    assert(Stats.tail(Seq(4.0)) == Stats.Tail(4.0, 100.0, 1, 0))
  }

  test("median and quantiles interpolate") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0)
  }

  test("self time: overlapping job spans count once, overhang is clipped") {
    val parent = Span(1, 0, 1, "graph.build", 0, 100)
    val kids = Seq(
      Span(2, 1, 1, "spark.job", 10, 30),
      Span(3, 1, 1, "spark.job", 20, 50), // overlaps the first job
      Span(4, 1, 1, "spark.job", 90, 120)) // ends after its parent
    assert(Span.covered(kids.map(k => (k.startNs, k.endNs)), 0, 100) == 50)
    assert(Span.selfNs(parent, kids) == 50)
  }

  test("self time: nested spans, and a child inside another child") {
    val req = Span(1, 0, 1, "request", 0, 1000)
    val build = Span(2, 1, 1, "graph.build", 100, 600)
    val job = Span(3, 2, 1, "spark.job", 200, 500)
    val stage = Span(4, 3, 1, "spark.stage", 250, 450)
    assert(Span.selfNs(req, Seq(build)) == 500)
    assert(Span.selfNs(build, Seq(job)) == 200)
    assert(Span.selfNs(job, Seq(stage)) == 100)
    assert(Span.selfNs(stage, Nil) == 200)
  }

  test("tracer: spans nest on the client thread and share the request id") {
    val opened = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val t = new Tracer(true, (r, id) => opened += ((r, id)))
    t.request = 7
    t.span("request") { t.span("graph.parse")(()) }
    val Seq(inner, outer) = t.all
    assert(inner.parent == outer.id && outer.parent == 0)
    assert(t.all.forall(_.request == 7))
    // the job property follows the innermost open span, then is cleared
    assert(opened.map(_._2) == Seq(outer.id, inner.id, outer.id, 0L))
    val off = new Tracer(false)
    assert(off.span("request")(42) == 42 && off.all.isEmpty)
  }

  test("outcome: a failing check and a thrown request both count as failed") {
    assert(Runner.outcome("q", Right(() => None)).isEmpty)
    assert(Runner.outcome("q", Right(() => Some("digest differs"))).nonEmpty)
    assert(Runner.outcome("q", Right(() => throw new RuntimeException("x"))).nonEmpty)
    assert(Runner.outcome("q", Left(new IllegalStateException("boom"))).nonEmpty)
  }

  test("upsert model: a batch worked out by hand") {
    val m = new CorpusModel(Seq(
      Doc(1, "a b c d", "en", "s", 7), Doc(2, "x y z", "en", "s", 5),
      Doc(3, "  A  b\tc d ", "en", "s", 11)))
    m.upsert(Batch(Seq(
      Doc(2, "p q r", "en", "bench", 5), // update of an existing id
      Doc(4, "a b c d", "en", "bench", 7), // exact copy of 1
      Doc(5, "a b c e", "en", "bench", 7)), // near copy of 1
      exactPairs = Seq((1L, 4L)), nearPairs = Seq((1L, 5L))))
    assert(m.size == 5 && m.idSum == 15)
    assert(m.get(2).map(_.text).contains("p q r"))
    // 1, 3 and 4 share one fingerprint: trim, whitespace runs, case
    assert(m.exactGroups == Map(
      CorpusModel.fingerprint("a b c d") -> (1L, 3L),
      CorpusModel.fingerprint("p q r") -> (2L, 1L),
      CorpusModel.fingerprint("a b c e") -> (5L, 1L)))
    assert(m.livePlantedPairs == Seq((1L, 4L)))
    assert(m.textDigests(4) == CorpusModel.md5Hex("a b c d"))
    // updating the original breaks the planted pair
    m.upsert(Batch(Seq(Doc(1, "new text", "en", "bench", 8)), Nil, Nil))
    assert(m.livePlantedPairs.isEmpty && m.size == 5)
  }

  test("jaccard over word 3-gram shingles, short texts as one shingle") {
    // {a b c, b c d} vs {a b c, b c e}: 1 shared of 3
    assert(CorpusModel.jaccard("a b c d", "a b c e", 3) == 1.0 / 3)
    assert(CorpusModel.shingles("a b", 3) == Set("a b"))
    assert(CorpusModel.jaccard("x y z", "x y z", 3) == 1.0)
  }

  test("batches: updates, fresh ids, exact and near copies of earlier texts") {
    val m = new CorpusModel((0L until 50L).map(i =>
      Doc(i, (0 until 30).map(j => s"w${(i + j) % 17}").mkString(" "), "en", "s", 1)))
    val g = new BatchGen(5L, IndexedSeq("alpha", "beta", "gamma"))
    val b = g.next(m, updates = 4, fresh = 3, exact = 2, near = 2)
    assert(b.docs.size == 11 && b.docs.map(_.id).distinct.size == 11)
    assert(b.docs.count(_.id < 50) == 4)
    b.exactPairs.foreach { case (src, copy) =>
      assert(b.docs.find(_.id == copy).get.text == m.get(src).get.text) }
    b.nearPairs.foreach { case (src, copy) =>
      val a = CorpusModel.tokens(m.get(src).get.text)
      val c = CorpusModel.tokens(b.docs.find(_.id == copy).get.text)
      assert(a.length == c.length && a.zip(c).count { case (x, y) => x != y } == 1)
    }
    m.upsert(b)
    assert(m.livePlantedPairs.size == 2)
    // the same seed gives the same batch
    val again = new BatchGen(5L, IndexedSeq("alpha", "beta", "gamma"))
      .next(new CorpusModel((0L until 50L).map(i =>
        Doc(i, (0 until 30).map(j => s"w${(i + j) % 17}").mkString(" "), "en", "s", 1))),
        updates = 4, fresh = 3, exact = 2, near = 2)
    assert(again == b)
  }

  test("golden digest: a corrupted digest is reported as a wrong output") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString).getOrCreate()
    try {
      import spark.implicits._
      val df = Seq((1L, 0.5), (2L, 1.25)).toDF("id", "score")
      val d = Digest.of(df)
      assert(Digest.of(df.orderBy($"id".desc)) == d, "digest is order-insensitive")
      val file = Files.createTempFile(tmp, "golden", ".tsv")
      Files.write(file, Digest.render(Seq(("sfX", "q", d.replace("n=2", "n=3"))))
        .getBytes("UTF-8"))
      val ctx = new Ctx(spark, new Tracer(false), "/data/sfX", "/data/sfY",
        Files.createTempDirectory(tmp, "work"), Digest.load(file))
      val err = ctx.checkGolden("q", "/data/sfX", df, df.collect())
      assert(err.exists(_.contains("golden")))
      assert(Runner.outcome("q", Right(() => err)).nonEmpty)
      val ok = new Ctx(spark, new Tracer(false), "/data/sfX", "/data/sfY",
        Files.createTempDirectory(tmp, "work"), Map(("sfX", "q") -> d))
      assert(ok.checkGolden("q", "/data/sfX", df, df.orderBy($"id".desc).collect()).isEmpty)
    } finally spark.stop()
  }
}
