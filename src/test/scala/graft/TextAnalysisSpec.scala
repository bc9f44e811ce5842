package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("qualityLrScores: hand-computed logits, features push the expected way") {
    // doc 1: 10 tokens, 0 punct, 3 stops (the,a,and), 10 alpha
    //   logit = -2000 + 15*10 - 0 + 25*((3*100)div 10) + 10*100
    //         = -2000 + 150 + 25*30 + 1000 = -100
    // doc 2: same + 10 punct-only tokens → n=20, punct=10, stop=3, alpha=10
    //   pct_punct=50, pct_stop=15, pct_alpha=50
    //   logit = -2000 + 300 - 1500 + 375 + 500 = -2325 (punct penalty)
    // doc 3: empty text → split('','\s+')=[''] n=1, all else 0
    //   logit = -2000 + 15 = -1985
    val docs = Seq(
      (1L, "the cat and a dog ran over green hills today", "en", "web"),
      (2L, "the cat and a dog ran over green hills today . . . . . . . . . .",
        "en", "web"),
      (3L, "", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.qualityLrScores(docs)
      .select(col("doc_id"), col("logit"), col("pass"))
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(1L) == ((-100L, false)))
    assert(got(2L) == ((-2325L, false)))
    assert(got(3L) == ((-1985L, false)))
    // a long clean natural doc scores positive
    val good = Seq((9L, ("the quick brown fox jumps over a lazy dog and " * 20)
      .trim, "en", "web")).toDF("doc_id", "text", "lang", "source")
    val g9 = TextAnalysis.qualityLrScores(good)
      .select(col("pass")).as[Boolean].collect()
    assert(g9.head, "long natural text must pass the classifier")
  }

  test("gopherFlags: each rule fails on its crafted pathology, passes on clean text") {
    val good = (("the quick brown fox jumps over a lazy dog and " * 6).trim)
    val docs = Seq(
      (1L, good),                                // clean: every rule passes
      (2L, "short text with the and a"),         // < 50 words
      (3L, ("a b c " * 40).trim),                // mean word len < 3
      (4L, good + " " + ("# " * 70).trim),       // symbol ratio ≥ 0.1
      (5L, (1 to 10).map(i =>
        if (i <= 4) s"line $i trails off..." else s"line $i is fine here")
        .mkString("\n") + " " + good),           // 40% ellipsis lines
      (6L, (1 to 10).map(i =>
        s"- bullet $i").mkString("\n") + " " + good), // 100% bullet lines
      (7L, good + " " + ("1234 5678 " * 30).trim),   // < 80% alphabetic words
      (8L, ("words without common stop tokens flowing onward " * 8).trim))
      .toDF("doc_id", "text")
    val f = graft.operators.TextAnalysis.gopherFlags(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(f(1L).getBoolean(8), "clean doc must pass the conjunction")
    assert(!f(2L).getBoolean(1), "word-count rule")
    assert(!f(3L).getBoolean(2), "mean-word-length rule")
    assert(!f(4L).getBoolean(3), "symbol-ratio rule")
    assert(!f(5L).getBoolean(4), "ellipsis-lines rule")
    assert(!f(6L).getBoolean(5), "bullet-lines rule")
    assert(!f(7L).getBoolean(6), "alphabetic-words rule")
    assert(!f(8L).getBoolean(7), "stopword rule")
    (2L to 8L).foreach(id => assert(!f(id).getBoolean(8), s"doc $id must fail pass"))
  }

  test("gopherFlags spreads a one-file corpus: one doc_id exchange " +
       "into shuffle.partitions parts") {
    val docs = Tables.documents(spark, TestSpark.sfDir)
    assert(docs.inputFiles.length == 1, "the fixture is no longer one file")
    val f = TextAnalysis.gopherFlags(docs)
    f.collect()
    val ex = TestSpark.shuffles(f.queryExecution.executedPlan)
    assert(ex.size == 1 && TestSpark.isDocSpread(ex.head),
      s"expected one doc_id spread in\n${f.queryExecution.executedPlan}")
  }

  test("gopherFlags plus a collect costs a pinned number of Spark jobs") {
    // the spread's map stage, then the collect; without the spread a
    // local frame's flags are collected on the driver, in no job
    val docs = Seq((1L, "a b c"), (2L, "d e f")).toDF("doc_id", "text")
    val (out, jobs) = TestSpark.jobsOf(TextAnalysis.gopherFlags(docs).collect())
    assert(out.length == 2)
    assert(jobs == 2, s"gopherFlags and a collect ran $jobs jobs")
  }

  test("langId classifies clear-cut sentences") {
    val df = Seq(
      (1L, "the cat and the dog sat in the garden with all of the birds"),
      (2L, "der hund und die katze sind nicht in das haus und der garten"),
      (3L, "el perro y la gata que viven en la casa de los abuelos"),
      (4L, "le chien et les chats sont dans une maison avec des oiseaux"),
      (5L, "xyzzy plugh qwerty")) // no profile hits
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
    val got = df.as[(Long, String)].collect().toMap
    assert(got(1L) == "en"); assert(got(2L) == "de")
    assert(got(3L) == "es"); assert(got(4L) == "fr")
    assert(got(5L) == "und")
  }

  test("token counts and fingerprint canonicalization") {
    val df = Seq(("a  b\tc", "A b   c")).toDF("t1", "t2").select(
      TextAnalysis.tokenCount(col("t1")).as("n1"),
      TextAnalysis.fingerprint(col("t1")).as("f1"),
      TextAnalysis.fingerprint(col("t2")).as("f2"))
    val r = df.collect()(0)
    assert(r.getInt(0) == 3)
    assert(r.getString(1) == r.getString(2)) // case+ws canonical
  }

  test("quality score is bounded and monotone-ish in length") {
    val df = Seq(
      (1L, "short"),
      (2L, ("the quick brown fox is on the hill and " * 10).trim))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
    val got = df.as[(Long, Double)].collect().toMap
    assert(got.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(2L) > got(1L))
  }

  test("bpeish count: alpha runs + digits + punct") {
    val n = Seq("ab 12 c!").toDF("text")
      .select(TextAnalysis.bpeishCount(col("text")).as("n"))
      .as[Long].collect()(0)
    assert(n == 5) // "ab", "1", "2", "c", "!"
  }

  test("rarityScore: exact floor arithmetic, rare tokens score higher") {
    // corpus: "a" ×3, "b" ×2, "z" ×1 → total 6
    val docs = Seq((1L, "a a b"), (2L, "a b z")).toDF("doc_id", "text")
    val got = TextAnalysis.rarityScore(docs).orderBy("doc_id")
      .select("doc_id", "rarity", "n_tokens", "distinct_ratio")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc1: 6/3 + 6/3 + 6/2 = 2+2+3 = 7; doc2: 6/3 + 6/2 + 6/1 = 2+3+6 = 11
    assert(got == Seq((1L, 7L, 3L, 0.666667), (2L, 11L, 3L, 1.0)))
  }

  test("repetitionStats: template spam flags, clean prose does not") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),
      (2L, "the quick brown fox jumps over a lazy dog tonight"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs).orderBy("doc_id")
      .select("doc_id", "top1_frac", "top2_frac", "top3_frac", "repetitive")
      .as[(Long, Double, Double, Double, Boolean)].collect().toSeq
    // doc1: 8 tokens {buy×4, now×4} → top1 0.5; 7 bigrams, "buy now"×4
    // → 0.571429; 6 trigrams, "buy now buy"×3 → 0.5
    assert(got(0) == (1L, 0.5, 0.571429, 0.5, true))
    // doc2: all grams unique → 0.1, 1/9, 1/8 — none over threshold
    assert(got(1)._5 == false)
    assert(got(1)._2 == 0.1)
  }

  test("lmSurprise: hand-computed bigram NLL ranks the unusual doc first") {
    // corpus: doc1 "x x x" → bigrams (x,x)×2; doc2 "x y" → (x,y)
    // model: n(x,x)=2, n(x,y)=1, context(x)=3
    //   doc1 avg_nll = -ln(2/3) = 0.405465; doc2 = -ln(1/3) = 1.098612
    val docs = Seq((1L, "x x x"), (2L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.lmSurprise(docs, topK = 5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((2L, 1L, 1.098612), (1L, 2L, 0.405465)))
  }

  test("lmSurprise: sub-2-token docs carry no bigrams and are skipped") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.lmSurprise(docs, topK = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(3L))
  }

  test("repetitionStats: docs shorter than n report 0 for that n") {
    val got = TextAnalysis.repetitionStats(
        Seq((1L, "solo"), (2L, "two words")).toDF("doc_id", "text"))
      .orderBy("doc_id")
      .select("doc_id", "top1_frac", "top2_frac", "top3_frac")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq((1L, 1.0, 0.0, 0.0), (2L, 0.5, 1.0, 0.0)))
  }

  test("applyMergeStep: greedy non-overlapping merges, identical-token runs") {
    val docs = Seq(
      (1L, "x a b y a b"),   // w1≠w2: both matches merge → 6 → 4
      (2L, "a a a a"),       // run of 3 matches → even offsets 0,2 → 2 merges
      (3L, "a a a"),         // run of 2 → 1 merge ("a a"+"a", not 2)
      (4L, "no pair here"),  // untouched → absent from the report
      (5L, "a b"))           // single match → 1 merge
      .toDF("doc_id", "text")
    val ab = graft.operators.TextAnalysis.applyMergeStep(docs, "a", "b")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(ab == Seq((1L, 6L, 2L, 4L), (5L, 2L, 1L, 1L)), s"got $ab")
    val aa = graft.operators.TextAnalysis.applyMergeStep(docs, "a", "a")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(aa == Seq((2L, 4L, 2L, 2L), (3L, 3L, 1L, 2L)), s"got $aa")
  }

  test("dsirScores: exact integer replay of the hashed-bigram importance weights") {
    val docs = Seq(
      (1L, "en", "the cat sat"),       // target: bigrams "the cat","cat sat"
      (2L, "en", "the cat ran"),       // target: "the cat","cat ran"
      (3L, "de", "der hund lief"),     // raw-only bigrams
      (4L, "de", "the cat sat"),       // raw doc that LOOKS like the target
      (5L, "de", "one"))               // <2 tokens → no bigrams → absent
      .toDF("doc_id", "lang", "text")
    val got = graft.operators.TextAnalysis
      .dsirScores(docs, col("lang") === "en", buckets = 64)
      .orderBy("doc_id")
      .as[(Long, Long, Long)].collect().toSeq

    // independent replay: same md5-prefix bucket hash and integer
    // arithmetic, computed with java.security directly
    def bucket(bg: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bg.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val rows = Seq(
      (1L, true, Seq("the cat", "cat sat")),
      (2L, true, Seq("the cat", "cat ran")),
      (3L, false, Seq("der hund", "hund lief")),
      (4L, false, Seq("the cat", "cat sat")))
    val counts = rows.flatMap { case (id, tgt, bgs) =>
      bgs.groupBy(bucket).map { case (b, xs) => (id, tgt, b, xs.size.toLong) }
    }
    val perBkt = counts.groupBy(_._3).map { case (b, xs) =>
      b -> (xs.filter(_._2).map(_._4).sum, xs.map(_._4).sum)
    }
    val tt = perBkt.values.map(_._1).sum
    val rt = perBkt.values.map(_._2).sum
    def weight(b: Long): Long = {
      val (tc, rc) = perBkt(b)
      val tppm = (tc + 1) * 1000000L / (tt + 64)
      val rppm = (rc + 1) * 1000000L / (rt + 64)
      tppm * 10000L / math.max(rppm, 1L)
    }
    val want = rows.map { case (id, _, bgs) =>
      (id, bgs.size.toLong,
        bgs.groupBy(bucket).map { case (b, xs) => xs.size * weight(b) }.sum)
    }
    assert(got == want, s"got $got want $want")
    // the target-resembling raw doc outranks the disjoint raw doc
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(4L) > byId(3L))
  }

  test("bpeTrain: hand-traced merge sequence, freq weighting, exhaustion") {
    // vocab: aaab×2, ab×1 (corpus "aaab aaab ab")
    // r1: pairs (a,a)=2·2=4 > (a,b)=2+1=3 → merge (a,a); greedy
    //     leftmost in aaab merges pos1-2 only → [aa,a,b]
    // r2: (aa,a)=2, (a,b)=2+1=3 → merge (a,b): aaab→[aa,ab], ab→[ab]
    // r3: (aa,ab)=2 → merge: aaab→[aaab]
    // r4-6: no pairs remain → no rules emitted
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, rounds = 6)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "a", 4L), (2, "a", "b", 3L),
      (3, "aa", "ab", 2L)))
  }

  test("bpeTrain: count ties break by the (lft, rgt) lexicographic order") {
    val docs = Seq((1L, "xy yx")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, rounds = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "x", "y", 1L)))
  }

  test("bpeTokenize: counts under the learned merges match the hand trace") {
    // corpus "aaab aaab ab": after 3 effective merges (see the trace
    // test) aaab -> [aaab] (1 sym), ab -> [ab] (1 sym); rounds 4-6
    // are no-ops. doc: 3 words, 10 chars, 3 tokens.
    val docs = Seq((1L, "aaab aaab ab"), (2L, "ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTokenize(docs, rounds = 6)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 10L, 3L), (2L, 1L, 2L, 1L)), s"got $got")
  }

  test("bpeTrain: identical-symbol runs merge ceil(r/2) times per word") {
    // "aaaa"×1: r1 pairs (a,a)=3; run {1,2,3} merges at pos1,pos3 →
    // [aa,aa]; r2 (aa,aa)=1 → [aaaa]
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(docs, rounds = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }
}
