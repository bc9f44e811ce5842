package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, TextAnalysis}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while rain falls on the green field"
  private val nearDup = base.replace("green", "wet") // 1-word change
  private val distinct1 =
    "completely different content about spark catalyst optimizer internals and codegen"
  private val distinct2 =
    "unrelated words describing graphs vertices edges and traversal semantics here"

  lazy val docs = Seq(
    (0L, base), (1L, nearDup), (2L, distinct1), (3L, distinct2),
    (4L, base), // exact copy of 0
    (5L, "  the   quick brown fox jumps over the lazy dog while rain falls on the green field ") // ws-variant of 0
  ).toDF("doc_id", "text")

  test("segment dedup drops shared boilerplate, keeps unique segments") {
    // 10-word boilerplate block shared by two docs; unique tails
    val boiler = "copyright notice all rights reserved contact us terms privacy policy"
    val segDocs = Seq(
      (0L, s"$boiler alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, s"$boiler one two three four five six seven eight nine ten"),
      (2L, "lone document with nothing shared across any other row here at"),
      (3L, "short tail doc") // < segWords: single clamped segment
    ).toDF("doc_id", "text")
    val res = Dedup.segmentDedup(segDocs, segWords = 10, maxDocFreq = 1)
      .orderBy("doc_id")
      .select("doc_id", "n_segments", "n_kept", "kept_chars")
      .as[(Long, Long, Long, Long)].collect()
    assert(res(0) == ((0L, 2L, 1L, res(0)._4)) && res(0)._4 > 0)
    assert(res(1)._2 == 2L && res(1)._3 == 1L) // boilerplate seg dropped
    assert(res(2) == ((2L, 2L, 2L, 61L))) // 11 words: 10 + clamped 1
    assert(res(3)._2 == 1L && res(3)._3 == 1L && res(3)._4 == 14L)
    // segmentRows exposes the dropped segment with its doc frequency
    val dropped = Dedup.segmentRows(segDocs, 10, 1)
      .filter(!col("keep")).select("doc_id", "seg_idx", "n_docs")
      .as[(Long, Long, Long)].collect().toSet
    assert(dropped == Set((0L, 0L, 2L), (1L, 0L, 2L)))
  }

  test("exact dedup groups exact + whitespace-canonical copies") {
    val res = Dedup.exact(docs).collect()
    val byKeep = res.map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(byKeep(0L) == 3) // docs 0, 4, 5 share a fingerprint
    assert(res.length == 4)
  }

  test("minhash near-dup finds the planted pair and not the distinct docs") {
    val pairs = Dedup.minhashNearDup(docs, k = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 4L))) // near/exact pair found
    assert(pairs.contains((0L, 4L)) && pairs.contains((0L, 5L))) // exact copies always collide
    assert(!pairs.exists(p => Set(p._1, p._2).contains(2L) && Set(p._1, p._2).contains(3L)))
  }

  // SimHash hamming ≈ 64·θ/π, so hamming ≤ 3 needs ~99% token overlap:
  // use 400-token docs with a single token changed.
  private val longBase = (0 until 400).map(i => s"tok$i").mkString(" ")
  private val longNear = longBase.replace("tok7 ", "changed ")
  private val longOther = (0 until 400).map(i => s"other$i").mkString(" ")
  lazy val longDocs = Seq((0L, longBase), (1L, longNear), (2L, longOther),
    (3L, longBase)).toDF("doc_id", "text")

  test("simhash: exact copies identical; 99%-overlap docs within hamming 3") {
    val sigs = Dedup.simhash(longDocs).as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) <= 3)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) > 3)
  }

  test("simhash near-dup banding surfaces the planted pair") {
    val pairs = Dedup.simhashNearDup(longDocs, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.exists(p => Set(p._1, p._2).contains(2L) && p._1 != p._2))
  }

  test("sized simhash banding is recall-lossless at every subset size: " +
       "m=1/2/3 emit the identical pair set (the d37 invariant)") {
    def pairsAt(m: Int): Set[(Long, Long, Int)] =
      Dedup.simhashNearDup(longDocs, maxHamming = 3, subset = m)
        .select("a_id", "b_id", "hamming")
        .as[(Long, Long, Int)].collect().toSet
    val m1 = pairsAt(1)
    assert(m1.nonEmpty)
    assert(pairsAt(2) == m1, "pair-of-chunks keys changed the output")
    assert(pairsAt(3) == m1, "triple-of-chunks keys changed the output")
  }

  test("simhashSubsetForCorpus ladder: decade thresholds in integer " +
       "arithmetic (h=3, target 2 — the measured r14 knee, see SCALE.md)") {
    // m=1 holds while 2·2^16 >= n (≤ 131,072 docs): the knee probe
    // measured m=1 at 8.2× the m=2 cost already at 1.6M docs, so the
    // switch must land well before the old target-32 boundary
    assert(Dedup.simhashSubsetForCorpus(0L) == 1)
    assert(Dedup.simhashSubsetForCorpus(2L << 16) == 1)
    assert(Dedup.simhashSubsetForCorpus((2L << 16) + 1) == 2)
    // m=2 (5 chunks, pair keys >= 24 bits) holds to 2·2^24 (~33.5M)
    assert(Dedup.simhashSubsetForCorpus(2L << 24) == 2)
    assert(Dedup.simhashSubsetForCorpus((2L << 24) + 1) == 3)
    // m=3 is the clamp — never exceeded
    assert(Dedup.simhashSubsetForCorpus(Long.MaxValue / 2) == 3)
    // the explicit-knob spelling of the OLD default replays its ladder
    assert(Dedup.simhashSubsetForCorpus((32L << 16), targetBucket = 32) == 1)
  }

  test("simhashNearDup DEFAULT auto-sizes from the actual corpus count " +
       "(r13 verdict task 2): past the knee the wiring lands m=2") {
    // the auto seam counts the corpus, nothing more — a large range
    // pins the choice without paying a 2M-doc banding run
    val past = spark.range(2200000L).toDF("doc_id")
      .withColumn("text", lit("x"))
    assert(Dedup.simhashEffectiveSubset(past, maxHamming = 3, subset = 0) == 2)
    // below the knee the default reproduces the classic m=1 scheme
    assert(Dedup.simhashEffectiveSubset(longDocs, maxHamming = 3, subset = 0) == 1)
    // explicit subset bypasses the count entirely
    assert(Dedup.simhashEffectiveSubset(past, maxHamming = 3, subset = 3) == 3)
    // and the default-arg END-TO-END path on a small corpus matches
    // the explicit m=1 pin (same output by the pigeonhole invariant,
    // same m by the ladder)
    val auto = Dedup.simhashNearDup(longDocs, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val m1 = Dedup.simhashNearDup(longDocs, maxHamming = 3, subset = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(auto == m1)
  }

  test("simhash mega-bucket guard (opt-in) only ever drops pairs") {
    val all = Dedup.simhashNearDup(longDocs, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val guarded = Dedup.simhashNearDup(longDocs, maxHamming = 3,
        subset = 1, maxBucketSize = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(guarded.subsetOf(all))
  }

  /** The optimized plan of `df` holds exactly one pair-dedup aggregate
    * grouped on `keys`, with a hamming test (a `<=` over a bit count)
    * below it: the join's far pairs never reach the dedup.
    */
  private def hammingBelowDedup(df: org.apache.spark.sql.DataFrame,
                                keys: Set[String]): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute,
      BitwiseCount, Expression, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val plan = df.queryExecution.optimizedPlan
    val dedups = plan.collect {
      case a: Aggregate if a.groupingExpressions.collect {
        case r: Attribute => r.name }.toSet == keys => a
    }
    assert(dedups.size == 1, s"expected one pair dedup in\n$plan")
    def hamTest(e: Expression): Boolean = e.exists {
      case LessThanOrEqual(l, _) => l.exists(_.isInstanceOf[BitwiseCount])
      case _ => false
    }
    val below = dedups.head.child.exists {
      case f: Filter => hamTest(f.condition)
      case j: Join => j.condition.exists(hamTest)
      case _ => false
    }
    assert(below, s"no hamming test below the pair dedup in\n$plan")
  }

  test("simhashNearDup tests hamming below its (a_id, b_id) pair dedup") {
    hammingBelowDedup(Dedup.simhashNearDup(longDocs, maxHamming = 3, subset = 1),
      Set("a_id", "b_id"))
  }

  test("the ahash near-dup joins test hamming below their pair dedups") {
    val hashes = Seq((0L, 1L, 2L), (1L, 1L, 3L), (2L, 7L, 2L))
      .toDF("media_id", "ahash_lo", "ahash_hi")
    hammingBelowDedup(Multimodal.ahashNearDup(hashes), Set("a_id", "b_id"))
    hammingBelowDedup(Multimodal.ahashNearDupCounts(hashes),
      Set("a_lo", "a_hi", "b_lo", "b_hi"))
  }

  // doc 10 with a copy, a 4-word tail edit and a half rewrite (pair
  // jaccards 1.0, 0.75 and 0.4) plus two unrelated docs: a pair at
  // jaccard >= 0.3 escapes all 32 one-row bands with probability at
  // most 0.7^32, so recall at threshold 0.3 is total
  private lazy val plantedDocs = {
    val words = (0 until 30).map(i => s"w$i")
    def text(ws: Seq[String]) = ws.mkString(" ")
    Seq(
      (10L, text(words)), (11L, text(words)),                       // copy
      (12L, text(words.take(26) ++ Seq("x1", "x2", "x3", "x4"))),    // tail
      (13L, text(words.take(18) ++ (18 until 30).map(i => s"y$i"))), // half
      (14L, text((0 until 30).map(i => s"z$i"))),
      (15L, text((0 until 30).map(i => s"q$i")))
    ).toDF("doc_id", "text")
  }

  test("minhash verify scores every emitted pair with the exact " +
       "3-shingle jaccard of jaccardPairs") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
    val exact = pairs(Dedup.jaccardPairs(plantedDocs, k = 3,
      threshold = 0.3, maxDocId = 100))
    val lsh = pairs(Dedup.minhashNearDup(plantedDocs, k = 3, numHashes = 32,
      bands = 32, threshold = 0.3))
    assert(exact.keySet.contains((10L, 11L)) && exact.size >= 4,
      s"the fixture lost its planted pairs: $exact")
    assert(lsh == exact)
  }

  test("minhashNearDup plus a collect costs a pinned number of Spark jobs") {
    // one per-doc aggregate checkpoint feeds the bands and the verify;
    // a per-shingle checkpoint with a size aggregate and two verify
    // joins against it ran 11
    val (out, jobs) = TestSpark.jobsOf(
      Dedup.minhashNearDup(docs, k = 3, threshold = 0.5).collect())
    assert(out.nonEmpty)
    assert(jobs == 7, s"minhashNearDup and a collect ran $jobs jobs")
  }

  test("dedupDocuments keeps one representative per near-dup cluster") {
    val kept = Dedup.dedupDocuments(docs, jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(0L)) // smallest id of the cluster survives
    assert(!kept.contains(4L) && !kept.contains(5L))
    assert(kept.contains(2L) && kept.contains(3L))
  }

  test("jaccard pairs: exact copies score 1.0") {
    val j = Dedup.jaccardPairs(docs, k = 1, threshold = 0.9, maxDocId = 10)
      .filter(col("a_id") === 0 && col("b_id") === 4)
      .select("jaccard").as[Double].collect()
    assert(j.toSeq == Seq(1.0))
  }

  test("winnowing: exact copies share the full fingerprint set; " +
       "density and short-doc fallback hold") {
    val k = 3; val w = 4
    val fp = Dedup.winnowFingerprints(docs, k, w).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // exact copies fingerprint identically (positions and hashes)
    assert(fp(0L) == fp(4L))
    // winnowing selects >= 1 per full window but far fewer than all
    // grams: expected density ~2/(w+1); allow a generous band
    val (nGrams, nFps, _, fpMin, fpMax) = fp(0L)
    assert(nGrams == 16 - k + 1)
    assert(nFps >= 1 && nFps < nGrams)
    assert(fpMin >= 0 && fpMax < (1L << 40))
    // doc shorter than k tokens: one whole-doc gram, one fingerprint
    val tiny = Seq((9L, "only two")).toDF("doc_id", "text")
    val t = Dedup.winnowFingerprints(tiny, k, w).collect().head
    assert(t.getLong(1) == 1 && t.getLong(2) == 1)
  }

  test("winnowing guarantee: docs sharing a w+k-1 token run share a hash") {
    val k = 3; val w = 4
    // shared run of w+k-1 = 6 tokens embedded in disjoint prefixes at
    // DIFFERENT positions — the guarantee is on gram hashes, not
    // positions, so compare hp div 2^20
    val run = "alpha beta gamma delta epsilon zeta"
    val pair = Seq(
      (0L, s"one two three four five six $run"),
      (1L, s"seven eight nine ten eleven twelve extra $run")).toDF("doc_id", "text")
    val rows = Dedup.winnowFingerprintRows(pair, k, w)
      .select(col("doc_id"), expr("hp div 1048576").as("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val h0 = rows.filter(_._1 == 0L).map(_._2).toSet
    val h1 = rows.filter(_._1 == 1L).map(_._2).toSet
    assert((h0 & h1).nonEmpty)
    // and fully-disjoint docs share nothing
    val disj = Dedup.winnowFingerprintRows(
      Seq((0L, "aa bb cc dd ee ff gg hh"),
          (1L, "qq ww rr tt yy uu ii oo")).toDF("doc_id", "text"), k, w)
      .select(col("doc_id"), expr("hp div 1048576").as("h")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val d0 = disj.filter(_._1 == 0L).map(_._2).toSet
    val d1 = disj.filter(_._1 == 1L).map(_._2).toSet
    assert((d0 & d1).isEmpty)
  }

  test("property: LSH pair recall is total at j >= 0.7 on planted clone pairs " +
       "(the d9 gate's pair-set-identity claim)") {
    // The d9/d24 gates feed from minhashNearDup at 32 hashes × 16 bands
    // and CLAIM pair-set identity with the brute pairer at the corpus's
    // j >= 0.9 (PipelineQueries.lshDupPairs scaladoc). Pin the claim on
    // an adversarial ScalaCheck-generated corpus: planted clone pairs
    // spanning the whole jaccard spectrum (mutating 0..80% of tokens),
    // recall vs the exact inverted-index pairer must be 1.0 for every
    // pair whose TRUE shingle-jaccard lands >= 0.7. Theory: a j = 0.7
    // pair escapes all 16 bands of 2 rows w.p. (1-0.49)^16 ~= 2e-5;
    // the generator is seeded, so the outcome is deterministic.
    import org.scalacheck.{Gen, rng}
    val vocabGen = Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString)
    def word(seed: Long): String =
      vocabGen.pureApply(Gen.Parameters.default, rng.Seed(seed))
    val rnd = new scala.util.Random(4242L)
    val nTokens = 40
    val corpus = (0 until 25).flatMap { i =>
      // base doc: 40 tokens from a wide generated vocabulary (distinct
      // streams per doc so unrelated docs share almost nothing)
      val baseToks = Array.tabulate(nTokens)(t => word(i * 1000L + t))
      // clone: mutate a contiguous suffix of m tokens, m sweeping the
      // spectrum — i=0 → exact copy, i=24 → 32/40 tokens replaced
      val m = (i * nTokens * 4) / (5 * 25)
      val cloneToks = baseToks.clone()
      (nTokens - m until nTokens).foreach { t =>
        cloneToks(t) = word(900000L + i * 1000L + t + rnd.nextInt(3))
      }
      Seq((i * 2L, baseToks.mkString(" ")), (i * 2L + 1, cloneToks.mkString(" ")))
    }.toDF("doc_id", "text")

    val exact = Dedup.jaccardPairs(corpus, k = 3, threshold = 0.05,
        maxDocId = 1000)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val lsh = Dedup.minhashNearDup(corpus, k = 3, numHashes = 32,
        bands = 16, threshold = 0.05)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap

    val highJ = exact.filter { case (_, j) => j >= 0.7 }
    assert(highJ.nonEmpty, "generator produced no high-jaccard pairs")
    info(s"planted pairs: ${exact.size} exact, ${highJ.size} at j >= 0.7, " +
      s"lsh found ${lsh.size}")
    // recall = 1.0 at j >= 0.7, with identical verified jaccard values
    highJ.foreach { case (pair, j) =>
      assert(lsh.get(pair).contains(j),
        s"LSH missed/mis-scored pair $pair at true j=$j (got ${lsh.get(pair)})")
    }
    // and no false positives: every LSH pair is exact-verified, so the
    // lsh pair set must be a subset of the brute pair set
    lsh.foreach { case (pair, j) =>
      assert(exact.get(pair).contains(j), s"LSH invented pair $pair j=$j")
    }
  }

  test("stitchPairs: suffix=prefix boundaries; self and short docs excluded") {
    val docs = Seq(
      (1L, "x y z a b c"), // suffix "a b c"
      (2L, "a b c q"),     // prefix "a b c"
      (3L, "q"),           // < k tokens: skipped
      (4L, "a b c"))       // both suffix and prefix "a b c"
      .toDF("doc_id", "text")
    val got = Dedup.stitchPairs(docs, k = 3)
      .orderBy("a_id", "b_id").as[(Long, Long)].collect().toSeq
    // (4,4) is filtered as a self-pair; (2,*) has suffix "b c q"
    assert(got == Seq((1L, 2L), (1L, 4L), (4L, 2L)), s"got $got")
  }

  test("banded embedding near-dup (e4 production face): subset of exact, " +
       "verified cosines, quantified recall") {
    val emb = graft.Tables.embeddings(spark, TestSpark.sfDir)
    val n = emb.count()
    val exact = Dedup.embeddingNearDup(emb, threshold = 0.4, maxVecId = n)
      .select("a_id", "b_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    // the DEFAULT is now the corpus-sized rule (round-12 verdict task
    // 6): nBits omitted must equal an explicit nBitsForCorpus(count)
    val banded = Dedup.embeddingNearDupBanded(emb, threshold = 0.4)
      .select("a_id", "b_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val explicitSized = Dedup.embeddingNearDupBanded(emb, threshold = 0.4,
        nBits = Dedup.nBitsForCorpus(n))
      .select("a_id", "b_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(banded == explicitSized,
      "default banding must BE the sized rule on the actual corpus count")
    // soundness: every banded pair is a true pair with the exact cosine
    assert(banded.subsetOf(exact),
      s"banded face reported pairs the exact face rejects: ${banded -- exact}")
    assert(banded.forall(_._3 >= 0.4))
    // recall floor: 8 tables × 6 bits at cos ≥ 0.4 (per-bit agreement
    // p = 1 − θ/π ≥ 0.63) gives expected recall ~0.4 on the flat tail
    // and higher on the near-dup head; assert a conservative floor so
    // a banding regression (dead tables, wrong seeds) surfaces
    val recall = if (exact.isEmpty) 1.0 else banded.size.toDouble / exact.size
    info(f"banded near-dup recall at 0.4: ${banded.size}/${exact.size} = $recall%.2f")
    assert(exact.isEmpty || recall >= 0.25,
      s"banding recall collapsed: ${banded.size}/${exact.size}")
  }

  test("nBitsForCorpus keeps the mean band bucket near the target") {
    // E4Probe's measured contract: 20k vectors wanted ~9 bits
    assert(Dedup.nBitsForCorpus(20000L) == 10) // ceil(log2(625))
    assert(Dedup.nBitsForCorpus(2000L) == 6)
    assert(Dedup.nBitsForCorpus(0L) == 4) // clamp floor
    assert(Dedup.nBitsForCorpus(Long.MaxValue / 2) == 30) // clamp ceil
    // the implied mean bucket stays within 2x of target for real sizes
    Seq(1000L, 100000L, 10000000L, 1000000000L).foreach { n =>
      val b = Dedup.nBitsForCorpus(n)
      val mean = n.toDouble / (1L << b)
      assert(mean <= 32.0 && mean >= 8.0, s"n=$n bits=$b mean=$mean")
    }
  }

  test("dupClusters: multi-round chain converges to min-label components " +
    "(sum-witness convergence — r15 optimization)") {
    // a 7-link chain needs ~6 min-label propagation rounds (the label 10
    // must walk the whole chain), so a broken convergence witness that
    // stops one round early yields a non-min comp for the far end;
    // plus a separate 2-cluster and a singleton pair to pin components
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (15L, 16L), (16L, 17L), // chain 10..17
      (30L, 31L), (31L, 32L), // chain 30..32
      (50L, 51L) // pair
    ).toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val want = (10L to 17L).map(i => (i, 10L)) ++
      (30L to 32L).map(i => (i, 30L)) ++ Seq((50L, 50L), (51L, 50L))
    assert(got == want)
    // empty pair list: converge round 1 with an empty frame (the SUM
    // witness is NULL over zero rows — must not NPE)
    assert(Dedup.dupClusters(pairs.limit(0)).isEmpty)
  }
}
