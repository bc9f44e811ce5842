package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines (BASELINE.json
  * north-star surface).
  *
  * Scale design: exact dedup is one hash-shuffle on the fingerprint;
  * MinHash/SimHash near-dup avoid the O(n²) pair space by LSH banding —
  * candidate pairs only form inside a (band, bucket) hash cell, so the
  * shuffle volume is O(n · bands) and the verify join touches only
  * candidates. The brute-force Jaccard pairer is intentionally bounded
  * (verification path / oracle) and documents its own limit.
  *
  * The per-document text work (shingle windows, MinHash signatures,
  * SimHash votes) runs after one doc_id hash partitioning into
  * `spark.sql.shuffle.partitions` parts ([[TextAnalysis.byDoc]]), so a
  * corpus that scans as one split still fills every task slot; the
  * (doc_id, ..) windows, distincts and aggregates above it need no
  * exchange of their own.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup on canonicalized text: winner = min doc_id per
    * fingerprint. One shuffle; at 100 TB this is the standard
    * hash-aggregate with map-side partial min.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(TextAnalysis.fingerprint(col("text")).as("fingerprint"),
        col("doc_id"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------- shingles

  /** word k-gram shingles (distinct), the MinHash input set —
    * Column-level formulation. NOTE: transform/slice are interpreted
    * per element; fine for inspecting a few rows, but every bulk path
    * below uses [[shingleRows]] instead.
    */
  def shingles(text: Column, k: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** Exploded DISTINCT (doc_id, s) shingle rows — the codegen'd bulk
    * path. Tokens explode once; k-grams assemble with window lead()
    * over (doc_id, pos), all whole-stage codegen, at the cost of one
    * narrow doc_id shuffle of the documents ([[TextAnalysis.byDoc]],
    * before the explode), which also serves the (doc_id, s) distinct
    * and any groupBy(doc_id) a caller puts on top — the same
    * explode-don't-transform lesson as the minhash aggregates
    * (interpreted HOF shingling measured ~10× slower on the gate
    * corpus). A doc with fewer than k tokens yields one whole-doc
    * shingle: its pos-0 row survives and concat_ws skips the null
    * leads, matching [[shingles]] exactly.
    */
  def shingleRows(docs: DataFrame, k: Int): DataFrame = {
    // null text coalesces to "" so the doc still yields its one
    // empty-string shingle (as the Column path does) instead of
    // silently vanishing from signatures — posexplode of a null array
    // emits no rows
    val tok = TextAnalysis.byDoc(docs).select(col("doc_id"),
      posexplode(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    if (k == 1) tok.select(col("doc_id"), col("t").as("s")).distinct()
    else {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val leads = (1 until k).map(i => lead(col("t"), i).over(w))
      // pos 0 is kept unconditionally: complete k-gram when the doc has
      // ≥ k tokens, whole-doc fallback shingle otherwise
      tok.select(col("doc_id"), col("pos"),
          concat_ws(" ", (col("t") +: leads): _*).as("s"),
          leads.last.isNotNull.as("__full"))
        .filter(col("__full") || col("pos") === 0)
        .select(col("doc_id"), col("s")).distinct()
    }
  }

  /** hash function i derived from one base hash: xor with a
    * well-mixed per-i constant (murmur-finalized in Scala, where
    * wrapping multiply is legal) followed by a xorshift64 avalanche —
    * only xor/shift Column ops, which are codegen'd and exempt from
    * ANSI overflow checks (Column `*` on longs throws on wrap in
    * Spark 4's default ANSI mode). Hashing each shingle string once
    * and mixing 64 ways is ~50× cheaper than 64 seeded string hashes.
    */
  private[graft] def mixConstant(i: Int): Long = {
    var x = (i + 1) * 0x9E3779B97F4A7C15L
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  /** Final mask to 63 bits: keeps every derived hash non-negative, so
    * a signed MIN (Spark) and an unsigned MIN (a SQL replay working in
    * UBIGINT) order identically — one bit of hash width traded for
    * cross-engine MIN agreement.
    */
  private def derivedHash(h: Column, i: Int): Column = {
    val s0 = h.bitwiseXOR(lit(mixConstant(i)))
    val s1 = s0.bitwiseXOR(shiftleft(s0, 13))
    val s2 = s1.bitwiseXOR(shiftrightunsigned(s1, 7))
    s2.bitwiseXOR(shiftleft(s2, 17)).bitwiseAND(lit(Long.MaxValue))
  }

  // -------------------------------------------------------- MinHash + LSH

  /** MinHash signatures: numHashes independent min-hashes per doc as
    * `signature: array<long>`.
    *
    * Shape chosen for scale AND local CPU: explode shingles → hash each
    * string ONCE → numHashes codegen'd MIN aggregates over derived
    * hashes → reassemble the signature array. Spark's higher-order
    * array functions are interpreted per element, so the seemingly
    * shuffle-free per-row formulation (64 × transform+array_min) is two
    * orders of magnitude slower; the explode shape runs in whole-stage
    * codegen, and the aggregate rides [[shingleRows]]' doc_id
    * partitioning, so it adds no exchange.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 3, numHashes: Int = 64,
                        tokenHash: Column => Column = fastTokenHash): DataFrame = {
    val exploded = shingleRows(docs, k)
      .select(col("doc_id"), tokenHash(col("s")).as("h"))
    val aggs = (0 until numHashes).map(i => min(derivedHash(col("h"), i)).as(s"m$i"))
    exploded.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("signature"))
  }

  /** Near-duplicate pairs via MinHash-LSH banding + exact-Jaccard
    * verification on candidates.
    *
    * bands × rowsPerBand = numHashes; a pair collides if any band's
    * signature slice matches exactly. Collision probability for true
    * Jaccard j is 1-(1-j^rows)^bands (the standard S-curve).
    *
    * Scale shape (learned from the sf0.1 bench): the candidate
    * shuffles carry ONLY narrow (a_id, b_id) pairs — the hash arrays
    * are joined back after pair dedup, so the band self-join and the
    * dropDuplicates never ship payloads. `maxBucketSize` is the skew
    * guard: a band bucket holding more docs than this is
    * non-discriminative (its members pair via other bands if truly
    * similar) and would otherwise explode quadratically — the LSH
    * equivalent of a skewed-join salt-or-drop decision.
    */
  def minhashNearDup(docs: DataFrame, k: Int = 3, numHashes: Int = 64,
                     bands: Int = 16, threshold: Double = 0.5,
                     maxBucketSize: Int = 500,
                     tokenHash: Column => Column = fastTokenHash): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // ONE per-doc aggregate over ONE shingle pass feeds the whole
    // operator: the numHashes MIN columns m$i (the signature) and the
    // doc's shingle hashes hs, checkpointed once — the band keys read
    // the m$i, the verify reads hs. Shingles are hashed to a long before
    // the aggregate, so the arrays hold longs, not strings: the counts
    // match a string-level Jaccard absent a hash collision between two
    // shingles of one doc (the same caveat the band bucketing already
    // accepts). EAGER localCheckpoint, not a lazy
    // persist: the kTruss lesson — a multi-scan consumer re-derives a
    // lazily-cached input under each scan before the cache fills.
    val sigAggs = (0 until numHashes).map(i =>
      min(derivedHash(col("h"), i)).as(s"m$i"))
    val sig = shingleRows(docs, k)
      .select(col("doc_id"), tokenHash(col("s")).as("h"))
      .groupBy(col("doc_id"))
      .agg(sigAggs.head, (sigAggs.tail :+ collect_list(col("h")).as("hs")): _*)
      .localCheckpoint(eager = true)

    // (band, bucket=hash(slice), doc) — one row per band per doc
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b) +: (0 until rows).map(r => col(s"m${b * rows + r}")): _*)
          .as("bucket"))
    }: _*)
    val buckets = sig
      .select(col("doc_id"), explode(bandStructs).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

    // skew guard: drop non-discriminative mega-buckets
    val sized = buckets
      .withColumn("bsize", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("bsize") <= maxBucketSize)
      .drop("bsize")

    // candidate pairs: narrow ids only through the self-join + dedup
    val a = sized.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val b = sized.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    val cands = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")

    // verify: exact Jaccard on candidates from the two docs' hash
    // arrays — |A∩B| = size(array_intersect), |A∪B| = |A|+|B|−|A∩B|.
    val hs = sig.select(col("doc_id"), col("hs"))
    cands
      .join(hs.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
      .join(hs.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("ha"), col("hb"))).as("ni"),
        size(col("ha")).as("na"), size(col("hb")).as("nb"))
      .withColumn("jaccard", round(col("ni").cast("double") /
        (col("na") + col("nb") - col("ni")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  // ------------------------------------------------- brute-force Jaccard

  /** Exact n-gram Jaccard over a BOUNDED candidate set — the
    * verification/oracle path (requires threshold > 0).
    *
    * Sparse inverted-index shape, not a cross join: explode shingles,
    * self-join on the shingle (only pairs that SHARE one ever
    * materialize), count = |A∩B|, then |A∪B| = |A|+|B|−|A∩B| from
    * per-doc sizes. Replaced the array_intersect cross join: 8.4 s →
    * sub-second on the d7 gate query, and the join volume is
    * Σ_shingle f² (document frequency), not n² — the same sparsity
    * MinHash exploits, here without approximation. Hot shingles
    * (stopword n-grams) are the skew axis; the LSH path with its
    * bucket-size guard remains the unbounded-scale answer.
    */
  def jaccardPairs(docs: DataFrame, k: Int = 1, threshold: Double = 0.1,
                   maxDocId: Long = 50): DataFrame = {
    require(threshold > 0, "sparse Jaccard cannot emit zero-overlap pairs")
    val ex = shingleRows(docs.filter(col("doc_id") < maxDocId), k)
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    ex.select(col("doc_id").as("a_id"), col("s"))
      .join(ex.select(col("doc_id").as("b_id"), col("s")), "s")
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard", round(col("ni").cast("double") /
        (col("na") + col("nb") - col("ni")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document: sign-sum of per-token hash bits.
    *
    * Same explode + codegen'd-aggregate shape as minhashSignatures
    * (interpreted higher-order folds are the local bottleneck): one
    * xxhash64 per distinct token, 64 SUM aggregates of ±1 bit votes,
    * bits reassembled with shift/or. The documents are hash-partitioned
    * on doc_id first ([[TextAnalysis.byDoc]]), so the vote aggregate
    * runs on every task slot and needs no exchange of its own: the
    * text rows move once, not the map-side partial sums.
    */
  /** default token hash: Spark's codegen'd xxhash64 — fastest, but
    * engine-specific (the oracle cannot replay it).
    */
  val fastTokenHash: Column => Column = t => xxhash64(t)

  /** engine-portable token hash: top 60 bits of md5 (15 hex chars →
    * fits signed 64-bit in every engine; SQL replay is
    * `CAST('0x'||substr(md5(t),1,15) AS BIGINT)`). Bits 60–63 of the
    * resulting simhash are structurally zero. ~3× the hash cost of
    * xxhash64 — use when cross-engine reproducibility matters more
    * than throughput.
    */
  val portableTokenHash: Column => Column =
    t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  def simhash(docs: DataFrame,
              tokenHash: Column => Column = fastTokenHash): DataFrame = {
    val exploded = TextAnalysis.byDoc(docs)
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokens(col("text")))).as("t"))
      .select(col("doc_id"), tokenHash(col("t")).as("h"))
    val voteAggs = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    val bits: Seq[Column] = (0 until 64).map { j =>
      when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    exploded.groupBy(col("doc_id"))
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"),
        bits.reduce((a, b) => a.bitwiseOR(b)).as("simhash"))
  }

  /** The SimHash sizing rule as code (the e19/nBitsForCorpus treatment
    * for the hamming family — round-12 verdict's lead item): the
    * subset size m ∈ {1, 2, 3} whose key space keeps the MEAN band
    * bucket at ~`targetBucket` docs. With c = maxHamming + m chunks,
    * an m-subset key spans at least m·(64/c) bits (integer division —
    * the narrowest subset), so buckets ≥ 2^(m·(64/c)): pick the
    * smallest m with targetBucket·2^(m·(64/c)) ≥ n. At the defaults
    * (h = 3, target 2) the ladder is
    *   m=1 (4×16-bit chunks, 2^16 buckets)  up to 131,072 docs,
    *   m=2 (5 chunks, pair keys ≥ 2^24)     up to ~33.5M docs,
    *   m=3 (6 chunks, triple keys ≥ 2^30)   up to ~2.1G docs, clamped —
    * mean in-bucket population stays O(1) per decade instead of
    * growing linearly (the Σ|b|² law the fixed 65,536-bucket knob
    * measured as 10–22× per decade on the e4/e18 family).
    *
    * `targetBucket = 2`, not the 32 the e19/nBits family uses, is a
    * MEASURED choice (round-14 knee probe, SCALE.md): the error is
    * asymmetric. Switching up one m too early costs only the constant
    * key-volume factor (C(c,m) band tables per doc — and the r13
    * decade rows show m=2 is 1.3–1.7× FASTER than m=1 even at
    * 500-doc corpora, so in practice it costs nothing), while
    * switching late is quadratic: at 1.6M docs — BELOW the old
    * target-32 knee of 2.1M, so the old rule still picked m=1 — the
    * m=1 face measured 299 s vs 36.5 s for m=2 (8.2×, synthetic
    * 12-token corpus). Integer arithmetic throughout so any engine
    * replays the choice exactly; the OUTPUT doesn't depend on it
    * (see [[simhashNearDup]]) — only the candidate volume does.
    */
  def simhashSubsetForCorpus(n: Long, maxHamming: Int = 3,
      targetBucket: Int = 2): Int = {
    require(n >= 0 && maxHamming >= 0 && targetBucket >= 1)
    var m = 1
    while (m < 3 && (targetBucket.toLong << (m * (64 / (maxHamming + m)))) < n)
      m += 1
    m
  }

  /** 64 bits split into c near-equal chunks: (shift, width) per chunk,
    * the first 64 % c chunks one bit wider.
    */
  private def simhashChunkBounds(c: Int): Seq[(Int, Int)] = {
    val base = 64 / c
    val widths = (0 until c).map(i => base + (if (i < 64 % c) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SimHash near-dup pairs, SIZED banding: split the 64 bits into
    * c = maxHamming + subset chunks and key the candidate self-join on
    * every `subset`-combination of chunk values (C(c, subset) band
    * tables). Pigeonhole keeps recall LOSSLESS at every subset size: a
    * pair at hamming ≤ maxHamming differs in at most maxHamming chunks,
    * so at least c − maxHamming = subset chunks agree — i.e. some
    * subset key collides. The exact-hamming verify then makes the
    * output EXACTLY all pairs at that distance for ANY subset ∈ {1,2,3}
    * — the sizing knob moves candidate volume only, never the result,
    * which is why the gate oracle replays plain all-pairs hamming with
    * no band replay at every knob setting (stronger than the e19
    * contract, where nBits is part of the semantics).
    *
    * Scale shape: `subset` is the corpus-size knob. `subset = 0` (the
    * DEFAULT) sizes it from the ACTUAL corpus count via
    * [[simhashSubsetForCorpus]] — the same convention as
    * [[embeddingNearDupBanded]]'s `nBits = 0`: the production caller
    * never has to know the ladder exists, and a default-arg call on a
    * 131k+ doc corpus gets m=2 instead of the fixed-knob Σ|b|²
    * quadratic (the auto path costs one count() job up front —
    * metadata-cheap next to the banding itself). Explicit m ∈ {1,2,3}
    * stays for oracle-literal pins: m=1 reproduces the classic
    * 4×16-bit scheme (2^16 buckets); m=2 keys on pairs of 5 chunks
    * (≥ 2^24 buckets), m=3 on triples of 6 (≥ 2^30) — mean bucket
    * population stays O(1) as the corpus decades up, so in-bucket
    * candidate volume tracks true near-dup density, not n²/2^16. The
    * band join still shuffles only (table, key-hash, doc_id, sig)
    * rows, and the hamming verify runs on the join's output before the
    * narrow (a_id, b_id, hamming) rows reach the pair dedup.
    * `maxBucketSize` (default OFF) is the MinHash-style mega-bucket
    * skew guard for pathological corpora (a hot chunk value from
    * near-empty/boilerplate docs): enabling it caps per-bucket
    * quadratic work but FORFEITS the lossless-recall guarantee — a
    * dropped bucket's pairs survive only if they collide in another
    * band table — so it is an explicit opt-in, not the default, and
    * gate oracles run with it off.
    */
  /** The auto-sizing seam [[simhashNearDup]] goes through: subset = 0
    * → one count() of `docs` feeds [[simhashSubsetForCorpus]];
    * explicit subset passes through untouched. Package-visible so the
    * spec can pin the WIRING (a synthetic 2.2M-row corpus really
    * lands on m = 2) without paying a 2M-doc banding run.
    */
  private[graft] def simhashEffectiveSubset(docs: DataFrame,
      maxHamming: Int, subset: Int): Int =
    if (subset > 0) subset
    else simhashSubsetForCorpus(docs.count(), maxHamming)

  /** SimHash near-dup pairs by chunk banding (see above). With
    * `subset = 0` the call caches `docs` for its sizing count and drops
    * that cache before it returns. Spark shares one cache between equal
    * plans, so two such calls at once on one plan may drop each other's
    * cache: the results stay right, but the other call scans its source
    * again.
    */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3,
      tokenHash: Column => Column = fastTokenHash,
      subset: Int = 0, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0, "maxHamming must be >= 0")
    require(subset >= 0 && subset <= 3,
      "subset must be 0 (= size from the corpus), 1, 2 or 3")
    require(maxBucketSize >= 1, "maxBucketSize must be >= 1")
    // subset = 0 is EAGER: sizing needs the corpus count, so the call
    // runs one Spark job before returning a plan (ADVICE r14 — callers
    // with a cheap count should pass an explicit subset from
    // simhashSubsetForCorpus instead). Persist around that count so an
    // expensive upstream plan is computed ONCE, not once for the count
    // and again for the banding; the cache is released once the band
    // checkpoint below holds its rows (nothing reads the input after
    // it), or on failure. A caller's own cache is left alone.
    val sizing = subset == 0 && docs.storageLevel == StorageLevel.NONE
    val input = if (sizing) docs.persist(StorageLevel.MEMORY_AND_DISK) else docs
    try simhashBands(input, maxHamming, tokenHash, subset, maxBucketSize)
    finally if (sizing) input.unpersist()
  }

  /** [[simhashNearDup]] after its sizing cache: every row the returned
    * plan reads is in the eager band checkpoint.
    */
  private def simhashBands(input: DataFrame, maxHamming: Int,
      tokenHash: Column => Column, subset: Int,
      maxBucketSize: Int): DataFrame = {
    val m = simhashEffectiveSubset(input, maxHamming, subset)
    val c = maxHamming + m
    require(c <= 64, "maxHamming + subset must be <= 64 bits")
    val sh = simhash(input, tokenHash)
    val bounds = simhashChunkBounds(c)
    def chunkVal(i: Int): Column = {
      val (shift, w) = bounds(i)
      shiftrightunsigned(col("simhash"), shift)
        .bitwiseAND(lit((1L << w) - 1))
    }
    // one key per subset-combination: xxhash64 of (table id, chunk
    // values) — equal chunks hash equal (recall preserved); a 64-bit
    // hash collision only ADDS a candidate, which the exact verify
    // rejects, so correctness is unaffected
    val tables = (0 until c).combinations(m).toSeq.zipWithIndex
    val keys = array(tables.map { case (idx, tid) =>
      struct(lit(tid).as("tbl"),
        xxhash64((lit(tid) +: idx.map(chunkVal)): _*).as("key"))
    }: _*)
    val banded = sh
      .select(col("doc_id"), col("simhash"), explode(keys).as("tk"))
      .select(col("doc_id"), col("simhash"),
        col("tk.tbl").as("tbl"), col("tk.key").as("key"))
    val sizedRaw =
      if (maxBucketSize == Int.MaxValue) banded
      else banded
        .withColumn("bsize", count(lit(1))
          .over(Window.partitionBy(col("tbl"), col("key"))))
        .filter(col("bsize") <= maxBucketSize)
        .drop("bsize")
    // EAGER checkpoint pre-partitioned on the band key (r15, guide
    // §2.4 — the minhash wave-1 lesson applied to the simhash face):
    // the a/b sides below otherwise re-derive the whole simhash
    // tokenize+agg subtree each (zero exchange reuse across the alias
    // split), and the aligned partitioning makes the band self-join
    // exchange-free. Narrow (doc_id, simhash, tbl, key) rows, n·L of
    // them.
    val sized = sizedRaw
      .repartition(col("tbl"), col("key"))
      .localCheckpoint(eager = true)
    val a = sized.select(col("tbl"), col("key"),
      col("doc_id").as("a_id"), col("simhash").as("a_sim"))
    val b = sized.select(col("tbl"), col("key"),
      col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    // the hamming test runs BEFORE the pair dedup: the band join emits
    // a pair once per colliding table, every copy with the same
    // (a_sim, b_sim), so filtering first drops the far pairs (most of
    // the join's output) before the dedup aggregate ever sees them —
    // the result is the same either way. Catalyst cannot make this move
    // itself: after the dedup, a_sim and b_sim are non-key aggregate
    // outputs.
    val ham = bit_count(col("a_sim").bitwiseXOR(col("b_sim")))
    a.join(b, Seq("tbl", "key"))
      .filter(col("a_id") < col("b_id") && ham <= maxHamming)
      .select(col("a_id"), col("b_id"), ham.as("hamming"))
      .dropDuplicates("a_id", "b_id")
  }

  // ------------------------------------------- embedding near-duplicates

  /** Embedding cosine near-dup pairs among a bounded candidate set
    * (oracle path); the scale path is Similarity.lshCandidates + this
    * verify step.
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double, maxVecId: Long): DataFrame = {
    val base = emb.filter(col("vec_id") < maxVecId)
      .select(col("vec_id"), col("embedding"))
    val a = base.select(col("vec_id").as("a_id"), col("embedding").as("a_v"))
    val b = base.select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("cosine", round(Similarity.cosine(col("a_v"), col("b_v")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** Embedding cosine near-dup pairs, PRODUCTION face: sign-LSH banding
    * (L tables of nBits hyperplane bits — [[Similarity.lshSignature]]'s
    * deterministic planes, so the DuckDB oracle replays every bucket
    * bit-for-bit) generates candidates, exact round-6 cosine verifies.
    * Semantics are therefore "banded near-dup": a pair above threshold
    * that never collides in any band is NOT reported — recall is the
    * standard 1−(1−p^nBits)^L curve (p = 1 − θ/π), floored in
    * DedupSpec against [[embeddingNearDup]] on the same corpus.
    *
    * Scale shape (the reason this face exists — VERDICT r10 #5: the
    * all-pairs form above is the bounded oracle face only): the band
    * join carries (table, sig, vec_id) rows — 24 bytes, never the
    * vector — so shuffle volume is O(n·L); candidate ids dedup on a
    * 16-byte key, and only then do TWO narrow hash joins fetch the
    * vectors for the verify kernel. Candidate volume per table is
    * Σ_bucket |b|²/2 with 2^nBits buckets — nBits is the scale knob:
    * grow it with the corpus so the mean bucket stays O(1); collisions
    * then track true similarity, not corpus size (the same posture as
    * the aHash/minhash families).
    */
  /** The nBits contract as code: bits so the MEAN band bucket holds
    * ~`targetBucket` vectors (E4Probe's measured sweet spot is tens —
    * thinner buckets pay table bookkeeping, fatter ones go quadratic):
    * the smallest b with targetBucket·2^b ≥ n, clamped to [4, 30] —
    * i.e. ceil(log2(n / target)), but computed in INTEGER arithmetic
    * so a SQL oracle can replay the choice bit-for-bit (a float
    * log(n)/log(2) lands on 10.000000000000002 at exact powers of two
    * and ceils one bucket-doubling away from another engine's log2).
    */
  def nBitsForCorpus(n: Long, targetBucket: Int = 32): Int = {
    require(n >= 0 && targetBucket >= 1)
    var b = 4
    while (b < 30 && (targetBucket.toLong << b) < n) b += 1
    b
  }

  /** nBits = 0 (the DEFAULT) sizes the banding from the ACTUAL corpus
    * count via [[nBitsForCorpus]] — the production contract (round-12
    * verdict task 6: the sized rule is the default signature, a fixed
    * knob is an explicit opt-in for oracle-literal regression pins
    * like e18). The auto path costs one count() job up front — at
    * 100 TB that's a metadata-cheap scan next to the banding itself.
    */
  def embeddingNearDupBanded(emb: DataFrame, threshold: Double,
      nBits: Int = 0, tables: Int = 8, dim: Int = 64): DataFrame = {
    require(nBits >= 0, "nBits must be >= 0 (0 = size from the corpus)")
    val base = emb.select(col("vec_id"), col("embedding"))
    val bits = if (nBits > 0) nBits else nBitsForCorpus(base.count())
    val sigs = array((0 until tables).map { t =>
      Similarity.lshSignature(col("embedding"),
        Similarity.hyperplanes(bits, dim, seed = 42L + t))
    }: _*)
    // EAGER checkpoint pre-partitioned on the band key (r15, §2.4):
    // the band self-join's two sides otherwise each re-run the
    // hyperplane signature pass (tables × bits dot products per
    // vector), and the aligned partitioning removes both join
    // exchanges. Narrow (vec_id, tbl, sig) rows.
    val banded = base
      .select(col("vec_id"), posexplode(sigs).as(Seq("tbl", "sig")))
      .repartition(col("tbl"), col("sig"))
      .localCheckpoint(eager = true)
    val cands = banded.select(col("tbl"), col("sig"), col("vec_id").as("a_id"))
      .join(banded.select(col("tbl"), col("sig"), col("vec_id").as("b_id")),
        Seq("tbl", "sig"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"))
    cands
      .join(base.select(col("vec_id").as("a_id"), col("embedding").as("a_v")), "a_id")
      .join(base.select(col("vec_id").as("b_id"), col("embedding").as("b_v")), "b_id")
      .withColumn("cosine", round(Similarity.cosine(col("a_v"), col("b_v")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  // --------------------------------------------------- near-dup clusters

  /** Connected components over a near-dup pair list — the step a real
    * curation pipeline runs AFTER pair finding: transitively group
    * duplicates (A~B, B~C ⇒ {A,B,C} one cluster) and elect a canonical
    * representative (min doc_id) per cluster.
    *
    * [[graft.graph.Algorithms.connectedComponents]] over the pair
    * graph, whose vertex set is the pair endpoints: delta min-label
    * propagation on the relaxation kernel, from the identity seed, run
    * to its fixpoint (labels only fall and are bounded below, so it
    * always ends — a long near-dup chain is never cut short). Per-round
    * state is narrow (id, comp) longs — the shuffles move 16-byte rows,
    * never text — and the pair list is symmetrized in one pass, so an
    * LSH-sourced pair pipeline (the d9/d24 gate path) runs once.
    * Returns (id, comp) with comp = min doc_id reachable, i.e. the
    * canonical representative.
    */
  def dupClusters(pairs: DataFrame): DataFrame =
    graft.graph.Algorithms.components(
        pairs.select(col("a_id").as("src"), col("b_id").as("dst")), None)
      .select(col("id"), col("x").as("comp"))

  /** Train/eval decontamination — the benchmark-leakage check of a
    * training pipeline (GPT-3/Gopher style n-gram collision filtering,
    * k-gram here): for every TRAIN document, how many of its distinct
    * k-gram shingles also appear anywhere in the EVAL split, plus the
    * ratio and a flag. Splits come from the same deterministic
    * md5-bucket assignment the corpus budget uses (Sampling
    * .assignSplit), so the whole operator replays relationally.
    *
    * Scale shape: the shingle join is the sparse inverted-index form —
    * train grams meet eval grams only on equal keys, the eval side is
    * a distinct gram set (a fraction of the corpus vocabulary; AQE
    * broadcasts it when small), and both aggregations are map-side
    * partial counts on doc_id. The flag compares the ROUNDED ratio so
    * engines agree at the threshold boundary.
    */
  def contamination(docs: DataFrame, k: Int = 3,
                    weights: Seq[(String, Double)] =
                      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                    evalSplit: String = "test",
                    flagThreshold: Double = 0.2): DataFrame = {
    val lab = graft.operators.Sampling.assignSplit(docs, col("doc_id"), weights)
    // EAGER checkpoint: the split-labelled shingle rows feed FOUR
    // consumers (eval distinct, train side, per-doc totals, hit join) —
    // without it the tokenize + k-gram window + distinct re-derives per
    // consumer (the d5 duplicated-subtree lesson). Narrow rows.
    val sh = shingleRows(lab.select(col("doc_id"), col("text")), k)
      .join(lab.select(col("doc_id"), col("split")), "doc_id")
      .localCheckpoint(eager = true)
    val ev = sh.filter(col("split") === evalSplit).select(col("s")).distinct()
    val tr = sh.filter(col("split") === "train").select(col("doc_id"), col("s"))
    val tot = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val hits = tr.join(ev, "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    tot.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("shared_ratio",
        round(col("n_shared").cast("double") / col("n_grams").cast("double"), 6))
      .withColumn("contaminated", col("shared_ratio") >= flagThreshold)
  }

  // ------------------------------------------------- winnowing fingerprints

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS copy-detection scheme): hash every word
    * k-gram, slide a window of `w` consecutive gram hashes over each
    * document, keep the minimal hash per window with ties broken
    * toward the earlier position, and take the distinct kept
    * (hash, position) pairs as the document's fingerprint set.
    * Guarantees: two documents sharing any run of w+k-1 tokens share
    * at least one fingerprint, and density is ~2/(w+1) of grams
    * regardless of document length — the rolling-hash fingerprinting
    * entry of the training-pipeline surface.
    *
    * Portability: the gram hash is the top 40 bits of md5, and the
    * per-window argmin is a single BIGINT `MIN(h·2^20 + gram_idx)` —
    * the lexicographic (hash, pos) minimum, since gram_idx < 2^20 —
    * so DuckDB replays the whole pipeline with plain window MIN
    * (2^40·2^20 stays under the signed-64 ANSI overflow check).
    * The 2^20 gram index bound (~1M tokens/doc) is the documented
    * cap; longer documents are a split-upstream pathology.
    *
    * Scale: one explode + two doc_id-partitioned windows + one
    * hash-agg, all whole-stage codegen, one narrow doc_id shuffle; no
    * arrays materialize and nothing is driver-side. Summary columns
    * (count/sum/min/max of fingerprint hashes) keep the result frame
    * scalar; the distinct (doc_id, hp) rows before the final agg ARE
    * the per-doc fingerprint sets if a caller needs them.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame =
    winnowFingerprintRows(docs, k, w)
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_fps"),
        sum(expr("hp div 1048576")).as("fp_sum"),
        min(expr("hp div 1048576")).as("fp_min"),
        max(expr("hp div 1048576")).as("fp_max"))

  /** the distinct per-doc fingerprint rows behind [[winnowFingerprints]]:
    * (doc_id, n_grams, hp) where hp = hash·2^20 + gram_idx. Join two
    * corpora on `hp div 2^20` (the 40-bit gram hash) for winnowed
    * copy-detection candidates.
    */
  def winnowFingerprintRows(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val tok = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams =
      if (k == 1) tok.select(col("doc_id"), col("pos"), col("t").as("s"))
      else {
        val leads = (1 until k).map(i => lead(col("t"), i).over(wp))
        // pos 0 kept unconditionally: whole-doc fallback gram for docs
        // shorter than k tokens (same contract as shingleRows)
        tok.select(col("doc_id"), col("pos"),
            concat_ws(" ", (col("t") +: leads): _*).as("s"),
            leads.last.isNotNull.as("__full"))
          .filter(col("__full") || col("pos") === 0)
          .select(col("doc_id"), col("pos"), col("s"))
      }
    val g = grams.select(col("doc_id"),
      (row_number().over(wp) - 1).as("gi"),
      conv(substring(md5(col("s")), 1, 10), 16, 10).cast("long").as("h"))
    val wg = Window.partitionBy(col("doc_id")).orderBy(col("gi"))
    g.select(col("doc_id"), col("gi"),
        count(lit(1)).over(Window.partitionBy(col("doc_id"))).as("n_grams"),
        min(col("h") * lit(1L << 20) + col("gi"))
          .over(wg.rowsBetween(Window.currentRow, w - 1)).as("hp"))
      // full windows only; a doc with fewer than w grams winnows its
      // single all-grams window at gi = 0
      .filter(col("gi") <= greatest(col("n_grams") - w, lit(0)))
      .select(col("doc_id"), col("n_grams"), col("hp")).distinct()
  }

  /** top-level: winners after exact + minhash near-dup removal
    * (keep the smallest doc_id of each near-dup cluster's pairs).
    */
  def dedupDocuments(docs: DataFrame, jaccardThreshold: Double = 0.5): DataFrame = {
    val losers = minhashNearDup(docs, threshold = jaccardThreshold)
      .select(col("b_id").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------- segment-level dedup

  /** Cross-document segment dedup — the MassiveText/CCNet "line dedup"
    * quality filter: text splits into aligned `segWords`-token segments,
    * a segment that appears in more than `maxDocFreq` DISTINCT documents
    * is boilerplate (nav bars, license blurbs, repeated headers) and is
    * dropped from every document that carries it. (The reference engine
    * has no text surface at all — this is north-star pipeline scope.)
    *
    * Returns per-document (doc_id, n_segments, n_kept, kept_chars).
    * [[segmentRows]] exposes the per-segment keep/drop rows when a
    * caller wants to reassemble cleaned text.
    *
    * Scale shape: tokens explode once and segments assemble with
    * `segWords − 1` codegen'd window leads over (doc_id, pos) — the
    * shingleRows mechanics, one narrow doc_id shuffle. The raw segment
    * string is immediately reduced to (md5 digest, length), so the
    * document-frequency count shuffles 16-byte keys, never text, and
    * the frequency join back to the segment rows is digest-keyed. Three
    * shuffles total (window, df-count, join), all narrow; nothing is
    * driver-side and no O(n²) pair space forms.
    */
  def segmentDedup(docs: DataFrame, segWords: Int = 10,
      maxDocFreq: Long = 1): DataFrame =
    segmentRows(docs, segWords, maxDocFreq)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(col("keep"), col("seg_chars"))), lit(0L))
          .as("kept_chars"))

  /** per-segment rows behind [[segmentDedup]]: (doc_id, seg_idx,
    * seg_key, seg_chars, n_docs, keep), ordered reassembly via seg_idx.
    */
  def segmentRows(docs: DataFrame, segWords: Int = 10,
      maxDocFreq: Long = 1): DataFrame = {
    require(segWords >= 1, "segWords must be >= 1")
    val tok = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until segWords).map(i => lead(col("t"), i).over(wp))
    // concat_ws skips the null leads past doc end, so the tail segment
    // is the remaining < segWords tokens — same clamping as a slice
    val segs = tok
      .select(col("doc_id"), col("pos"),
        concat_ws(" ", (col("t") +: leads): _*).as("seg"))
      .filter(col("pos") % segWords === 0)
      .select(col("doc_id"), (col("pos") / segWords).cast("long").as("seg_idx"),
        md5(col("seg")).as("seg_key"), length(col("seg")).as("seg_chars"))
    val docFreq = segs.groupBy(col("seg_key"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    segs.join(docFreq, Seq("seg_key"))
      .withColumn("keep", col("n_docs") <= maxDocFreq)
  }

  /** Document-stitch detection — find (a, b) pairs where a's LAST k
    * tokens equal b's FIRST k tokens, the boundary signature of a
    * document split across crawl records (or a shingle-overlap chunker
    * re-ingested as separate docs); a curation pipeline joins such
    * pairs back together before training. Only md5 boundary digests
    * shuffle (never text), so the join is as narrow as exact dedup's;
    * docs shorter than k tokens have no full boundary and are skipped.
    */
  def stitchPairs(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "stitchPairs: k must be >= 1")
    val toks = TextAnalysis.tokens(coalesce(col("text"), lit("")))
    val f = docs.select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= k)
    val sfx = f.select(col("doc_id").as("a_id"),
      md5(concat_ws(" ", slice(col("tk"), -k, k))).as("h"))
    val pfx = f.select(col("doc_id").as("b_id"),
      md5(concat_ws(" ", slice(col("tk"), 1, k))).as("h"))
    sfx.join(pfx, "h")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
  }
}
