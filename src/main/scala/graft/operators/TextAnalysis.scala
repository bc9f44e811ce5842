package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Loop

/** Text-analysis operators for large-scale training-data pipelines
  * (BASELINE.json north-star surface; no reference analog — the
  * reference's only text operator is the SEARCH_INDEX tokenizer,
  * TikvTables.java:203-210).
  *
  * Everything here is per-row, codegen'd Catalyst expressions — no
  * UDFs. The column functions add no shuffle; [[gopherFlags]] and the
  * near-dup operators in [[Dedup]] spread the documents on doc_id
  * first ([[byDoc]]), one exchange of the text rows.
  */
object TextAnalysis {

  /** whitespace tokens. */
  def tokens(text: Column): Column = split(text, "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alpha runs, single digits, single
    * punctuation — a cheap, deterministic proxy for tokenizer cost.
    */
  val BpeishPattern = "[a-z]+|[0-9]|[^a-z0-9\\s]"
  def bpeishCount(text: Column): Column = regexp_count(text, lit(BpeishPattern))

  def punctCount(text: Column): Column = regexp_count(text, lit("[.!?,;:]"))

  /** average token length (chars excluding whitespace / token count). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s+", "")).cast("double") / tokenCount(text)

  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be", "this", "that")

  def stopwordCount(text: Column, stops: Seq[String] = EnStopwords): Column = {
    val stopArr = array(stops.map(lit): _*)
    size(filter(tokens(text), t => array_contains(stopArr, t)))
  }

  /** The documents hash-partitioned on doc_id into
    * `spark.sql.shuffle.partitions` partitions, so the per-document
    * text work above it (tokenizing, shingle windows, signature and
    * vote aggregates, rule flags) runs on every task slot. A small
    * corpus scans as one split — one parquet file is one task — and AQE
    * merges the small shuffle after it by bytes, so without this the
    * heavy stage runs on one or two slots. The count is fixed, which AQE
    * does not coalesce, and a doc_id hash partitioning satisfies every
    * (doc_id, ..) window, distinct and groupBy above it: for those
    * operators this exchange replaces the one they already had.
    *
    * There is no size gate: a byte estimate does not tell how many scan
    * splits carry rows (a one-row-group file reads on one task however
    * small `spark.sql.files.maxPartitionBytes` is).
    */
  private[operators] def byDoc(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sessionState.conf.defaultNumShufflePartitions,
      col("doc_id"))

  /** Gopher quality rules (Rae et al. 2021, Appendix A — the public
    * heuristic filter battery every large-scale pretraining corpus
    * pipeline runs): per-document boolean flags for the 7 rules this
    * corpus' schema can express, plus the conjunction. Every ratio
    * threshold is rewritten as INTEGER cross-multiplication
    * (e.g. mean word length in [3,10] ⇔ 3·n_tok ≤ chars ≤ 10·n_tok)
    * so the flags are bit-exact across engines — no double division
    * anywhere. Codegen'd builtins throughout, evaluated after one
    * doc_id exchange of the text rows ([[byDoc]]) that spreads the
    * corpus over every task slot.
    */
  def gopherFlags(docs: DataFrame): DataFrame = {
    val t = col("text")
    val toks = tokens(t)
    val nTok = size(toks)
    val chars = length(regexp_replace(t, "\\s+", ""))
    val nSym = regexp_count(t, lit("#|\\.\\.\\."))
    val lines = split(t, "\n")
    val nLines = size(lines)
    val nEll = size(filter(lines, l => l.endsWith("...")))
    val nBullet = size(filter(lines,
      l => l.startsWith("-") || l.startsWith("•")))
    val nAlpha = size(filter(toks, tk => tk.rlike("[a-zA-Z]")))
    val stopArr = array(EnStopwords.map(lit): _*)
    val nStopDistinct = size(array_intersect(array_distinct(toks), stopArr))
    val flags = Seq(
      (nTok >= 50 && nTok <= 100000).as("r_word_count"),
      (chars >= nTok * 3 && chars <= nTok * 10).as("r_mean_word_len"),
      (nSym * 10 < nTok).as("r_symbol_ratio"),          // < 0.1 sym/word
      (nEll * 10 <= nLines * 3).as("r_ellipsis_lines"), // ≤ 30% of lines
      (nBullet * 10 <= nLines * 9).as("r_bullet_lines"),// ≤ 90% of lines
      (nAlpha * 5 >= nTok * 4).as("r_alpha_words"),     // ≥ 80% alphabetic
      (nStopDistinct >= 2).as("r_stopwords"))           // ≥ 2 distinct stops
    byDoc(docs).select((col("doc_id") +: flags): _*)
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_ellipsis_lines") &&
          col("r_bullet_lines") && col("r_alpha_words") && col("r_stopwords"))
  }

  /** Model-based quality filtering: LINEAR CLASSIFIER INFERENCE over
    * per-document text features — the model-filter stage of
    * CCNet/RefinedWeb-style corpus pipelines (a fastText/LR quality
    * model applied to every document), distinct from the rule battery
    * in [[gopherFlags]] (hard thresholds) and the additive
    * [[qualityScore]] (no trained-weight shape). The weight vector
    * here is a fixed stand-in for a trained model — the OPERATOR is
    * the inference plumbing: features and weights in integer
    * milli-units, logit = b + w·x evaluated as a codegen'd map-only
    * projection (the weights live in the plan as literals — on a
    * cluster they broadcast with the task binary, never a shuffle),
    * so scoring 100 TB is one scan.
    *
    * Features (all integer): capped token count; punctuation,
    * stopword, and alphabetic-token PERCENTAGES via integer
    * cross-division (x·100 div n_tok) — no float division anywhere,
    * so the logit is a BIGINT both engines agree on bit-for-bit.
    */
  def qualityLrScores(docs: DataFrame): DataFrame = {
    val t = col("text")
    val toks = tokens(t)
    val nTok = size(toks).cast("long")
    val n1 = greatest(nTok, lit(1L))
    val pctPunct = expr("punct * 100 div n1")
    val pctStop = expr("stop * 100 div n1")
    val pctAlpha = expr("alpha * 100 div n1")
    docs.select(col("doc_id"), col("source"), col("lang"),
        nTok.as("ntok"), n1.as("n1"),
        punctCount(t).cast("long").as("punct"),
        stopwordCount(t).cast("long").as("stop"),
        size(filter(toks, tk => tk.rlike("[a-zA-Z]"))).cast("long")
          .as("alpha"))
      .select(col("doc_id"), col("source"), col("lang"),
        (lit(-2000L) + lit(15L) * least(col("ntok"), lit(200L))
          - lit(30L) * pctPunct + lit(25L) * pctStop
          + lit(10L) * pctAlpha).as("logit"))
      .withColumn("pass", col("logit") >= 0L)
  }

  /** composite quality score in [0,1]: length saturation, low
    * punctuation noise, natural-language stopword density. Per-row
    * double arithmetic — deterministic and engine-portable.
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthTerm = least(nTok / 50.0, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(nTok, lit(1.0))
    val punctTerm = greatest(lit(0.0), lit(1.0) - punctRatio * 5.0)
    val stopTerm = least(
      stopwordCount(text).cast("double") / greatest(nTok, lit(1.0)) * 5.0, lit(1.0))
    round(lengthTerm * 0.4 + punctTerm * 0.3 + stopTerm * 0.3, 6)
  }

  /** document fingerprint: md5 of case/whitespace-canonicalized text —
    * the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Content redaction (the PII-scrub shape of a curation pipeline):
    * mask every occurrence of `pattern` and report the hit count.
    * Pure codegen'd regexp expressions — map-only, no shuffle, scales
    * linearly with bytes scanned. Patterns stay in RE2-compatible
    * syntax so engines agree (word boundaries, alternation, classes).
    */
  def redact(text: Column, pattern: String, mask: String): Column =
    regexp_replace(text, pattern, mask)

  def matchCount(text: Column, pattern: String): Column =
    regexp_count(text, lit(pattern))

  /** Per-document top TF-IDF term — the "most characteristic word"
    * reduction used for corpus exploration and near-dup triage.
    *
    * Integer-exact scoring so both engines agree bit-for-bit: score =
    * (tf · N) div df — a log-free rational idf; same explode + codegen'd
    * aggregate shape as [[stats]] (no interpreted HOFs). Shuffles carry
    * (doc_id, term) counts only; the corpus size N rides in as a
    * broadcast scalar, never a driver-side collect.
    */
  def tfidfTop(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val df0 = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df0, "t")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("t"),
        expr("tf * n_docs div df").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t").desc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("t").as("top_term"), col("score"))
  }

  /** Language-ID by stopword-profile hits: argmax over per-language
    * function-word counts (classic n-gram/function-word heuristic).
    * Pure Catalyst expressions: one pass, no shuffle, no UDF.
    */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est", "que", "dans"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "per", "con", "sono"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "人"))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    // score per language, pick max (ties broken by language order)
    val scored = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(arr, t))).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Per-document stats frame.
    *
    * Two-path shape chosen for CPU at scale: the per-row scalar
    * columns (regexp counts, lengths, md5) are codegen'd natively, but
    * token-membership counts (stopwords, language profiles) through
    * higher-order `filter` are interpreted per element — measured 6s+
    * at sf0.1. Those counts instead come from ONE exploded token pass
    * with conditional-sum aggregates (whole-stage codegen, map-side
    * partials), joined back on doc_id. Output values are identical to
    * the declarative formulation, so the DuckDB oracle is unchanged.
    */
  def stats(docs: DataFrame): DataFrame = {
    // one exploded pass; stopwords match raw tokens (as stopwordCount
    // does), language profiles match lowercased tokens (as langId does)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val langSums = LangProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      sum(when(lower(col("t")).isin(words: _*), 1).otherwise(0)).as(s"lang_$lang")
    }
    val stopArr = EnStopwords
    val tokAgg = tok.groupBy(col("doc_id")).agg(
      sum(when(col("t").isin(stopArr: _*), 1).otherwise(0)).cast("int")
        .as("n_stopwords"),
      langSums: _*)

    // argmax over language scores (ties → lexicographically-last lang,
    // matching the struct-compare semantics of langId)
    val scored = LangProfiles.keys.toSeq.sorted.map { lang =>
      struct(col(s"lang_$lang").as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    val langPred = when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))

    val nTok = tokenCount(col("text")).cast("double")
    val punctRatio = punctCount(col("text")).cast("double") / greatest(nTok, lit(1.0))
    val stopTerm = least(
      col("n_stopwords").cast("double") / greatest(nTok, lit(1.0)) * 5.0, lit(1.0))
    val quality = round(
      least(nTok / 50.0, lit(1.0)) * 0.4 +
        greatest(lit(0.0), lit(1.0) - punctRatio * 5.0) * 0.3 +
        stopTerm * 0.3, 6)

    docs.join(tokAgg, "doc_id").select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      bpeishCount(col("text")).as("n_bpeish"),
      punctCount(col("text")).as("n_punct"),
      length(col("text")).as("n_chars_measured"),
      round(avgTokenLen(col("text")), 6).as("avg_token_len"),
      col("n_stopwords"),
      quality.as("quality"),
      fingerprint(col("text")).as("fingerprint"),
      langPred.as("lang_pred"))
  }

  /** Corpus-frequency rarity score per document — the unigram-LM
    * quality proxy of training-data pipelines (rare-token-heavy docs
    * score high; boilerplate scores low), kept engine-portable by
    * avoiding floating logs: rarity = Σ_tokens (corpus_total DIV
    * corpus_tf(token)), exact BIGINT floor arithmetic (a true -log p
    * sum would hang the gate hash on libm ULP agreement across
    * engines).
    *
    * Scale shape: one exploded token pass, one hash-agg for corpus
    * term frequencies, one shuffle join on the token (the standard TF
    * join; skew on stopwords is bounded because the frequency side is
    * one row per term), map-side partial SUM back onto doc_id. The
    * 1-row corpus total rides a broadcast.
    */
  def rarityScore(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(tokens(coalesce(col("text"), lit("")))).as("t"))
    val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("tf"))
    val total = tok.agg(count(lit(1)).as("total"))
    tok.join(freq, "t")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(expr("total div tf")).as("rarity"),
        count(lit(1)).as("n_tokens"),
        round(countDistinct(col("t")).cast("double") /
          count(lit(1)).cast("double"), 6).as("distinct_ratio"))
  }

  /** Non-distinct n-gram rows (doc_id, gram) — term-frequency
    * counterpart of Dedup.shingleRows (which dedups for set
    * semantics). Same posexplode + window-lead assembly (the
    * interpreted-HOF trap applies identically); docs with fewer than n
    * tokens yield no rows.
    */
  def ngramRows(docs: DataFrame, n: Int): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(coalesce(col("text"), lit("")))).as(Seq("pos", "t")))
    if (n == 1) tok.select(col("doc_id"), col("t").as("gram"))
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val leads = (1 until n).map(i => lead(col("t"), i).over(w))
      tok.select(col("doc_id"),
          concat_ws(" ", (col("t") +: leads): _*).as("gram"),
          leads.last.isNotNull.as("__full"))
        .filter(col("__full"))
        .select(col("doc_id"), col("gram"))
    }
  }

  /** Repetition profile per document — the Gopher-rule family of
    * quality filters: for n ∈ {1,2,3}, the fraction of the document's
    * n-gram occurrences taken by its single most frequent n-gram.
    * Boilerplate and template spam light these up; clean prose stays
    * low. `repetitive` applies the classic thresholds.
    *
    * All counts are exact integers; each fraction is one double
    * division rounded to 6 — portable. Per n: one narrow
    * (doc_id, gram) shuffle + two hash-aggs with map-side partials;
    * docs shorter than n tokens have no n-grams and report 0.
    */
  def repetitionStats(docs: DataFrame, thresholds: (Double, Double, Double)
      = (0.3, 0.2, 0.18)): DataFrame = {
    def topFrac(n: Int, as: String): DataFrame =
      ngramRows(docs, n)
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(round(max(col("c")).cast("double") /
          sum(col("c")).cast("double"), 6).as(as))
    val (t1, t2, t3) = thresholds
    docs.select(col("doc_id"))
      .join(topFrac(1, "top1_frac"), Seq("doc_id"), "left")
      .join(topFrac(2, "top2_frac"), Seq("doc_id"), "left")
      .join(topFrac(3, "top3_frac"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top1_frac"), lit(0.0)).as("top1_frac"),
        coalesce(col("top2_frac"), lit(0.0)).as("top2_frac"),
        coalesce(col("top3_frac"), lit(0.0)).as("top3_frac"))
      .withColumn("repetitive",
        col("top1_frac") >= t1 || col("top2_frac") >= t2 ||
          col("top3_frac") >= t3)
  }

  /** Bigram conditional probabilities P(w₂|w₁) for the corpus's most
    * frequent bigrams — the n-gram-LM estimation pass behind
    * perplexity-style quality filters (rarityScore is its unigram
    * sibling). One exploded token pass feeds BOTH counts: bigrams via
    * the window lead, unigram context counts via a second hash-agg of
    * the same frame; the probability division happens on the top-k
    * frame only. Deterministic: exact integer counts, one correctly-
    * rounded double division, total (count desc, bigram) order.
    */
  def bigramLm(docs: org.apache.spark.sql.DataFrame,
      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withNext = tok.withColumn("nxt", lead(col("t"), 1).over(w))
    val big = withNext.filter(col("nxt").isNotNull)
      .groupBy(col("t").as("w1"), col("nxt").as("w2"))
      .agg(count(lit(1)).as("n_bigram"))
    // context count = occurrences of w1 WITH a successor (so the
    // conditional sums to 1 over w2)
    val ctx = withNext.filter(col("nxt").isNotNull)
      .groupBy(col("t").as("w1")).agg(count(lit(1)).as("n_context"))
    big.join(ctx, "w1")
      .select(col("w1"), col("w2"), col("n_bigram"), col("n_context"),
        round(col("n_bigram").cast("double") /
          col("n_context").cast("double"), 6).as("p_cond"))
      .orderBy(col("n_bigram").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-document LM surprise — the perplexity-style quality filter
    * (CCNet shape): score every document by its average negative
    * log-likelihood under the corpus's own bigram model, so formulaic
    * documents score low and statistically unusual ones float to the
    * top for review/filtering. Self-scoring on the training corpus
    * means every observed bigram has nonzero probability (no OOV
    * smoothing needed); docs with fewer than 2 tokens have no bigrams
    * and are skipped. The score is rounded to 6 decimals BEFORE the
    * ordering so both engines rank on identical values (low-bit
    * summation-order noise cannot reorder the top-k).
    *
    * Scale shape: the exploded token stream is aggregated twice with
    * map-side partials (bigram and context counts — each output row
    * is one model parameter), then joined back to the stream on
    * (w1, w2)/(w1): model-side keys are unique, so the joins fan out
    * 1:1 with the corpus and the per-doc aggregate shuffles only
    * (doc_id, partial sums).
    */
  def lmSurprise(docs: org.apache.spark.sql.DataFrame,
      topK: Int = 15): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = tok.withColumn("nxt", lead(col("t"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("t").as("w1"), col("nxt").as("w2"))
    val nb = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_bigram"))
    val nc = bi.groupBy(col("w1")).agg(count(lit(1)).as("n_context"))
    bi.join(nb, Seq("w1", "w2")).join(nc, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("n_bigram").cast("double") /
          col("n_context").cast("double"))), 6).as("avg_nll"))
      .orderBy(col("avg_nll").desc, col("doc_id"))
      .limit(topK)
  }

  /** Corpus-wide adjacent-token-pair frequencies — the counting pass
    * of one BPE merge step (the most frequent pair is the next merge
    * rule). Explode + one codegen'd window lead + hash-agg with
    * map-side partials: the same shingleRows mechanics minus the
    * distinct (BPE needs occurrence counts, not set membership).
    * Total (n desc, pair) order makes the top-k deterministic.
    */
  def mergePairCounts(docs: org.apache.spark.sql.DataFrame,
      topK: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tok.withColumn("nxt", lead(col("t"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(concat_ws(" ", col("t"), col("nxt")).as("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** Apply ONE BPE merge rule (w1 w2 → merged) to every document's
    * token stream — the application half of the induction pass
    * [[mergePairCounts]] counts for. Matching is greedy leftmost
    * non-overlapping, exactly a BPE tokenizer's merge step: when
    * w1 == w2, a maximal run of r consecutive matching positions
    * merges at even offsets from the run start (⌈r/2⌉ merges — "a a
    * a a" merges twice, not three times); when w1 ≠ w2 matches are
    * never adjacent, so every match merges and the run rule reduces
    * to the identity. Runs are the gaps-and-islands window
    * formulation (pos − row_number), all codegen'd.
    *
    * Per-doc report: (n_before, n_merges, n_after) for documents the
    * rule touches. Shape at scale: one explode + doc_id-partitioned
    * windows + hash-aggs — shuffles carry (doc_id, pos) pairs only,
    * the token text never leaves its map stage after the match flag.
    */
  def applyMergeStep(docs: org.apache.spark.sql.DataFrame,
      w1: String, w2: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"),
      posexplode(tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val matches = tok
      .withColumn("nxt", lead(col("t"), 1).over(w))
      .filter(col("t") === lit(w1) && col("nxt") === lit(w2))
      .select(col("doc_id"), col("pos"))
    val runs = matches
      .withColumn("grp", col("pos") - row_number().over(w))
    val wg = Window.partitionBy(col("doc_id"), col("grp"))
    val merges = runs
      .withColumn("run_start", min(col("pos")).over(wg))
      .filter(((col("pos") - col("run_start")) % 2) === 0)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_merges"))
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("n_before"))
    sizes.join(merges, "doc_id")
      .select(col("doc_id"), col("n_before"), col("n_merges"),
        (col("n_before") - col("n_merges")).as("n_after"))
  }

  /** DSIR-style importance scores (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169 — the
    * hashed-n-gram data-selection method behind several public
    * pretraining corpora): score every raw document by how much its
    * hashed-BIGRAM feature distribution resembles a TARGET slice of
    * the corpus versus the raw corpus as a whole.
    *
    * Feature space: word bigrams hashed into `buckets` buckets via the
    * repo's cross-engine hash (md5-prefix integer, the d18 pattern).
    * Bucket models are add-one-smoothed and NORMALIZED TO PPM with
    * integer division — tppm_b = (T_b+1)·10⁶ div (T+B), rppm_b
    * likewise over the raw corpus — so every intermediate stays
    * bounded by 10⁶ regardless of corpus size (no overflow cliff at
    * 100 TB; T itself may reach ~9·10¹² before (T_b+1)·10⁶ threatens
    * Long, guarded below). The per-bucket importance weight is the
    * ratio-of-ppms in ten-thousandths, w_b = tppm_b·10⁴ div rppm_b
    * (rppm ≥ 1 by smoothing), and a document's score is
    * Σ_b c_b(doc)·w_b. This is a LINEARIZED integer proxy for the
    * paper's Σ log-ratio — it preserves the "looks like the target"
    * ranking intent while staying bit-exact in Spark AND DuckDB
    * (floating log/exp do not round-trip across engines).
    *
    * Scale shape: one explode → (doc_id, bucket) hash-agg (partial
    * aggregation does the heavy lifting map-side: at most
    * docs×buckets rows survive) → a `buckets`-row weight table
    * broadcast back onto the per-doc counts. No window over the
    * corpus, no driver collect; the only global state is the
    * 2-long totals row, also broadcast. Docs with <2 tokens have no
    * bigrams and are skipped, matching the oracle.
    */
  def dsirScores(docs: org.apache.spark.sql.DataFrame, isTarget: Column,
      buckets: Int = 64): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(col("doc_id"), isTarget.as("is_target"),
      posexplode(tokens(coalesce(col("text"), lit(""))))
        .as(Seq("pos", "t")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bkt = tok
      .withColumn("nxt", lead(col("t"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("is_target"),
        pmod(conv(substring(md5(concat_ws(" ", col("t"), col("nxt"))),
          1, 8), 16, 10).cast("long"), lit(buckets.toLong)).as("bkt"))
    val perDoc = bkt.groupBy(col("doc_id"), col("is_target"), col("bkt"))
      .agg(count(lit(1)).as("c"))
    val perBkt = perDoc.groupBy(col("bkt"))
      .agg(sum(when(col("is_target"), col("c")).otherwise(0L)).as("tc"),
        sum(col("c")).as("rc"))
    val totals = perBkt.agg(sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
    val weights = perBkt.crossJoin(broadcast(totals))
      .select(col("bkt"),
        expr(s"(tc + 1) * 1000000 div (tt + $buckets)").as("tppm"),
        expr(s"(rc + 1) * 1000000 div (rt + $buckets)").as("rppm"))
    require(buckets > 0, "buckets must be positive")
    perDoc.join(broadcast(weights), "bkt")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * expr("tppm * 10000 div greatest(rppm, 1)"))
          .as("score"))
  }

  /** BPE merge-rule TRAINING (Sennrich et al. 2016): learn the top
    * `rounds` merge rules from the corpus — the induction loop that
    * [[mergePairCounts]] is one counting pass of and
    * [[applyMergeStep]] is one application step of.
    *
    * The 100 TB lever is the classic one: BPE training operates
    * WITHIN words (symbols never cross a word boundary), so the
    * corpus compresses to the DISTINCT-WORD frequency table in ONE
    * shuffle, and every training round runs over vocab-sized state —
    * (word, freq, pos, sym) with pos renumbered per round — not the
    * corpus. Vocabulary size is sub-linear in corpus size (bounded in
    * practice), so rounds cost the same at 100 TB as at 100 GB; only
    * the initial word count touches the data.
    *
    * Per round: (a) adjacent-pair frequencies, WEIGHTED by word
    * frequency, via one lead() over the word-partitioned state and a
    * hash-agg; (b) the argmax pair under the (n desc, lft, rgt) total
    * order — a 1-row frame joined back by BROADCAST, never collected;
    * (c) greedy leftmost non-overlapping merge of that pair in every
    * word — the [[applyMergeStep]] gaps-and-islands formulation:
    * matches at even offsets from their run start merge (sym becomes
    * lft||rgt), the following position is consumed, survivors
    * renumber by row_number for the next round's lead(). State rolls
    * through [[graft.util.Loop]] (round k−1's blocks release
    * deterministically once round k materializes).
    *
    * Ties everywhere break by total order, so the learned rule
    * sequence is unique and an engine replaying the same rounds
    * (the unrolled-CTE oracle) matches hash-exact.
    *
    * Returns (merge_round, lft, rgt, n) — one learned rule per round,
    * n = the weighted pair count that made it the argmax.
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame,
      rounds: Int = 6): org.apache.spark.sql.DataFrame = {
    val (rules, finalState) = bpeTrainLoop(docs, rounds)
    Loop.release(finalState) // rules only
    rules
  }

  /** Tokenize the corpus under the `rounds` merge rules [[bpeTrain]]
    * learns from it — the application half of the tokenizer loop, at
    * the same vocab-compressed scale shape: merges apply to the
    * DISTINCT-WORD symbol state (training's own final state, free),
    * and per-document counts expand through one token join. Output
    * per document: token (word) count, symbol count before any merge
    * (= characters), and symbol count under the learned vocabulary —
    * the corpus-compression readout a tokenizer-training run reports.
    */
  def bpeTokenize(docs: org.apache.spark.sql.DataFrame,
      rounds: Int = 6): org.apache.spark.sql.DataFrame = {
    val (rules, finalState) = bpeTrainLoop(docs, rounds)
    Loop.release(rules) // only the state is read here
    val perWord = finalState.groupBy(col("word"))
      .agg(count(lit(1)).cast("long").as("n_sym"))
    val tok = docs
      .select(col("doc_id"),
        explode(tokens(coalesce(col("text"), lit("")))).as("word"))
      .filter(col("word") =!= "")
    val out = tok.join(perWord, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_sym")).as("n_tokens"))
    // materialize before releasing the state the plan still reads
    val res = out.localCheckpoint(true)
    Loop.release(finalState)
    res
  }

  /** Shared training loop: returns (rules, final symbol state), both
    * checkpoint-backed — callers release what they don't keep.
    */
  private def bpeTrainLoop(docs: org.apache.spark.sql.DataFrame,
      rounds: Int): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1, "bpeTrain: rounds must be >= 1")
    val vocab = docs
      .select(explode(tokens(coalesce(col("text"), lit("")))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("word")).orderBy(col("pos"))
    val rules = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val state = Loop.run(vocab
        .select(col("word"), col("freq"),
          explode(sequence(lit(1), length(col("word")))).as("pos"))
        .select(col("word"), col("freq"), col("pos"),
          col("word").substr(col("pos"), lit(1)).as("sym")), rounds) { (state, r) =>
      val lk = state.withColumn("nxt", lead(col("sym"), 1).over(w))
      val top1 = lk.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("lft"), col("nxt").as("rgt"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("lft"), col("rgt"))
        .limit(1)
        .localCheckpoint(true)
      if (top1.isEmpty) {
        // no adjacent pairs remain: every later round is a no-op, and
        // "merging" against the EMPTY rule frame would wipe the state
        // (crossJoin with nothing) — return the state unchanged, which
        // ends the loop. The oracle's remaining top CTEs are empty
        // selects, so the rule list stays hash-identical.
        Loop.release(top1)
        state
      } else {
        rules += top1.select(lit(r).as("merge_round"),
          col("lft"), col("rgt"), col("n"))
        // flag matches of THE rule, pick even-offset positions per run,
        // rewrite flagged syms to the merged symbol, drop consumed rows.
        // ONE window chain, ZERO joins (r15 restructure, guide §2.4 —
        // the old shape joined a filtered self-derivation back twice,
        // evaluating the lead() sort 3× per round): the hit-run group
        // key is pos − (running hit count) — the same gaps-and-islands
        // constant the filtered row_number computed — so run starts,
        // even-offset merge picks, and the consumed-successor drop all
        // ride windows over the SAME word partitioning.
        val fl = lk.crossJoin(broadcast(top1))
          .withColumn("hit", coalesce(col("sym") === col("lft") &&
            col("nxt") === col("rgt"), lit(false)))
        val wRun = Window.partitionBy(col("word")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wg = Window.partitionBy(col("word"), col("grp"))
        fl
          .withColumn("grp", col("pos") -
            sum(when(col("hit"), 1L).otherwise(0L)).over(wRun))
          .withColumn("run_start",
            min(when(col("hit"), col("pos"))).over(wg))
          .withColumn("do_merge", col("hit") &&
            ((col("pos") - col("run_start")) % 2) === 0)
          .withColumn("consumed",
            coalesce(lag(col("do_merge"), 1).over(w), lit(false)))
          .filter(!col("consumed"))
          .select(col("word"), col("freq"), col("pos"),
            when(col("do_merge"), concat(col("sym"), col("nxt")))
              .otherwise(col("sym")).as("sym"))
          .withColumn("pos", row_number().over(w))
      }
    }.state
    val out = (if (rules.isEmpty)
        state.select(lit(1).as("merge_round"), col("sym").as("lft"),
          col("sym").as("rgt"), col("freq").as("n")).limit(0)
      else rules.reduce(_.unionByName(_)).orderBy(col("merge_round")))
      .localCheckpoint(true)
    rules.foreach(Loop.release)
    // the LAST state stays checkpointed for the caller: bpeTrain
    // releases it, bpeTokenize reads it first
    (out, state)
  }
}
