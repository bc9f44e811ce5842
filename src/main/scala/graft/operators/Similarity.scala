package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Loop

/** Similarity search over embedding columns (ArrayType(FloatType)) —
  * BASELINE.json north-star surface.
  *
  * Every top-k search is candidate generation followed by one exact
  * refinement. The generators differ only in which (query, vector)
  * pairs they let through:
  *  - brute force ([[bruteForceTopK]]): every pair — the exact
  *    baseline, linear in corpus size;
  *  - sign-LSH ([[lshTopK]]): pairs that share a (table, signature)
  *    bucket under multi-table, multi-probe hashing;
  *  - IVF ([[ivfTopK]], [[ivfTopKSeeded]]): pairs inside the query's
  *    `nprobe` nearest coarse cells;
  *  - PQ/ADC ([[pqTopK]], [[pqTopKSeeded]], [[ivfPqTopKSeeded]]): the
  *    top `rerank` vectors by compressed-code score, over every code
  *    or over the probed cells only.
  * All of them meet the corpus through one guarded join (the query
  * side is broadcast while small, so the corpus never shuffles) and
  * end in one cut: round-6 cosine, then each query's first k by
  * (cosine DESC, vec_id ASC) — the tie rule every e-gate oracle
  * replays. [[rangeSearch]] is the brute-force scan with a threshold
  * in place of the cut.
  *
  * The kernels are pure Catalyst higher-order functions (zip_with +
  * aggregate) — per-row, codegen-friendly, no UDF.
  */
object Similarity {

  /** dot product of two float-array columns, accumulated in double
    * left-to-right (deterministic). Backed by the codegen'd
    * graft.functions.FloatVecDot expression — the composable
    * zip_with + aggregate formulation is interpreted per element and
    * measured ~100× slower (see FloatVecDot scaladoc).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_cosine(a, b)

  /** Cosine over MICRO-QUANTIZED components: each element becomes the
    * integer floor(x·10⁶ + 0.5) (held as an integer-valued double).
    * Dots and norms are then sums of integer-valued terms bounded well
    * under 2⁵³ — EXACT in IEEE double in any accumulation order, in
    * any engine — so the one final divide-by-sqrt is bit-deterministic
    * cross-engine. This removes the round-6 boundary flakiness that
    * raw-float cosines carry (two engines computing dot/‖a‖‖b‖ with
    * different op order differ at ~1e-16, which flips a .5e-6 rounding
    * boundary — observed on the e11 pair matrix, 1 cell in 3600):
    * use this wherever a float similarity feeds a hash-exact gate.
    */
  def cosineMicro(a: Column, b: Column): Column = {
    def qv(c: Column): Column =
      transform(c, x => floor(x.cast("double") * 1000000d + 0.5d).cast("double"))
    val (qa, qb) = (qv(a), qv(b))
    dot(qa, qb) / sqrt(dot(qa, qa) * dot(qb, qb))
  }

  /** micro-unit (1e-6) round-half-up of a double — the integer bridge
    * both engines agree on bit-for-bit (the e5/e6 lesson: cross-engine
    * double comparisons ride on rounded integers, never raw doubles).
    */
  private def micro(x: Column): Column =
    floor(x * 1000000d + 0.5d).cast("long")

  /** [[cosineMicro]] in integer micro-units: the similarity every
    * comparison of [[mmrSelect]] and [[kcenterSelect]] is made on.
    */
  private def microCos(a: Column, b: Column): Column = micro(cosineMicro(a, b))

  /** Query sets above this row count are NOT broadcast: the join
    * degrades to a shuffle join instead of OOMing the broadcast. Each
    * search counts its (narrow) query frame once — one job, amortized
    * against the corpus-sized join it protects.
    */
  val DefaultMaxBroadcastRows: Long = 1000000L

  /** Broadcast `side` — the query frame exploded `explosion`-fold —
    * only when its `nq` query rows keep it under
    * [[DefaultMaxBroadcastRows]]; otherwise leave the hint off and let
    * AQE pick the join strategy.
    */
  private def guarded(side: DataFrame, nq: Long, explosion: Long = 1L): DataFrame = {
    val maxRows = DefaultMaxBroadcastRows / explosion
    if (maxRows > 0 && nq <= maxRows) broadcast(side) else side
  }

  /** Candidate generation's join: corpus-side rows meet the [[guarded]]
    * query side on `on` (every pair when `on` is empty), and a vector
    * never answers its own query.
    */
  private def meet(corpus: DataFrame, qs: DataFrame, on: Seq[String],
                   nq: Long, explosion: Long = 1L): DataFrame = {
    val side = guarded(qs, nq, explosion)
    (if (on.isEmpty) corpus.crossJoin(side) else corpus.join(side, on))
      .filter(col("vec_id") =!= col("query_id"))
  }

  /** Round-6 exact cosine of each (embedding, query_vec) pair. */
  private def scored(pairs: DataFrame): DataFrame =
    pairs.withColumn("cosine", round(cosine(col("embedding"), col("query_vec")), 6))

  /** The exact refinement every top-k search ends in: round-6 cosine,
    * then each query's first `k` by (cosine DESC, vec_id ASC).
    */
  private def exactTopK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored(pairs).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cosine"))
  }

  /** Every (query, vector) pair: the query side broadcast (guarded), so
    * the corpus never shuffles.
    */
  private def scan(queries: DataFrame, corpus: DataFrame): DataFrame =
    meet(corpus.select(col("vec_id"), col("embedding")),
      queries.select(col("query_id"), col("query_vec")), Nil, queries.count())

  /** Exact top-k cosine neighbors for each query vector.
    * queries: (query_id, query_vec); corpus: (vec_id, embedding).
    * Small query sets are broadcast — the corpus never shuffles; large
    * query sets fall back to a (cartesian) shuffle join.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    exactTopK(scan(queries, corpus), k)

  /** Range search: ALL corpus vectors within the cosine threshold of
    * each query — the fixed-radius dual of [[bruteForceTopK]] (recall
    * tasks want "everything at least this similar", not a fixed k; a
    * query legitimately returns zero rows). Same broadcast-guarded
    * scan shape: the corpus never shuffles, the filter runs inside
    * whole-stage codegen on the [[graft.functions.VectorFunctions]]
    * kernel, and — unlike top-k — there is NO per-query window/sort
    * at all, so the operator is a pure map over the corpus at any
    * scale.
    */
  def rangeSearch(queries: DataFrame, corpus: DataFrame,
                  minCosine: Double): DataFrame =
    scored(scan(queries, corpus))
      .filter(col("cosine") >= minCosine)
      .select(col("query_id"), col("vec_id"), col("cosine"))

  /** Deterministic random hyperplanes: nBits × dim doubles from a fixed
    * seed, embedded as a literal — identical on every executor.
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** LSH signature: one bit per hyperplane = sign(dot(v, plane)).
    *
    * The `>= 0` sign test is what the e2 gate's SQL oracle replays
    * bit-for-bit; a corpus/seed change that puts a dot product ON the
    * boundary flips a bucket and the hash gate diverges even though
    * the ANN is semantically unchanged. SimilaritySpec's "e2 gate
    * parameters hold a recall@3 floor" test is the semantic backstop
    * that keeps the gate meaningful under data evolution.
    */
  def lshSignature(v: Column, planes: Array[Array[Double]]): Column = {
    val bits: Seq[Column] = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Approximate top-k via multi-TABLE, multi-PROBE sign-LSH — the
    * textbook scheme: L independent hash tables of nBits hyperplane
    * bits each; a query probes, in every table, its own bucket plus all
    * buckets at hamming distance 1. Recall for a neighbor with
    * per-bit agreement p is 1-(1-P_table)^L with
    * P_table ≈ p^b + b(1-p)p^(b-1) — tunable via (L, nBits) without
    * touching the plan shape. Candidates rank by exact cosine
    * (codegen'd kernel).
    *
    * Cost shape at scale: corpus explodes ×L (the classic LSH space
    * trade — L small ints per vector, streamed, never shuffled w/
    * payload); the query side is broadcast ×L×(nBits+1).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 8, dim: Int = 64, tables: Int = 8): DataFrame = {
    val allPlanes = (0 until tables).map(t =>
      hyperplanes(nBits, dim, seed = 42L + t))

    def sigs(vec: Column): Column = array((0 until tables).map { t =>
      struct(lit(t).as("table"), lshSignature(vec, allPlanes(t)).as("sig"))
    }: _*)

    val probes = array(
      (lit(0L) +: (0 until nBits).map(b => shiftleft(lit(1L), b))): _*)
    val qs = queries
      .select(col("query_id"), col("query_vec"),
        explode(sigs(col("query_vec"))).as("ts"))
      .withColumn("flip", explode(probes))
      .select(col("query_id"), col("query_vec"), col("ts.table").as("table"),
        col("ts.sig").bitwiseXOR(col("flip")).as("sig"))
    val cs = corpus
      .select(col("vec_id"), col("embedding"), explode(sigs(col("embedding"))).as("ts"))
      .select(col("vec_id"), col("embedding"),
        col("ts.table").as("table"), col("ts.sig").as("sig"))
    // the broadcast side is qs = queries × tables × (nBits+1 probes) —
    // guard against the EXPLODED size, not the input row count
    val explosion = tables.toLong * (nBits + 1)
    exactTopK(meet(cs, qs, Seq("table", "sig"), queries.count(), explosion)
      // a candidate can match several (table, probe) cells — dedup
      // narrow ids before the (cheap) cosine rank
      .dropDuplicates("query_id", "vec_id"), k)
  }

  /** argmax over (score, -id) structs — `greatest` needs ≥ 2 args, so
    * the degenerate single-centroid quantizer short-circuits.
    */
  private def argmaxCid(scored: Seq[Column]): Column =
    -(if (scored.length == 1) scored.head
      else greatest(scored: _*)).getField("ncid")

  /** A coarse quantizer: literal centroid vectors, each row's cell the
    * argmax of its cosine to them with ties to the lower centroid id.
    * The trained quantizer scores by raw cosine; the seeded one by
    * ROUND(cosine, 6), which a SQL oracle replays exactly (a raw double
    * argmax hinges on last-ulp agreement between engines — the e1
    * lesson).
    */
  private case class Quantizer(centroids: Array[(Long, Array[Float])],
                               rounded: Boolean) {
    /** (cd, -cid) structs of `vec` against every centroid: the greatest
      * is the nearest cell, and an ascending sort reversed ranks cells
      * by (cd DESC, cid ASC).
      */
    def scores(vec: String): Seq[Column] = centroids.map { case (cid, cv) =>
      val cd = cosine(col(vec), array(cv.map(x => lit(x)): _*))
      struct((if (rounded) round(cd, 6) else cd).as("cd"), lit(-cid).as("ncid"))
    }.toSeq

    /** map-only nearest-cell id of `vec` */
    def cellOf(vec: String): Column = argmaxCid(scores(vec))

    /** (vec_id, embedding, cell) for every corpus vector, map-only */
    def assign(corpus: DataFrame): DataFrame =
      corpus.select(col("vec_id"), col("embedding"))
        .withColumn("cell", cellOf("embedding"))

    /** The cell probe: one (query_id, query_vec, cell) row for each of a
      * query's `nprobe` nearest cells.
      */
    def probe(queries: DataFrame, nprobe: Int): DataFrame =
      queries.select(col("query_id"), col("query_vec"),
          explode(slice(reverse(array_sort(array(scores("query_vec"): _*))),
            1, nprobe)).as("pc"))
        .select(col("query_id"), col("query_vec"), (-col("pc.ncid")).as("cell"))
  }

  /** Map-only nearest-centroid assignment: per-row argmax over literal
    * centroid vectors via `greatest(struct(cosine, -centroid_id))` —
    * the same pattern as TextAnalysis.langId. No join, no window, no
    * Exchange (pinned in PlanSpec): at 100 TB the corpus assigns cells
    * in the same stage as the parquet scan. The negated id reproduces
    * the ORDER BY cdist DESC, centroid_id ASC tie-break.
    */
  private[graft] def assignCells(df: DataFrame, vec: String,
      centroids: Array[(Long, Array[Float])]): DataFrame =
    df.withColumn("centroid_id", Quantizer(centroids, rounded = false).cellOf(vec))

  /** One Lloyd update's means: per `keys` group, the mean of column `x`
    * accumulated in exact micro-units (longs), not float sums — float
    * addition is association-order dependent across partitions and
    * would make trained centroids, and every downstream assignment,
    * nondeterministic run to run. Partial aggregation keeps the
    * shuffle at one row per group, and only the (keys..., mean) table
    * is collected.
    */
  private def lloydMeans(rows: DataFrame, keys: Column*): Array[Row] =
    rows.groupBy(keys: _*)
      .agg((sum(round(col("x") * 1000000).cast("long")) / 1000000.0 /
        count(lit(1))).as("mean"))
      .collect()

  /** Deterministic Lloyd k-means for the IVF coarse quantizer.
    *
    * Seeding is k-means‖-shaped (Bahmani et al. VLDB'12, made
    * deterministic): start from the min-hash row, ONE oversampling
    * pass stratifies the corpus into hash buckets and keeps each
    * bucket's farthest point from it, then a driver-side greedy
    * farthest-point reduction over that ≤4096-row pool picks the
    * remaining seeds — 2 corpus scans total instead of one full
    * argmin scan per seed, same min-max-cosine criterion and
    * (sim, vec_id) tiebreak, and still immune to the
    * all-seeds-in-one-cluster failure of random/lowest-id sampling.
    * Each Lloyd iteration is one map-only assignCells pass fused with
    * a posexplode of the vector, then a per-(centroid, dim) mean —
    * partial aggregation keeps the shuffle at nCentroids × dim rows
    * regardless of corpus size, and only the k×dim mean table is
    * collected per iteration (scale-bounded, the canonical
    * distributed k-means).
    *
    * Dimension means accumulate in exact micro-units ([[lloydMeans]]).
    * An emptied cell keeps its previous centroid.
    */
  def trainCentroids(corpus: DataFrame, vec: String = "embedding",
                     nCentroids: Int = 8, iters: Int = 3): Array[(Long, Array[Float])] = {
    // scanned by the seed pass, the oversample pass, and once per
    // Lloyd iteration — cache it for the loop (released in the
    // finally, so a failing iteration cannot leak the cache)
    val base = corpus.select(col("vec_id"), col(vec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def rowVec(r: org.apache.spark.sql.Row): Array[Float] =
        r.getSeq[Float](1).toArray
      val first = base.orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)
        .limit(1).collect()
      require(first.nonEmpty, "trainCentroids: corpus is empty")
      // ---- k-means‖-style seeding: ONE oversampling pass + a local
      // farthest-point reduction — 2 corpus scans total, vs the k
      // sequential full-corpus argmin scans the first version ran
      // (k passes at 100 TB; the oversample pass is the k-means‖
      // collapse of exactly that loop, Bahmani et al. VLDB'12).
      // Deterministic in place of sampled: the corpus is stratified
      // into `oversample` xxhash64 buckets and each bucket's farthest
      // point from the first seed survives — random-strata diversity
      // with a farness bias, no RNG, no run-to-run drift. The pool
      // (≤ oversample rows × dim) is the only collect, scale-bounded
      // like the centroid table itself; the greedy min-max-cosine
      // selection then runs driver-side over the pool with the same
      // criterion and (sim, vec_id) tiebreak the distributed loop used.
      val s0 = rowVec(first(0))
      val seeds = scala.collection.mutable.ArrayBuffer(s0)
      if (nCentroids > 1) {
        val oversample = math.min(math.max(8L * nCentroids, 64L), 4096L)
        val simTo0 = cosine(col(vec), array(s0.map(x => lit(x)): _*))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__b"))
          .orderBy(col("__sim").asc, col("vec_id").asc)
        // bucket representatives (diversity) UNIONED with the global
        // farthest-nCentroids rows (a floor): hash-bucket collisions
        // can leave fewer than nCentroids non-empty buckets even when
        // n >= k (expected non-empty ≈ B(1-(1-1/B)^n)), and padding
        // duplicate seeds where distinct corpus vectors exist degrades
        // the trained codebook silently. The floor guarantees the pool
        // holds >= min(n, nCentroids) DISTINCT vectors, so the
        // duplicate-pad branch below fires only when the corpus is
        // genuinely smaller than k. One extra distributed top-k
        // (TakeOrdered) — still 2 corpus passes total.
        val reps = base
          .withColumn("__b", pmod(xxhash64(col("vec_id")), lit(oversample)))
          .withColumn("__sim", simTo0)
          .withColumn("__rn", row_number().over(win))
          .filter(col("__rn") === 1)
          .select(col("vec_id"), col(vec))
        val floor = base
          .withColumn("__sim", simTo0)
          .orderBy(col("__sim").asc, col("vec_id").asc)
          .limit(nCentroids)
          .select(col("vec_id"), col(vec))
        val pool = reps.unionByName(floor).dropDuplicates("vec_id")
          .collect()
          .map(r => (r.getLong(0), rowVec(r)))
          .sortBy(_._1)
        def cosLocal(a: Array[Float], b: Array[Float]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
            nb += b(i).toDouble * b(i); i += 1
          }
          if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
        }
        val taken = scala.collection.mutable.Set.empty[Long]
        while (seeds.length < nCentroids) {
          val next = pool.iterator.filterNot(p => taken(p._1))
            .map { case (id, v) =>
              (seeds.iterator.map(sd => cosLocal(v, sd)).max, id, v)
            }
            .minByOption { case (nearSim, id, _) => (nearSim, id) }
          next match {
            case Some((_, id, v)) => taken += id; seeds += v
            case None => seeds += s0 // pool exhausted (corpus < k):
              // duplicate, as the distributed argmin loop used to
          }
        }
      }
      var centroids: Array[(Long, Array[Float])] =
        seeds.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toArray
      for (_ <- 1 to iters) {
        val means = lloydMeans(
            assignCells(base.select(col(vec)), vec, centroids)
              .select(col("centroid_id"), posexplode(col(vec)).as(Seq("dim", "x"))),
            col("centroid_id"), col("dim"))
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            val m = new Array[Float](rows.length)
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2).toFloat)
            cid -> m
          }
        centroids = centroids.map { case (cid, old) =>
          (cid, means.getOrElse(cid, old))
        }
      }
      centroids
    } finally base.unpersist(blocking = true)
  }

  /** IVF search: every corpus vector assigned to its cell map-only
    * against literal centroids, each query's `nprobe` nearest cells
    * probed, candidates meeting on the (narrow) cell key, and the
    * exact cut only inside probed cells. The trained and seeded faces
    * differ only in their quantizer.
    */
  private def ivfSearch(queries: DataFrame, corpus: DataFrame, k: Int,
                        cells: Quantizer, nprobe: Int): DataFrame =
    exactTopK(meet(cells.assign(corpus), cells.probe(queries, nprobe),
      Seq("cell"), queries.count(), nprobe), k)

  /** IVF-style coarse quantization: assign every vector to its nearest
    * of `nCentroids` k-means centroids (trainCentroids; `trainIters=0`
    * falls back to the raw seeds), then search the query's `nprobe`
    * nearest centroid cells — single-cell probing loses every neighbor
    * that falls just across a Voronoi boundary, so multi-probe is the
    * default exactly as in FAISS-style IVF. On weakly-clustered
    * embeddings (near-random high-dim — the IVF worst case) recall
    * climbs roughly linearly with nprobe (measured top-1 on the gate
    * corpus: 6/20 at nprobe=1, 15/20 at 4, 20/20 at 8 of 8 cells);
    * corpora with real cluster structure need far fewer probes.
    *
    * The centroid table is nCentroids rows — the coarse quantizer is
    * tiny by construction — so it is materialized to the driver ONCE
    * and embedded as literal float arrays; assignment is then map-only
    * (see assignCells). This collect is scale-bounded (k centroids, not
    * corpus rows) — the standard IVF shape.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCentroids: Int = 8, trainIters: Int = 2, nprobe: Int = 2): DataFrame =
    ivfSearch(queries, corpus, k, Quantizer(
      trainCentroids(corpus, "embedding", nCentroids, trainIters), rounded = false),
      nprobe)

  /** The `n` corpus vectors with the smallest vec_ids, in vec_id order —
    * the seeds of the seeded coarse quantizer and of the seeded PQ
    * codebook. One collect of n rows: scale-bounded driver state.
    */
  private def lowestIdVectors(corpus: DataFrame, n: Int): Array[Array[Float]] =
    corpus.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(n).collect()
      .map(_.getSeq[Float](1).toArray)

  /** The deterministic seeded coarse quantizer behind [[ivfTopKSeeded]]
    * and the e7 cluster-profile report: centroids = the seed vectors in
    * vec_id order (cid = rank order), scored by ROUND(cosine, 6) with
    * ties to the lower cid — SQL-replayable by construction.
    */
  private def seededQuantizer(seeds: Array[Array[Float]]): Quantizer =
    Quantizer(seeds.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      rounded = true)

  /** map-only (vec_id, embedding, cell) assignment of every corpus
    * vector under the seeded quantizer.
    */
  def seededCells(corpus: DataFrame, nCentroids: Int = 8): DataFrame =
    seededQuantizer(lowestIdVectors(corpus, nCentroids)).assign(corpus)

  /** IVF probe path with a DETERMINISTIC, SQL-replayable coarse
    * quantizer — the correctness-gate face of [[ivfTopK]]: cell
    * centroids are the corpus vectors with the `nCentroids` smallest
    * vec_ids (collected once — k rows, the same scale-bounded driver
    * state as the trained quantizer), cell assignment is argmax over
    * ROUND(cosine, 6) with ties to the lower centroid id — a raw
    * double argmax would hinge on last-ulp agreement between engines,
    * the rounded one replays exactly (the e1 lesson) — and each query
    * probes its `nprobe` nearest cells (the standard IVF recall
    * knob), so the search space is nprobe/nCentroids of the corpus,
    * not all of it. [[ivfTopK]]'s trained k-means quantizer is the
    * production path; its recall is pinned in SimilaritySpec instead
    * (iterated float means are not bit-replayable in SQL).
    *
    * Scale shape: identical to ivfTopK — map-only cell assignment
    * against literal centroids, candidates meet on the (narrow) cell
    * key, exact rerank only inside probed cells.
    */
  def ivfTopKSeeded(queries: DataFrame, corpus: DataFrame, k: Int,
                    nCentroids: Int = 8, nprobe: Int = 2): DataFrame =
    ivfSearch(queries, corpus, k,
      seededQuantizer(lowestIdVectors(corpus, nCentroids)), nprobe)

  // ------------------------------------------------ product quantization

  /** Seeded PQ codebook: sub-centroid `j` of subspace `m` is dims
    * [m·dsub, (m+1)·dsub) of the corpus vector with the j-th smallest
    * vec_id — the same deterministic, SQL-replayable seeding rule as
    * the seeded quantizer (a trained per-subspace k-means would drop in
    * the same way [[trainCentroids]] does for IVF; its float means are
    * not bit-replayable, so the gate face stays seeded). Collected
    * once: ksub × dim floats of driver state, scale-bounded.
    */
  private[graft] def pqCodebook(corpus: DataFrame, nSub: Int, dsub: Int,
      ksub: Int): Array[Array[Array[Float]]] =
    codebook(lowestIdVectors(corpus, ksub), nSub, dsub, ksub)

  /** the seeded codebook over the first `ksub` of `seeds` */
  private def codebook(seeds: Array[Array[Float]], nSub: Int, dsub: Int,
                       ksub: Int): Array[Array[Array[Float]]] = {
    require(seeds.length >= ksub, s"pqCodebook: corpus has < $ksub rows")
    val first = seeds.take(ksub)
    Array.tabulate(nSub)(m => first.map(_.slice(m * dsub, (m + 1) * dsub)))
  }

  /** Map-only PQ encoding: per subspace, argmax of the micro-unit
    * subvector dot product over the codebook entries, ties to the
    * lower code. ONE codegen'd kernel ([[graft.functions.FloatPqEncode]])
    * computes every subspace — the composed greatest-of-structs chain
    * generated more bytecode than HotSpot will JIT and ran interpreted
    * (25.5 s per 200k rows at the 100× probe; the kernel ~0.5 s). The
    * 8 c$m projections of the codes array collapse to one kernel
    * evaluation via codegen subexpression elimination (PqProbe
    * verifies the encode cost, SimilaritySpec the bit-identical
    * semantics). Adds columns c0..c{nSub-1}.
    */
  private[graft] def pqEncode(df: DataFrame, vec: String,
      cb: Array[Array[Array[Float]]], dsub: Int): DataFrame = {
    val withCodes = df.withColumn("__pq_codes",
      graft.functions.VectorFunctions.pq_encode(col(vec), cb))
    cb.indices.foldLeft(withCodes) { case (acc, m) =>
      acc.withColumn(s"c$m", element_at(col("__pq_codes"), m + 1))
    }.drop("__pq_codes")
  }

  /** Per-subspace Lloyd k-means for the PQ codebooks — the PRODUCTION
    * quantizer; [[pqTopKSeeded]]'s seeded codebook is the
    * SQL-replayable gate face (the same trained/seeded split as
    * [[ivfTopK]] vs [[ivfTopKSeeded]]; iterated float means are not
    * bit-replayable in SQL, so the trained path's recall is pinned in
    * SimilaritySpec instead). Starts from the seeded codebook; each
    * iteration is ONE distributed pass for all subspaces: the map-only
    * [[pqEncode]] assigns codes, an explode to (m, code, dim, x) rows
    * feeds the micro-unit mean aggregate ([[lloydMeans]], the
    * trainCentroids determinism rule), and only the
    * nSub × ksub × dsub mean table is collected. Emptied codes keep
    * their previous entry.
    */
  def trainPqCodebooks(corpus: DataFrame, vec: String = "embedding",
                       nSub: Int = 8, dsub: Int = 8, ksub: Int = 16,
                       iters: Int = 3): Array[Array[Array[Float]]] = {
    val base = corpus.select(col(vec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cb = pqCodebook(corpus, nSub, dsub, ksub)
      for (_ <- 1 to iters) {
        val enc = pqEncode(base, vec, cb, dsub)
        val subRows = enc.select(explode(array((0 until nSub).map(m =>
            struct(lit(m).as("m"), col(s"c$m").as("j"),
              slice(col(vec), m * dsub + 1, dsub).as("sv"))): _*)).as("r"))
          .select(col("r.m").as("m"), col("r.j").as("j"),
            posexplode(col("r.sv")).as(Seq("d", "x")))
        val means = lloydMeans(subRows, col("m"), col("j"), col("d"))
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case ((m, j), rows) =>
            val v = cb(m)(j).clone()
            rows.foreach(r => v(r.getInt(2)) = r.getDouble(3).toFloat)
            (m, j) -> v
          }
        cb = Array.tabulate(nSub)(m => Array.tabulate(ksub)(j =>
          means.getOrElse((m, j), cb(m)(j))))
      }
      cb
    } finally base.unpersist(blocking = true)
  }

  /** PQ/ADC top-k over TRAINED per-subspace codebooks — the production
    * face of [[pqTopKSeeded]] (same ADC machinery; recall pinned in
    * SimilaritySpec). On clustered corpora the Lloyd codebooks fit the
    * distribution the seeded slices can't; on near-random embeddings
    * (the gate corpus — PQ's worst case) the two measure within noise
    * of each other because Lloyd means also shrink centroid norms,
    * slightly biasing DOT-based ADC.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             nSub: Int = 8, dsub: Int = 8, ksub: Int = 16,
             trainIters: Int = 3, rerank: Int = 10): DataFrame =
    adcTopK(queries, corpus, k,
      trainPqCodebooks(corpus, "embedding", nSub, dsub, ksub, trainIters),
      dsub, rerank, None)

  /** Approximate top-k via product quantization with asymmetric
    * distance (ADC) and exact rerank — the compressed-exhaustive-scan
    * ANN: each corpus vector is nSub 4-bit-ish codes (8 bytes at the
    * defaults vs 256 for float32 — the 100 TB memory story), a query
    * precomputes its nSub × ksub lookup table of subvector dot
    * products, and the scan scores every vector with nSub integer
    * array lookups instead of a dim-wide float kernel. The top
    * `rerank` by ADC score then rerank by exact round-6 cosine.
    *
    * Determinism bridge: LUT cells and encode scores are micro-unit
    * BIGINTs (floor(x·1e6 + 0.5)), so the ADC score is an integer SUM
    * — association-order free — and the SQL oracle replays the whole
    * scheme from the same seeded codebook it derives in a CTE.
    *
    * Scale shape: codebook collect is ksub rows; encoding and LUT
    * build are map-only against literals; the scan joins corpus codes
    * against the BROADCAST query LUTs (guarded) and the only wide
    * shuffle is the (query_id, vec_id, approx) window top-`rerank`,
    * three narrow columns. Exact rerank touches rerank × nq rows.
    * For sublinear candidate generation compose with the IVF cell
    * prune ([[seededCells]]) — the classic IVF-PQ layout.
    */
  def pqTopKSeeded(queries: DataFrame, corpus: DataFrame, k: Int,
                   nSub: Int = 8, dsub: Int = 8, ksub: Int = 16,
                   rerank: Int = 10): DataFrame =
    adcTopK(queries, corpus, k, pqCodebook(corpus, nSub, dsub, ksub),
      dsub, rerank, None)

  /** The ADC stage every PQ search runs over its codebook `cb`: encode
    * the corpus, build each query's LUT, score every candidate by its
    * codes, keep each query's top `rerank` by (approx DESC, vec_id
    * ASC), re-attach their embeddings and end in the exact cut.
    * `cells` = (quantizer, nprobe) restricts the candidates to each
    * query's probed cells (IVF-PQ); without it every code is scored.
    * The query set is counted once, for both of its broadcasts.
    */
  private def adcTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      cb: Array[Array[Array[Float]]], dsub: Int, rerank: Int,
                      cells: Option[(Quantizer, Int)]): DataFrame = {
    val (nSub, ksub) = (cb.length, cb.head.length)
    val nq = queries.count()
    val vecs = corpus.select(col("vec_id"), col("embedding"))
    val qvecs = queries.select(col("query_id"), col("query_vec"))
    val (base, probes, on, explosion) = cells match {
      case Some((q, nprobe)) =>
        (q.assign(corpus), q.probe(queries, nprobe), Seq("cell"), nprobe.toLong)
      case None => (vecs, qvecs, Nil, 1L)
    }
    // The repartition is a MATERIALIZATION BARRIER, not a distribution
    // choice: without it CollapseProject folds the 128-dot encode
    // projection into the BroadcastNestedLoopJoin's output, and a BNLJ
    // evaluates its output projection once per (stream × build) PAIR —
    // the encode silently runs nq× per corpus row (measured 6.9 s vs
    // 1.0 s on the sf0.1-scale probe, PqProbe). The exchange pins the
    // encode to once per row and ships only the narrow (vec_id, codes)
    // table — exactly the PQ-codes relation a production system
    // materializes anyway. Behind the cell join the collapsed
    // cell-assign + encode projection would instead re-evaluate per
    // MATCHED join row (~nprobe×nq/nCentroids times per vector —
    // measured 18.9 s vs 3.7 s at the 10× probe scale), so IVF-PQ
    // partitions on the join key, which doubles as the co-location
    // choice.
    val codes = pqEncode(base, "embedding", cb, dsub)
      .select((col("vec_id") +: on.map(col)) ++
        (0 until nSub).map(m => col(s"c$m")): _*)
      .repartition(col(on.headOption.getOrElse("vec_id")))
    // per-query LUT: entry m*ksub+j = micro dot(query subvector m,
    // codebook[m][j]) — one flat array column, ksub×nSub longs; built
    // after the probe expansion (nprobe rows per query), since the LUT
    // is cheaper recomputed than shuffled wide
    val lutCells = (0 until nSub).flatMap { m =>
      cb(m).map { cv =>
        val cvLit = array(cv.map(x => lit(x)): _*)
        micro(dot(slice(col("query_vec"), m * dsub + 1, dsub), cvLit))
      }
    }
    val approx = meet(codes,
        probes.select((col("query_id") +: on.map(col)) :+
          array(lutCells: _*).as("lut"): _*),
        on, nq, explosion)
      .withColumn("approx", (0 until nSub)
        .map(m => element_at(col("lut"), (col(s"c$m") + lit(m * ksub + 1)).cast("int")))
        .reduce(_ + _))
      .select(col("query_id"), col("vec_id"), col("approx"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("vec_id"))
    // exact rerank of the short candidate list: embeddings re-attach by
    // id so the ADC scan never carries the float payload
    exactTopK(cands.join(vecs, "vec_id").join(guarded(qvecs, nq), "query_id"), k)
  }

  /** IVF-PQ: the production 100 TB ANN layout — coarse cells prune the
    * candidate space (only `nprobe`/`nCentroids` of the corpus is
    * touched per query), PQ codes compress what remains (8-byte ADC
    * scan instead of float vectors), exact rerank touches only the
    * short list. This is [[ivfTopKSeeded]] × [[pqTopKSeeded]] sharing
    * one map-only encode pass: (cell, c0..c7) materialize in the same
    * stage as the parquet scan, the ADC join meets on the narrow cell
    * key, and the only corpus-sized shuffle is the (query_id, vec_id,
    * approx) top-`rerank` window inside probed cells. One collect of
    * the lowest-vec_id vectors seeds both the cells and the codebook.
    */
  def ivfPqTopKSeeded(queries: DataFrame, corpus: DataFrame, k: Int,
                      nCentroids: Int = 8, nprobe: Int = 2,
                      nSub: Int = 8, dsub: Int = 8, ksub: Int = 16,
                      rerank: Int = 10): DataFrame = {
    val seeds = lowestIdVectors(corpus, math.max(nCentroids, ksub))
    adcTopK(queries, corpus, k, codebook(seeds, nSub, dsub, ksub), dsub, rerank,
      Some((seededQuantizer(seeds.take(nCentroids)), nprobe)))
  }

  // -------------------------------------------------------- SemDeDup

  /** SemDeDup-style semantic prune (Abbas et al. 2023, arXiv
    * 2303.09540): cluster embeddings (here the seeded quantizer cells
    * — [[seededCells]], the e7 machinery), compare pairs only WITHIN a
    * cell, and prune every vector that has a round-6 cosine ≥ `tau`
    * neighbor with a smaller vec_id. The ∃-smaller-id rule is the
    * deterministic one-pass variant of the paper's greedy keep-one:
    * it needs no sequential scan over the cluster, replays exactly in
    * SQL, and differs only on chains (a≈b, b≈c, a̸≈c prunes c where
    * sequential greedy would keep it — conservative toward smaller
    * output).
    *
    * Scale shape: pairs form per cell (the SemDeDup design point — the
    * quadratic term is bounded by the largest cluster, not the
    * corpus), ids + one rounded double per pair, and `maxCellSize`
    * guards the degenerate all-one-cluster corpus the same way the
    * LSH mega-bucket guard does: an over-full cell is split by a
    * deterministic hash salt of vec_id, trading cross-shard recall
    * for a hard quadratic bound (documented SemDeDup behavior: prune
    * within shards of a cluster).
    */
  def semdedupPrune(corpus: DataFrame, tau: Double, nCentroids: Int = 8,
                    maxCellSize: Int = 10000): DataFrame = {
    val cells = seededCells(corpus, nCentroids)
    // shard salt stays 1 (identity) until a cell exceeds maxCellSize;
    // the count is one narrow agg over (cell) — cheap relative to the
    // pair join it bounds
    val mcRow = cells.groupBy(col("cell")).agg(count(lit(1)).as("csz"))
      .agg(max(col("csz"))).head
    val maxCell = if (mcRow.isNullAt(0)) 0L else mcRow.getLong(0)
    val nShards =
      if (maxCell <= maxCellSize) 1 else (maxCell / maxCellSize).toInt + 1
    // repartition = materialization barrier (see pqTopKSeeded): the
    // within-cell pair join fans out quadratically, and a collapsed
    // cell-assign projection would re-run its nCentroids cosines per
    // PAIR instead of per vector. Partitioning on the join keys also
    // lets both self-join sides reuse one exchange.
    val sharded = cells.withColumn("shard",
        pmod(xxhash64(col("vec_id")), lit(nShards.toLong)))
      .repartition(col("cell"), col("shard"))
    val a = sharded.select(col("cell"), col("shard"),
      col("vec_id").as("a_id"), col("embedding").as("a_vec"))
    val b = sharded.select(col("cell"), col("shard"),
      col("vec_id").as("b_id"), col("embedding").as("b_vec"))
    a.join(b, Seq("cell", "shard"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", round(cosine(col("a_vec"), col("b_vec")), 6))
      .filter(col("cos") >= tau)
      .groupBy(col("cell"), col("b_id"))
      .agg(min(col("a_id")).as("pruned_by"), max(col("cos")).as("max_cos"))
      .select(col("cell"), col("b_id").as("vec_id"),
        col("pruned_by"), col("max_cos"))
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * compression step of a vector pipeline (4× over float32) — reduced
    * to per-vector scalar summaries: the scale (max |x|, an exact
    * selection, no arithmetic), the quantized L1 mass, a
    * position-weighted checksum that pins every code and its position,
    * and the saturated-code count. Summaries instead of the code array
    * because every aggregate is an ORDER-INDEPENDENT integer sum —
    * bit-stable across engines/partitionings — and the driver compare
    * needs scalar cells anyway.
    *
    * Shape: posexplode → per-vector max via hash agg → join codes back
    * on vec_id (both sides hash-partitioned by vec_id by then — AQE
    * plans it shuffle-light) → one codegen'd integer agg. No HOFs in
    * the per-element path (interpreted-HOF trap), no window.
    * round-half-up is spelled floor(x·127/s + 0.5): identical in every
    * engine, unlike round()'s dialect-specific tie rules.
    */
  def quantizeInt8(embeddings: DataFrame, id: String = "vec_id",
                   vec: String = "embedding"): DataFrame = {
    val ex = embeddings
      .select(col(id).as("vec_id"), posexplode(col(vec)).as(Seq("pos", "xf")))
      .select(col("vec_id"), col("pos"), col("xf").cast("double").as("x"))
    val scales = ex.groupBy(col("vec_id")).agg(max(abs(col("x"))).as("max_abs"))
    ex.join(scales, "vec_id")
      .withColumn("q", when(col("max_abs") === 0d, lit(0L))
        .otherwise(floor(col("x") * 127.0 / col("max_abs") + 0.5).cast("long")))
      .groupBy(col("vec_id"))
      .agg(max(col("max_abs")).as("max_abs"),
        sum(abs(col("q"))).as("l1_q"),
        sum(col("q") * (col("pos") + 1L)).as("checksum"),
        sum(when(abs(col("q")) === 127L, 1L).otherwise(0L)).as("n_saturated"))
  }

  /** Per-dimension corpus statistics over an embedding column — the
    * normalization/whitening precursor (mean-center, clip ranges) of
    * an embedding pipeline. Cross-row float sums are association-order
    * dependent, so the mean accumulates in exact micro-unit BIGINTs
    * (per-value round-half-up, one codegen'd floor each) and divides
    * once at the end; min/max are order-independent as-is. One
    * posexplode + one hash-agg on the dimension index — at 100 TB the
    * shuffle carries (pos, partial sums), i.e. ~dims × partitions
    * rows, regardless of corpus size.
    */
  def dimensionStats(embeddings: DataFrame, id: String = "vec_id",
                     vec: String = "embedding"): DataFrame =
    embeddings
      .select(col(id).as("vec_id"), posexplode(col(vec)).as(Seq("pos", "xf")))
      .select(col("pos"), col("xf").cast("double").as("x"))
      .withColumn("q", floor(col("x") * 1000000d + 0.5d).cast("long"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q")).as("sum_micro"),
        min(col("x")).as("min_val"),
        max(col("x")).as("max_val"))
      .withColumn("mean_val",
        round(col("sum_micro").cast("double") / col("n_vecs") / 1000000d, 6))

  /** MMR (maximal marginal relevance) diversified top-k: greedily pick
    * k documents maximizing λ·sim(query, d) − (1−λ)·max_{s∈S} sim(d, s)
    * — the retrieval re-ranker that trades raw relevance for coverage
    * (the RAG context-diversity step after an ANN stage). Pick 1 is
    * the plain most-relevant doc; every later pick penalizes
    * redundancy against the already-selected set S.
    *
    * λ is fixed at 3/4 so the score lives in EXACT quarter-micro
    * integer units: score_u = 3·simq_u − max_cs_u with simq_u/cs_u the
    * floor(cos·10⁶ + 0.5) micro cosines (over [[cosineMicro]]'s
    * quantized components, so the cosine double itself is
    * bit-deterministic cross-engine). Every comparison the greedy loop
    * makes is integer-exact — no engine round() in the loop at all
    * (Spark's round is exact-decimal HALF_UP while DuckDB's rides a
    * ×10⁶ float multiply; near a .5e-6 boundary they disagree —
    * observed before this formulation). Ties break by
    * (score_u DESC, vec_id ASC); the oracle replays the identical
    * unrolled steps and the output `score` is the single final
    * division score_u / 4·10⁶.
    *
    * Scale shape: `candidates` is the OUTPUT of an ANN stage (tens to
    * hundreds of rows per query, never the corpus) — here everything
    * downstream of `cand`/`pairs` is per-query-group work on that
    * bounded set: one k-step loop of anti-join + max-agg + window
    * rank, all partitioned by query_id, nothing on the driver.
    */
  def mmrSelect(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    Loop.cached { c =>
      val cand = c(candidates.select(col("vec_id"), col("embedding"))
        .crossJoin(guarded(
          queries.select(col("query_id"), col("query_vec")), queries.count()))
        .select(col("query_id"), col("vec_id"),
          microCos(col("embedding"), col("query_vec")).as("simqu")))
      val pairs = c(candidates.select(col("vec_id").as("a"), col("embedding").as("ea"))
        .join(candidates.select(col("vec_id").as("b"), col("embedding").as("eb")),
          col("a") =!= col("b"))
        .select(col("a"), col("b"), microCos(col("ea"), col("eb")).as("csu")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score_u").desc, col("vec_id").asc)
      // state: the running union of picks — each checkpoint holds the
      // FULL union, so the previous round's blocks are releasable
      Loop.run(cand
          .select(col("query_id"), col("vec_id"),
            (col("simqu") * 3L).as("score_u"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("query_id"), col("vec_id"), col("score_u"),
            lit(1).as("pick")), k - 1) { (sel, round) =>
        sel.union(cand
          .join(sel.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id"),
            "left_anti")
          .join(sel.select(col("query_id"), col("vec_id").as("sb")), "query_id")
          .join(pairs, col("vec_id") === col("a") && col("b") === col("sb"))
          .groupBy(col("query_id"), col("vec_id"), col("simqu"))
          .agg(max(col("csu")).as("ms"))
          .select(col("query_id"), col("vec_id"),
            (col("simqu") * 3L - col("ms")).as("score_u"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("query_id"), col("vec_id"), col("score_u"),
            lit(round + 1).as("pick")))
      }.state.select(col("query_id"), col("pick"), col("vec_id"),
        (col("score_u").cast("double") / 4000000d).as("score"))
    }
  }

  /** Greedy k-center coreset selection (farthest-point sampling): pick
    * k points such that every corpus point is close to some pick —
    * the classic 2-approximation to the k-center objective (Gonzalez
    * 1985) and the diversity-maximizing data-selection step of
    * embedding-curation pipelines (coreset selection for training-set
    * pruning; the complement of [[semdedupPrune]], which REMOVES the
    * redundant — this KEEPS a spanning skeleton).
    *
    * Pick 1 is the minimum vec_id (deterministic seed); pick t is the
    * point MINIMIZING its max micro-cosine to the already-picked set
    * (cosine similarity as proximity: the farthest point is the one
    * least similar to its nearest center). All comparisons are
    * integer micro-units over [[cosineMicro]]'s quantized components
    * — bit-deterministic cross-engine; ties break to the smaller
    * vec_id. `far_u` is the picked point's max micro-cos to the
    * prior picks (−10⁶ sentinel for the seed pick).
    *
    * Scale shape: state is (vec_id, embedding, maxsim) — ONE corpus
    * scan per round against the single newest center (a broadcast
    * 1-row join, NOT a k-way pairwise matrix), the k-round loop rides
    * a rolling checkpoint, and each argmin is a TakeOrdered (top-1)
    * reduction, never a global sort or a driver collect. O(n·k) sims
    * total — the textbook FPS cost — with nothing quadratic in n.
    */
  def kcenterSelect(corpus: DataFrame, k: Int = 8): DataFrame = {
    Loop.cached { c =>
      val pts = c(corpus.select(col("vec_id"), col("embedding")))
      // picks are eager 1-row checkpoints that must outlive the state
      // round they were carved from; they are released
      // deterministically once the result materializes (ADVICE r10:
      // leaking k cached 1-row RDDs per call broke the repo's
      // deterministic-release discipline)
      val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      picks += pts.orderBy(col("vec_id").asc).limit(1).localCheckpoint(true)
      // pick t: the unpicked point least similar to its nearest pick
      def pick(state: DataFrame): DataFrame = {
        val p = state
          .join(picks.map(_.select(col("vec_id"))).reduce(_.union(_)),
            Seq("vec_id"), "left_anti")
          .orderBy(col("maxsim").asc, col("vec_id").asc).limit(1)
          .localCheckpoint(true)
        picks += p
        p
      }
      // fold the newest pick into every point's max similarity
      def grow(state: DataFrame, center: DataFrame): DataFrame =
        state.crossJoin(broadcast(center.select(col("vec_id").as("c_id"),
            col("embedding").as("c_vec"))))
          .select(col("vec_id"), col("embedding"),
            greatest(col("maxsim"), microCos(col("embedding"), col("c_vec")))
              .as("maxsim"))
      // state after round t: max similarity to picks 1..t+1
      val last = if (k < 2) None else {
        val r = Loop.run(grow(pts.select(col("vec_id"), col("embedding"),
            lit(-1000000L).as("maxsim")), picks.head), k - 2) { (state, _) =>
          grow(state, pick(state))
        }
        pick(r.state)
        Some(r.state)
      }
      val res = picks.zipWithIndex.map { case (p, i) =>
          p.select(lit(i + 1).as("pick"), col("vec_id"),
            (if (i == 0) lit(-1000000L) else col("maxsim")).as("far_u"))
        }.reduce(_.union(_))
        .localCheckpoint(true)
      (last.toSeq ++ picks).foreach(Loop.release)
      res
    }
  }

  /** Integer-exact Lloyd k-means over MILLI-quantized embeddings — the
    * cluster-training step of an embedding pipeline as a first-class,
    * hash-oracle-able operator (the float path, [[trainCentroids]],
    * feeds IVF but can't be replayed bit-exact across engines).
    *
    * Every quantity is integer: coordinates are floor(x·1000) (the
    * float→double promotion and ·1000 are exact, floor deterministic),
    * distances are Σ(Δ)² over Long coords, centroid updates are
    * per-dimension `sum div count`, and ties in the nearest-centroid
    * argmin break to the smaller centroid id — so Spark and DuckDB
    * agree on every bit of every iteration. Seeds are the k smallest
    * vec_ids' vectors; a cluster that empties keeps its previous
    * centroid (the standard Lloyd fallback, replayed by the oracle's
    * LEFT JOIN + COALESCE).
    *
    * Scale shape: the quantized corpus is computed once; each round is
    * corpus ⋈ broadcast(k centroids) → per-vector argmin (a vec_id-
    * partitioned window) → per-(cid, dim) hash-agg (partial agg does
    * the map-side reduction) → a k-row centroid table that is NEVER
    * collected to the driver — it re-enters the next round as a
    * broadcast join, unlike the literal-centroid float path. With
    * milli coords (|q| ≲ 4·10³), per-dim squared deltas are ≤ ~6·10⁷,
    * a 64-dim distance ≤ ~4·10⁹, and the reported inertia stays under
    * Long for any cluster below ~2·10⁹ members — ample at 100 TB
    * (guarded: k and iters are small constants, the plan depth is
    * iters·3 joins, no checkpoint needed).
    *
    * Output (k rows): centroid_id, n_members, coord_sum (Σ over dims
    * of the final centroid), inertia (Σ of members' squared distance
    * to their final centroid).
    */
  def kmeansExact(corpus: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    val q = corpus.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")).as("qv"))
    val seedW = Window.orderBy(col("vec_id"))
    var cents = q.orderBy(col("vec_id")).limit(k)
      .select((row_number().over(seedW) - 1).cast("long").as("cid"),
        col("qv").as("cv"))
    def assign(c: DataFrame): DataFrame = {
      val aw = Window.partitionBy(col("vec_id"))
        .orderBy(col("dist"), col("cid"))
      q.crossJoin(broadcast(c))
        .select(col("vec_id"), col("qv"), col("cid"),
          aggregate(zip_with(col("qv"), col("cv"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("dist"))
        .withColumn("rn", row_number().over(aw))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("qv"), col("cid"), col("dist"))
    }
    (1 to iters).foreach { _ =>
      val means = assign(cents)
        .select(col("cid"), posexplode(col("qv")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        .agg(expr("sum(x) div count(1)").as("m"))
        .groupBy(col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("cv_new"))
      cents = cents.join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cv_new"), col("cv")).as("cv"))
    }
    val fin = assign(cents)
    fin.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("inertia"))
      .join(cents.select(col("cid"),
        aggregate(col("cv"), lit(0L), (acc, x) => acc + x).as("coord_sum")),
        Seq("cid"))
      .select(col("cid").as("centroid_id"), col("n_members"),
        col("coord_sum"), col("inertia"))
  }

  /** The ±1 Johnson–Lindenstrauss sign matrix (Achlioptas 2003,
    * "Database-friendly random projections"): sign(i, j) = +1 iff the
    * engine-portable md5-prefix hash of "i:j" is even — the exact
    * expression DuckDB replays as
    * `CAST(concat('0x', substr(md5(i || ':' || j), 1, 8)) AS BIGINT) % 2`.
    */
  def rprojSign(i: Int, j: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
  }

  /** Sparse-free JL random projection of the embedding column to
    * `k` output dimensions — the dimensionality-reduction stage that
    * sits in front of ANN / clustering in an embedding pipeline
    * (project 1024-dim vectors to 16-64 dims, THEN bucket/index;
    * distances are preserved within 1±ε by the JL lemma).
    *
    * Integer-exact: components quantize to micro-units
    * (floor(x·10⁶ + 0.5), the e5/e6 bridge) and each output dim is a
    * BIGINT Σ ±q_i under the deterministic [[rprojSign]] matrix, so
    * both engines agree bit-for-bit. The sign matrix is materialized
    * ONCE as d×k plan literals (a bounded probe of one row supplies
    * d) — per-row work is k zip_with/aggregate folds over the array,
    * entirely map-side: NO shuffle, no join, no per-row hashing. A
    * 100 TB embeddings table streams through at scan speed; the only
    * exchange in the gate is its final orderBy.
    *
    * |q| ≤ 10⁶·|x|; a Σ of d terms stays under Long for any real
    * embedding scale (d·|x| < 9·10¹² — embeddings are unit-ish).
    *
    * Contract: UNIFORM embedding dimension — d is probed from one row
    * and the d×k sign matrix is a plan literal, so a ragged corpus
    * (some row longer/shorter than d) yields NULL projections for
    * those rows (zip_with pads with null), never a partial sum. An
    * empty corpus returns an empty frame with the output schema
    * (ADVICE r10: .head() threw NoSuchElementException).
    */
  def rproj(embeddings: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, "rproj: k must be >= 1")
    val dimRow = embeddings.select(size(col("embedding")).as("d")).head(1)
    if (dimRow.isEmpty)
      return embeddings.limit(0).select(
        col("vec_id") +: (0 until k).map(j => lit(0L).as(s"p$j")): _*)
    val dim = dimRow.head.getInt(0)
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * 1000000d + 0.5d).cast("long"))
    val projCols = (0 until k).map { j =>
      val signs = array((0 until dim).map(i => lit(rprojSign(i, j))): _*)
      aggregate(zip_with(q, signs, (qi, s) => qi * s),
        lit(0L), (acc, x) => acc + x).as(s"p$j")
    }
    embeddings.select(col("vec_id") +: projCols: _*)
  }

  /** Top principal direction of the (uncentered) second-moment matrix
    * by power iteration — the PCA-whitening / dominant-direction
    * readout an embedding pipeline runs before indexing (e.g. to drop
    * the common "mean direction" a contrastive encoder leaves in every
    * vector). Uncentered by design: on unit-ish embedding corpora the
    * first moment IS the dominant structure, and skipping the centering
    * keeps every quantity a pure Σ-of-products (hash-oracle-able).
    *
    * Integer-exact throughout, so DuckDB replays every bit:
    *  - coordinates quantize to milli-units (the e13 bridge);
    *  - the Gram matrix G[j,k] = Σ_rows q_j·q_k is exact BIGINT — the
    *    ONE corpus-sized pass: exploded components self-joined on
    *    vec_id (co-partitioned by the explode, so the join is one
    *    n·d-row exchange) feeding a d²-key hash-agg with map-side
    *    partial aggregation. A MEASURED counter-intuition pinned this
    *    shape: a "shuffle-free" nested-transform outer product
    *    (flatten of d² structs per row exploded into the agg) reads
    *    30.6 s vs this join's 6-8 s at the 10× decade — allocating d²
    *    InternalRows per input row costs ~4× more than exchanging the
    *    n·d component rows;
    *  - G rescales once to |g| ≤ 10⁶ via sign·(abs div (max div 10⁶+1))
    *    — all-positive integer division, identical in both engines —
    *    so Σ_k g·x over d terms is ≤ d·10⁹ regardless of corpus size
    *    (no overflow cliff at any row count);
    *  - each iteration renormalizes x to milli-units by the max-abs
    *    component (again sign·positive-div), ties and signs pinned by
    *    the all-ones start vector.
    *
    * Scale shape: the Gram pass dominates and is a single shuffle onto
    * d² keys; iterations run on d²-row frames (4096 at d = 64) with
    * the d-row state broadcast — driver never sees data. The rolling
    * checkpoint keeps the per-round lineage flat (y is read twice:
    * by its own max and by the renormalize).
    *
    * Output: one row per dimension — (dim, weight) with weight in
    * milli-units of the unit-∞-norm eigenvector estimate.
    *
    * Contract: the all-ones start vector pins signs and ties but is
    * orthogonal to the top eigenvector on perfectly antisymmetric
    * corpora (Σ over rows of every component = 0 exactly) — there the
    * iteration collapses to the zero vector, deterministically on both
    * engines. Real embedding corpora are never exactly antisymmetric.
    */
  def pcaTopComponent(corpus: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 16, "pcaTopComponent: 1 <= iters <= 16")
    // ONE corpus pass: the exploded components are materialized
    // pre-partitioned on the self-join key, so the Gram join reads
    // cached narrow (vec_id, dim, q) blocks on both sides with no
    // exchange — the r15 plan audit found the corpus scan + explode
    // re-derived under each alias (zero exchange reuse), the same
    // duplicated-subtree family as d5/a_linkpred (guide §2.4)
    val comps = corpus.select(col("vec_id"),
      posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")))
        .as(Seq("dim", "q")))
      .repartition(col("vec_id"))
      .localCheckpoint(true)
    // d²-row frame, checkpointed: the broadcast max below would
    // otherwise re-run the whole Gram join+agg a second time inside
    // its build
    val gramRaw = comps.as("a")
      .join(comps.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.dim").as("j"), col("b.dim").as("k"))
      .agg(sum(col("a.q") * col("b.q")).as("g0"))
      .localCheckpoint(true)
    Loop.release(comps)
    val mg = gramRaw.agg(greatest(max(abs(col("g0"))), lit(1L)).as("mg"))
    val gram = gramRaw.crossJoin(broadcast(mg))
      .select(col("j"), col("k"),
        (when(col("g0") < 0, lit(-1L)).otherwise(lit(1L))
          * expr("abs(g0) div (mg div 1000000 + 1)")).as("g"))
      .localCheckpoint(true)
    Loop.release(gramRaw)
    val x = Loop.run(gram.select(col("j")).distinct()
        .withColumn("v", lit(1000L)), iters) { (x, _) =>
      val y = gram
        .join(x.select(col("j").as("k"), col("v").as("xv")), Seq("k"))
        .groupBy(col("j")).agg(sum(col("g") * col("xv")).as("y"))
      val m = y.agg(greatest(max(abs(col("y"))), lit(1L)).as("m"))
      y.crossJoin(broadcast(m))
        .select(col("j"),
          (when(col("y") < 0, lit(-1L)).otherwise(lit(1L))
            * expr("(abs(y) * 1000) div m")).as("v"))
    }.state
    val out = x.select(col("j").as("dim"), col("v").as("weight"))
      .localCheckpoint(true)
    Seq(x, gram).foreach(Loop.release)
    out
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath, ICLR
    * 2018): project out the dominant direction [[pcaTopComponent]]
    * finds — contrastive/word encoders leave a large common component
    * in every vector that swamps cosine similarity; removing it is the
    * standard cheap whitening step before indexing.
    *
    * Integer-exact residual readout per vector: with q the micro-unit
    * components and w the milli-unit direction, the projection
    * coefficient is c = sign(q·w)·(1000·|q·w| div Σw²) — the extra
    * 1000 makes c·w_i land on the same 10⁹-per-unit scale as
    * 1000·q_i, so the residual r_i = 1000·q_i − c·w_i genuinely
    * cancels the component (an axis-aligned vector's residual is 0) —
    * every step a Σ-of-products or an all-positive integer division,
    * replayed bit-for-bit by the oracle.
    *
    * Scale shape: after pcaTopComponent's Gram pass, this is ZERO
    * additional shuffle — the direction collapses to ONE broadcast row
    * holding (weight array, Σw²), and dot, coefficient, L1, and
    * checksum are per-row codegen'd higher-order folds (zip_with /
    * indexed transform / aggregate) against that array. A 100 TB
    * embeddings table streams through the residual pass at scan speed
    * (the first cut exploded to n·d rows and re-grouped by vec_id —
    * a corpus-sized exchange this shape deletes).
    * Output: (vec_id, c, l1_r, checksum).
    */
  def removeTopComponent(corpus: DataFrame, iters: Int = 8): DataFrame = {
    val w = pcaTopComponent(corpus, iters)
    val wRow = broadcast(w.agg(
      transform(sort_array(collect_list(struct(col("dim"), col("weight")))),
        s => s.getField("weight")).as("wv"),
      greatest(sum(col("weight") * col("weight")), lit(1L)).as("xx")))
    val qArr = transform(col("embedding"),
      x => floor(x.cast("double") * 1000000d + 0.5d).cast("long"))
    corpus.crossJoin(wRow)
      .select(col("vec_id"), col("wv"), qArr.as("q"),
        aggregate(zip_with(qArr, col("wv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("dot"), col("xx"))
      .select(col("vec_id"), col("wv"), col("q"),
        (when(col("dot") < 0, lit(-1L)).otherwise(lit(1L))
          * expr("(abs(dot) * 1000) div xx")).as("c"))
      .select(col("vec_id"), col("c"),
        aggregate(zip_with(col("q"), col("wv"),
            (a, b) => abs(lit(1000L) * a - col("c") * b)),
          lit(0L), (acc, x) => acc + x).as("l1_r"),
        aggregate(transform(col("q"), (a, i) =>
            (lit(1000L) * a - col("c") * element_at(col("wv"), i + 1))
              * (i.cast("long") + 1)),
          lit(0L), (acc, x) => acc + x).as("checksum"))
  }
}
