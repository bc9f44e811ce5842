package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests — the scale properties SCALE.md claims,
  * pinned against the actual physical plans so a refactor that
  * silently loses a pushdown or adds a shuffle fails CI.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    "Exchange".r.findAllIn(p).length

  /** The tables a registered query's physical plan scans, one entry per
    * file scan (subqueries and broadcast sides included), sorted.
    */
  private def scans(q: String): Seq[String] = {
    val p = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    aqe.collectWithSubqueries(p) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths
    }.flatten.map(_.getName.stripSuffix(".parquet")).sorted
  }

  /** The tables a registered query's ANALYZED plan reads, one entry per
    * relation, sorted: what Catalyst analyses and optimizes, before it
    * prunes a union branch whose literal label fails a filter.
    */
  private def analyzed(q: String): Seq[String] =
    tables(SparkEntry.queries(q)(spark, dir).queryExecution.analyzed)

  private def tables(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    plan.collectWithSubqueries {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location.rootPaths
        case _ => Nil
      }
    }.flatten.map(_.getName.stripSuffix(".parquet")).sorted
  }

  /** The tables read by the analyzed plan of every action a registered
    * query runs: its build's (loop rounds, caches, checkpoints) and the
    * final collect's.
    */
  private def analyzedByEveryAction(q: String): Set[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        tables(qe.analyzed).foreach(seen.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      SparkEntry.queries(q)(spark, dir).collect()
      graft.sources.QueryMetrics.flush(spark)
    } finally spark.listenerManager.unregister(l)
    seen.toArray.map(_.toString).toSet
  }

  test("r2 point get: filter pushed to parquet, schema pruned") {
    val p = plan("r2_point_get")
    assert(p.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"))
    assert(p.contains("ReadSchema") && !p.contains("c_nationkey"))
  }

  test("q1 agg: partial+final aggregation, exactly one data shuffle") {
    val p = plan("q1_agg")
    // two HashAggregates (partial, final) around one exchange; the
    // final orderBy adds a range exchange
    assert("HashAggregate".r.findAllIn(p).length >= 2)
    assert(exchanges(p) <= 3)
  }

  test("q_corr_moments: one partial+final agg pass carries all six moments") {
    val p = plan("q_corr_moments")
    // the whole statistic rides ONE map-side-combined aggregation —
    // no second pass, no join; derived doubles are projections above
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(exchanges(p) <= 2, p) // agg shuffle + final orderBy range
    assert(!p.contains("Join"), p)
  }

  test("q_join_revenue: dimension joins are broadcast") {
    val p = plan("q_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q_range_join: bucketed band join is an equi-join, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"range join fell back to a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
    // the naive formulation of the SAME join IS a nested loop — the
    // operator exists precisely to avoid this plan
    val events = graft.Tables.events(spark, dir)
    val iv = graft.Tables.part(spark, dir)
      .select(org.apache.spark.sql.functions.col("p_partkey"),
        (org.apache.spark.sql.functions.col("p_partkey") % 480)
          .cast("double").as("lo"))
    val naive = events.join(iv,
      events("value") >= iv("lo") && events("value") <= iv("lo") + 10.0)
    assert(naive.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("q_orderby_limit plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("e1 knn: corpus side never shuffles (broadcast queries)") {
    val p = plan("e1_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(p.contains("floatvecdot") || p.toLowerCase.contains("floatvecdot"))
  }

  test("m1 media meta: binary bytes column only read for its length") {
    val p = plan("m1_media_meta")
    // the scan must not materialize text beyond what n_bytes needs:
    // schema contains doc_id + text only (bytes derived), no shuffle
    assert(exchanges(p) <= 1)
  }

  test("r11 limit0 folds to empty relation — no scan at all") {
    val p = plan("r11_limit0")
    assert(!p.contains("Scan parquet") || p.contains("LocalTableScan"))
  }

  test("ivf centroid assignment is map-only: no Exchange in assign stage") {
    import spark.implicits._
    val corpus = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(4)(j => math.cos(i * (j + 1)).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Array((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
    val p = graft.operators.Similarity.assignCells(corpus, "embedding", cents)
      .queryExecution.executedPlan.toString
    assert(exchanges(p) == 0, s"assign stage must not shuffle:\n$p")
    assert(!p.contains("Window"), "assign stage must not sort/window")
  }

  test("e3 seeded ivf: corpus cell-assign stays map-side; probe join broadcasts queries") {
    val p = plan("e3_ivf_topk")
    // the corpus side must reach the cell join without its own
    // exchange: assignment is a greatest() over literal centroids
    // fused into the scan stage, and the (tiny, exploded) query probes
    // broadcast to it
    assert(p.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$p")
    // the only allowed exchanges: the per-query rank window + final sort
    assert(exchanges(p) <= 3, s"too many shuffles in seeded ivf:\n$p")
  }

  test("e8 pq: encode sits behind its exchange barrier, not in the join output") {
    // the repartition between encode and the ADC crossJoin is a
    // MATERIALIZATION BARRIER (Similarity.pqTopKSeeded scaladoc): a
    // BroadcastNestedLoopJoin re-evaluates its collapsed output
    // projection once per (stream × build) PAIR, silently running the
    // encode kernel nq× per corpus row (measured 6.9 vs 1.0 s). Pin
    // the Exchange + the kernel's presence below it.
    val p = plan("e8_pq_topk")
    assert(p.contains("hashpartitioning(vec_id"),
      s"codes barrier exchange missing:\n$p")
    assert(p.contains("floatpqencode") || p.contains("FloatPqEncode"),
      s"codegen'd PQ encode kernel missing from the plan:\n$p")
  }

  test("e10 ivf-pq: codes barrier on the cell key; cell join broadcasts queries") {
    val p = plan("e10_ivfpq_topk")
    assert(p.contains("hashpartitioning(cell"),
      s"codes barrier exchange on the join key missing:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"cell join must broadcast:\n$p")
  }

  test("e9 semdedup: pair self-join meets on one exchanged (cell, shard) relation") {
    // the barrier pins the cell-assign to once per vector (a collapsed
    // assign would re-run its nCentroids cosines per PAIR) and lets
    // both self-join sides reuse the same exchange. At gate scale the
    // tiny build side broadcasts — which also materializes the assign
    // once — so pin the barrier in the NON-broadcast regime, the one
    // that holds at 100× where the fix was measured (25.8 → 9.0 s).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = plan("e9_semdedup_prune")
      assert(p.contains("REPARTITION_BY_COL"),
        s"(cell, shard) barrier exchange missing:\n$p")
      // each side evaluates its assign BEFORE its barrier exchange —
      // once per vector per side, never per pair (AQE's ReusedExchange
      // dedups the two identical shuffles at runtime; the initial plan
      // string shows both)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"pair join must stay an equi-join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("r14 splits: keyspace bounds broadcast; split window runs on 8 agg rows") {
    val p = plan("r14_splits")
    // the 1-row (lo, hi) bounds frame joins the base scan via
    // broadcast — a shuffle there would re-partition the whole table
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"), s"bounds must broadcast:\n$p")
    // the global-sum window sits ABOVE the split aggregation (8 rows),
    // so the single-partition WindowExec is harmless by construction;
    // the base table must still aggregate partial+final
    assert("HashAggregate".r.findAllIn(p).length >= 2)
  }

  test("d12 packing: the corpus-wide window is partitioned by bucket") {
    // two-level prefix sum: the window over DOCUMENT rows must be
    // partitioned (parallel); only the per-BUCKET totals (rows =
    // corpus/bucketWidth) may use a global window
    val df = SparkEntry.queries("d12_pack_sequences")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    val docSide = windows.filter(_.windowExpressions.exists(
      _.toString.contains("local_end")))
    assert(docSide.nonEmpty && docSide.forall(_.partitionSpec.nonEmpty),
      "document-side running sum must be partitioned by bucket")
    val bucketSide = windows.filter(_.windowExpressions.exists(
      _.toString.contains("bucket_offset")))
    assert(bucketSide.forall(w =>
      w.maxRows.isEmpty || w.partitionSpec.isEmpty),
      "only the bucket-totals window may be global")
  }

  test("d13 stratified sample: window partitioned by stratum, filter below limit") {
    val df = SparkEntry.queries("d13_stratified")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "stratified sampling must never plan a global window")
  }

  test("d16 sliding chunks is map-only: no Exchange anywhere") {
    import org.apache.spark.sql.functions.col
    // the operator itself (without the gate query's presentation sort)
    // must be exchange-free — it scales with the scan
    val p = graft.operators.Packing.slidingChunks(
        graft.Tables.documents(spark, dir), col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")), 128L, 64L)
      .queryExecution.executedPlan.toString
    assert(exchanges(p) == 0, s"slidingChunks must not shuffle:\n$p")
  }

  test("d19 segment dedup: windows partitioned by doc_id; " +
      "doc-frequency shuffles digests, not text") {
    val df = SparkEntry.queries("d19_segment_dedup")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "segment assembly must never plan a global window")
    // every Aggregate above the window groups on the md5 digest or
    // doc_id — never the raw seg string
    val aggs = df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.groupingExpressions.map(_.sql).mkString(",")
    }
    assert(aggs.forall(g => !g.contains("concat_ws")), aggs.mkString("\n"))
  }

  test("q_bloom_semi: codegen'd might_contain probe below an equi-join") {
    val p = plan("q_bloom_semi")
    assert(p.contains("might_contain"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF"))
  }

  test("q_incremental_agg: state merge keeps partial aggregation") {
    val p = plan("q_incremental_agg")
    assert(p.contains("partial"), p) // map-side combine survives the union
    assert(!p.contains("Cartesian") && !p.contains("NestedLoop"))
  }

  test("d15 repetition: all windows are partitioned by doc_id") {
    val df = SparkEntry.queries("d15_repetition")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "n-gram assembly must never plan a global window")
  }

  test("d18 winnowing: every window is partitioned by doc_id") {
    // gram assembly, the gram index, and the winnow argmin are all
    // per-document — a global window would serialize the corpus
    val df = SparkEntry.queries("d18_fingerprints")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "winnowing must never plan a global window")
  }

  test("s10 gap sessions: one user_id exchange feeds windows and aggregate") {
    import org.apache.spark.sql.functions.col
    // the operator (without the gate's presentation sort): lag, the
    // RANGE-framed island sum, and the session aggregate all share the
    // user_id hash partitioning — exactly ONE data shuffle
    val p = graft.streaming.EventsPipeline.gapSessions(
        graft.Tables.events(spark, dir))
      .queryExecution.executedPlan.toString
    assert(exchanges(p) == 1, s"gapSessions must shuffle exactly once:\n$p")
  }

  test("lpa round join reuses the cached pre-partitioned adjacency") {
    import org.apache.spark.sql.functions.col
    // replicate one LPA round's join shape: a frame persisted AFTER
    // repartition(n) joined to a narrow state frame must not
    // re-shuffle the adjacency side (its InMemoryTableScan keeps the
    // hash partitioning) — the property labelPropagation's loop
    // depends on. Broadcast is disabled so the tiny fixture plans the
    // shuffle join the real 100×-scale adjacency would.
    val und = graft.Tables.nation(spark, dir)
      .select(col("n_nationkey").as("a"), col("n_regionkey").as("b"))
    val adj = und.select(col("a").as("v"), col("b").as("n"))
      .union(und.select(col("b").as("v"), col("a").as("n")))
      .repartition(col("n"))
      .persist()
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      adj.count()
      val lab = und.select(col("a").as("n"), col("a").as("lbl"))
        .localCheckpoint(true)
      val joined = adj.join(lab, "n")
      joined.collect() // settle AQE to the final plan
      val p = joined.queryExecution.executedPlan.toString
      // the adjacency (left/cache) branch must run cache-scan → sort →
      // join with NO Exchange in between: in the printed final plan
      // that is the segment from the join node down to the
      // InMemoryTableScan (the REPARTITION_BY_COL exchange recorded
      // INSIDE the InMemoryRelation build plan is not re-executed)
      val join = "(SortMergeJoin|ShuffledHashJoin)".r
        .findFirstMatchIn(p).map(_.start)
      val scan = p.indexOf("InMemoryTableScan")
      assert(join.nonEmpty && scan > join.get, s"unexpected join shape:\n$p")
      val branch = p.substring(join.get, scan)
      assert(!branch.contains("Exchange"),
        s"adjacency side re-shuffled above its cache:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      adj.unpersist(blocking = true)
    }
  }

  test("d24 survivors: doomed ids prune docs via a narrow anti-join") {
    val df = SparkEntry.queries("d24_dedup_survivors")(spark, dir)
    df.collect() // settle AQE (the doomed set is tiny → broadcast)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"survivor selection must be an anti-join:\n$p")
    // document text must reach only the anti-join's left (docs) side —
    // the doomed build side carries ids alone
    val anti = p.indexOf("LeftAnti")
    assert(!p.substring(anti).split("\n").take(3).mkString.contains("text"),
      s"anti-join key should be doc_id only:\n$p")
  }

  test("d25 vocab coverage: rank window runs over the aggregated vocab, " +
      "not the corpus") {
    val df = SparkEntry.queries("d25_vocab_coverage")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    // every Window sits ABOVE an Aggregate (vocab counts) — never
    // directly over the exploded token stream
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val aggsBelow = w.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggsBelow.nonEmpty,
        s"vocab window must consume aggregated counts:\n$plan")
    }
  }

  test("d26 lm surprise: model joins are equi-joins with partial aggs") {
    val p = plan("d26_lm_surprise")
    // bigram + context models: ≥2 partial/final HashAggregate pairs;
    // joins back to the stream must be hash equi-joins, never BNLJ
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in lm plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 4, s"plan:\n$p")
  }

  test("d30 domain cap: map-side partial capping, never a per-group sort") {
    val p = plan("d30_source_caps")
    // the cap rides the bounded TopKAggregator: partial + final
    // ObjectHashAggregate around ONE exchange — the shuffle carries
    // ≤ n·partitions rows per source, the stratifiedSample-window
    // formulation (a per-source sort of EVERY row) must not reappear
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, s"plan:\n$p")
    assert(!p.contains("Window"), s"cap degraded to a window sort:\n$p")
  }

  test("e12 range search: broadcast pure map — no window, no sort before the filter") {
    val p = plan("e12_range_search")
    // fixed-radius search must stay a broadcast map over the corpus:
    // queries broadcast, corpus never shuffles, no per-query ranking
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    assert(!p.contains("Window"), s"range search grew a ranking window:\n$p")
    assert(p.contains("floatvecdot"), s"cosine kernel not codegen'd:\n$p")
  }

  test("s19 late accounting: one per-source window, one agg, no joins") {
    val p = plan("s19_late_data")
    assert(p.contains("Window"), s"plan:\n$p")
    assert(!p.contains("Join"), s"late accounting must not join:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"plan:\n$p")
  }

  test("e4 banded near-dup: no cartesian product — candidates only from " +
       "band-bucket equi-joins") {
    val p = plan("e4_emb_near_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the production face must never plan all-pairs:\n$p")
    // band self-join + candidate dedup + two vector fetches: all
    // hash/merge equi-joins
    assert(p.contains("Join"), s"plan:\n$p")
  }

  test("g42 local top-k: ONE origin-partitioned window, with the " +
       "WindowGroupLimit top-k pushdown") {
    val p = plan("g42_local_topk")
    assert("Window \\[".r.findAllIn(p).length == 1, s"plan:\n$p")
    // Catalyst plants partial+final WindowGroupLimit around the
    // row_number ≤ n filter — each task keeps only its local top-k
    // BEFORE the origin shuffle, so the exchange volume is
    // min(k·origins, rows), not rows. Exactly the 100 TB shape.
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
  }

  test("g39 project sub-counts: per-clause origin aggregates, left joins, " +
       "no cartesian") {
    val p = plan("g39_project")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    // two count by-clauses → at least two aggregate pairs
    assert("HashAggregate".r.findAllIn(p).length >= 4, s"plan:\n$p")
  }

  test("g44 match: conjunctive join plan — equi-joins only") {
    val p = plan("g44_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pattern join must stay an equi-join tree:\n$p")
  }

  test("d37 sized simhash: candidates only from (table, key) equi-joins — " +
       "no cartesian at any subset size") {
    val p = plan("d37_simhash_sized")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the banded hamming join must never plan all-pairs:\n$p")
    assert(p.contains("Join"), s"plan:\n$p")
  }

  test("g55 coin: the hash-coin is a scan residual — no join, no window") {
    val p = plan("g55_coin")
    assert(!p.contains("Join") && !p.contains("Window"), s"plan:\n$p")
    // one partial+final count over the filtered scan
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"plan:\n$p")
  }

  test("g53 elementMap: pure projection over the vertex union — " +
       "no join, no shuffle") {
    val p = plan("g53_element_map")
    assert(!p.contains("Join"), s"plan:\n$p")
    // the only exchange allowed is the orderBy's range partitioning
    assert(exchanges(p) <= 1, s"plan:\n$p")
  }

  test("g29 select back: reads only customer and orders") {
    // the start, select('c') and the placed hop read per-label frames,
    // not the six-table vertex union
    assert(scans("g29_select_back").toSet == Set("customer", "orders"))
  }

  test("g27 parsed group: reads only supplier and nation") {
    assert(scans("g27_parsed_group").toSet == Set("supplier", "nation"))
  }

  test("g32 parsed sum: reads only part") {
    // the six-branch union's other five scans were pruned by the
    // optimizer, but only after it analysed and optimized them
    assert(scans("g32_parsed_sum") == Seq("part"))
    assert(analyzed("g32_parsed_sum") == Seq("part"))
  }

  test("g33 has-not: a label-free step reads the full vertex union, " +
       "and no edge source") {
    assert(scans("g33_has_not") ==
      Seq("customer", "nation", "orders", "part", "region", "supplier"))
  }

  test("a_sssp_hops: every plan it analyses reads only the geo tables") {
    // the hop search selects its part_of/located_in edges by label
    // (PropertyGraph.edgesOf), so no action of the build or the collect
    // analyses the order, part or lineitem frames of the full edge
    // union; region ids are encoded from n_regionkey, so the region
    // table itself is never opened
    assert(analyzedByEveryAction("a_sssp_hops") ==
      Set("customer", "supplier", "nation"))
  }
}
