package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Writer

/** Write-path semantics exercised as read-only, oracle-checkable
  * queries (SURVEY §2.2): each applies a Writer transform to a base
  * table plus a deterministic synthetic batch, then summarizes the
  * post-write state. The DuckDB oracle replays the same merge
  * relationally — exactly what a MERGE INTO audit would do.
  */
object WriteQueries {

  /** W3/W10 upsert: orders with orderkey<100 get totalprice+1000 (update
    * branch) and 50 synthetic rows appear (insert branch).
    */
  def w1Upsert(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val updates = o.filter(col("o_orderkey") < 100)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = o.filter(col("o_orderkey") < 50)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val merged = Writer.upsert(o, updates.unionByName(inserts), Seq("o_orderkey"))
    merged.agg(
      count(lit(1)).as("n"),
      (sum(graft.util.Exact.cents(col("o_totalprice"))) / 100.0).as("total"))
  }

  /** Compare-and-swap batch over customer balances (exact cents):
    * every 7th customer submits a CAS (+100.00 to its balance) whose
    * expectation is CORRECT for even custkeys and STALE (off by one
    * cent) for odd ones — applied swaps land in the per-segment
    * totals, stale and only stale ones surface in the reject count.
    */
  def w15Cas(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        graft.util.Exact.cents(col("c_acctbal")).as("bal_cents"))
    val updates = c.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0, col("bal_cents"))
          .otherwise(col("bal_cents") + 1).as("expected_cents"),
        (col("bal_cents") + 10000L).as("new_cents"))
    val merged = Writer.casUpdate(c, updates, Seq("c_custkey"),
      "bal_cents", "expected_cents", "new_cents")
    val rejSeg = Writer.casRejects(c, updates, Seq("c_custkey"),
        "bal_cents", "expected_cents")
      .join(c.select(col("c_custkey"), col("c_mktsegment")), "c_custkey")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_rejected"))
    merged.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_custs"),
        (sum(col("bal_cents")) / 100.0).as("total_bal"))
      .join(rejSeg, Seq("c_mktsegment"), "left")
      .withColumn("n_rejected", coalesce(col("n_rejected"), lit(0L)))
      .orderBy(col("c_mktsegment"))
  }

  /** W2 delete: every 10th order deleted; summarize survivors. */
  def w2Delete(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val doomed = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(col("o_orderkey"))
    Writer.delete(o, doomed, Seq("o_orderkey"))
      .agg(count(lit(1)).as("n"),
        (sum(graft.util.Exact.cents(col("o_totalprice"))) / 100.0).as("total"))
  }

  /** W7 delete-range: orderkeys [1000, 2000) removed. */
  def w3DeleteRange(s: SparkSession, dir: String): DataFrame =
    Writer.deleteRange(Tables.orders(s, dir), "o_orderkey", 1000L, 2000L)
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))

  /** W1 TTL + filter-on-read: orders expire 90 days after orderdate;
    * count those still live at a fixed as-of instant.
    */
  def w4Ttl(s: SparkSession, dir: String): DataFrame = {
    val withTtl = Writer.withTtl(Tables.orders(s, dir), "o_orderdate",
      expr("INTERVAL 90 DAYS"))
    Writer.liveAsOf(withTtl, to_timestamp(lit("1998-06-01 00:00:00")))
      .agg(count(lit(1)).as("n_live"))
  }

  /** W4 eliminate: null out priority of low-value orders, count nulls. */
  def w5Eliminate(s: SparkSession, dir: String): DataFrame =
    Writer.eliminate(Tables.orders(s, dir), "o_orderpriority",
        col("o_totalprice") < 50000.0)
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").isNull, 1).otherwise(0)).cast("long")
          .as("n_nulled"))

  /** UNIQUE_INDEX check: (nationkey, mktsegment) is intentionally
    * non-unique — the violation report itself is the result.
    */
  def w6UniqueCheck(s: SparkSession, dir: String): DataFrame =
    Writer.uniqueViolations(
        Tables.customer(s, dir).select(col("c_nationkey"), col("c_mktsegment")),
        Seq("c_nationkey", "c_mktsegment"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** W8 deterministic id allocation for the region table (tiny —
    * the global-order window is the documented non-scale path).
    */
  def w7AllocIds(s: SparkSession, dir: String): DataFrame =
    Writer.allocateIds(Tables.region(s, dir), Seq("r_name"), start = 100L)
      .select(col("alloc_id"), col("r_regionkey"), col("r_name"))
      .orderBy(col("alloc_id"))

  /** W8 at scale: partition-offset id allocation over the orders table
    * (range-partitioned parallel sort + zipWithIndex offsets — no
    * single-partition window; ids verified identical to a global
    * ROW_NUMBER by the oracle).
    */
  def w8AllocPartitioned(s: SparkSession, dir: String): DataFrame =
    Writer.allocateIdsPartitioned(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        Seq("o_orderkey"), start = 1000L)
      .select(col("alloc_id"), col("o_orderkey"), col("o_custkey"))
      .orderBy(col("alloc_id"))

  /** W1's reclaim half — TTL physical expiry: stage orders with a
    * 90-day TTL as a managed table, VACUUM it (physical rewrite, not a
    * read filter), then summarize what the rewritten table actually
    * contains — read back from storage, proving expired rows are gone
    * from disk, not hidden.
    */
  def w9TtlVacuum(s: SparkSession, dir: String): DataFrame = {
    val table = "w9_vacuum_orders"
    // drops the catalog entry AND any warehouse directory left by a
    // previous JVM (in-memory catalog forgets tables across sessions)
    graft.sources.GraphStorage.dropTable(s, table)
    Writer.withTtl(Tables.orders(s, dir), "o_orderdate", expr("INTERVAL 90 DAYS"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    graft.sources.GraphStorage.vacuumExpired(s, table,
      to_timestamp(lit("1998-06-01 00:00:00")))
    s.table(table).agg(count(lit(1)).as("n_live"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("oldest"),
      (sum(graft.util.Exact.cents(col("o_totalprice"))) / 100.0).as("total"))
  }

  /** CDC apply — the Debezium-shaped change log collapsed onto the
    * customer dimension: two competing updates for the %10==3 keys
    * (the later one must win), deletes for %10==7, inserts of brand-new
    * keys for %10==5. Summarized per segment; the oracle replays the
    * merge relationally.
    */
  def w11CdcApply(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
    def change(op: String, seq: Long, keySel: Column, key: Column,
        bal: Column): DataFrame =
      base.filter(keySel).select(key.as("c_custkey"), col("c_name"),
        col("c_nationkey"), bal.as("c_acctbal"), col("c_mktsegment"),
        lit(op).as("op"), lit(seq).as("seq"))
    val k = col("c_custkey")
    val changes =
      change("U", 1L, k % 10 === 3, k, col("c_acctbal") + 50.0)
        .unionByName(change("U", 2L, k % 10 === 3, k,
          col("c_acctbal") + 100.0)) // latest wins
        .unionByName(change("D", 1L, k % 10 === 7, k, col("c_acctbal")))
        .unionByName(change("I", 1L, k % 10 === 5, k + 1000000L,
          lit(10.0)))
    Writer.applyCdc(base, changes, Seq("c_custkey"), "seq")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        (sum(graft.util.Exact.cents(col("c_acctbal"))) / 100.0).as("balance"))
      .orderBy(col("c_mktsegment"))
  }

  /** W12 table DDL (TikvStdSessions.java:103-124): the full
    * create → exists → read-through-catalog → drop → exists lifecycle
    * as one observable row. The count is read back via `s.table(name)`
    * — through the catalog entry the CREATE registered, not from the
    * source frame — so a broken registration cannot pass; the oracle
    * pins the exists flags as constants and recounts nation.
    */
  def w12Ddl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = "w12_ddl_nation"
    graft.sources.GraphStorage.dropTable(s, table) // leftovers from prior JVMs
    val before = graft.sources.GraphStorage.existsTable(s, table)
    graft.sources.GraphStorage.createTable(s, table, Tables.nation(s, dir))
    val created = graft.sources.GraphStorage.existsTable(s, table)
    val n = s.table(table).count()
    graft.sources.GraphStorage.dropTable(s, table)
    val after = graft.sources.GraphStorage.existsTable(s, table)
    Seq((before, created, n, after))
      .toDF("exists_before", "exists_created", "n_rows", "exists_after")
  }

  /** Negative path of the UNIQUE constraint (TikvTables.java:212-219):
    * a batch colliding with existing keys must be REFUSED end-to-end —
    * the gate ingests a violating batch through Writer.insertUnique,
    * witnesses the refusal, and proves the base table unchanged (count
    * + exact balance). The happy path (clean batch accepted) is pinned
    * in WriterSpec; w6_unique_check covers the report shape.
    */
  def w13UniqueReject(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
    // every key in the batch already exists in base — the hardest
    // refusal case (no in-batch dup to catch cheaply)
    val batch = base.filter(col("c_custkey") < 10)
    val rejected =
      try {
        Writer.insertUnique(base, batch, Seq("c_custkey"))
          .write.format("noop").mode("overwrite").save()
        false
      } catch { case _: IllegalStateException => true }
    base.agg(count(lit(1)).as("n"),
        (sum(graft.util.Exact.cents(col("c_acctbal"))) / 100.0).as("total"))
      .withColumn("rejected", lit(rejected))
      .select(col("rejected"), col("n"), col("total"))
  }

  /** Negative path of delete (TikvTable.java:111-120): deleted keys
    * must be ABSENT on read-back — the gate deletes every 7th order,
    * point-reads the deleted key set against the post-delete table
    * (must be empty), and counts survivors.
    */
  def w14DeleteAbsent(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val doomed = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"))
    val after = Writer.delete(o, doomed, Seq("o_orderkey"))
    after.join(doomed, Seq("o_orderkey"))
      .agg(count(lit(1)).as("n_readback"))
      .crossJoin(after.agg(count(lit(1)).as("n_live")))
  }

  /** W6/W11 truncate/clear: schema survives, rows do not. */
  def w10Truncate(s: SparkSession, dir: String): DataFrame = {
    val truncated = Writer.truncate(Tables.orders(s, dir))
    truncated.agg(count(lit(1)).as("n"))
      .withColumn("n_cols", lit(truncated.columns.length).cast("int"))
  }

  /** ACID upsert end-to-end (the W9/W10 upgrade past the reference's
    * supportsTransaction=false): a TxTable is seeded from nation, a
    * WRITER CRASH is simulated by writing the next version directory
    * WITHOUT the pointer swap (TxTable.writeVersion — the exact window
    * a killed Spark job leaves), and the mid-crash read must still see
    * the untouched base. The upsert then commits properly (+100 to
    * n_regionkey for keys < 5), a STALE second commit computed from
    * the superseded version must be refused (version-level CAS), and
    * vacuum clears the orphan. Every surviving number is derivable
    * from the nation table, so DuckDB replays the whole story.
    */
  def w16TxUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // a fresh root per call, dropped on the way out: two calls — in one
    // JVM or in two processes on one host — never share a table
    val root = java.nio.file.Files.createTempDirectory("graft_w16_tx").toString
    try {
      val nation = Tables.nation(s, dir)
      graft.sources.TxTable.init(s, root, nation)

      // crash window: version written, pointer NOT swapped
      val updates = nation.filter(col("n_nationkey") < 5)
        .withColumn("n_regionkey", col("n_regionkey") + 100L)
      graft.sources.TxTable.writeVersion(s, root,
        Writer.upsert(nation, updates, Seq("n_nationkey")))
      val mid = graft.sources.TxTable.read(s, root)
        .agg(count(lit(1)).as("n"), sum(col("n_regionkey")).as("rsum"))
        .head()

      // real commit (recomputes from the still-current base; the crashed
      // attempt's uniquely-named directory stays behind as a vacuum-able
      // orphan — never a collision for the retry)
      graft.sources.TxTable.upsert(s, root, updates, Seq("n_nationkey"))
      val after = graft.sources.TxTable.read(s, root)
        .agg(count(lit(1)).as("n"), sum(col("n_regionkey")).as("rsum"))
        .head()

      // stale-commit refusal (version-level CAS) is pinned in
      // StorageSpec, where the interleaving is controlled; here the
      // superseded v1 plus any orphan must vacuum away (grace 0: the
      // gate owns this table exclusively)
      val vacuumed = graft.sources.TxTable.vacuum(root, graceMs = 0L)
      Seq((mid.getLong(0), mid.getLong(1), after.getLong(0), after.getLong(1),
        vacuumed > 0))
        .toDF("n_mid", "rsum_mid", "n_after", "rsum_after", "vacuumed_orphans")
    } finally graft.sources.TxTable.drop(root)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "w11_cdc_apply" -> (w11CdcApply _),
    "w9_ttl_vacuum" -> (w9TtlVacuum _),
    "w10_truncate" -> (w10Truncate _),
    "w8_alloc_partitioned" -> (w8AllocPartitioned _),
    "w1_upsert" -> (w1Upsert _),
    "w2_delete" -> (w2Delete _),
    "w15_cas" -> (w15Cas _),
    "w3_delete_range" -> (w3DeleteRange _),
    "w4_ttl" -> (w4Ttl _),
    "w5_eliminate" -> (w5Eliminate _),
    "w6_unique_check" -> (w6UniqueCheck _),
    "w7_alloc_ids" -> (w7AllocIds _),
    "w12_ddl" -> (w12Ddl _),
    "w13_unique_reject" -> (w13UniqueReject _),
    "w14_delete_absent" -> (w14DeleteAbsent _),
    "w16_tx_upsert" -> (w16TxUpsert _),
  )

  val oracle: Map[String, String] = Map(
    // relational replay of the collapsed change log: %10∈{3} updated
    // (seq-2 value), {7} deleted, {5} duplicated as inserts
    "w11_cdc_apply" ->
      """WITH fin AS (
        |  SELECT c_mktsegment, c_acctbal FROM customer
        |  WHERE c_custkey % 10 NOT IN (3, 7)
        |  UNION ALL SELECT c_mktsegment, c_acctbal + 100.0 FROM customer
        |  WHERE c_custkey % 10 = 3
        |  UNION ALL SELECT c_mktsegment, 10.0 FROM customer
        |  WHERE c_custkey % 10 = 5)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  SUM(CAST(ROUND((c_acctbal)*100) AS BIGINT))/100.0 AS balance
        |FROM fin GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "w9_ttl_vacuum" ->
      """SELECT COUNT(*) AS n_live,
        |  strftime(MIN(o_orderdate), '%Y-%m-%d') AS oldest,
        |  SUM(CAST(ROUND((o_totalprice)*100) AS BIGINT))/100.0 AS total
        |FROM orders
        |WHERE o_orderdate + INTERVAL 90 DAY > TIMESTAMP '1998-06-01 00:00:00'""".stripMargin,
    "w10_truncate" ->
      "SELECT CAST(0 AS BIGINT) AS n, CAST(6 AS INT) AS n_cols",
    "w8_alloc_partitioned" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) + 999 AS alloc_id,
        |  o_orderkey, o_custkey
        |FROM orders ORDER BY alloc_id""".stripMargin,
    "w1_upsert" ->
      """WITH updates AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey < 100
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice FROM orders WHERE o_orderkey < 50),
        |merged AS (
        |  SELECT o.o_orderkey, o.o_totalprice FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.o_orderkey = o.o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM updates)
        |SELECT COUNT(*) AS n,
        |  SUM(CAST(ROUND((o_totalprice)*100) AS BIGINT))/100.0 AS total
        |FROM merged""".stripMargin,
    "w15_cas" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |    CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal FROM customer),
        |u AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 2 = 0 THEN bal ELSE bal + 1 END AS expected,
        |    bal + 10000 AS newv FROM c WHERE c_custkey % 7 = 0),
        |m AS (SELECT c.c_custkey, c.c_mktsegment,
        |    CASE WHEN u.expected IS NOT NULL AND u.expected = c.bal
        |      THEN u.newv ELSE c.bal END AS bal
        |  FROM c LEFT JOIN u USING (c_custkey)),
        |r AS (SELECT c.c_mktsegment, COUNT(*) AS n_rejected
        |  FROM u JOIN c USING (c_custkey)
        |  WHERE u.expected <> c.bal GROUP BY 1)
        |SELECT m.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_custs,
        |  SUM(m.bal)/100.0 AS total_bal,
        |  CAST(COALESCE(MAX(r.n_rejected), 0) AS BIGINT) AS n_rejected
        |FROM m LEFT JOIN r ON r.c_mktsegment = m.c_mktsegment
        |GROUP BY m.c_mktsegment ORDER BY m.c_mktsegment""".stripMargin,
    "w2_delete" ->
      """SELECT COUNT(*) AS n,
        |  SUM(CAST(ROUND((o_totalprice)*100) AS BIGINT))/100.0 AS total
        |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin,
    "w3_delete_range" ->
      """SELECT COUNT(*) AS n, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM orders WHERE NOT (o_orderkey >= 1000 AND o_orderkey < 2000)""".stripMargin,
    "w4_ttl" ->
      """SELECT COUNT(*) AS n_live FROM orders
        |WHERE o_orderdate + INTERVAL 90 DAY > TIMESTAMP '1998-06-01 00:00:00'""".stripMargin,
    "w5_eliminate" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_totalprice < 50000.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulled
        |FROM orders""".stripMargin,
    "w6_unique_check" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_rows
        |FROM customer GROUP BY 1, 2 HAVING COUNT(*) > 1
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "w7_alloc_ids" ->
      """SELECT ROW_NUMBER() OVER (ORDER BY r_name) + 99 AS alloc_id,
        |  r_regionkey, r_name
        |FROM region ORDER BY alloc_id""".stripMargin,
    "w12_ddl" ->
      """SELECT FALSE AS exists_before, TRUE AS exists_created,
        |  COUNT(*) AS n_rows, FALSE AS exists_after FROM nation""".stripMargin,
    // the batch collides on every key, so the only correct outcome is
    // rejected=TRUE with base's own count/balance intact
    "w13_unique_reject" ->
      """SELECT TRUE AS rejected, COUNT(*) AS n,
        |  SUM(CAST(ROUND((c_acctbal)*100) AS BIGINT))/100.0 AS total
        |FROM customer""".stripMargin,
    "w14_delete_absent" ->
      """SELECT CAST(0 AS BIGINT) AS n_readback,
        |  (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 <> 0) AS n_live""".stripMargin,
    // mid-crash read sees untouched nation; the committed upsert adds
    // 100 to n_regionkey for the 5 keys < 5; vacuum finds orphans
    "w16_tx_upsert" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_mid,
        |  CAST(SUM(n_regionkey) AS BIGINT) AS rsum_mid,
        |  CAST(COUNT(*) AS BIGINT) AS n_after,
        |  CAST(SUM(n_regionkey)
        |    + 100 * SUM(CASE WHEN n_nationkey < 5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rsum_after,
        |  TRUE AS vacuumed_orphans
        |FROM nation""".stripMargin,
  )
}
