package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.graph.PropertyGraph
import graft.sources.{DataSources, GraphStorage}

/** Physical layout semantics: label-partition pruning, dual bucketed
  * edge tables (EDGE_OUT/EDGE_IN analog) eliminating the edge-side
  * shuffle, and source round-trips.
  */
class StorageSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.sources.bucketing.enabled", "true")
    s
  }
  import spark.implicits._

  private val wh = "target/test-output"

  lazy val stored: Unit = {
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    GraphStorage.saveGraph(spark, g, "t1graph", buckets = 4)
  }

  test("DDL lifecycle: create registers, exists reflects, drop forgets") {
    val t = "ddl_spec_table"
    GraphStorage.dropTable(spark, t)
    assert(!GraphStorage.existsTable(spark, t))
    GraphStorage.createTable(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(GraphStorage.existsTable(spark, t))
    assert(spark.table(t).count() == 2)
    // ErrorIfExists: a second CREATE of a live table must refuse
    intercept[Exception] {
      GraphStorage.createTable(spark, t, Seq((3L, "c")).toDF("id", "v"))
    }
    GraphStorage.dropTable(spark, t)
    assert(!GraphStorage.existsTable(spark, t))
  }

  test("vertices are label-partitioned and hasLabel prunes partitions") {
    stored
    val g = GraphStorage.loadGraph(spark, "t1graph")
    val plan = g.V.hasLabel("customer").toDF.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("label#") || plan.contains("isnotnull(label"))
    assert(g.V.hasLabel("customer").toDF.count() == 150)
  }

  test("out-traversal join against by_src bucketed edges has no edge-side shuffle") {
    stored
    val g = GraphStorage.loadGraph(spark, "t1graph", forward = true)
    // big-big join path: disable broadcast so the bucketed layout is
    // what saves the shuffle (the 100 TB scenario)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = g.vertices.filter(col("label") === "customer")
        .select(col("id")).join(g.edges, col("id") === col("src"))
      val plan = q.queryExecution.executedPlan.toString
      // exactly one exchange: the vertex side; edge side reads buckets
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange (vertex side only), got $exchanges:\n$plan")
      assert(q.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("in-traversal joins the by_dst bucketed copy with no edge-side shuffle") {
    stored
    val g = GraphStorage.loadGraph(spark, "t1graph")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the traversal's own inE path must pick the dst-clustered copy
      val q = g.V.hasLabel("order").inE("placed").toDF
      val plan = q.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange (vertex side only), got $exchanges:\n$plan")
      assert(q.count() > 0)
      // both copies hold the same edge bag
      assert(g.edges.count() == g.edgesForDst.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("appendEdges adds a batch to both bucketed copies without rewrite") {
    stored
    val before = spark.table("t1graph_edges_by_src").count()
    val tmpl = spark.table("t1graph_edges_by_src")
    val batch = Seq((901L, 902L), (903L, 904L)).toDF("src", "dst")
      .select(tmpl.schema.fields.map { f =>
        f.name match {
          case "src" => col("src")
          case "dst" => col("dst")
          case "label" => lit("link2").as("label")
          case other => lit(null).cast(f.dataType).as(other)
        }
      }: _*)
    GraphStorage.appendEdges(spark, "t1graph", batch)
    val g = GraphStorage.loadGraph(spark, "t1graph")
    assert(g.edges.count() == before + 2)
    assert(g.edgesForDst.count() == before + 2)
    // the appended batch is visible to traversals via both copies
    assert(g.V.toDF.limit(0).columns.contains("id")) // schema intact
    assert(g.edges.filter(col("label") === "link2").count() == 2)
    // bucketed join shape survives the append
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = g.vertices.filter(col("label") === "customer")
        .select(col("id")).join(g.edges, col("id") === col("src"))
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(q.queryExecution.executedPlan.toString).length
      assert(exchanges == 1)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("vacuumExpired physically rewrites the table without expired rows") {
    import org.apache.spark.sql.functions._
    GraphStorage.dropTable(spark, "vac_t") // also clears stale warehouse dirs
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00")),
      (3L, java.sql.Timestamp.valueOf("2024-07-01 00:00:00")))
      .toDF("id", "created")
    graft.operators.Writer.withTtl(df, "created", expr("INTERVAL 30 DAYS"))
      .write.mode("overwrite").format("parquet").saveAsTable("vac_t")
    val (kept, reclaimed) = GraphStorage.vacuumExpired(spark, "vac_t",
      to_timestamp(lit("2024-06-15 00:00:00")))
    assert(kept == 2 && reclaimed == 1)
    // read back from storage: the expired row is gone from disk, and a
    // raw scan (no TTL filter) cannot resurrect it
    val back = spark.table("vac_t").select("id").as[Long].collect().sorted
    assert(back.toSeq == Seq(2L, 3L))
  }

  test("csv and json round-trip with explicit schema") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    DataSources.writeCsv(df, s"$wh/csv_rt")
    DataSources.writeJsonLines(df, s"$wh/json_rt")
    val back = DataSources.readCsv(spark, s"$wh/csv_rt", df.schema)
    val backJ = DataSources.readJsonLines(spark, s"$wh/json_rt", df.schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    assert(backJ.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("orc round-trip with pushed filter") {
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "v")
    DataSources.writeOrc(df, s"$wh/orc_rt")
    val back = DataSources.readOrc(spark, s"$wh/orc_rt").filter(col("id") > 1L)
    assert(back.count() == 2)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), s"plan:\n$plan")
  }

  test("partitioned parquet write prunes on partition column") {
    val df = Seq((1L, "x", "2024"), (2L, "y", "2025")).toDF("id", "name", "year")
    DataSources.writeParquet(df, s"$wh/part_rt", Seq("year"))
    val back = DataSources.readParquet(spark, s"$wh/part_rt")
      .filter(col("year") === "2024")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(back.count() == 1)
  }

  // ---- TxTable: the W9/W10 ACID story (versioned parquet behind an
  // atomically-swapped pointer) ----

  private def freshTx(name: String): String = {
    val root = s"target/test-output/tx_$name"
    graft.sources.TxTable.drop(root)
    root
  }

  test("TxTable: a crashed write (version without swap) is invisible " +
       "to readers; the retried commit lands") {
    val root = freshTx("crash")
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")
    graft.sources.TxTable.init(spark, root, base)
    val upd = Seq((2L, 99L), (4L, 40L)).toDF("k", "v")
    // crash window: next version fully written, pointer untouched
    graft.sources.TxTable.writeVersion(spark, root,
      graft.operators.Writer.upsert(base, upd, Seq("k")))
    val mid = graft.sources.TxTable.read(spark, root)
      .as[(Long, Long)].collect().toSet
    assert(mid == Set((1L, 10L), (2L, 20L), (3L, 30L)),
      s"reader saw an uncommitted version: $mid")
    // retry commits; the crashed attempt stays an orphan (unique name)
    graft.sources.TxTable.upsert(spark, root, upd, Seq("k"))
    val after = graft.sources.TxTable.read(spark, root)
      .as[(Long, Long)].collect().toSet
    assert(after == Set((1L, 10L), (2L, 99L), (3L, 30L), (4L, 40L)))
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: a commit computed from a superseded version is refused " +
       "(version-level CAS), not silently applied over the winner") {
    val root = freshTx("cas")
    graft.sources.TxTable.init(spark, root, Seq((1L, 1L)).toDF("k", "v"))
    intercept[java.util.ConcurrentModificationException] {
      graft.sources.TxTable.commit(spark, root, stale => {
        // a concurrent writer wins the race inside our read-write window
        graft.sources.TxTable.commit(spark, root,
          df => df.withColumn("v", col("v") + 100L))
        stale.withColumn("v", col("v") + 1L)
      })
    }
    // the winner's commit survives
    val v = graft.sources.TxTable.read(spark, root)
      .as[(Long, Long)].collect().toSeq
    assert(v == Seq((1L, 101L)))
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: vacuum removes superseded versions and orphans, " +
       "never the committed one") {
    val root = freshTx("vac")
    val base = Seq((1L, 1L)).toDF("k", "v")
    graft.sources.TxTable.init(spark, root, base)          // v1
    graft.sources.TxTable.commit(spark, root, identity)    // v2 (current)
    graft.sources.TxTable.writeVersion(spark, root, base)  // v3 orphan
    // grace window first: a just-written directory must NOT be vacuumed
    // (it could be a concurrent committer's in-flight attempt)
    assert(graft.sources.TxTable.vacuum(root) == 0,
      "vacuum removed a directory younger than the grace period")
    val removed = graft.sources.TxTable.vacuum(root, graceMs = 0L)
    assert(removed == 2, s"expected v1 + orphan v3 removed, got $removed")
    assert(graft.sources.TxTable.read(spark, root).count() == 1)
    assert(graft.sources.TxTable.vacuum(root, graceMs = 0L) == 0) // idempotent
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: a read plans from the stored schema without a Spark job") {
    val root = freshTx("schema")
    graft.sources.TxTable.init(spark, root, Seq((1L, "a", 2.5)).toDF("k", "s", "x"))
    val (df, jobs) = TestSpark.jobsOf(graft.sources.TxTable.read(spark, root))
    assert(jobs == 0, s"TxTable.read launched $jobs jobs before its action")
    assert(df.as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 2.5)))
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: the stored schema reads as the inferred one, " +
       "nullability included") {
    val root = freshTx("schema_eq")
    // non-null k and x, nullable s: both paths read every column nullable
    graft.sources.TxTable.init(spark, root,
      Seq((1L, Option("a"), 2.5), (2L, None, 3.5)).toDF("k", "s", "x"))
    val v = graft.sources.TxTable.currentVersion(root).get
    val inferred = spark.read.parquet(s"$root/$v").schema
    val stored = graft.sources.TxTable.read(spark, root).schema
    assert(stored == inferred)
    assert(stored.fields.forall(_.nullable))
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: a version without a stored schema reads by inference") {
    val root = freshTx("schema_none")
    graft.sources.TxTable.init(spark, root, Seq((1L, 7L)).toDF("k", "v"))
    val v = graft.sources.TxTable.currentVersion(root).get
    val schemaFile = java.nio.file.Paths.get(root, v, "_schema.json")
    assert(java.nio.file.Files.deleteIfExists(schemaFile))
    assert(graft.sources.TxTable.read(spark, root)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 7L)))
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: vacuum removes a version's stored schema with its dir") {
    val root = freshTx("schema_vac")
    val v1 = graft.sources.TxTable.init(spark, root, Seq((1L, 1L)).toDF("k", "v"))
    graft.sources.TxTable.commit(spark, root, identity)
    val old = java.nio.file.Paths.get(root, v1, "_schema.json")
    assert(java.nio.file.Files.exists(old))
    assert(graft.sources.TxTable.vacuum(root, graceMs = 0L) == 1)
    assert(!java.nio.file.Files.exists(old.getParent))
    assert(graft.sources.TxTable.read(spark, root).count() == 1)
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: two commits racing from the SAME base — the loser's " +
       "refusal must leave the winner's committed files untouched " +
       "(unique version directories, no lost update)") {
    val root = freshTx("race")
    graft.sources.TxTable.init(spark, root, Seq((1L, 0L)).toDF("k", "v"))
    val base = graft.sources.TxTable.currentVersion(root)
    // both attempts are computed from the same base version; stage both
    // BEFORE either swaps — the old sequential-naming scheme made these
    // target the same directory (the loser clobbering the winner's
    // parquet before its CAS refused)
    val vA = graft.sources.TxTable.writeVersion(spark, root,
      Seq((1L, 111L)).toDF("k", "v"), base)
    val vB = graft.sources.TxTable.writeVersion(spark, root,
      Seq((1L, 222L)).toDF("k", "v"), base)
    assert(vA != vB, "racing attempts must never share a directory")
    // A wins the pointer
    graft.sources.AtomicRenamePointer.compareAndSwap(root, vA, base)
    // B must refuse...
    intercept[java.util.ConcurrentModificationException] {
      graft.sources.AtomicRenamePointer.compareAndSwap(root, vB, base)
    }
    // ...and A's committed DATA must still read back intact
    val v = graft.sources.TxTable.read(spark, root)
      .as[(Long, Long)].collect().toSeq
    assert(v == Seq((1L, 111L)), s"winner's committed rows corrupted: $v")
    graft.sources.TxTable.drop(root)
  }

  test("AtomicRenamePointer: threads racing compareAndSwap on a MISSING " +
       "root (directory creation itself is part of the race) yield one " +
       "winner + CME refusals, never OverlappingFileLockException " +
       "(r13 verdict task 6)") {
    val root = freshTx("mkroot") // freshTx names it; nothing creates it
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root)))
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(n)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to n).map { i =>
      new Thread(() => {
        gate.countDown(); gate.await() // maximize the creation overlap
        try {
          graft.sources.AtomicRenamePointer
            .compareAndSwap(root, s"v_$i", None)
          outcomes.add("ok")
        } catch {
          case _: java.util.ConcurrentModificationException =>
            outcomes.add("cme")
          case e: Throwable => outcomes.add(e.getClass.getSimpleName)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    val got = outcomes.toArray(Array.empty[String]).toSeq
    assert(got.length == n && got.count(_ == "ok") == 1
        && got.count(_ == "cme") == n - 1,
      s"expected 1 winner + ${n - 1} CAS refusals, got $got")
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: the CAS-refusal matrix holds through a conditional-put " +
       "VersionPointer (the object-store seam), not just atomic rename") {
    // test double: an in-memory conditional-put pointer — what a
    // DynamoDB/GCS-generation-backed pointer service provides on stores
    // without atomic rename (TxTable class doc caveat)
    val store = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val condPut = new graft.sources.VersionPointer {
      def current(root: String): Option[String] = Option(store.get(root))
      def compareAndSwap(root: String, v: String,
                         expected: Option[String]): Unit = {
        val ok = expected match {
          case None       => store.putIfAbsent(root, v) == null
          case Some(base) => store.replace(root, base, v)
        }
        if (!ok) throw new java.util.ConcurrentModificationException(
          s"pointer for $root moved past ${expected.orNull}")
      }
    }
    val root = freshTx("condput")
    graft.sources.TxTable.init(spark, root,
      Seq((1L, 1L)).toDF("k", "v"), condPut)
    // happy path advances through the trait
    graft.sources.TxTable.commit(spark, root,
      df => df.withColumn("v", col("v") + 1L), condPut)
    assert(graft.sources.TxTable.read(spark, root, condPut)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    // stale-base commit refused through the trait
    intercept[java.util.ConcurrentModificationException] {
      graft.sources.TxTable.commit(spark, root, stale => {
        graft.sources.TxTable.commit(spark, root,
          df => df.withColumn("v", col("v") + 100L), condPut)
        stale
      }, condPut)
    }
    assert(graft.sources.TxTable.read(spark, root, condPut)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 102L)))
    // double-init refused through the trait
    intercept[IllegalArgumentException] {
      graft.sources.TxTable.init(spark, root,
        Seq((9L, 9L)).toDF("k", "v"), condPut)
    }
    // version NUMBERING follows the caller's pointer, not a stale
    // _CURRENT marker a previous rename-pointer table left in the same
    // directory: init on a dirty dir must start its lineage at 1
    val dirty = freshTx("condput_dirty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirty))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dirty, "_CURRENT"), "v_000005-deadbeef")
    val v1 = graft.sources.TxTable.init(spark, dirty,
      Seq((1L, 1L)).toDF("k", "v"), condPut)
    assert(v1.startsWith("v_000001-"),
      s"init numbered from a stale marker of a replaced pointer: $v1")
    graft.sources.TxTable.drop(dirty)
    graft.sources.TxTable.drop(root)
  }

  test("TxTable: same table via different path spellings shares one " +
       "commit monitor — serialized CAS, never OverlappingFileLockException") {
    val root = freshTx("spellings")
    graft.sources.TxTable.init(spark, root, Seq((1L, 0L)).toDF("k", "v"))
    val spellings = Seq(root, root + "/", root + "/./")
    // overlap the commits deliberately: each thread's transform blocks
    // on a shared latch so all three enter commit() concurrently; the
    // per-root monitor (keyed by NORMALIZED path) must serialize them
    // into one winner + CME refusals — an OverlappingFileLockException
    // would mean two spellings got two monitors for one lock file
    val gate = new java.util.concurrent.CountDownLatch(spellings.length)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = spellings.map { sp =>
      new Thread(() =>
        try {
          graft.sources.TxTable.commit(spark, sp, { df =>
            gate.countDown(); gate.await()
            df.withColumn("v", col("v") + 1L)
          })
          outcomes.add("ok")
        } catch {
          case _: java.util.ConcurrentModificationException =>
            outcomes.add("cme")
          case e: Throwable => outcomes.add(e.getClass.getSimpleName)
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val got = outcomes.toArray(Array.empty[String]).toSeq.sorted
    assert(got.count(_ == "ok") == 1 && got.count(_ == "cme") == 2,
      s"expected 1 winner + 2 CAS refusals, got $got")
    assert(graft.sources.TxTable.read(spark, root)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
    graft.sources.TxTable.drop(root)
  }

  /** fake etag-conditioned object store with injectable at-least-once
    * pathologies: `loseNextResponse` applies the put on the "server"
    * and then throws LostResponse (the ambiguous outcome a rename can
    * never produce); `failNextPrecondition` simulates a replayed
    * request hitting its own earlier apply.
    */
  private final class FlakyCondPutStore
      extends graft.sources.ConditionalPutService {
    private val state = new java.util.concurrent.ConcurrentHashMap[
      String, (String, Long)]()
    @volatile var loseNextResponse = false
    @volatile var applied = 0
    def get(key: String): Option[(String, String)] =
      Option(state.get(key)).map { case (v, g) => (v, g.toString) }
    def put(key: String, value: String, ifMatch: Option[String]): Unit =
      synchronized {
        val cur = Option(state.get(key))
        (ifMatch, cur) match {
          case (None, None) => state.put(key, (value, 1L))
          case (Some(e), Some((_, g))) if e == g.toString =>
            state.put(key, (value, g + 1))
          case _ => throw new graft.sources.ConditionalPutService
            .PreconditionFailed(s"etag mismatch for $key")
        }
        applied += 1
        if (loseNextResponse) {
          loseNextResponse = false
          throw new graft.sources.ConditionalPutService.LostResponse(
            s"applied put for $key but the response was lost")
        }
      }
  }

  test("TxTable: the full matrix holds through ConditionalPutPointer — " +
       "including a LOST-RESPONSE put (applied server-side, exception " +
       "client-side), which the adapter must recover as success") {
    val svc = new FlakyCondPutStore
    val ptr = new graft.sources.ConditionalPutPointer(svc)
    val root = freshTx("condsvc")
    graft.sources.TxTable.init(spark, root,
      Seq((1L, 1L)).toDF("k", "v"), ptr)
    // lost response on the NEXT commit's CAS: the put applies on the
    // server, the client sees LostResponse, the adapter re-reads and
    // recognizes its own (unique) version name → commit SUCCEEDS with
    // exactly one applied put for this swap
    val before = svc.applied
    svc.loseNextResponse = true
    graft.sources.TxTable.commit(spark, root,
      df => df.withColumn("v", col("v") + 1L), ptr)
    assert(svc.applied == before + 1,
      "lost-response recovery must not re-apply the put (duplicate put)")
    assert(graft.sources.TxTable.read(spark, root, ptr)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    // crash window: a staged version without a swap stays invisible
    val base = graft.sources.TxTable.currentVersion(root, ptr)
    graft.sources.TxTable.writeVersion(spark, root,
      Seq((1L, 999L)).toDF("k", "v"), base, ptr)
    assert(graft.sources.TxTable.read(spark, root, ptr)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    // stale-base commit refused; winner's data intact — and a loser
    // whose refusal races a lost response still refuses (the re-read
    // sees the winner's value, not its own)
    intercept[java.util.ConcurrentModificationException] {
      graft.sources.TxTable.commit(spark, root, stale => {
        svc.loseNextResponse = true // the winner's swap loses its response
        graft.sources.TxTable.commit(spark, root,
          df => df.withColumn("v", col("v") + 100L), ptr)
        stale.withColumn("v", col("v") - 1L)
      }, ptr)
    }
    assert(graft.sources.TxTable.read(spark, root, ptr)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 102L)))
    // vacuum grace through the custom pointer: fresh dirs survive, old
    // superseded/orphans go, the committed version never does
    assert(graft.sources.TxTable.vacuum(root, pointer = ptr) == 0)
    assert(graft.sources.TxTable.vacuum(root, graceMs = 0L, pointer = ptr) >= 2)
    assert(graft.sources.TxTable.read(spark, root, ptr)
      .as[(Long, Long)].collect().toSeq == Seq((1L, 102L)))
    graft.sources.TxTable.drop(root)
  }
}
