package graftbench

import java.nio.file.{Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.graph.{GremlinParser, PropertyGraph}
import graft.operators.{Dedup, TextAnalysis}
import graft.sources.TxTable

/** One request of a workload's pool. */
final case class Req(name: String, write: Boolean = false)

/** What every workload shares: the session, the tracer, the data dirs
  * and the golden digests.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val dataDir: String, val warmDir: String, val work: Path,
                golden: Map[(String, String), String]) {

  /** The final planning and the action of a read request. The action
    * collects the result, as a client that consumes it would, so its
    * check needs no second execution.
    */
  def planAndRun(df: DataFrame): Array[Row] = {
    tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
    tracer.span("spark.action")(df.collect())
  }

  /** Compares the digest of `rows`, collected from `df`, with the golden
    * one for (data dir, query).
    */
  def checkGolden(name: String, dir: String, df: DataFrame,
                  rows: Array[Row]): Option[String] = {
    val sf = Paths.get(dir).getFileName.toString
    golden.get((sf, name)) match {
      case None => Some(s"$name: no golden digest for $sf")
      case Some(g) =>
        val d = Digest.of(spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
        if (d == g) None else Some(s"$name: digest $d, golden $g")
    }
  }
}

/** A closed-loop workload: a pool of requests, drawn round by round in a
  * seeded order. `execute` runs the timed part of a request and returns
  * its check, which the runner calls outside the timed interval.
  */
trait Workload {
  def pool: IndexedSeq[Req]
  def round(rng: Random): Seq[Req] = rng.shuffle(pool)
  /** Nominal length of one round; a run makes seconds / roundS rounds. */
  def roundS: Double
  /** One untimed pass of the pool on the warm-up data. */
  def warmUp(): Unit
  /** Workload state, built once per call; the runner repeats it. */
  def setupState(): Unit = ()
  /** Untimed, once set-up is over. */
  def ready(): Unit = ()
  /** Untimed preparation right before a request. */
  def prepare(req: Req): Unit = ()
  def execute(req: Req): () => Option[String]
  /** (bytes written under the table root, user bytes) of the last write */
  def lastWrite: Option[WriteStat] = None
}

final case class WriteStat(writtenB: Long, userB: Long, files: Int,
                           rootB: Long)

/** The untimed warm-up pass, on one thread per task slot, so the JIT and
  * code generation warm up in parallel. A failure is reported, not fatal:
  * warm-up results are not checked.
  */
object Par {
  def foreach[T](xs: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Session.Slots)
    try {
      val fs = xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) }))
      fs.foreach { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          System.err.println(s"[perfbench] untimed request failed: ${e.getCause}")
        }
      }
    } finally pool.shutdown()
  }
}

/** Short Gremlin traversals and store reads over the TPC-H graph. */
final class Traverse(ctx: Ctx, names: Seq[String]) extends Workload {
  import Traverse._
  val pool: IndexedSeq[Req] = names.map(Req(_)).toIndexedSeq

  /** The result of `name` on `dir`, up to its final planning. */
  def result(name: String, dir: String): DataFrame = {
    val t = ctx.tracer
    gremlin.get(name) match {
      case Some(q) =>
        val g = t.span("sources.setup")(PropertyGraph.fromTpch(ctx.spark, dir))
        t.span("graph.parse")(GremlinParser.parse(q))
        t.span("graph.build")(GremlinParser.run(g, q))
      case None =>
        t.span("sources.setup")(SparkEntry.queries(name)(ctx.spark, dir))
    }
  }

  val roundS = 10.0

  /** On the benchmark data itself: its plans differ from the smaller
    * data's and compile other classes, and after a pass on the warm-up
    * data the first timed round was still 15-25 % slower than the next.
    */
  def warmUp(): Unit = Par.foreach(pool) { r =>
    ctx.planAndRun(result(r.name, ctx.dataDir))
  }

  def execute(req: Req): () => Option[String] = {
    val df = result(req.name, ctx.dataDir)
    val rows = ctx.planAndRun(df)
    () => ctx.checkGolden(req.name, ctx.dataDir, df, rows)
  }
}

object Traverse {
  /** Gremlin strings copied verbatim from the registered g* queries that
    * are `GremlinParser.run(PropertyGraph.fromTpch(..), "<string>")`.
    */
  val gremlin: Map[String, String] = Map(
    "g26_parsed" -> ("g.V().hasLabel('customer')" +
      ".has('mktsegment', within('BUILDING', 'AUTOMOBILE'))" +
      ".out('placed').has('totalprice', gt(150000.0))" +
      ".out('contains').dedup().count()"),
    "g27_parsed_group" ->
      "g.V().hasLabel('supplier').out('located_in').groupCount().by('name')",
    "g29_select_back" -> ("g.V().hasLabel('customer').as('c').out('placed')" +
      ".has('totalprice', gt(200000.0)).select('c').dedup().count()"),
    "g32_parsed_sum" -> "g.V().hasLabel('part').values('size').sum()",
    "g33_has_not" -> "g.V().hasNot('mktsegment').count()",
  )

  val defaultPool: Seq[String] = Seq("g26_parsed", "g27_parsed_group",
    "g29_select_back", "g32_parsed_sum", "g33_has_not",
    "r2_point_get", "r3_prefix_scan", "r12_residual_filter")
}

/** Iterative graph operators, each a few long jobs. */
final class Analytics(ctx: Ctx, names: Seq[String]) extends Workload {
  val pool: IndexedSeq[Req] = names.map(Req(_)).toIndexedSeq

  def result(name: String, dir: String): DataFrame =
    ctx.tracer.span("graph.build")(SparkEntry.queries(name)(ctx.spark, dir))

  val roundS = 8.0

  def warmUp(): Unit = Par.foreach(pool)(r => ctx.planAndRun(result(r.name, ctx.warmDir)))

  def execute(req: Req): () => Option[String] = {
    val df = result(req.name, ctx.dataDir)
    val rows = ctx.planAndRun(df)
    () => ctx.checkGolden(req.name, ctx.dataDir, df, rows)
  }
}

object Analytics {
  val defaultPool: Seq[String] = Seq("a_katz", "a_sssp_hops", "a_wsssp")
}

/** Writes beside reads on one copy-on-write `TxTable` corpus. */
final class Curate(ctx: Ctx, seed: Long, reads: Seq[String])
    extends Workload {
  import Curate._
  private val spark = ctx.spark
  val roundS = 17.0
  val pool: IndexedSeq[Req] =
    (reads.map(Req(_)) ++ Seq.fill(Writes)(Req("upsert", write = true))).toIndexedSeq

  private val base = ctx.work.resolve("curate")
  private var root: Path = base.resolve("table")
  private var setups = 0
  private var model: CorpusModel = _
  private var gen: BatchGen = _
  private var pending: Option[(Batch, DataFrame, Option[String], Long)] = None
  private var last: Option[WriteStat] = None
  private var schema: org.apache.spark.sql.types.StructType = _

  private def docs(dir: String): DataFrame = graft.Tables.documents(spark, dir)

  private def batchFrame(b: Batch, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(b.docs.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.nChars)): _*), schema)

  private def collectDocs(df: DataFrame): Seq[Doc] =
    df.select("doc_id", "text", "lang", "source", "n_chars").collect().toSeq
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))

  private def op(name: String, df: DataFrame): DataFrame = name match {
    case "exact" => Dedup.exact(df)
    case "minhash" => Dedup.minhashNearDup(df)
    case "simhash" => Dedup.simhashNearDup(df)
    case "gopher" => TextAnalysis.gopherFlags(df)
  }

  def warmUp(): Unit = {
    val r = base.resolve("warm")
    Proc.deleteTree(r)
    val src = docs(ctx.warmDir)
    TxTable.init(spark, r.toString, src)
    val m = new CorpusModel(collectDocs(src))
    val b = new BatchGen(seed, vocabulary(m)).next(m)
    Par.foreach(None +: reads.distinct.map(Some(_))) {
      case None => TxTable.upsert(spark, r.toString, batchFrame(b, src.schema), Seq("doc_id"))
      case Some(n) => ctx.planAndRun(op(n, TxTable.read(spark, r.toString)))
    }
    Proc.deleteTree(r)
  }

  /** Builds the table from `documents.parquet`; the last build is kept. */
  override def setupState(): Unit = {
    setups += 1
    val r = base.resolve(s"table$setups")
    Proc.deleteTree(r)
    TxTable.init(spark, r.toString, docs(ctx.dataDir))
    if (setups > 1) Proc.deleteTree(root)
    root = r
  }

  /** The model starts from the corpus the table was built from. */
  override def ready(): Unit = {
    val src = docs(ctx.dataDir)
    schema = src.schema
    model = new CorpusModel(collectDocs(src))
    gen = new BatchGen(seed, vocabulary(model))
  }

  override def prepare(req: Req): Unit =
    if (req.write) {
      val b = gen.next(model)
      val df = batchFrame(b, schema)
      pending = Some((b, df, TxTable.currentVersion(root.toString),
        Proc.du(root)._1))
    }

  def execute(req: Req): () => Option[String] =
    if (req.write) executeWrite() else executeRead(req.name)

  private def executeWrite(): () => Option[String] = {
    val (b, df, before, rootB) = pending.get
    pending = None
    val v = ctx.tracer.span("sources.write")(
      TxTable.upsert(spark, root.toString, df, Seq("doc_id")))
    () => {
      model.upsert(b)
      val files = Proc.du(root.resolve(v))._2
      val total = Proc.du(root)._1
      last = Some(WriteStat(total - rootB, b.userBytes, files, total))
      checkWrite(before, v).orElse(checkTable())
    }
  }

  override def lastWrite: Option[WriteStat] = { val l = last; last = None; l }

  private def checkWrite(before: Option[String], v: String): Option[String] = {
    val seq = before.map(versionSeq).getOrElse(0L)
    val cur = TxTable.currentVersion(root.toString)
    if (!cur.contains(v)) Some(s"upsert: committed version $cur, wrote $v")
    else if (versionSeq(v) != seq + 1)
      Some(s"upsert: version advanced from $seq to ${versionSeq(v)}")
    else None
  }

  private def checkTable(): Option[String] = {
    val got = TxTable.read(spark, root.toString)
      .select(col("doc_id"), md5(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = model.textDigests
    if (got.size != want.size) Some(s"upsert: ${got.size} rows, model ${want.size}")
    else if (got.keys.sum != want.keys.sum)
      Some(s"upsert: sum(doc_id) ${got.keys.sum}, model ${want.keys.sum}")
    else if (got != want) Some("upsert: (doc_id, text) digest differs from model")
    else None
  }

  private def executeRead(name: String): () => Option[String] = {
    val t = ctx.tracer
    val df = t.span("sources.setup")(TxTable.read(spark, root.toString))
    val rows = ctx.planAndRun(t.span("operators.build")(op(name, df)))
    () => checkRead(name, rows)
  }

  private def checkRead(name: String, rows: Array[Row]): Option[String] = {
    val planted = model.livePlantedPairs
    def longs(a: String, b: String): Seq[(Long, Long)] =
      rows.toSeq.map(r => (r.getAs[Long](a), r.getAs[Long](b)))
    def missing(ps: Set[(Long, Long)]): Option[String] =
      planted.find(p => !ps.contains(p)).map(p => s"$name: planted exact copy $p missing")
    name match {
      case "exact" =>
        val got = rows.map(r => r.getAs[String]("fingerprint") ->
          (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toMap
        if (got == model.exactGroups) None
        else Some(s"exact: ${got.size} groups, model ${model.exactGroups.size}")
      case "minhash" =>
        val ps = longs("a_id", "b_id").toSet
        missing(ps).orElse(ps.find { case (a, b) =>
          CorpusModel.jaccard(model.get(a).get.text, model.get(b).get.text,
            MinhashK) < MinhashThreshold - 1e-6
        }.map(p => s"minhash: pair $p below the Jaccard threshold"))
      case "simhash" => missing(longs("a_id", "b_id").toSet)
      case "gopher" =>
        val got = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("r_word_count")).toMap
        val want = model.ids.map { id =>
          val n = CorpusModel.tokens(model.get(id).get.text).length
          id -> (n >= 50 && n <= 100000)
        }.toMap
        if (got == want) None else Some("gopher: word-count flags differ from model")
    }
  }
}

object Curate {
  /** The light operators run more often than the heavy ones, so the
    * median read is the middle of the six `gopher` samples of a two-round
    * run rather than a point between the light and the heavy operators,
    * which one sample of each decides.
    */
  val defaultReads: Seq[String] =
    Seq("exact", "exact", "gopher", "gopher", "gopher", "minhash", "simhash")
  /** upserts per round: with the seven reads, three requests in ten */
  val Writes = 3
  val MinhashK = 3
  val MinhashThreshold = 0.5

  def versionSeq(v: String): Long = v.stripPrefix("v_").takeWhile(_.isDigit).toLong

  /** Tokens of the initial corpus, so generated texts look like it. */
  def vocabulary(m: CorpusModel): IndexedSeq[String] =
    m.ids.take(500).flatMap(id => CorpusModel.tokens(m.get(id).get.text))
      .filter(_.nonEmpty).distinct.sorted.toIndexedSeq
}
