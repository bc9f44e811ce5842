package graft.util

import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The iterative-loop combinator: one place for the loop policy every
  * DataFrame fixpoint in graft shares (Pregelix's single fixpoint
  * operator).
  *
  * An operator opens a [[cached]] scope for its loop-invariant frames
  * and runs its rounds with [[run]]; the round maths stay at the call
  * site as a `step`, or in a kernel that a family of operators shares:
  * the PageRank/Katz rank loop (`Algorithms.RankGraph`) and the
  * monotone min/max relaxation of connected components, DAG layering,
  * weighted SSSP, SCC coloring and `Dedup.dupClusters`
  * (`Algorithms.relax`, a delta round that stops [[whenEmpty]]). This
  * module owns everything else:
  *
  *  - '''Caches.''' Frames persist MEMORY_AND_DISK for the scope's
  *    lifetime. [[Caches.counted]] checkpoints the loop's SOURCE and
  *    counts it, so every frame derived from it reads the source once,
  *    and the row count sizes the per-round partitioning ([[parts]])
  *    from data already read.
  *  - '''Release.''' On the way out the scope checkpoints every output
  *    frame whose plan still reads one of its caches or its source,
  *    then releases them — also when a step throws. A returned frame
  *    never recomputes the source behind a released cache.
  *  - '''Rolling checkpoint.''' The seed and the state at the caller's
  *    cadence are eagerly `localCheckpoint`ed; once round k's
  *    checkpoint has materialized, round k−1's blocks can never be read
  *    again (the new checkpoint is the lineage root), so they are
  *    released at once instead of waiting for a GC to find them
  *    (SCALE.md "Known open scale items", round 10). The last
  *    checkpoint is the result and belongs to the caller.
  *  - '''Cadence.''' `every = k` rolls at rounds k, 2k, … and ALWAYS on
  *    the final round. A skipped roll recomputes nothing when each
  *    round's state feeds exactly one consumer (the next round's join)
  *    and saves one materialization stop per skipped round, but a long
  *    chain of lazy rounds tips into planning overhead: on the
  *    pageRankExact shape at sf0.1 (10 rounds, same-JVM alternating,
  *    min of 4) cadence 2 took 5.21 s, cadence 5 4.72 s and a fully
  *    lazy 10-round plan 6.11 s (OPTIMIZATION_r16.md, wave 2). Loops
  *    that read their state twice per round, or test it for
  *    convergence, roll every round (`every = 1`).
  *  - '''Stop rule.''' The loop runs up to `rounds` rounds. A `stop`
  *    test sees the rolled seed as round 0 and the state after every
  *    later round; when it holds the loop has converged. A step that
  *    returns its input unchanged has reached a fixpoint and stops the
  *    loop as converged too. [[Result]] reports the rounds run and
  *    whether the loop converged, so a round cap is never silent.
  *  - '''`resetStats`.''' `localCheckpoint` copies the pre-checkpoint
  *    plan's `sizeInBytes` estimate (an exact BigInt) onto the
  *    checkpoint, so a loop whose round SELF-JOINS its state squares
  *    that estimate on every roll: the digit count doubles per round,
  *    and after ~30 rolls Catalyst spends hours in BigInteger
  *    multiplies estimating the next checkpoint's stats (observed:
  *    Borůvka MSF hook chains). `resetStats = true` rebuilds each
  *    checkpoint through `createDataFrame(rdd, schema)`, which starts
  *    from default stats, at the cost of a narrow Row↔InternalRow map
  *    on each downstream read. Leave it off for multiply-by-constant
  *    loops, whose estimate grows linearly.
  *
  * Only strictly rolling state belongs in [[run]]: each round's frames
  * are read by the next round alone. A visited-set BFS keeps every
  * layer (the visited set is their union, and the caller reads them
  * after the loop: reached sets, hop distances, Brandes' backward
  * sweep), so it runs on [[frontier]]. Other frames a loop keeps for a
  * later pass (per-round selections unioned at the end) are
  * checkpointed by the step itself and released by the operator with
  * [[release]].
  */
object Loop {

  /** A loop's final state, the rounds it ran, and whether it stopped
    * because it converged (false: the round cap fired first).
    */
  final case class Result[S](state: S, rounds: Int, converged: Boolean)

  /** The frames a loop state (or a scope's output) is made of, so a
    * loop can checkpoint and release them one slot at a time.
    */
  trait Frames[T] {
    def frames(t: T): Seq[DataFrame]
    def rebuild(t: T, fs: Seq[DataFrame]): T
  }

  object Frames {
    implicit val frame: Frames[DataFrame] = new Frames[DataFrame] {
      def frames(t: DataFrame): Seq[DataFrame] = Seq(t)
      def rebuild(t: DataFrame, fs: Seq[DataFrame]): DataFrame = fs.head
    }
    implicit val pair: Frames[(DataFrame, DataFrame)] =
      new Frames[(DataFrame, DataFrame)] {
        def frames(t: (DataFrame, DataFrame)): Seq[DataFrame] = Seq(t._1, t._2)
        def rebuild(t: (DataFrame, DataFrame),
                    fs: Seq[DataFrame]): (DataFrame, DataFrame) = (fs(0), fs(1))
      }
    implicit def result[S](implicit f: Frames[S]): Frames[Result[S]] =
      new Frames[Result[S]] {
        def frames(t: Result[S]): Seq[DataFrame] = f.frames(t.state)
        def rebuild(t: Result[S], fs: Seq[DataFrame]): Result[S] =
          t.copy(state = f.rebuild(t.state, fs))
      }
  }

  /** The loop-invariant caches of one [[cached]] scope. */
  final class Caches private[Loop] () {
    private[Loop] val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private[Loop] val sources = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Persist `df` until the scope ends. */
    def apply(df: DataFrame): DataFrame = {
      val p = df.persist(MEMORY_AND_DISK)
      held += p
      p
    }

    /** Checkpoint the loop's source and count it: returns the
      * checkpointed source and its row count. A row checkpoint, not a
      * columnar cache: the source is read once, into the loop caches,
      * so encoding it column-wise costs more than it saves (a_katz at
      * sf0.1, 4 cores, 4 alternating pairs: 5.33 s with a cache,
      * 4.54 s with a checkpoint). A frame every round joins directly
      * belongs in [[apply]].
      */
    def counted(df: DataFrame): (DataFrame, Long) = {
      val chk = df.localCheckpoint()
      sources += chk
      (chk, chk.count())
    }
  }

  /** Run `body` with a fresh cache scope. Output frames that still read
    * a cache or the source are checkpointed before both are released;
    * they are released even when `body` throws.
    */
  def cached[T](body: Caches => T)(implicit f: Frames[T]): T = {
    val c = new Caches()
    try {
      val out = body(c)
      val cm = c.held.headOption.map(_.sparkSession.sharedState.cacheManager)
      val caches = c.held.flatMap(df => cm.flatMap(_.lookupCachedData(df)))
        .map(_.cachedRepresentation.cacheBuilder).toSet
      val sources = c.sources.flatMap(_.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.id }).toSet
      def readsScope(df: DataFrame): Boolean =
        (caches.nonEmpty || sources.nonEmpty) &&
          df.queryExecution.optimizedPlan.exists {
            case r: InMemoryRelation => caches(r.cacheBuilder)
            case lr: LogicalRDD => sources(lr.rdd.id)
            case _ => false
          }
      f.rebuild(out, f.frames(out).map(df =>
        if (readsScope(df)) df.localCheckpoint() else df))
    } finally {
      c.held.foreach(_.unpersist(blocking = false))
      c.sources.foreach(release)
    }
  }

  /** Partition count for a persisted loop cache of `rows` rows: about
    * 32k rows per partition, never more than the session's
    * `spark.sql.shuffle.partitions`. Partitioning a few-thousand-row
    * cache into the session's full fan-out makes every round-stage pay
    * for tasks that hold no work, while real per-round compute wants
    * all of it: at sf0.1 (same-JVM alternating) the 16k-row geo-gate
    * PageRank cache at one partition beat the 32-partition layout on
    * every pair (6.04 → 5.79 s), and the 1.36M-row full-graph cache
    * lost below the session fan-out (13.55 → 16.06 s at 1 partition,
    * 12.33 → 14.51 s at 6) — OPTIMIZATION_r16.md, wave 3. At cluster
    * scale the cap follows the cluster's configuration.
    */
  def parts(s: SparkSession, rows: Long): Int = {
    val cap = math.max(1,
      s.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt)
        .getOrElse(s.sparkContext.defaultParallelism))
    math.max(1L, math.min(cap.toLong, (rows + 32767L) / 32768L)).toInt
  }

  /** Run up to `rounds` rounds of `step` from `seed` (see the object
    * scaladoc for the cadence and stop rules). `step` gets the current
    * state and the round number, 1-based.
    */
  def run[S](seed: S, rounds: Int, every: Int = 1, resetStats: Boolean = false,
             stop: (S, Int) => Boolean = (_: S, _: Int) => false)
            (step: (S, Int) => S)(implicit f: Frames[S]): Result[S] = {
    val slots = f.frames(seed).map(_ => new Slot(resetStats))
    try {
      var state = f.rebuild(seed, f.frames(seed).zip(slots).map {
        case (df, slot) => slot.roll(df) })
      var k = 0
      var done = stop(state, 0)
      while (!done && k < rounds) {
        k += 1
        val next = step(state, k)
        val old = f.frames(state)
        if (f.frames(next).corresponds(old)(_ eq _)) done = true
        else {
          val roll = k % every == 0 || k == rounds
          state = f.rebuild(next, f.frames(next).lazyZip(old).lazyZip(slots)
            .map((n, o, slot) => if (roll && !(n eq o)) slot.roll(n) else n))
          done = stop(state, k)
        }
      }
      Result(state, k, done)
    } catch {
      case t: Throwable => slots.foreach(_.release()); throw t
    }
  }

  /** Visited-set BFS. Layer 0 is `seed`; layer k is `expand(frontier,
    * k)` without the rows already seen on the `keys` columns (one
    * anti-join against the visited set). Every layer is checkpointed
    * eagerly, and the visited set is the lazy union of the checkpointed
    * layers, never rolled: re-checkpointing it would rewrite every row
    * seen so far on every round. Round 1 expands the seed; every later
    * round expands `live(layer)` of the layer before it (the whole
    * layer by default; a caller drops the traversers that halt there).
    * The loop stops when that frontier is empty (converged) or after
    * `rounds` rounds. The result holds all layers, including a last one
    * that may be empty; they belong to the caller. When a round fails,
    * the layers are released.
    */
  def frontier(seed: DataFrame, keys: Seq[String], rounds: Int,
               live: DataFrame => DataFrame = identity)
              (expand: (DataFrame, Int) => DataFrame): Result[Seq[DataFrame]] = {
    val layers = scala.collection.mutable.ArrayBuffer(seed.localCheckpoint())
    def seen(df: DataFrame): DataFrame = df.select(keys.map(col): _*)
    try {
      var visited = seen(layers.head)
      var next = layers.head
      var done = next.isEmpty
      var k = 0
      while (!done && k < rounds) {
        k += 1
        val layer = expand(next, k).join(visited, keys, "left_anti")
          .localCheckpoint()
        layers += layer
        visited = visited.union(seen(layer))
        next = live(layer)
        done = next.isEmpty
      }
      Result(layers.toSeq, k, done)
    } catch {
      case t: Throwable => layers.foreach(release); throw t
    }
  }

  /** Stop when `rows(state)` is empty (an empty delta or frontier). */
  def whenEmpty(rows: DataFrame => DataFrame = identity): (DataFrame, Int) => Boolean =
    (st, _) => rows(st).isEmpty

  /** Stop when `measure` reads the same value off two consecutive
    * states, e.g. an unchanged row count. Stateful: build one per
    * [[run]].
    */
  def whenUnchanged[A](measure: DataFrame => A): (DataFrame, Int) => Boolean = {
    var last: Option[A] = None
    (st, _) => {
      val v = measure(st)
      val same = last.contains(v)
      last = Some(v)
      same
    }
  }

  /** Free the cached blocks behind a localCheckpoint'ed frame (also one
    * a `resetStats` roll rebuilt on top of its checkpoint). No-op on
    * frames that are not checkpoint-backed.
    */
  def release(df: DataFrame): Unit = {
    def held(rdd: RDD[_]): Option[RDD[_]] =
      if (rdd.getStorageLevel != StorageLevel.NONE) Some(rdd)
      else rdd.dependencies match {
        case Seq(d: OneToOneDependency[_]) => held(d.rdd)
        case _ => None
      }
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => held(lr.rdd).foreach(_.unpersist(blocking = false))
      case _ => ()
    }
  }

  /** One rolling checkpoint slot: `roll` checkpoints eagerly, then
    * releases the slot's previous checkpoint.
    */
  private final class Slot(resetStats: Boolean) {
    private var last: Option[DataFrame] = None
    def roll(df: DataFrame): DataFrame = {
      val chk = df.localCheckpoint() // eager: materialized before release
      release()
      last = Some(chk)
      if (resetStats) chk.sparkSession.createDataFrame(chk.rdd, chk.schema)
      else chk
    }
    def release(): Unit = { last.foreach(Loop.release); last = None }
  }
}
