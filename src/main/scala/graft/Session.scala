package graft

import org.apache.spark.sql.SparkSession

/** The one home of the session policy: `Bench`, `Verify`,
  * `tools.Probe` and the test session all start Spark here, so a
  * timing, an oracle dump and a unit test run under the same
  * configuration.
  */
object Session {

  /** A `local[cpus]` session with `cpus` shuffle partitions and its
    * checkpoint directory at `ckptDir`.
    *
    *   - Kryo as the serializer. DataFrame paths move Tungsten binary
    *     rows, so it reaches only the few RDD-level moves (broadcast
    *     driver objects, collected task results); every bench and test
    *     result on record ran under it.
    *   - UTC session time.
    *   - The ContextCleaner frees dead cache/localCheckpoint blocks only
    *     when a GC surfaces their weak refs; the default 30-min periodic
    *     GC lets ~150 queries of debt pile onto whichever heavy query
    *     meets the backlog (the observed 10-15× one-off bench spikes).
    *     One minute keeps the cleaner roughly current.
    *   - The checkpoint directory serves reliable `checkpoint()` calls;
    *     the iterative loops use `localCheckpoint` and need none.
    */
  def local(cpus: Int, ckptDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark
  }
}
