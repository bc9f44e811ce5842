package graft

import org.apache.spark.SparkConf
import org.apache.spark.graphx.GraphXUtils
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
    *   - Kryo with the GraphX class registrations: GraphX moves RDDs of
    *     Edge/vertex objects through the closure serializer in every
    *     Pregel superstep and graph cache, and Kryo is the configuration
    *     the GraphX docs mandate. DataFrame paths (Tungsten binary rows)
    *     are unaffected, so results cannot change — only the RDD-bridge
    *     operators get faster.
    *   - UTC session time.
    *   - The ContextCleaner frees dead cache/localCheckpoint blocks only
    *     when a GC surfaces their weak refs; the default 30-min periodic
    *     GC lets ~150 queries of debt pile onto whichever heavy query
    *     meets the backlog (the observed 10-15× one-off bench spikes).
    *     One minute keeps the cleaner roughly current.
    *   - GraphX Pregel lineage truncation every 10 supersteps: a no-op
    *     for the shallow gate graphs, safety for deep-diameter CC (it
    *     needs the checkpoint directory).
    */
  def local(cpus: Int, ckptDir: String): SparkSession = {
    val conf = new SparkConf()
      .set("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    GraphXUtils.registerKryoClasses(conf)
    val spark = SparkSession.builder()
      .config(conf)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .config("spark.graphx.pregel.checkpointInterval", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark
  }
}
