package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt,
      s"${sys.props("java.io.tmpdir")}/graft_verify_ckpt")
    new java.io.File(outDir).mkdirs()
    // Dev aid: SPARK_GRAFT_ONLY=a,b,c restricts the dump (and the oracle
    // json) to the named queries for fast single-query iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter(kv => selected(kv._1))))
    spark.stop()
  }

  /** oracle_sql.json: query name → oracle SQL. Jackson escapes quotes,
    * backslashes and every control char, so a tab or CR in an oracle
    * cannot break the oracle compare's json.load. */
  private[graft] def oracleJson(sql: Map[String, String]): String =
    new ObjectMapper().writeValueAsString(sql.asJava)
}
