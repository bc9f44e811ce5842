package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: row count plus three
  * folds of per-row hashes (doubles rounded to 9 decimals, so a last-bit
  * difference in a float aggregate does not read as a wrong answer).
  */
object Digest {
  def of(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 9)
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val r = renamed.select(xxhash64(cols: _*).as("h"), hash(cols: _*).as("m"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))),
        bit_xor(col("h")), sum(col("m").cast(LongType)))
      .head()
    val n = r.getLong(0)
    if (n == 0) "n=0"
    else s"n=$n;s=${r.getDecimal(1).toPlainString};x=${r.getLong(2)};m=${r.getLong(3)}"
  }

  /** Golden digests: one `<data dir name>\t<query>\t<digest>` line each. */
  def load(file: Path): Map[(String, String), String] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(sf, q, d) = l.split('\t')
        (sf, q) -> d
      }.toMap

  def render(rows: Seq[(String, String, String)]): String =
    rows.map { case (sf, q, d) => s"$sf\t$q\t$d" }.mkString("", "\n", "\n")
}
