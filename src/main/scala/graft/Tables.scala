package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Columnar Parquet + vectorized reader replaces the reference's
  * row-oriented KV layout (TikvStdSessions.java:471-486): predicate
  * pushdown + row-group min/max stats play the role of the reference's
  * ten index tables (TikvStore.java:361-380).
  *
  * Every table's schema is declared in [[schemas]], so a read costs no
  * schema-inference job: a parquet read without a schema runs one
  * Spark job per table to read a footer, and a `PropertyGraph.fromTpch`
  * traversal touches up to seven tables. The files are still listed
  * and read fresh on every call. A declared schema is not checked
  * against the footer (a misspelled column reads as NULLs), so
  * `TablesSpec` asserts that each declared schema equals the inferred
  * one on every sf dir.
  */
object Tables {
  val relational: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val pipeline: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = relational ++ pipeline

  private def table(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** The schema Spark infers for each table, nullability included.
    * The dates are TIMESTAMP_NTZ: the files write them with
    * `isAdjustedToUTC=false`. Nation and region keys, `p_size`,
    * `l_linenumber` and `label` are INT; the other keys are BIGINT.
    */
  val schemas: Map[String, StructType] = Map(
    "region" -> table("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> table("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> table("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> table("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> table("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> table("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> table("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> table("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> table("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> table("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType),
  )

  /** Plain columnar scan — the analog of the reference's full-table
    * prefix scan (TikvTable.java:191-200), but with column pruning and
    * filter pushdown for free.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The events table with `ts` as a session-zone TIMESTAMP: the file's
    * TIMESTAMP_NTZ is rejected by `unix_micros` and `window`, and with
    * the session time zone pinned to UTC the cast is a pure type relabel.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.withColumn("ts", df("ts").cast("timestamp"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
