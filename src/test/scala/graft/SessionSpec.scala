package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tier-1 runs under the session policy Bench and Verify use. */
class SessionSpec extends AnyFunSuite {

  test("the test session carries the production settings") {
    val spark = TestSpark.spark
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.serializer") ==
      "org.apache.spark.serializer.KryoSerializer")
    // no graph-engine registrations or keys: every algorithm is a
    // DataFrame loop
    assert(!conf.getOption("spark.kryo.classesToRegister")
      .exists(_.contains("graphx")))
    assert(!conf.getAll.exists(_._1.startsWith("spark.graphx")))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // every table read declares its schema (Tables.schemas), so no read
    // needs nanosecond parquet timestamps mapped to longs
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getCheckpointDir.nonEmpty)
  }
}
