package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.PropertyGraph
import graft.schema.{GraphSchema, IndexKind, IndexLabelDef}

class GraphSchemaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tpch graph passes its declared schema") {
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    assert(GraphSchema.tpch.validateVertices(g.vertices).isEmpty)
    assert(GraphSchema.tpch.validateEdges(g.edges, Some(g.vertices)).isEmpty)
  }

  test("edge with undeclared endpoint pair is rejected") {
    import org.apache.spark.sql.functions._
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    // redirect one placed edge to point part→order instead of
    // customer→order: label exists, endpoint pair does not
    val bad = g.edges.limit(0).unionByName(
      g.edges.filter($"label" === "placed").limit(1)
        .withColumn("src", lit(PropertyGraph.encodeId("part", 1L))))
    val errs = GraphSchema.tpch.validateEdges(bad, Some(g.vertices))
    assert(errs.exists(_.contains("undeclared endpoint pair (part -> order)")))
  }

  test("edge endpoint missing from vertices is rejected") {
    import org.apache.spark.sql.functions._
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    val dangling = g.edges.filter($"label" === "placed").limit(1)
      .withColumn("src", lit(Long.MaxValue))
    val errs = GraphSchema.tpch.validateEdges(dangling, Some(g.vertices))
    assert(errs.exists(_.contains("endpoint vertex missing")))
  }

  test("undeclared label is rejected") {
    import org.apache.spark.sql.functions._
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    val bad = g.vertices.withColumn("label",
      when($"label" === "region", "alien").otherwise($"label"))
    val errs = GraphSchema.tpch.validateVertices(bad)
    assert(errs.exists(_.contains("undeclared vertex label in data: alien")))
  }

  test("wrong property type is rejected structurally") {
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    val bad = g.vertices.withColumn("acctbal",
      org.apache.spark.sql.functions.col("acctbal").cast("string"))
    val errs = GraphSchema.tpch.validateVertices(bad)
    assert(errs.exists(_.contains("property acctbal: expected double")))
  }

  test("unique index violation is reported") {
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    val dup = g.vertices.unionByName(
      g.vertices.filter($"label" === "customer").limit(1))
    val errs = GraphSchema.tpch.validateVertices(dup)
    assert(errs.exists(_.contains("unique index vertex_id_unique violated")))
  }

  // The precondition of label-set pruning: a frame holds only its
  // declared labels, so a join the schema confines to some frames can
  // miss no row of the others.

  /** (rows, rows breaking `ok`) of one frame, in one aggregate */
  private def audit(df: org.apache.spark.sql.DataFrame,
                    ok: org.apache.spark.sql.Column): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = df.agg(count(lit(1)), sum(when(ok, 0L).otherwise(1L))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def decodes(c: String, label: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    shiftright(col(c), PropertyGraph.Shift) <=> lit(PropertyGraph.LabelCodes(label))
  }

  test("every vertex frame's ids decode to its label's code") {
    import org.apache.spark.sql.functions._
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    for (v <- GraphSchema.tpch.vertexLabels) {
      assert(PropertyGraph.LabelCodes(v.name) == v.code)
      val (rows, bad) = audit(g.vertexFrame(v.name),
        decodes("id", v.name) && col("label") === v.name)
      assert(rows > 0, s"${v.name}: empty frame")
      assert(bad == 0, s"${v.name}: $bad of $rows rows outside the label")
    }
  }

  test("every edge frame's src and dst decode to its def's labels") {
    import org.apache.spark.sql.functions._
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    for (d <- GraphSchema.tpch.edgeLabels) {
      val (rows, bad) = audit(g.edgeFrame(d),
        decodes("src", d.srcLabel) && decodes("dst", d.dstLabel) &&
          col("label") === d.name)
      val what = s"${d.name} (${d.srcLabel} -> ${d.dstLabel})"
      assert(rows > 0, s"$what: empty frame")
      assert(bad == 0, s"$what: $bad of $rows edges outside the def")
    }
  }

  test("every frame has its union's columns and types") {
    val g = PropertyGraph.fromTpch(spark, TestSpark.sfDir)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    for (v <- GraphSchema.tpch.vertexLabels)
      assert(shape(g.vertexFrame(v.name)) == shape(g.vertices), v.name)
    for (d <- GraphSchema.tpch.edgeLabels)
      assert(shape(g.edgeFrame(d)) == shape(g.edges), d.toString)
    assert(g.vertexColumns == g.vertices.columns.toSeq)
  }
}
