package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declared graph schema — the analog of the reference's four schema
  * tables (PROPERTY_KEY / VERTEX_LABEL / EDGE_LABEL / INDEX_LABEL,
  * TikvStore.java:298-305) plus their id-allocation Counters.
  *
  * The reference's graph is schema-FULL: every label and property key
  * is declared before data exists, and the store enforces nothing —
  * hugegraph-core validates above it. Here the catalog is plain case
  * classes and enforcement happens at ingest: `validate` checks a
  * vertex/edge DataFrame against the declared labels, property types,
  * and uniqueness constraints before it's admitted to storage
  * (GraphStorage.saveGraph).
  *
  * Index labels carry no physical index (SURVEY §1.3: Parquet stats +
  * pruning replace all ten index tables); they are retained as
  * *declarations* because UNIQUE ones imply an ingest-time check and
  * they document query-ability intent.
  */
final case class PropertyKeyDef(name: String, dataType: DataType,
                                cardinality: Cardinality = Cardinality.Single)

sealed trait Cardinality
object Cardinality {
  case object Single extends Cardinality
  case object List extends Cardinality
  case object Set extends Cardinality
}

final case class VertexLabelDef(name: String, properties: Seq[String],
                                code: Long)

final case class EdgeLabelDef(name: String, srcLabel: String, dstLabel: String,
                              properties: Seq[String] = Nil,
                              sortKey: Option[String] = None)

sealed trait IndexKind
object IndexKind {
  case object Secondary extends IndexKind // equality (pushed filter)
  case object Range extends IndexKind     // range predicate (pushed filter)
  case object Search extends IndexKind    // textContains (scan predicate)
  case object Unique extends IndexKind    // ingest-time constraint
  case object Shard extends IndexKind     // partition-scoped reads
}

final case class IndexLabelDef(name: String, onLabel: String,
                               properties: Seq[String], kind: IndexKind)

final case class GraphSchema(propertyKeys: Seq[PropertyKeyDef],
                             vertexLabels: Seq[VertexLabelDef],
                             edgeLabels: Seq[EdgeLabelDef],
                             indexLabels: Seq[IndexLabelDef] = Nil) {

  private val pkByName = propertyKeys.map(p => p.name -> p).toMap
  private val vlByName = vertexLabels.map(v => v.name -> v).toMap

  /** Validation failures for a vertices DataFrame against this schema;
    * empty = admitted. Structural checks run on the schema (free);
    * uniqueness checks run as one aggregation per UNIQUE index.
    */
  def validateVertices(df: DataFrame): Seq[String] = {
    val structural = scala.collection.mutable.ArrayBuffer[String]()
    if (!df.columns.contains("id")) structural += "missing column: id"
    if (!df.columns.contains("label")) structural += "missing column: label"
    for (vl <- vertexLabels; p <- vl.properties) {
      pkByName.get(p) match {
        case None => structural += s"label ${vl.name}: undeclared property key $p"
        case Some(pk) =>
          df.schema.fields.find(_.name == p) match {
            case Some(f) if f.dataType != pk.dataType =>
              structural += s"property $p: expected ${pk.dataType.catalogString}, " +
                s"found ${f.dataType.catalogString}"
            case None => structural += s"property $p missing from vertices frame"
            case _ =>
          }
      }
    }
    if (structural.nonEmpty) return structural.toSeq

    // undeclared labels in the data
    val declared = vertexLabels.map(_.name)
    val unknown = df.select(col("label")).distinct()
      .filter(!col("label").isin(declared: _*))
      .collect().map(_.getString(0))
    val labelErrs = unknown.map(l => s"undeclared vertex label in data: $l")

    // unique-index constraints (ingest-time check, TikvTables.java:212-219)
    val uniqueErrs = indexLabels
      .filter(i => i.kind == IndexKind.Unique && vlByName.contains(i.onLabel))
      .flatMap { idx =>
        val dups = graft.operators.Writer.uniqueViolations(
          df.filter(col("label") === idx.onLabel), idx.properties)
        if (dups.isEmpty) None
        else Some(s"unique index ${idx.name} violated on ${idx.onLabel}(" +
          s"${idx.properties.mkString(",")}): ${dups.count()} duplicate groups")
      }
    labelErrs.toSeq ++ uniqueErrs
  }

  /** Validation failures for an edges DataFrame. When `vertices` is
    * given, also checks every edge's (src-label, dst-label) pair
    * against the declared EdgeLabelDefs — the check hugegraph-core
    * runs above the store. Two distributed left-joins + a distinct
    * over label triples; only the (tiny) distinct triple set reaches
    * the driver, so this scales with label count, not edge count.
    * The same edge-label name may be declared more than once with
    * different endpoints (e.g. located_in: customer→nation and
    * supplier→nation).
    */
  def validateEdges(df: DataFrame, vertices: Option[DataFrame] = None): Seq[String] = {
    val structural = Seq("src", "dst", "label")
      .filterNot(df.columns.contains).map(c => s"missing column: $c")
    if (structural.nonEmpty) return structural
    val declared = edgeLabels.map(_.name)
    val labelErrs = df.select(col("label")).distinct()
      .filter(!col("label").isin(declared: _*))
      .collect().map(r => s"undeclared edge label in data: ${r.getString(0)}").toSeq

    val endpointErrs = vertices.toSeq.flatMap { v =>
      val srcLab = v.select(col("id").as("__sid"), col("label").as("__src_label"))
      val dstLab = v.select(col("id").as("__did"), col("label").as("__dst_label"))
      val triples = df.select(col("src"), col("dst"), col("label"))
        .join(srcLab, col("src") === col("__sid"), "left")
        .join(dstLab, col("dst") === col("__did"), "left")
        .select(col("label"), col("__src_label"), col("__dst_label"))
        .distinct().collect()
      val declaredEnds = edgeLabels.map(e => (e.name, e.srcLabel, e.dstLabel)).toSet
      triples.flatMap { r =>
        val (l, sl, dl) = (r.getString(0), r.getString(1), r.getString(2))
        if (sl == null || dl == null)
          Some(s"edge label $l: endpoint vertex missing from vertices frame " +
            s"(src-label=$sl, dst-label=$dl)")
        else if (!declaredEnds((l, sl, dl)))
          Some(s"edge label $l: undeclared endpoint pair ($sl -> $dl)")
        else None
      }
    }
    labelErrs ++ endpointErrs
  }
}

object GraphSchema {
  /** The TPC-H property-graph schema (FIXTURES.md mapping) — the
    * catalog of graft.graph.PropertyGraph.fromTpch: its label codes,
    * property types and one frame per vertex label and per edge def
    * come from here, and graft.graph.Traversal maps each step's label
    * set through the edge defs.
    */
  val tpch: GraphSchema = GraphSchema(
    propertyKeys = Seq(
      PropertyKeyDef("name", StringType), PropertyKeyDef("mktsegment", StringType),
      PropertyKeyDef("acctbal", DoubleType), PropertyKeyDef("totalprice", DoubleType),
      // parquet timestamp[ms] without UTC adjustment arrives as NTZ
      PropertyKeyDef("orderdate", TimestampNTZType), PropertyKeyDef("priority", StringType),
      PropertyKeyDef("status", StringType), PropertyKeyDef("brand", StringType),
      PropertyKeyDef("ptype", StringType), PropertyKeyDef("size", IntegerType),
      PropertyKeyDef("retailprice", DoubleType), PropertyKeyDef("nationkey", IntegerType),
      // SET-cardinality property + the dynamic property bag (SURVEY
      // §1.3) — the list/set cardinality the reference serializer
      // carries and the Contains/ContainsKey query surface
      // (TikvFeatures.java:71-79)
      PropertyKeyDef("tags", ArrayType(StringType), Cardinality.Set),
      PropertyKeyDef("props", MapType(StringType, StringType))),
    vertexLabels = Seq(
      VertexLabelDef("customer",
        Seq("name", "mktsegment", "acctbal", "nationkey", "tags", "props"), 1L),
      VertexLabelDef("order",
        Seq("status", "totalprice", "orderdate", "priority", "tags", "props"), 2L),
      VertexLabelDef("part", Seq("name", "brand", "ptype", "size", "retailprice"), 3L),
      VertexLabelDef("supplier", Seq("name", "acctbal", "nationkey"), 4L),
      VertexLabelDef("nation", Seq("name"), 5L),
      VertexLabelDef("region", Seq("name"), 6L)),
    edgeLabels = Seq(
      EdgeLabelDef("placed", "customer", "order"),
      EdgeLabelDef("contains", "order", "part",
        Seq("quantity", "extendedprice", "discount"), sortKey = Some("sort_key")),
      EdgeLabelDef("supplied_by", "part", "supplier"),
      // located_in has two declared endpoint pairs — PropertyGraph
      // emits both customer→nation and supplier→nation edges
      EdgeLabelDef("located_in", "customer", "nation"),
      EdgeLabelDef("located_in", "supplier", "nation"),
      EdgeLabelDef("part_of", "nation", "region")),
    indexLabels = Seq(
      IndexLabelDef("customer_by_segment", "customer", Seq("mktsegment"),
        IndexKind.Secondary),
      IndexLabelDef("customer_by_balance", "customer", Seq("acctbal"),
        IndexKind.Range),
      IndexLabelDef("part_by_name_text", "part", Seq("name"), IndexKind.Search),
      IndexLabelDef("vertex_id_unique", "customer", Seq("id"), IndexKind.Unique)))
}
