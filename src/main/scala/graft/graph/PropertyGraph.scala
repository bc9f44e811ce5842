package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.schema.{EdgeLabelDef, GraphSchema}

/** Schema-full property graph as columnar DataFrames.
  *
  * The reference stores a graph as 16 KV tables: VERTEX, EDGE_OUT +
  * EDGE_IN (every edge written twice, once per direction —
  * TikvTables.java:128-143), and ten index tables
  * (TikvStore.java:345-381). Here the same model is two relations:
  *
  *  - `vertices(id, label, <union of per-label property columns>)`
  *  - `edges(src, dst, label, sort_key, <edge property columns>)`
  *
  * A graph with a declared [[GraphSchema]] (`fromTpch`) keeps them as
  * per-label sources: one vertex frame per vertex label and one edge
  * frame per [[EdgeLabelDef]] (name, src label, dst label), each built
  * on first use and then kept. Every frame has the union's columns and
  * types, so a traversal step reads the frames its label set allows
  * (see [[Traversal]]) with the same code it runs on the full relation.
  * `vertices` and `edges` are the unions of all frames, built only when
  * a step needs a label-free relation (`g.V().hasNot(..)`). A graph
  * built from plain frames (`PropertyGraph(v, e)`) has no schema, and
  * every step reads `vertices`/`edges` directly.
  *
  * The out/in duplication disappears: Spark can shuffle/join on either
  * `src` or `dst`, and at 100 TB the optimization the dual tables buy
  * (locality per direction) is recovered by writing the edges table
  * twice bucketed — an optional materialization, not a semantic need.
  * The ten index tables are replaced by Parquet min/max stats +
  * predicate pushdown + per-label sources (SURVEY §1.3).
  *
  * Vertex ids are label-namespaced: `(labelCode << 40) | naturalKey`,
  * mirroring the reference's label-prefixed binary ids (opaque sortable
  * byte arrays, TikvTable.java:113). That is what makes the per-label
  * split sound: a frame holds only ids of its own label code
  * (GraphSchemaSpec pins it), so a join the schema confines to some
  * labels can match no row of any other frame.
  */
final class PropertyGraph private (
    buildVertices: () => DataFrame, buildEdges: () => DataFrame,
    val edgesByDst: Option[DataFrame],
    sources: Option[PropertyGraph.Sources]) {

  lazy val vertices: DataFrame = buildVertices()
  lazy val edges: DataFrame = buildEdges()

  /** Entry to the traversal DSL (Gremlin `g.V()`). */
  def V: Traversal = Traversal.vertices(this)
  def V(ids: Long*): Traversal = Traversal.vertexIds(this, ids)
  /** Gremlin `g.E()`. */
  def E: Traversal = Traversal.edges(this)

  /** The edge frame clustered for dst-keyed joins — the EDGE_IN copy
    * when the graph is backed by dual bucketed storage
    * (GraphStorage.saveGraph); falls back to the single frame. in()
    * traversals join this copy so a bucketed layout serves BOTH
    * directions shuffle-free, exactly the locality the reference buys
    * by writing every edge twice (TikvTables.java:128-143).
    */
  def edgesForDst: DataFrame = edgesByDst.getOrElse(edges)

  /** The declared schema of the per-label sources; None for a graph
    * built from plain frames.
    */
  def schema: Option[GraphSchema] = sources.map(_.schema)

  /** The vertex frame of one declared label (schema'd graphs only). */
  def vertexFrame(label: String): DataFrame = src.vertex(label)

  /** The edge frame of one declared edge def (schema'd graphs only). */
  def edgeFrame(d: EdgeLabelDef): DataFrame = src.edge(d)

  /** The vertices whose label is in `ls`: the union of their frames,
    * in schema order (schema'd graphs only).
    */
  def vertexFrames(ls: Set[String]): DataFrame = {
    val s = src
    val names = s.schema.vertexLabels.map(_.name)
    if (names.forall(ls)) vertices
    else names.filter(ls) match {
      case Seq() => s.vertex(names.head).limit(0)
      case some => some.map(s.vertex).reduce(_ union _)
    }
  }

  /** The edges of the given defs: the union of their frames
    * (schema'd graphs only).
    */
  def edgeFrames(ds: Seq[EdgeLabelDef]): DataFrame = {
    val s = src
    if (s.schema.edgeLabels.forall(ds.contains)) edges
    else if (ds.isEmpty) s.edge(s.schema.edgeLabels.head).limit(0)
    else ds.map(s.edge).reduce(_ union _)
  }

  /** The edges whose label is in `labels`, or all edges when it is
    * empty. A schema'd graph reads only the frames of the edge defs
    * with those names; a plain graph filters its edge relation.
    */
  def edgesOf(labels: Seq[String]): DataFrame = sources match {
    case _ if labels.isEmpty => edges
    case Some(s) => edgeFrames(s.schema.edgeLabels.filter(d => labels.contains(d.name)))
    case None => edges.filter(col("label").isin(labels: _*))
  }

  /** The vertex relation's column names, without building the union. */
  def vertexColumns: Seq[String] = sources match {
    case Some(s) => s.vertex(s.schema.vertexLabels.head.name).columns.toSeq
    case None => vertices.columns.toSeq
  }

  /** A plain graph over replaced frames: a copy carries no schema, since
    * the per-label sources no longer describe its relations.
    */
  def copy(vertices: DataFrame = vertices, edges: DataFrame = edges,
           edgesByDst: Option[DataFrame] = edgesByDst): PropertyGraph =
    PropertyGraph(vertices, edges, edgesByDst)

  private def src: PropertyGraph.Sources = sources.getOrElse(
    throw new IllegalStateException("graph has no per-label sources"))
}

object PropertyGraph {
  /** A graph over plain frames: no schema, no per-label sources. */
  def apply(vertices: DataFrame, edges: DataFrame,
            edgesByDst: Option[DataFrame] = None): PropertyGraph =
    new PropertyGraph(() => vertices, () => edges, edgesByDst, None)

  /** Per-label sources of a schema'd graph: one frame maker per declared
    * vertex label and one per declared edge def, keyed by
    * (name, src label, dst label). Each frame is built on first use and
    * then kept, so every step of a traversal joins the same frame.
    */
  private final class Sources(val schema: GraphSchema,
      newVertexFrame: Map[String, () => DataFrame],
      newEdgeFrame: Map[(String, String, String), () => DataFrame]) {
    require(newVertexFrame.keySet == schema.vertexLabels.map(_.name).toSet,
      "one vertex frame per declared vertex label")
    require(newEdgeFrame.keySet == schema.edgeLabels.map(key).toSet,
      "one edge frame per declared edge def")
    private val built = scala.collection.mutable.Map.empty[Any, DataFrame]

    def vertex(label: String): DataFrame = synchronized {
      built.getOrElseUpdate(label, newVertexFrame(label)())
    }
    def edge(d: EdgeLabelDef): DataFrame = synchronized {
      built.getOrElseUpdate(key(d), newEdgeFrame(key(d))())
    }
  }

  private def key(d: EdgeLabelDef): (String, String, String) =
    (d.name, d.srcLabel, d.dstLabel)

  /** A schema'd graph: `vertices` and `edges` are the unions of the
    * frames in schema order.
    */
  private def schemaGraph(schema: GraphSchema,
      newVertexFrame: Map[String, () => DataFrame],
      newEdgeFrame: Map[(String, String, String), () => DataFrame]): PropertyGraph = {
    val s = new Sources(schema, newVertexFrame, newEdgeFrame)
    new PropertyGraph(
      () => schema.vertexLabels.map(v => s.vertex(v.name)).reduce(_ union _),
      () => schema.edgeLabels.map(s.edge).reduce(_ union _),
      None, Some(s))
  }

  // label codes for id namespacing (region of the long keyspace per label)
  val LabelCodes: Map[String, Long] =
    GraphSchema.tpch.vertexLabels.map(v => v.name -> v.code).toMap
  val Shift = 40

  def encode(label: String, key: Column): Column =
    lit(LabelCodes(label) << Shift) + key.cast("long")

  def encodeId(label: String, key: Long): Long = (LabelCodes(label) << Shift) | key

  /** SQL fragment mirroring [[encode]] for DuckDB oracles. */
  def sqlEncode(label: String, keyExpr: String): String =
    s"(${LabelCodes(label) << Shift} + CAST($keyExpr AS BIGINT))"

  /** Align a per-label projection onto the union vertex schema: every
    * declared property key, in declaration order, as the label's column
    * or a null of the declared type. Declared-type nulls give each
    * frame the union's exact columns and types, so a step reads one
    * label's frame, several frames' union or the full union alike.
    * Parquet is columnar, so the absent columns are never read.
    */
  private def align(df: DataFrame, have: Map[String, Column]): DataFrame = {
    val cols = col("id") +: col("label") +: GraphSchema.tpch.propertyKeys.map { p =>
      have.getOrElse(p.name, lit(null).cast(p.dataType)).as(p.name)
    }
    df.select(cols: _*)
  }

  /** Build the property-graph view of the TPC-H star schema
    * (FIXTURES.md mapping), declared by [[GraphSchema.tpch]]. Nothing is
    * read here: each table is opened, and each frame built, on first
    * use.
    */
  def fromTpch(s: SparkSession, dir: String): PropertyGraph = {
    lazy val c = Tables.customer(s, dir)
    lazy val o = Tables.orders(s, dir)
    lazy val p = Tables.part(s, dir)
    lazy val su = Tables.supplier(s, dir)
    lazy val n = Tables.nation(s, dir)
    lazy val r = Tables.region(s, dir)
    lazy val li = Tables.lineitem(s, dir)

    val newVertexFrame: Map[String, () => DataFrame] = Map(
      "customer" -> (() => align(
        c.select(encode("customer", col("c_custkey")).as("id"),
          lit("customer").as("label"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"), col("c_nationkey")),
        Map("name" -> col("c_name"), "mktsegment" -> col("c_mktsegment"),
          "acctbal" -> col("c_acctbal"), "nationkey" -> col("c_nationkey"),
          // SET-cardinality property (deterministic from scalar props)
          // + dynamic bag — the reference serializer's list/set
          // cardinality and ContainsKey surface (TikvFeatures.java:71-79)
          "tags" -> array(
            concat(lit("seg_"), lower(col("c_mktsegment"))),
            concat(lit("nat_"), col("c_nationkey").cast("string"))),
          "props" -> map(
            lit("segment"), col("c_mktsegment"),
            lit("nation"), col("c_nationkey").cast("string"))))),
      "order" -> (() => align(
        o.select(encode("order", col("o_orderkey")).as("id"),
          lit("order").as("label"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")),
        Map("status" -> col("o_orderstatus"), "totalprice" -> col("o_totalprice"),
          "orderdate" -> col("o_orderdate"), "priority" -> col("o_orderpriority"),
          "tags" -> array(concat(lit("status_"), col("o_orderstatus"))),
          "props" -> map(
            lit("status"), col("o_orderstatus"),
            lit("priority"), col("o_orderpriority"))))),
      "part" -> (() => align(
        p.select(encode("part", col("p_partkey")).as("id"),
          lit("part").as("label"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"), col("p_retailprice")),
        Map("name" -> col("p_name"), "brand" -> col("p_brand"),
          "ptype" -> col("p_type"), "size" -> col("p_size"),
          "retailprice" -> col("p_retailprice")))),
      "supplier" -> (() => align(
        su.select(encode("supplier", col("s_suppkey")).as("id"),
          lit("supplier").as("label"), col("s_name"), col("s_acctbal"),
          col("s_nationkey")),
        Map("name" -> col("s_name"), "acctbal" -> col("s_acctbal"),
          "nationkey" -> col("s_nationkey")))),
      "nation" -> (() => align(
        n.select(encode("nation", col("n_nationkey")).as("id"),
          lit("nation").as("label"), col("n_name")),
        Map("name" -> col("n_name")))),
      "region" -> (() => align(
        r.select(encode("region", col("r_regionkey")).as("id"),
          lit("region").as("label"), col("r_name")),
        Map("name" -> col("r_name")))))

    // `orderdate` is a session-zone TIMESTAMP on every edge frame: the
    // union widens placed's TIMESTAMP_NTZ to it, so each frame does too
    def edge(src: Column, dst: Column, label: String,
             sortKey: Column = lit(null).cast("long"),
             quantity: Column = lit(null).cast("double"),
             extendedprice: Column = lit(null).cast("double"),
             discount: Column = lit(null).cast("double"),
             orderdate: Column = lit(null)): Seq[Column] =
      Seq(src.as("src"), dst.as("dst"), lit(label).as("label"),
        sortKey.cast("long").as("sort_key"), quantity.as("quantity"),
        extendedprice.as("extendedprice"), discount.as("discount"),
        orderdate.cast("timestamp").as("orderdate"))

    val newEdgeFrame: Map[(String, String, String), () => DataFrame] = Map(
      ("placed", "customer", "order") -> (() =>
        o.select(edge(encode("customer", col("o_custkey")),
          encode("order", col("o_orderkey")), "placed",
          orderdate = col("o_orderdate")): _*)),
      ("contains", "order", "part") -> (() =>
        li.select(edge(encode("order", col("l_orderkey")),
          encode("part", col("l_partkey")), "contains",
          sortKey = col("l_linenumber"), quantity = col("l_quantity"),
          extendedprice = col("l_extendedprice"),
          discount = col("l_discount")): _*)),
      ("supplied_by", "part", "supplier") -> (() =>
        li.select(col("l_partkey"), col("l_suppkey")).distinct()
          .select(edge(encode("part", col("l_partkey")),
            encode("supplier", col("l_suppkey")), "supplied_by"): _*)),
      ("located_in", "customer", "nation") -> (() =>
        c.select(edge(encode("customer", col("c_custkey")),
          encode("nation", col("c_nationkey")), "located_in"): _*)),
      ("located_in", "supplier", "nation") -> (() =>
        su.select(edge(encode("supplier", col("s_suppkey")),
          encode("nation", col("s_nationkey")), "located_in"): _*)),
      ("part_of", "nation", "region") -> (() =>
        n.select(edge(encode("nation", col("n_nationkey")),
          encode("region", col("n_regionkey")), "part_of"): _*)))

    schemaGraph(GraphSchema.tpch, newVertexFrame, newEdgeFrame)
  }
}
