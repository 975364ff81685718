package graft.render

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.model.{KgxEdge, KgxNode}

/** KGX property-graph assembly (SURVEY.md K2, A8).
  *
  * The reference emits one `{nodes:[], edges:[]}` JSON document
  * (get_bdc_studies_from_gen3.py:258-352): a study node per base
  * accession (consent-suffix variants collapsed, first wins), a consent
  * node per row, and `related_to` edges consent→study. Spark-first: nodes
  * and edges are two DataFrames (exactly the GraphFrames model);
  * [[toJsonDocument]] renders the reference's single-doc layout for
  * metadata-scale parity. A caller that already holds its graph on the
  * driver (HEAL: the staged dictionary rows) renders the same bytes with
  * [[jsonDocument]], which runs no Spark job.
  */
object KgxAssembler {

  /** Collapse studies to one node per base accession (A8: deterministic
    * first = min consent), emit biolink-ish study nodes. */
  def studyNodes(studies: DataFrame, idCol: String, nameCol: String,
                 programCol: String): DataFrame =
    studies
      .withColumn("base_id", substring_index(col(idCol), ".c", 1))
      .groupBy(col("base_id").as("id"))
      .agg(min(col(nameCol)).as("name"),
        min(col(programCol)).as("program"),
        concat_ws("|", array_sort(collect_set(col(idCol)))).as("consents"))
      .withColumn("categories", array(lit("biolink:Study")))
      .withColumn("iri", concat(lit("https://identifiers.org/dbgap:"), col("id")))

  /** One consent node per original row + an edge consent→study. */
  def consentNodesAndEdges(studies: DataFrame, idCol: String): (DataFrame, DataFrame) = {
    val nodes = studies.select(
      col(idCol).as("id"),
      col(idCol).as("name"),
      array(lit("biolink:StudyPopulation")).as("categories"))
    val edges = studies.select(
      col(idCol).as("subject"),
      lit("biolink:related_to").as("predicate"),
      substring_index(col(idCol), ".c", 1).as("object"))
    (nodes, edges)
  }

  /** Render the single `{"nodes":[…],"edges":[…]}` document (metadata
    * scale; large graphs should use [[writeGraph]]). Node and edge order is
    * made deterministic by sorting on id/subject. Collects to the driver,
    * so a row-count ceiling raises on data-scale misuse instead of OOMing.
    * One action per frame: the sort and the ceiling probe are one top-k
    * (`orderBy` + `limit` plans as TakeOrderedAndProject, with no
    * range-sampling job), and a result longer than the ceiling ⇔ the frame
    * exceeds it. */
  def toJsonDocument(nodes: DataFrame, edges: DataFrame,
                     maxRows: Long = DocumentSink.MaxSingleFileRows): String = {
    def sortedJson(what: String, df: DataFrame, keys: String*): String = {
      val rows = df.orderBy(keys.map(col): _*)
        .limit(DocumentSink.probeLimit(maxRows)).toJSON.collect()
      require(rows.length <= maxRows,
        s"toJsonDocument collects $what to the driver (> $maxRows rows); " +
          "use writeGraph for large graphs")
      rows.mkString(",")
    }
    val nodeJson = sortedJson("nodes", nodes, "id")
    val edgeJson = sortedJson("edges", edges, "subject", "object")
    s"""{"nodes":[$nodeJson],"edges":[$edgeJson]}"""
  }

  /** [[toJsonDocument]] over a graph held on the driver: the same bytes,
    * with no Spark job. Nodes are sorted by id and edges by (subject,
    * object), in Spark's string order ([[DbGapXmlRenderer.compareUtf8]]:
    * code points, nulls first; ties keep their given order), and each row
    * is written by the JSON generator `Dataset.toJSON` uses, over the
    * model's columns: a null or `None` field is omitted. */
  def jsonDocument(nodes: Seq[KgxNode], edges: Seq[KgxEdge]): String = {
    def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    val nodeRows = nodes.sortWith((a, b) => DbGapXmlRenderer.compareUtf8(a.id, b.id) < 0)
      .map(n => InternalRow(utf8(n.id), utf8(n.name),
        if (n.categories == null) null
        else new GenericArrayData(n.categories.map(utf8).toArray[Any]),
        n.description.map(utf8).orNull, n.iri.map(utf8).orNull, n.program.map(utf8).orNull))
    val edgeRows = edges.sortWith { (a, b) =>
        val c = DbGapXmlRenderer.compareUtf8(a.subject, b.subject)
        (if (c != 0) c else DbGapXmlRenderer.compareUtf8(a.`object`, b.`object`)) < 0
      }.map(e => InternalRow(utf8(e.subject), utf8(e.predicate), utf8(e.`object`)))
    s"""{"nodes":[${jsonRows(NodeSchema, nodeRows)}],"edges":[${jsonRows(EdgeSchema, edgeRows)}]}"""
  }

  private def str(name: String): StructField = StructField(name, StringType)
  private val NodeSchema = StructType(Seq(str("id"), str("name"),
    StructField("categories", ArrayType(StringType)), str("description"), str("iri"),
    str("program")))
  private val EdgeSchema = StructType(Seq(str("subject"), str("predicate"), str("object")))

  /** Rows as `Dataset.toJSON` writes them, comma-joined: one generator
    * over a buffer that is flushed and reset after each row. */
  private def jsonRows(schema: DataType, rows: Seq[InternalRow]): String = {
    val out = new java.io.CharArrayWriter
    val gen = new JacksonGenerator(schema, out, new JSONOptions(Map.empty[String, String], "UTC"))
    val json = rows.map { r =>
      gen.write(r)
      gen.flush()
      val one = out.toString
      out.reset()
      one
    }
    gen.close()
    json.mkString(",")
  }

  /** Distributed sink: nodes/edges as JSON-lines datasets. */
  def writeGraph(nodes: DataFrame, edges: DataFrame, baseDir: String): Unit = {
    nodes.write.mode("overwrite").json(s"$baseDir/nodes")
    edges.write.mode("overwrite").json(s"$baseDir/edges")
  }

  /** Typed view of the graph (compile-time field checks for pipeline code
    * traversing it; the KGX node/edge shapes of graft.model). Missing
    * optional columns are filled with nulls. */
  def typedGraph(nodes: DataFrame, edges: DataFrame)
      : (org.apache.spark.sql.Dataset[graft.model.KgxNode],
         org.apache.spark.sql.Dataset[graft.model.KgxEdge]) = {
    val spark = nodes.sparkSession
    import spark.implicits._
    def opt(df: DataFrame, c: String): Column =
      if (df.columns.contains(c)) col(c).cast("string") else lit(null).cast("string")
    val n = nodes.select(col("id").cast("string").as("id"),
        col("name").cast("string").as("name"),
        col("categories").cast("array<string>").as("categories"),
        opt(nodes, "description").as("description"),
        opt(nodes, "iri").as("iri"),
        opt(nodes, "program").as("program"))
      .as[graft.model.KgxNode]
    val e = edges.select(col("subject").cast("string").as("subject"),
        col("predicate").cast("string").as("predicate"),
        col("object").cast("string").as("object"))
      .as[graft.model.KgxEdge]
    (n, e)
  }
}
