package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.model.{KgxEdge, KgxNode}
import graft.ops.{Joins, Projections, Windows}
import graft.render.{DbGapXmlRenderer, DocumentSink, KgxAssembler}
import graft.sources.MdsJsonSource

/** HEAL ingest lifecycle (SURVEY.md §3.2): MDS study JSONs → flattened
  * variable-index CSV + per-study dbGaP-style XML (in study-type subdirs
  * via the HDPID mapping join) + KGX graph.
  *
  * Each source is parsed once, and the variables are shuffled once. Past
  * schema inference the lifecycle runs:
  *  - the dictionary staging (`localCheckpoint`), the only JSON parse,
  *    which also observes its row count;
  *  - one collect of the dictionary-level columns (no `fields`), guarded
  *    by that count. The KGX document, the skip report and the variable
  *    count come from these rows on the driver, with no job of their own;
  *  - the variable-index staging: the index hash-partitioned on
  *    `(study_id, dd_id)`, the one exchange, which satisfies both the
  *    uniquify window (clustered on `(study_id, dd_id, name)`) and the XML
  *    renderer (on `(dt_id, study_id)`, `dt_id` being `dd_id`). It is
  *    staged with adaptive execution off, since Spark records no output
  *    partitioning for a checkpoint of an adaptive plan;
  *  - the CSV write, its ceiling checked against the collected variable
  *    count, and the XML document write, which needs no exchange.
  * At metadata scale the lifecycle's cost is fixed cost per job and per
  * planned stage (parse, plan, JIT), not rows.
  *
  * A dictionary without a study id or an `@id` goes to the skip report
  * only, like a 404 stub ([[MdsJsonSource.skipReason]]); stubs still
  * appear in the KGX graph, as the reference lists them.
  */
object HealIngest {

  /** What the run read and wrote, from the dictionary staging's
    * observation, the dictionary collect and the document write's
    * accumulator (no job of their own): dictionaries read, skipped ones
    * per reason, variables indexed and XML documents written per
    * study-type dir. */
  case class Counts(dictionaries: Long, skippedByReason: Map[String, Long],
                    variables: Long, documentsByDir: Map[String, Long])

  case class Result(variableIndex: DataFrame, kgxJson: String,
                    skippedDds: DataFrame, counts: Counts)

  private val skippedSchema = StructType(
    Seq("study_id", "dd_id", "reason").map(StructField(_, StringType)))

  def run(spark: SparkSession, mdsDir: String, mapping: DataFrame,
          outDir: String): Result = {
    val studies = MdsJsonSource.readStudies(spark, mdsDir)
    val read = Observation("heal_dictionaries")
    val dds = MdsJsonSource.dataDictionaries(studies)
      .observe(read, count(lit(1)).as("rows")).localCheckpoint()
    val maxDds = DocumentSink.MaxSingleFileRows
    val nDds = read.get("rows").asInstanceOf[Long]
    require(nDds <= maxDds, s"the dictionary list collects to the driver (> $maxDds rows); " +
      "the dictionary list should be metadata-scale")
    val dicts = dds.select(col("study_id"), col("dd_id"), col("dd_label"),
        MdsJsonSource.skipReason.as("reason"),
        coalesce(size(col("fields")), lit(0)).as("n_fields"))
      .collect()
    def studyId(r: Row) = r.getString(0)
    def ddId(r: Row) = r.getString(1)
    def reason(r: Row) = r.getString(3)
    val skipped = dicts.filter(reason(_) != null)
    val nVars = dicts.filter(reason(_) == null).map(_.getInt(4).toLong).sum

    // variable index with W1 name-uniquification in document order
    val rawIndex = MdsJsonSource.variableIndexOf(dds)
      .repartition(col("study_id"), col("dd_id"))
    val uniquified = stagePartitioned(
      Windows.uniquify(rawIndex, Seq("study_id", "dd_id"), "name", "pos", "name_uniq")
        .withColumn("name", col("name_uniq")).drop("name_uniq"))
    val indexCols = Seq("study_id", "dd_id", "name", "section", "title",
      "description", "type", "encodings", "logical_min", "logical_max")
    val variableIndex = uniquified.select(indexCols.map(col): _*)
    DocumentSink.writeSingleCsv(variableIndex, s"$outDir/variable_index", rows = Some(nVars))

    // J4: HDPID → study-type subdir (K4 partitioned layout)
    val enriched = Joins.enrich(
      uniquified, mapping.withColumnRenamed("HDPID", "study_id"), "study_id")
    val renderInput = enriched.select(
      col("dd_id").as("dt_id"),
      col("study_id"),
      col("study_id").as("study_name"),
      col("section").as("group_description"),
      concat(Projections.normalizeName(col("HEAL Study Type"), "heal_studies"),
        lit("/")).as("path_prefix"),
      col("pos"),
      col("name").as("var_id"),
      col("name").as("var_name"),
      col("title").as("var_title"),
      col("description").as("var_description"),
      col("type").as("var_type"),
      // enum_map carried from the source — never re-parse the packed
      // `encodings` string (labels containing '|' would corrupt it)
      when(col("enum_map").isNotNull,
        transform(map_entries(col("enum_map")),
          e => struct(e("key").as("code"), e("value").as("label")))).as("values"))
    val documents = DocumentSink.writeDocuments(
      DbGapXmlRenderer.renderDataTables(renderInput), s"$outDir/xml")

    // F9 skip report: 404 stubs and id-less dictionaries, quarantined from
    // the index with their reason (the reference logs-and-continues per dd)
    val skippedDds = spark.createDataFrame(java.util.Arrays.asList(
      skipped.map(r => Row(studyId(r), ddId(r), reason(r))): _*), skippedSchema)
    // KGX: a study node per study id, a node and an edge to its study per
    // dictionary with both ids, 404 stubs included
    val linked = dicts.filter(r => studyId(r) != null && ddId(r) != null).toSeq
    val studyNodes = linked.map(studyId).distinct.map(id =>
      KgxNode(id, id, Seq("biolink:Study"), None, None, None))
    val ddNodes = linked.map(r => KgxNode(ddId(r), r.getString(2),
      Seq("biolink:InformationResource"), None, None, None))
    val edges = linked.map(r => KgxEdge(ddId(r), "biolink:related_to", studyId(r)))
    val kgx = KgxAssembler.jsonDocument(studyNodes ++ ddNodes, edges)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/kgx.json"), kgx)

    val counts = Counts(dicts.length.toLong,
      skipped.groupBy(reason).map { case (r, rs) => r -> rs.length.toLong }, nVars, documents)
    Result(variableIndex, kgx, skippedDds, counts)
  }

  /** `df.localCheckpoint()` that keeps `df`'s output partitioning, so a
    * later clustering requirement the partitioning satisfies plans no
    * exchange. A checkpoint records its plan's output partitioning, and an
    * adaptive plan reports none: the staging runs with adaptive execution
    * off, as Spark's own cache manager plans cached data. The setting is
    * the session's, so no other query of the session may plan meanwhile. */
  private def stagePartitioned(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val before = conf.getOption(key)
    conf.set(key, "false")
    try df.localCheckpoint()
    finally before.fold(conf.unset(key))(conf.set(key, _))
  }
}
