package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Joins, Projections, Windows}
import graft.render.{DbGapXmlRenderer, DocumentSink, KgxAssembler}
import graft.sources.MdsJsonSource

/** HEAL ingest lifecycle (SURVEY.md §3.2): MDS study JSONs → flattened
  * variable-index CSV + per-study dbGaP-style XML (in study-type subdirs
  * via the HDPID mapping join) + KGX graph.
  *
  * Each source is parsed once. Past schema inference there are two
  * staging points (`localCheckpoint`): the per-dictionary frame, the only
  * JSON parse, from which the variable index, the skip report and the KGX
  * nodes and edges all derive; and the uniquified index, so its window
  * runs once for the CSV sink, the XML path and [[Result.variableIndex]].
  * Every other action is a sink, one each. At metadata scale the
  * lifecycle's cost is fixed cost per job (parse, plan, JIT), not rows,
  * so each re-parse the staging removes was a whole job's cost.
  */
object HealIngest {

  case class Result(variableIndex: DataFrame, kgxJson: String,
                    skippedDds: DataFrame)

  def run(spark: SparkSession, mdsDir: String, mapping: DataFrame,
          outDir: String): Result = {
    val studies = MdsJsonSource.readStudies(spark, mdsDir)
    val dds = MdsJsonSource.dataDictionaries(studies).localCheckpoint()

    // variable index with W1 name-uniquification in document order
    val rawIndex = MdsJsonSource.variableIndexOf(dds)
    val uniquified = Windows.uniquify(rawIndex, Seq("study_id", "dd_id"),
        "name", "pos", "name_uniq")
      .withColumn("name", col("name_uniq")).drop("name_uniq")
      .localCheckpoint()
    val indexCols = Seq("study_id", "dd_id", "name", "section", "title",
      "description", "type", "encodings", "logical_min", "logical_max")
    val variableIndex = uniquified.select(indexCols.map(col): _*)
    DocumentSink.writeSingleCsv(variableIndex, s"$outDir/variable_index")

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
    DocumentSink.writeDocuments(
      DbGapXmlRenderer.renderDataTables(renderInput), s"$outDir/xml")

    // F9 skip report: 404-stub dictionaries quarantined from the index,
    // surfaced with their error (the reference logs-and-continues per dd)
    val skippedDds = dds.filter(col("dd_error").isNotNull)
      .select(col("study_id"), col("dd_id"), col("dd_error").as("reason"))
    val studyNodes = dds.select(col("study_id").as("id")).distinct()
      .withColumn("name", col("id"))
      .withColumn("categories", array(lit("biolink:Study")))
    val ddNodes = dds.select(col("dd_id").as("id"), col("dd_label").as("name"))
      .withColumn("categories", array(lit("biolink:InformationResource")))
    val edges = dds.select(col("dd_id").as("subject"),
      lit("biolink:related_to").as("predicate"), col("study_id").as("object"))
    val kgx = KgxAssembler.toJsonDocument(studyNodes.unionByName(ddNodes), edges)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/kgx.json"), kgx)

    Result(variableIndex, kgx, skippedDds)
  }
}
