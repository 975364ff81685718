package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ops.{Filters, Joins, Projections}
import graft.render.{DbGapXmlRenderer, DocumentSink, SummaryReport}

/** BDC ingest lifecycle (SURVEY.md §3.1): Gen3 SLMD CSV + PicSure VLMD CSV
  * → validation split → equi-join → per-data-table XML documents
  * partitioned by normalized program dir + summary report.
  *
  * Two actions, instead of the reference's CSV-file handoffs between
  * processes (ingest.sh:45-64):
  *  - Gen3 is metadata scale (one row per study), so it is scanned once,
  *    each row tagged with its first missing field, and collected in one
  *    ceiling-guarded action. The valid studies, the rejects and the
  *    status summary are local relations built from those rows, and
  *    `processing_summary.txt` renders from the rows themselves: no later
  *    action re-reads Gen3 and no report starts a job.
  *  - PicSure (one row per variable) is the one data-scale input and is
  *    never staged: holding it would cost heap in proportion to the
  *    variable count. Its single scan is the document write's. That write
  *    sends the data-table and GapExchange documents out over their union,
  *    with one shuffle past the broadcast join, which the renderer's
  *    clustering on the document key asks for (it sorts each document's
  *    rows by `varId` inside it, so no window numbers them).
  *    The same scan observes the Gen3∩PicSure overlap and the PicSure row
  *    count through `Dataset.observe`, so the overlap costs no second scan.
  */
object BdcIngest {

  /** What the run read and wrote, from the Gen3 collect, the PicSure
    * scan's observation and the document write's accumulator (no job of
    * their own). `picsureRows` counts the rows of the `picsure` frame as
    * passed in; it is 0 when no study is valid, since the document write
    * then has no variable to join and skips the PicSure scan.
    * `documentsByDir` counts the data-table and GapExchange documents
    * written per program dir. */
  case class Counts(gen3Rows: Long, validRows: Long,
                    rejectsByReason: Map[String, Long], picsureRows: Long,
                    documentsByDir: Map[String, Long])

  case class Result(valid: DataFrame, rejects: DataFrame, summary: DataFrame,
                    processingSummary: String, counts: Counts)

  val requiredStudyFields: Seq[String] =
    Seq("Accession", "Consent", "Study Name", "Program", "Description")

  private val summarySchema = StructType(Seq(
    StructField("status", StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("ids", StringType, nullable = false)))

  /** Full pipeline. `gen3` / `picsure` as read by CsvSources (picsure
    * already cleaned). Writes XML docs under `outDir/<program>/<study>/`
    * and returns the report DataFrames (local relations over the collected
    * Gen3 rows). The driver-side Gen3 collect is ceilinged at
    * `DocumentSink.MaxSingleFileRows` rows (metadata-scale by contract);
    * the overlap ids are valid study ids, so that ceiling bounds them
    * too. */
  def run(spark: SparkSession, gen3: DataFrame, picsure: DataFrame, outDir: String): Result = {
    // F2 validation tag (null reason = valid) + P1/P9 join key and program
    // directory name, in one Gen3 scan and one guarded collect
    val tagged = Filters.validationTag(gen3, requiredStudyFields)
      .withColumn("study_id", Projections.splitPart(col("Accession"), ".", 1))
      .withColumn("program_dir", Projections.normalizeName(col("Program")))
    val maxStudies = DocumentSink.MaxSingleFileRows
    val rows = tagged.limit(DocumentSink.probeLimit(maxStudies)).collect()
    require(rows.length <= maxStudies,
      s"Gen3 study list collects to the driver (> $maxStudies rows); " +
        "the study list should be metadata-scale")
    def field(name: String)(r: Row): String = r.getAs[String](name)
    def accession(r: Row): String = Option(field("Accession")(r)).getOrElse("(no accession)")
    val (validRows, rejectRows) = rows.partition(field("reason")(_) == null)
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), tagged.schema)
    val studies = local.filter(col("reason").isNull).drop("reason")
    val rejects = local.filter(col("reason").isNotNull).drop("study_id", "program_dir")

    // the overlap (J8, write_summary's Gen3∩PicSure: run_dbgap_xml_gen_
    // fallback.py:97-104): phs values harvested from ANY picsure column,
    // first dot-part, that name a valid study, so the set is bounded by
    // the valid-study count. Only string columns are scanned: a `phs` id
    // is text, and the typed columns the source adds (`values_arr`,
    // `is_categorical`) can never hold one. The write's PicSure scan
    // observes it, with the row count. With no valid study the join below
    // is empty and Spark never reads PicSure: the observation is skipped.
    val validIds = validRows.map(field("study_id")).distinct.toSeq
    val textCols = picsure.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSeq
    val metrics = count(lit(1)).as("rows") +: textCols.zipWithIndex.map { case (c, i) =>
      val id = substring_index(col(c), ".", 1)
      collect_set(when(col(c).startsWith("phs") && id.isin(validIds: _*), id)).as(s"ids_$i")
    }
    val observation = Observation("bdc_picsure")
    val vars =
      if (validIds.isEmpty) picsure
      else picsure.observe(observation, metrics.head, metrics.tail: _*)

    // J1: per-study variable rows; Gen3 is the small metadata side
    val joined = Joins.broadcastEquiJoin(
      vars, studies, vars("studyId") === studies("study_id"))

    // categorical values: position in the list IS the code
    // (xml_generator.py:151-156)
    val values = when(col("is_categorical"),
      transform(col("values_arr"), (v, i) =>
        struct((i + 1).cast("string").as("code"), v.as("label"))))

    val renderInput = joined.select(
      col("dtId").as("dt_id"),
      col("Accession").as("study_id"),
      col("Study Name").as("study_name"),
      col("columnmeta_var_group_description").as("group_description"),
      concat(col("program_dir"), lit("/")).as("path_prefix"),
      // encounter order within a data table: the renderer orders by varId
      col("varId").as("pos"),
      col("varId").as("var_id"),
      col("derived_var_name").as("var_name"),
      col("columnmeta_name").as("var_title"),
      // picsure-side ref: "description" also matches Gen3's "Description"
      // under case-insensitive resolution
      vars("description").as("var_description"),
      when(col("is_categorical"), "encoded value").otherwise("string").as("var_type"),
      values.as("values"))

    // companion GapExchange study frame per study (xml_generator.py:63-109),
    // in the same normalized program dir as the data tables; both document
    // kinds go out in one write
    val documents = DocumentSink.writeDocuments(
      DbGapXmlRenderer.renderDataTables(renderInput).union(
        DbGapXmlRenderer.renderGapExchange(studies.select(
          col("Accession").as("study_id"),
          col("Study Name").as("study_name"),
          col("Description").as("study_description"),
          concat(col("program_dir"), lit("/")).as("path_prefix")))), outDir)

    val (picsureRows, overlapIds) =
      if (validIds.isEmpty) (0L, Seq.empty[String])
      else {
        // Spark reports no metrics for an observed scan that is not in the
        // write's final plan: adaptive execution drops the join's stage
        // once it has run empty (no PicSure row names a valid study). Only
        // then is the overlap an aggregate of its own.
        val m = Some(observation.get).filter(_.nonEmpty).getOrElse {
          val r = picsure.agg(metrics.head, metrics.tail: _*).head()
          r.getValuesMap[Any](r.schema.fieldNames.toSeq)
        }
        (m("rows").asInstanceOf[Long], textCols.indices.flatMap(i =>
          m(s"ids_$i").asInstanceOf[scala.collection.Seq[String]]).distinct)
      }

    // A4-style summary: processed studies vs rejects by reason, ids in
    // Spark's string order (`array_sort`'s)
    val summary = spark.createDataFrame(java.util.Arrays.asList(Seq(
        "generated" -> validRows.map(field("study_id")),
        "skipped" -> rejectRows.map(accession))
      .collect { case (status, ids) if ids.nonEmpty => Row(status, ids.length.toLong,
        ids.sortWith(DbGapXmlRenderer.compareUtf8(_, _) < 0).mkString("|"))
      }: _*), summarySchema)

    // A9/K6: processing_summary.txt (write_summary, run_dbgap_xml_gen_
    // fallback.py:80-161) — per-study statuses of the collected rows (a
    // reject's study_id is its Accession's first dot-part, "" without
    // one) + the overlap
    val statuses = validRows.map(r => (field("study_id")(r), field("Accession")(r),
        "SUCCESS", "XML_generator", "Generated from PicSure metadata")) ++
      rejectRows.map(r => (field("study_id")(r), accession(r), "FAILED", "none",
        field("reason")(r)))
    val summaryText = SummaryReport.writeProcessingSummary(statuses.toSeq, overlapIds, outDir)

    val counts = Counts(rows.length.toLong, validRows.length.toLong,
      rejectRows.groupBy(field("reason")).map { case (r, rs) => r -> rs.length.toLong },
      picsureRows, documents)
    Result(studies, rejects, summary, summaryText, counts)
  }
}
