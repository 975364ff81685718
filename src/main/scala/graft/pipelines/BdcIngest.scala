package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.ops.{Filters, Joins, Projections}
import graft.render.{DbGapXmlRenderer, DocumentSink, SummaryReport}

/** BDC ingest lifecycle (SURVEY.md §3.1): Gen3 SLMD CSV + PicSure VLMD CSV
  * → validation split → equi-join → per-data-table XML documents
  * partitioned by normalized program dir + summary report.
  *
  * One lazy Catalyst plan per output instead of the reference's
  * CSV-file handoffs between processes (ingest.sh:45-64). Nothing is
  * staged: the only materialization points are the sinks, one action
  * each — the data-table and GapExchange documents go out in one write
  * over their union, the overlap ids in one guarded collect, and the
  * summary in one collect. The PicSure frame (one row per variable) is
  * deliberately not staged: it is the one data-scale input, and holding
  * it would cost heap in proportion to the variable count. The data-table
  * documents take one shuffle past the broadcast join: the renderer sorts
  * each document's rows by `varId` inside it, so no window numbers them.
  */
object BdcIngest {

  case class Result(valid: DataFrame, rejects: DataFrame, summary: DataFrame,
                    processingSummary: String)

  val requiredStudyFields: Seq[String] =
    Seq("Accession", "Consent", "Study Name", "Program", "Description")

  /** Full pipeline. `gen3` / `picsure` as read by CsvSources (picsure
    * already cleaned). Writes XML docs under `outDir/<program>/<study>/`
    * and returns the report DataFrames (lazily evaluated).
    * `maxOverlapIds` ceilings the driver-side overlap-id collect (the
    * study-id universe is metadata-scale by contract). */
  def run(spark: SparkSession, gen3: DataFrame, picsure: DataFrame,
          outDir: String,
          maxOverlapIds: Long = DocumentSink.MaxSingleFileRows): Result = {
    // F2 validation split with tracked reasons
    val (valid, rejects) = Filters.validationSplit(gen3, requiredStudyFields)

    // P1/P9: join key + program directory name
    val studies = valid
      .withColumn("study_id", Projections.splitPart(col("Accession"), ".", 1))
      .withColumn("program_dir", Projections.normalizeName(col("Program")))

    // J1: per-study variable rows; Gen3 is the small metadata side
    val joined = Joins.broadcastEquiJoin(
      picsure, studies, picsure("studyId") === studies("study_id"))

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
      picsure("description").as("var_description"),
      when(col("is_categorical"), "encoded value").otherwise("string").as("var_type"),
      values.as("values"))

    // companion GapExchange study frame per study (xml_generator.py:63-109),
    // in the same normalized program dir as the data tables; both document
    // kinds go out in one write
    DocumentSink.writeDocuments(
      DbGapXmlRenderer.renderDataTables(renderInput).union(
        DbGapXmlRenderer.renderGapExchange(studies.select(
          col("Accession").as("study_id"),
          col("Study Name").as("study_name"),
          col("Description").as("study_description"),
          concat(col("program_dir"), lit("/")).as("path_prefix")))), outDir)

    // A4-style summary: processed studies vs rejects by reason
    val summary = studies.select(lit("generated").as("status"),
        col("study_id").as("id"))
      .unionByName(rejects.select(lit("skipped").as("status"),
        coalesce(col("Accession"), lit("(no accession)")).as("id")))
      .groupBy(col("status")).agg(count(lit(1)).as("n"),
        concat_ws("|", array_sort(collect_list(col("id")))).as("ids"))

    // A9/K6: processing_summary.txt (write_summary, run_dbgap_xml_gen_
    // fallback.py:80-161) — per-study status frame + the Gen3∩PicSure
    // overlap, which is exactly the J8 prefix-scan membership (phs values
    // harvested from ANY picsure column, first dot-part, ∩ gen3 ids)
    val perStudy = studies.select(col("study_id"),
        col("Accession").as("accession_id"),
        lit("SUCCESS").as("status"), lit("XML_generator").as("method"),
        lit("Generated from PicSure metadata").as("details"))
      .unionByName(rejects.select(
        Projections.splitPart(col("Accession"), ".", 1).as("study_id"),
        coalesce(col("Accession"), lit("(no accession)")).as("accession_id"),
        lit("FAILED").as("status"), lit("none").as("method"),
        col("reason").as("details")))
    // Driver-side collect for the one-file report: ceiling-guarded like
    // every other metadata-scale sink (DocumentSink.writeSingleCsv,
    // KgxAssembler.toJsonDocument) so data-scale misuse raises, not OOMs.
    // One action: the guard is the collect's own limit (a result longer
    // than the ceiling ⇔ the overlap exceeds it); a probe count first
    // would scan PicSure a second time. Only string columns are
    // scanned: a `phs` id is text, and the typed columns the source adds
    // (`values_arr` casts to "[…]", `is_categorical` to true/false) can
    // never start with it, so casting them per row would find nothing.
    val textCols = picsure.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSeq
    val overlapIds = Joins.prefixScanMembership(picsure, textCols,
        "phs", studies.select(col("study_id")).distinct(), "study_id")
      .limit(DocumentSink.probeLimit(maxOverlapIds))
      .collect().map(_.getString(0)).toSeq
    require(overlapIds.length <= maxOverlapIds,
      s"overlap id list collects to the driver (> $maxOverlapIds rows); " +
        "the study-id universe should be metadata-scale")
    val summaryText =
      SummaryReport.writeProcessingSummary(perStudy, overlapIds, outDir)

    Result(studies, rejects, summary, summaryText)
  }
}
