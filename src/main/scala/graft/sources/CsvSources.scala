package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Filters, Projections}

/** CSV/TSV scans with the reference's fixed schemas (SURVEY.md S1/S2).
  *
  * Schemas are explicit `StructType`s (never inferSchema on the hot path —
  * inference is an extra full scan at 100 TB); dialect = `sep` option,
  * mirroring csv.DictReader's excel / excel-tab dialects
  * (scripts/bdc/get_dbgap_data_dicts.py:176-191).
  */
object CsvSources {

  /** Gen3 study CSV (SLMD) schema —
    * scripts/bdc/get_bdc_studies_from_gen3.py:247-250. */
  val gen3StudySchema: StructType = StructType(Seq(
    "Accession", "Consent", "Study Name", "Program", "Last modified", "Notes",
    "Description").map(StructField(_, StringType, nullable = true)))

  def readGen3Studies(spark: SparkSession, path: String, sep: String = ","): DataFrame =
    spark.read.option("header", "true").option("sep", sep)
      .schema(gen3StudySchema).csv(path)

  /** Permissive read with corrupt-row quarantine (SURVEY.md §1.3:
    * validation-as-schema-enforcement): rows that don't parse land with
    * their raw text in `_corrupt_record` instead of killing the scan or
    * silently disappearing — the F9 quarantine pattern at the source. */
  def readGen3StudiesQuarantined(spark: SparkSession, path: String,
                                 sep: String = ","): DataFrame = {
    val withCorrupt = StructType(
      gen3StudySchema.fields :+ StructField("_corrupt_record", StringType, nullable = true))
    spark.read.option("header", "true").option("sep", sep)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).csv(path)
  }

  /** PicSure variable CSV (VLMD) — columns actually consumed by the
    * reference (get_bdc_studies_md_from_picsure.py:40-46,
    * xml_generator.py:50,122,130-155). */
  val picsureVarSchema: StructType = StructType(Seq(
    StructField("studyId", StringType), StructField("dtId", StringType),
    StructField("varId", StringType), StructField("derived_var_name", StringType),
    StructField("derived_group_name", StringType), StructField("description", StringType),
    StructField("columnmeta_name", StringType),
    StructField("columnmeta_description", StringType),
    StructField("columnmeta_var_group_description", StringType),
    StructField("is_categorical", StringType), StructField("values", StringType)))

  /** Raw PicSure read + typed projection: `values` python-literal list →
    * array<string> (never eval — SURVEY.md §7.4), `is_categorical` →
    * boolean. */
  def readPicsureVars(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(picsureVarSchema).csv(path)
      .withColumn("values_arr", Projections.parsePyLiteralList(col("values")))
      .withColumn("is_categorical",
        Projections.lowercase(coalesce(col("is_categorical"), lit("false"))) === "true")

  /** PicSure clean rule (F1): required ids/description present AND
    * varId LIKE 'phv%' — get_bdc_studies_md_from_picsure.py:34-51. */
  def cleanPicsureVars(df: DataFrame): DataFrame =
    Filters.notNullWithPrefix(df,
      Seq("dtId", "varId", "derived_var_name", "description"), "varId", "phv")

  /** HDPID → research-network mapping CSV (J4 build side) —
    * scripts/heal/data/ResearchNetworksMappedToHDPID_Feb2025.csv. */
  val hdpidMappingSchema: StructType = StructType(Seq(
    "HDPID", "Part of a Research Network?", "HEAL Study Type",
    "Research Network Name").map(StructField(_, StringType, nullable = true)))

  def readHdpidMapping(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(hdpidMappingSchema).csv(path)
}
