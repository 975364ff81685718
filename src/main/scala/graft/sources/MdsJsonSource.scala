package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MapType, StringType, StructType}
import graft.ops.Projections

/** HEAL MDS study-JSON scan (SURVEY.md S8) + alias normalization (P6) +
  * variable-index flattening — the schema-on-read layer of the HEAL
  * pipeline (get_heal_platform_mds_data_dicts.py:128-141,176-216,36-63).
  *
  * Heterogeneity handled declaratively:
  *  - field aliases: `name`←`property`, `section`←`module`←`node` via
  *    `coalesce` over the parsed struct;
  *  - 404-stub dicts (`{"@id":…, "error":…, "fields":[]}`) stay as
  *    quarantine rows (error IS NOT NULL) — F9 semantics — and so do
  *    dicts without a study id or an `@id` ([[skipReason]]);
  *  - `enumLabels` (newer map form) preferred over packed
  *    `constraints.encodings` — both emitted packed `k=v|k=v` (P12);
  *  - absent fields become typed nulls (schema evolves across harvests,
  *    so every access is guarded against the column not existing).
  */
object MdsJsonSource {

  /** Read a directory of per-study MDS JSON documents (one nested object
    * per file; a top-level array yields one row per element, a malformed
    * file one `_corrupt_record` row).
    *
    * Each file is read whole by the text source and inferred and parsed as
    * one JSON string (`spark.read.json(Dataset[String])`). That gives the
    * rows and schema of the `multiLine` JSON reader at a tenth of its
    * inference cost: over 120 files (694 KB) on a warm JVM, the multiLine
    * read took 2.0–2.8 s per call and the whole-text read 0.16–0.30 s
    * (PERF.md "Fixed costs the data never needed"). Files are read as
    * UTF-8 (RFC 8259 §8.1); the byte-level multiLine reader's UTF-16/32
    * auto-detection is gone. A leading byte-order mark is dropped, as that
    * reader dropped it.
    */
  def readStudies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = spark.read.option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .text(dir)
      .select(regexp_replace(col("value"), "^\uFEFF", "").as("value"))
      .as[String]
    spark.read.json(docs)
  }

  /** `col(path)` if the nested field exists in this batch's schema, else a
    * null literal — schema-drift guard for evolving MDS documents. */
  private def fieldOrNull(df: DataFrame, path: String): Column = {
    val parts = path.split("\\.").toList
    def walk(dt: DataType, rest: List[String]): Boolean = (dt, rest) match {
      case (_, Nil) => true
      case (s: StructType, h :: t) => s.find(_.name == h).exists(f => walk(f.dataType, t))
      case _ => false
    }
    if (walk(df.schema, parts))
      parts.tail.foldLeft(col(parts.head))(_ getField _) // getField: '@id' etc. safe
    else lit(null)
  }

  /** One row per (study, data-dictionary): id, label, error, fields.
    * Batches with no data_dictionaries column at all (schema drift) yield
    * an empty frame instead of an AnalysisException. */
  def dataDictionaries(studies: DataFrame): DataFrame = {
    if (!studies.columns.contains("data_dictionaries"))
      return studies.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("study_id", StringType),
          org.apache.spark.sql.types.StructField("dd_id", StringType),
          org.apache.spark.sql.types.StructField("dd_label", StringType),
          org.apache.spark.sql.types.StructField("dd_error", StringType),
          org.apache.spark.sql.types.StructField("fields",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("name", StringType))))))))
    val exploded = studies.select(
      fieldOrNull(studies, "gen3_discovery._hdp_uid").cast("string").as("study_id"),
      explode(col("data_dictionaries")).as("dd"))
    def d(p: String): Column = fieldOrNull(exploded, s"dd.$p")
    exploded.select(col("study_id"),
      d("@id").cast("string").as("dd_id"),
      d("label").cast("string").as("dd_label"),
      d("error").cast("string").as("dd_error"),
      d("fields").as("fields"))
  }

  /** Flatten studies → one row per variable (the reference's variable
    * index, header at get_heal_platform_mds_data_dicts.py:502-511). */
  def variableIndex(studies: DataFrame): DataFrame =
    variableIndexOf(dataDictionaries(studies))

  /** Why a [[dataDictionaries]] row stays out of the variable index, or
    * null when it goes in. The first that holds: no study id (no
    * `_hdp_uid`), no dictionary id (no `@id`) — either would name a
    * `null` document path shared by every such dictionary — or the
    * harvest's error (F9: a 404 stub). */
  val skipReason: Column =
    when(col("study_id").isNull, lit("missing study id (_hdp_uid)"))
      .when(col("dd_id").isNull, lit("missing dictionary id (@id)"))
      .otherwise(col("dd_error"))

  /** [[variableIndex]] over an already-built [[dataDictionaries]] frame,
    * so a caller that stages the dictionaries parses the JSON once for the
    * index and everything else it derives from them. */
  def variableIndexOf(dds: DataFrame): DataFrame = {
    val ok = dds.filter(skipReason.isNull) // F9 quarantine split
    val vars = ok.select(col("study_id"), col("dd_id"),
      posexplode(col("fields")).as(Seq("pos", "f")))
    def f(path: String): Column = fieldOrNull(vars, s"f.$path")
    vars.select(
      col("study_id"), col("dd_id"), col("pos"),
      coalesce(f("name"), f("property")).cast("string").as("name"),
      coalesce(f("section"), f("module"), f("node")).cast("string").as("section"),
      f("title").cast("string").as("title"),
      f("description").cast("string").as("description"),
      f("type").cast("string").as("type"),
      {
        // spark.read.json infers JSON objects as structs with fields
        // SORTED BY NAME, so entry order here is sorted-key order — a
        // documented deviation from the reference's dict insertion order
        // (unrecoverable after schema inference, and arguably more
        // canonical for value codes).
        val enumMap = from_json(to_json(f("enumLabels")), MapType(StringType, StringType))
        coalesce(
          when(enumMap.isNotNull,
            concat_ws("|", transform(map_entries(enumMap),
              e => concat_ws("=", e("key"), e("value"))))),
          f("constraints.encodings").cast("string")).as("encodings")
      },
      {
        // map form carried alongside the packed string: downstream render
        // must NOT re-parse `encodings` (labels containing '|' would
        // corrupt the split)
        val enumMap = from_json(to_json(f("enumLabels")), MapType(StringType, StringType))
        coalesce(enumMap, Projections.packedMap(f("constraints.encodings").cast("string")))
          .as("enum_map")
      },
      f("constraints.minimum").cast("string").as("logical_min"),
      f("constraints.maximum").cast("string").as("logical_max"))
  }
}
