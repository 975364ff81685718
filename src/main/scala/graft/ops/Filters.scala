package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filter / validation operators (SURVEY.md §2.4, F1–F10).
  *
  * The reference validates row-at-a-time and *tracks* rejects rather than
  * silently dropping them (scripts/bdc/get_bdc_studies_md_from_gen3.py:186-219).
  * We model that as a quarantine *split*: one declarative plan producing the
  * valid side and one producing the reject side with a `reason` column, so
  * both stay distributed DataFrames (no driver-side error lists).
  */
object Filters {

  /** F1 — multi-column not-null mask + prefix guard.
    * Ref: scripts/bdc/get_bdc_studies_md_from_picsure.py:34-51. */
  def notNullWithPrefix(df: DataFrame, requiredCols: Seq[String],
                        prefixCol: String, prefix: String): DataFrame = {
    val mask = requiredCols.map(col(_).isNotNull).reduce(_ && _) &&
      col(prefixCol).startsWith(prefix)
    df.filter(mask)
  }

  /** F2 — required-fields validation split. Returns (valid, rejects-with-reason):
    * the two sides of [[validationTag]].
    * Ref: get_bdc_studies_md_from_gen3.py:186-219. */
  def validationSplit(df: DataFrame, required: Seq[String]): (DataFrame, DataFrame) = {
    val tagged = validationTag(df, required)
    (tagged.filter(col("reason").isNull).drop("reason"), tagged.filter(col("reason").isNotNull))
  }

  /** F2 in one pass: every row of `df` with a `reason` column, null on a
    * valid row. A row is invalid when a required field is null or blank,
    * and its reason is "missing <field>" for the FIRST such field, mirroring
    * the reference's per-field skip report in its loop order. */
  def validationTag(df: DataFrame, required: Seq[String]): DataFrame =
    df.withColumn("reason", required.foldRight(lit(null).cast("string")) { (c, acc) =>
      when(col(c).isNull || trim(col(c).cast("string")) === "", lit(s"missing $c"))
        .otherwise(acc)
    })

  /** F4 — skip-set exclusion (NOT IN over a small driver-known set).
    * Ref: get_dbgap_data_dicts.py:144,168,223-228. */
  def skipSet(df: DataFrame, keyCol: String, skips: Seq[String]): DataFrame =
    if (skips.isEmpty) df else df.filter(!col(keyCol).isin(skips: _*))

  /** F5 — extension / suffix filter (only `.xml` objects etc.).
    * Ref: generate_lakefs_dbgap_xml_index.py:198-207. */
  def suffixFilter(df: DataFrame, c: String, suffix: String): DataFrame =
    df.filter(lower(col(c)).endsWith(suffix))

  /** F9 — error-row quarantine: null out payload on error rows, keep them;
    * downstream filters on `errorCond`. Ref:
    * get_heal_platform_mds_data_dicts.py:158-166,369-372. */
  def quarantinePayload(df: DataFrame, errorCond: Column, payloadCol: String): DataFrame =
    df.withColumn(payloadCol,
      when(errorCond, lit(null)).otherwise(col(payloadCol)))

  /** F10/K6 — log-line severity split (`grep ERROR`/`grep WARNING` over
    * the run log, scripts/heal/ingest.sh:26-27): one DataFrame per
    * severity plus the remainder. The splits are DISJOINT by precedence —
    * a line matching several severities lands only in the FIRST one (the
    * same first-match semantics as [[logSeverityTag]]'s CASE chain), so
    * the returned frames always partition the input. NOTE this diverges
    * from two *independent* greps, which would emit such a line twice;
    * filter severities independently if double-emission is wanted. Each
    * returned frame re-scans the input when materialized separately —
    * right when severities fan out to different sinks; for a single
    * downstream, [[logSeverityTag]] tags in ONE pass. */
  def logSeveritySplit(lines: DataFrame, lineCol: String,
                       severities: Seq[String] = Seq("ERROR", "WARNING"))
      : Map[String, DataFrame] = {
    val tagged = severities.zipWithIndex.map { case (sev, i) =>
      val notEarlier = severities.take(i)
        .map(e => !upper(col(lineCol)).contains(e))
        .foldLeft(lit(true))(_ && _)
      sev -> lines.filter(upper(col(lineCol)).contains(sev) && notEarlier)
    }.toMap
    val rest = severities.foldLeft(lines)((df, sev) =>
      df.filter(!upper(col(lineCol)).contains(sev)))
    tagged + ("OTHER" -> rest)
  }

  /** One-pass variant of [[logSeveritySplit]]: a `sev` column holds the
    * FIRST matching severity (grep precedence order) or OTHER — a pure
    * projection, single scan. */
  def logSeverityTag(lines: DataFrame, lineCol: String,
                     severities: Seq[String] = Seq("ERROR", "WARNING")): DataFrame =
    lines.withColumn("sev",
      severities.foldRight(lit("OTHER")) { (sev, acc) =>
        when(upper(col(lineCol)).contains(sev), lit(sev)).otherwise(acc)
      })
}
