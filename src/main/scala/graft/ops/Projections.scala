package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar projection operators (SURVEY.md §2.3, P1–P17).
  *
  * Each combinator is a pure `Column => Column` (or `Column* => Column`)
  * expression built from `org.apache.spark.sql.functions._` so Catalyst
  * codegens it and pushes it into whole-stage pipelines; no UDFs, no
  * driver-side logic. Reference semantics cited per-op (file:line refer to
  * the reference repo snapshot at /root/reference).
  */
object Projections {

  /** P1 — split-part key derivation: `study_id = accession.split('.')[0]`.
    * True nth-token semantics (1-based, missing part → "", matching ANSI
    * split_part — substring_index would return the whole PREFIX for
    * part ≥ 2). Ref: scripts/bdc/xml_generator.py:21. */
  def splitPart(c: Column, sep: String, part: Int): Column =
    coalesce(get(split(c, java.util.regex.Pattern.quote(sep)), lit(part - 1)), lit(""))

  /** P2 — nth split token with default when absent OR empty (consecutive
    * separators yield "" which also falls back, matching the oracle's
    * NULLIF). Uses 0-based `get` (null on out-of-bounds — safe under ANSI
    * mode, unlike `element_at`). Ref: scripts/bdc/xml_generator.py:25-32. */
  def splitTokenOrDefault(c: Column, sepRegex: String, idx: Int, dflt: String): Column =
    coalesce(nullif(get(split(c, sepRegex), lit(idx)), lit("")), lit(dflt))

  /** P3 — regex group extract; empty string on non-match (caller filters).
    * Ref: scripts/bdc/get_bdc_studies_from_gen3.py:213-226. */
  def regexGroup(c: Column, pattern: String, group: Int): Column =
    regexp_extract(c, pattern, group)

  /** P5/P6 — preference coalesce over alias chain with literal fallback.
    * Ref: get_bdc_studies_from_gen3.py:142-160,
    * get_heal_platform_mds_data_dicts.py:36-63. Empty strings count as
    * missing, mirroring the reference's falsy checks. */
  def preferenceCoalesce(fallback: String, cols: Column*): Column =
    coalesce(cols.map(c => nullif(c, lit(""))) :+ lit(fallback): _*)

  /** P6 — preference coalesce over an alias chain that RAISES when every
    * candidate is absent/empty (the reference treats a nameless record as a
    * hard error, not a silent default).
    * Ref: get_heal_platform_mds_data_dicts.py:36-63. */
  def aliasChainOrError(errMsg: Column, cols: Column*): Column = {
    val cands = cols.map(c => nullif(c, lit("")))
    // when/otherwise evaluates raise_error lazily, per-row (ANSI-safe)
    when(cands.map(_.isNull).reduce(_ && _), raise_error(errMsg))
      .otherwise(coalesce(cands: _*))
  }

  /** P7 — formatted notes column. Ref: get_bdc_studies_from_gen3.py:134-140. */
  def formatNotes(fmt: String, cols: Column*): Column =
    format_string(fmt, cols: _*)

  /** P8 — null-safe stringify (NaN/null → default).
    * Ref: scripts/bdc/xml_generator.py:57-61 (`safe_text`). */
  def nullSafeString(c: Column, dflt: String = ""): Column =
    coalesce(c.cast("string"), lit(dflt))

  /** P9 — program-name normalization: first pipe-token, trim, [ /]→_,
    * lowercase, default. Ref: run_dbgap_xml_gen_fallback.py:164-179. */
  def normalizeName(c: Column, dflt: String = "unknown_program"): Column =
    coalesce(
      nullif(lowercase(regexp_replace(trim(substring_index(c, "|", 1)), "[ /]", "_")), lit("")),
      lit(dflt))

  /** `lower(c)`, value for value, without the one-off cost Spark 4.1's
    * `lower` pays on its first call in a JVM: ICU title-cases every code
    * point to build a table `lower` never reads. See
    * [[graft.functions.IcuLower]]. The input is cast to string, as
    * `lower`'s implicit cast does. */
  def lowercase(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(graft.functions.IcuLower(
      org.apache.spark.sql.graftbridge.Bridge.expression(
        c.cast(org.apache.spark.sql.types.StringType))))

  /** P10 — pipe-join of sorted distinct values (array form).
    * Ref: get_bdc_studies_from_gen3.py:229-236. */
  def pipeJoinSortedDistinct(arr: Column): Column =
    concat_ws("|", array_sort(array_distinct(arr)))

  /** P11 — packed-map parse: `"k=v|k=v"` → map<string,string>, values
    * trimmed. Ref: get_heal_platform_mds_data_dicts.py:449-453. */
  def parsePackedMap(c: Column): Column =
    transform_values(packedMap(c), (_, v) => trim(v))

  /** `str_to_map(c, '\\|', '=')`, value for value: the same regex splits
    * (pairs with no limit, so empty pairs stay; each pair at its first
    * `=`), a pair with no `=` maps to null, entries keep their order, and a
    * repeated key follows `spark.sql.mapKeyDedupPolicy` (it raises by
    * default). Built from `split` and `map_from_entries` because Spark
    * 4.1's `str_to_map` splits through the collation layer, whose first
    * call in a JVM builds an ICU title-case table over every code point. */
  def packedMap(c: Column): Column =
    map_from_entries(transform(split(c, "\\|", -1), kv => {
      val parts = split(kv, "=", 2)
      struct(get(parts, lit(0)).as("key"), get(parts, lit(1)).as("value"))
    }))

  /** P12 — map → packed `"k=v|k=v"` string (inverse of P11).
    * Ref: get_heal_platform_mds_data_dicts.py:455-467. */
  def packMap(m: Column): Column =
    concat_ws("|", transform(map_entries(m), e => concat_ws("=", e("key"), e("value"))))

  /** P13 — stringified-list parse, portable form. The reference `eval()`s
    * Python-literal lists (xml_generator.py:147); this variant normalizes
    * single→double quotes and `from_json`s — fine for simple values and
    * expressible in any ANSI engine (oracle-checked). For values with
    * embedded apostrophes/escapes use [[parsePyLiteralList]]. */
  def parseStringifiedList(c: Column): Column =
    from_json(regexp_replace(c, "'", "\""), org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType))

  /** P13 — robust native parser for Python-literal lists (both quote
    * styles, escapes; malformed → null, never eval). */
  def parsePyLiteralList(c: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PyLiteralListParse(
        org.apache.spark.sql.graftbridge.Bridge.expression(c)))

  /** P14 — small value→code encoding via literal map.
    * Ref: scripts/bdc/xml_generator.py:151-156. */
  def encodeValues(c: Column, mapping: Map[String, Int]): Column = {
    val m = map(mapping.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*)
    try_element_at(m, c) // try_: null (not ANSI error) on unmapped value
  }

  /** P15 — nested JSON path extract with default.
    * Ref: get_bdc_studies_from_gen3.py:162-170. */
  def jsonPath(c: Column, path: String, dflt: String = ""): Column =
    coalesce(get_json_object(c, path), lit(dflt))

  /** P17 — URL construction. Ref: get_bdgap_data_dicts url build :94. */
  def buildUrl(base: String, idCol: Column): Column =
    concat(lit(base), idCol.cast("string"))
}
