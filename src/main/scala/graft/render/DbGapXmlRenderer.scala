package graft.render

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

/** dbGaP XML document rendering (SURVEY.md K3).
  *
  * The reference builds one `data_table` XML document per (study,
  * data-table) group with ElementTree (xml_generator.py:111-186,
  * get_heal_platform_mds_data_dicts.py:302-499). Spark-first shape: the
  * renderer groups on `(dt_id, study_id)` with each group's rows sorted
  * (`flatMapSortedGroups`), so it requires its input clustered on the
  * document key and Spark plans a shuffle only when the input is not
  * already: one exchange for BDC's joined PicSure rows, none for HEAL's
  * index, staged hash-partitioned on the same key. Each group folds into
  * its XML string ON THE EXECUTORS — one row per document, fully
  * distributed, no driver collect, and one document in memory per task.
  * The sink ([[DocumentSink]]) writes each (path, content) row from
  * `foreachPartition`.
  *
  * Exact-layout notes (SURVEY.md §7.4): element order and the stylesheet
  * header match the reference's writer; tests compare canonicalized XML.
  */
object DbGapXmlRenderer {

  /** XML-escapes `& < > "`; null renders as "". A string with nothing to
    * escape is returned as is. */
  def escape(s: String): String = {
    if (s == null) return ""
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) return s
    val sb = new java.lang.StringBuilder(s.length + 16).append(s, 0, i)
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => sb.append("&amp;")
        case '<' => sb.append("&lt;")
        case '>' => sb.append("&gt;")
        case '"' => sb.append("&quot;")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def needsEscape(c: Char): Boolean =
    c == '&' || c == '<' || c == '>' || c == '"'

  /** Spark's string order: UTF-8 bytes compared unsigned, nulls first.
    * On well-formed strings (every string decoded from a Spark row is
    * one) that is code-point order, which this compares without encoding;
    * `String.compareTo` is UTF-16 order and differs above U+FFFF. */
  private[graft] def compareUtf8(x: String, y: String): Int =
    if (x eq null) { if (y eq null) 0 else -1 }
    else if (y eq null) 1
    else {
      var i = 0
      var j = 0
      var c = 0
      while (c == 0 && i < x.length && j < y.length) {
        val a = x.codePointAt(i)
        val b = y.codePointAt(j)
        c = Integer.compare(a, b)
        i += Character.charCount(a)
        j += Character.charCount(b)
      }
      if (c != 0) c else Integer.compare(x.length - i, y.length - j)
    }

  /** The smaller of two strings in Spark's order, nulls skipped (`min`). */
  private def minUtf8(cur: String, v: String): String =
    if (v == null || (cur != null && compareUtf8(v, cur) >= 0)) cur else v

  private val Columns = Seq("dt_id", "study_id", "study_name",
    "group_description", "path_prefix", "pos", "var_id", "var_name",
    "var_title", "var_description", "var_type", "values")

  /** Assemble per-data-table documents from a variable-level DataFrame.
    *
    * Expected columns: dt_id, study_id, study_name, group_description,
    * path_prefix ("" or "subdir/" — K4 partitioned layout), pos (any
    * orderable encounter-order key: HEAL's list position, BDC's varId),
    * var_id, var_name, var_title, var_description, var_type,
    * values (array<struct<code,label>> nullable).
    * Returns (path, content) rows: one XML document per (dt_id, study_id).
    * Variables come out in (pos, var_id, …, values) order; the header's
    * study_name, group_description and path_prefix are each the group's
    * `min`. Input already clustered on the document key (hash-partitioned
    * on `(dt_id, study_id)` or on a subset of it) is rendered without an
    * exchange.
    */
  def renderDataTables(vars: DataFrame): Dataset[(String, String)] = {
    val input = vars.select(Columns.map(col): _*)
    // within a document: the variable's fields from pos on, ascending,
    // nulls first, so a tie in pos falls to the later fields (struct order)
    input.groupBy(col("dt_id"), col("study_id"))
      .as[(String, String), Row](Encoders.tuple(Encoders.STRING, Encoders.STRING),
        Encoders.row(input.schema))
      .flatMapSortedGroups(Columns.drop(Columns.indexOf("pos")).map(col): _*) {
        (key: (String, String), rows: Iterator[Row]) =>
          val (dtId, studyId) = key
          var studyName: String = null
          var desc: String = null
          var prefix: String = null
          val body = new java.lang.StringBuilder
          rows.foreach { r =>
            studyName = minUtf8(studyName, r.getString(2))
            desc = minUtf8(desc, r.getString(3))
            prefix = minUtf8(prefix, r.getString(4))
            appendVariable(body, r)
          }
          val doc = new java.lang.StringBuilder(body.length + 512)
          doc.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
            .append("<?xml-stylesheet type=\"text/xsl\" href=\"./datadict_v2.xsl\"?>\n")
            .append("<data_table id=\"").append(escape(dtId))
            .append("\" study_id=\"").append(escape(studyId))
            .append("\" participant_set=\"1\" study_name=\"").append(escape(studyName))
            .append("\">\n")
          if (desc != null)
            doc.append("  <description>").append(escape(desc)).append("</description>\n")
          doc.append(body).append("</data_table>\n")
          Iterator.single(
            (s"${Option(prefix).getOrElse("")}$studyId/$dtId.data_dict.xml", doc.toString))
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
  }

  /** One `<variable>` element of a [[renderDataTables]] input row. */
  private def appendVariable(sb: java.lang.StringBuilder, r: Row): Unit = {
    sb.append("  <variable id=\"").append(escape(r.getString(6))).append("\">\n")
    def child(tag: String, value: String): Unit =
      if (value != null)
        sb.append("    <").append(tag).append('>').append(escape(value))
          .append("</").append(tag).append(">\n")
    child("name", r.getString(7))
    child("title", r.getString(8))
    child("description", r.getString(9))
    child("type", r.getString(10))
    val values = r.getSeq[Row](11)
    if (values != null) values.foreach { value =>
      sb.append("    <value code=\"").append(escape(value.getAs[String]("code")))
        .append("\">").append(escape(value.getAs[String]("label"))).append("</value>\n")
    }
    sb.append("  </variable>\n")
  }

  /** Companion GapExchange study-frame document (xml_generator.py:63-109).
    * Honors an optional `path_prefix` column (K4 layout). */
  def renderGapExchange(studies: DataFrame): Dataset[(String, String)] = {
    val spark = studies.sparkSession
    import spark.implicits._
    val prefixCol =
      if (studies.columns.contains("path_prefix")) col("path_prefix") else lit("")
    studies.select(col("study_id"), col("study_name"), col("study_description"),
        prefixCol.as("path_prefix"))
      .map { row =>
        val id = row.getAs[String]("study_id")
        val name = escape(row.getAs[String]("study_name"))
        val desc = escape(row.getAs[String]("study_description"))
        val xml =
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<GaPExchange>
             |  <MetaVariables>
             |    <Submitter/>
             |    <Method/>
             |  </MetaVariables>
             |  <Studies>
             |    <Study accession="${escape(id)}">
             |      <Configuration>
             |        <Data/>
             |        <StudyNameEntrez>$name</StudyNameEntrez>
             |        <Description>$desc</Description>
             |      </Configuration>
             |    </Study>
             |  </Studies>
             |</GaPExchange>
             |""".stripMargin
        // raw id in the PATH (consistent with renderDataTables) — XML
        // escaping is for document content only
        val prefix = Option(row.getAs[String]("path_prefix")).getOrElse("")
        (s"$prefix$id/GapExchange_$id.xml", xml)
      }
  }
}
