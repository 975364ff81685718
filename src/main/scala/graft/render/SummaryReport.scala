package graft.render

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Human-readable processing summary (SURVEY.md A9/K6 parity).
  *
  * Renders the reference's `processing_summary.txt` layout
  * (run_dbgap_xml_gen_fallback.py:80-161 `write_summary`, a driver loop
  * over the study statuses) from per-study status rows (study_id,
  * accession_id, status, method, details). The statuses are metadata
  * scale (one row per study), like every report the reference writes:
  * a pipeline that already holds them on the driver renders them
  * directly, and a status frame is brought there by ONE ceiling-guarded
  * sorted collect (RenderSpec pins the single job). Detail order is
  * (study_id, accession_id) in Spark's string order — the reference
  * iterates pandas insertion order, which is not reproducible; sorting
  * is.
  */
object SummaryReport {

  /** One study's status: (study_id, accession_id, status, method, details). */
  type StudyStatus = (String, String, String, String, String)

  /** UTF-8 byte order, nulls first (the engine's own string collation) on
    * (study_id, accession_id). */
  private val byStudyAcc = new Ordering[StudyStatus] {
    def compare(a: StudyStatus, b: StudyStatus): Int = {
      val c = DbGapXmlRenderer.compareUtf8(a._1, b._1)
      if (c != 0) c else DbGapXmlRenderer.compareUtf8(a._2, b._2)
    }
  }

  def processingSummary(summary: DataFrame, overlapIds: Seq[String],
                        maxDetailRows: Long = DocumentSink.MaxSingleFileRows): String =
    render(statuses(summary, maxDetailRows), overlapIds)

  /** Write processing_summary.txt for a status frame (one guarded collect,
    * see [[processingSummary]]). */
  def writeProcessingSummary(summary: DataFrame, overlapIds: Seq[String],
                             outDir: String): String =
    writeProcessingSummary(statuses(summary, DocumentSink.MaxSingleFileRows), overlapIds, outDir)

  /** Write processing_summary.txt for statuses already on the driver, in
    * any order (no Spark job; the report is one small text document). */
  def writeProcessingSummary(statuses: Seq[StudyStatus], overlapIds: Seq[String],
                             outDir: String): String = {
    val text = render(statuses, overlapIds)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "processing_summary.txt"), text)
    text
  }

  private def statuses(summary: DataFrame, maxDetailRows: Long): Seq[StudyStatus] = {
    // ONE guarded collect: the frame is metadata-scale (one row per
    // study), so the counters AND every per-study detail section bucket
    // driver-side out of a single pass. takeOrdered is a single map+reduce
    // job (a Sort+Limit above the TakeOrdered fallback threshold would
    // split into shuffle stages) whose per-partition heaps bound both
    // executor and driver memory at ceiling+1 rows; a longer result than
    // the ceiling ⇔ the frame exceeds it.
    val rdd = summary
      .select(col("study_id").cast("string"), col("accession_id").cast("string"),
        col("status").cast("string"), col("method").cast("string"),
        col("details").cast("string"))
      .rdd
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4)))
    // takeOrdered pre-allocates its per-partition heap at the limit, so an
    // absurd ceiling (probeLimit degrades to Int.MaxValue) must not reach
    // it — that regime means "no effective ceiling": plain-collect instead
    val limit = DocumentSink.probeLimit(maxDetailRows)
    val rows =
      if (limit == Int.MaxValue) rdd.collect()
      else rdd.takeOrdered(limit)(byStudyAcc)
    require(rows.length <= maxDetailRows,
      s"processingSummary collects per-study detail rows to the driver " +
        s"(> $maxDetailRows rows); the summary frame should be metadata-scale")
    rows.toSeq
  }

  /** The summary text; statuses that tie on the sort key keep their order. */
  private def render(statuses: Seq[StudyStatus], overlapIds: Seq[String]): String = {
    val rows = statuses.sorted(byStudyAcc)
    val lines = scala.collection.mutable.ArrayBuffer(
      "\n" + "=" * 50,
      "PROCESSING SUMMARY",
      "=" * 50,
      s"Total studies processed: ${rows.length}",
      s"Successfully processed: ${rows.count(_._3 == "SUCCESS")}",
      s"  - Downloaded from dbGaP: ${rows.count(_._4 == "dbGaP_download")}",
      s"  - Generated with XML fallback: ${rows.count(_._4 == "XML_generator")}",
      s"Failed: ${rows.count(_._3 == "FAILED")}",
      s"Studies in both Gen3 and PicSure: ${overlapIds.size}")
    def section(title: String, in: Seq[StudyStatus], reason: String): Unit =
      if (in.nonEmpty) {
        lines += s"\n$title:"
        in.zipWithIndex.foreach { case ((s, a, _, _, d), i) =>
          lines += s"  ${i + 1}. $s ($a) - $reason$d"
        }
      }
    section("Studies downloaded from dbGaP", rows.filter(_._4 == "dbGaP_download"), "")
    section("Studies generated using XML generator", rows.filter(_._4 == "XML_generator"),
      "Reason: ")
    section("Failed studies", rows.filter(_._3 == "FAILED"), "Reason: ")
    if (overlapIds.nonEmpty) {
      lines += "\nStudies found in both Gen3 and PicSure:"
      lines += s"  ${overlapIds.sorted.mkString("\t")}"
    }
    lines.map(_ + "\n").mkString
  }
}
