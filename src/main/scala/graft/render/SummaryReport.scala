package graft.render

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Human-readable processing summary (SURVEY.md A9/K6 parity).
  *
  * Renders the reference's `processing_summary.txt` layout
  * (run_dbgap_xml_gen_fallback.py:80-161 `write_summary`) from a per-study
  * status frame with columns (study_id, accession_id, status, method,
  * details). The frame is metadata scale (one row per study), like every
  * report the reference writes, so ONE ceiling-guarded sorted collect
  * feeds counters and detail sections alike (RenderSpec pins the single
  * job). Detail order is (study_id, accession_id) — the reference
  * iterates pandas insertion order, which is not reproducible; sorting
  * is.
  */
object SummaryReport {

  def processingSummary(summary: DataFrame, overlapIds: Seq[String],
                        maxDetailRows: Long = DocumentSink.MaxSingleFileRows): String = {
    // ONE guarded collect: the frame is metadata-scale (one row per
    // study), so the counters AND every per-study detail section bucket
    // driver-side out of a single pass — the old shape ran five actions
    // (probe count, counter agg, three filtered collects) over the same
    // rows. takeOrdered is a single map+reduce job (a Sort+Limit above
    // the TakeOrdered fallback threshold would split into shuffle stages)
    // whose per-partition heaps bound both executor and driver memory at
    // ceiling+1 rows; a longer result than the ceiling ⇔ the frame
    // exceeds it. The ordering compares UTF-8 bytes, nulls first — the
    // engine's own string collation, so detail order is unchanged.
    val byStudyAcc = new Ordering[(String, String, String, String, String)] {
      def compare(a: (String, String, String, String, String),
                  b: (String, String, String, String, String)): Int = {
        val c = DbGapXmlRenderer.compareUtf8(a._1, b._1)
        if (c != 0) c else DbGapXmlRenderer.compareUtf8(a._2, b._2)
      }
    }
    val rdd = summary
      .select(col("study_id").cast("string"), col("accession_id").cast("string"),
        col("status").cast("string"), col("method").cast("string"),
        col("details").cast("string"))
      .rdd
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4)))
    // takeOrdered pre-allocates its per-partition heap at the limit, so an
    // absurd ceiling (probeLimit degrades to Int.MaxValue) must not reach
    // it — that regime means "no effective ceiling": plain-collect and
    // sort driver-side instead
    val limit = DocumentSink.probeLimit(maxDetailRows)
    val rows =
      if (limit == Int.MaxValue) rdd.collect().sorted(byStudyAcc)
      else rdd.takeOrdered(limit)(byStudyAcc)
    require(rows.length <= maxDetailRows,
      s"processingSummary collects per-study detail rows to the driver " +
        s"(> $maxDetailRows rows); the summary frame should be metadata-scale")

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

    val dl = rows.filter(_._4 == "dbGaP_download")
    if (dl.nonEmpty) {
      lines += "\nStudies downloaded from dbGaP:"
      dl.zipWithIndex.foreach { case ((s, a, _, _, d), i) =>
        lines += s"  ${i + 1}. $s ($a) - $d"
      }
    }
    val gen = rows.filter(_._4 == "XML_generator")
    if (gen.nonEmpty) {
      lines += "\nStudies generated using XML generator:"
      gen.zipWithIndex.foreach { case ((s, a, _, _, d), i) =>
        lines += s"  ${i + 1}. $s ($a) - Reason: $d"
      }
    }
    val failed = rows.filter(_._3 == "FAILED")
    if (failed.nonEmpty) {
      lines += "\nFailed studies:"
      failed.zipWithIndex.foreach { case ((s, a, _, _, d), i) =>
        lines += s"  ${i + 1}. $s ($a) - Reason: $d"
      }
    }
    if (overlapIds.nonEmpty) {
      lines += "\nStudies found in both Gen3 and PicSure:"
      lines += s"  ${overlapIds.sorted.mkString("\t")}"
    }
    lines.map(_ + "\n").mkString
  }

  /** Write processing_summary.txt (driver-side — the report is one small
    * text document). */
  def writeProcessingSummary(summary: DataFrame, overlapIds: Seq[String],
                             outDir: String,
                             maxDetailRows: Long = DocumentSink.MaxSingleFileRows): String = {
    val text = processingSummary(summary, overlapIds, maxDetailRows)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "processing_summary.txt"), text)
    text
  }
}
