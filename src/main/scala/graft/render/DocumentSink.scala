package graft.render

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.util.AccumulatorV2
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Sinks for document-per-row outputs and single-file reports
  * (SURVEY.md K1–K4).
  *
  * [[writeDocuments]] is the distributed path: each task writes its own
  * partition's documents (works on any task-accessible shared FS; the
  * reference's LakeFS commit is a post-write step outside the engine).
  * [[writeSingleCsv]] is the metadata-scale convenience for the
  * reference's one-file-with-header reports — coalesce(1) by design,
  * documented as NOT for 100 TB paths (SURVEY.md §7.4).
  */
object DocumentSink {

  /** Ceiling for driver-funneled sinks: past this the caller is abusing a
    * metadata-scale path for data-scale output. */
  val MaxSingleFileRows: Long = 1000000L

  /** Write (relativePath, content) rows under `baseDir`, executor-side.
    * Relative paths are data-derived (study ids, table ids): each resolved
    * path is normalized and must stay inside `baseDir` — a value carrying
    * `../` or an absolute path fails the task instead of writing outside
    * the sink. Returns the documents written per top-level directory of
    * `baseDir` ("" for a document directly in it), counted by an
    * accumulator inside the write's own tasks, so no job is added. */
  def writeDocuments(docs: Dataset[(String, String)], baseDir: String): Map[String, Long] = {
    val written = new DirCounts
    docs.sparkSession.sparkContext.register(written, "documents written")
    docs.foreachPartition { it: Iterator[(String, String)] =>
      val base = Paths.get(baseDir).toAbsolutePath.normalize()
      it.foreach { case (rel, content) =>
        val p = base.resolve(rel).normalize()
        require(p.startsWith(base) && p != base,
          s"document path escapes the sink directory: '$rel'")
        Files.createDirectories(p.getParent)
        Files.write(p, content.getBytes(StandardCharsets.UTF_8))
        val under = base.relativize(p)
        written.add(if (under.getNameCount > 1) under.getName(0).toString else "")
      }
    }
    written.value
  }

  /** Counts per key, merged over a job's tasks. */
  private final class DirCounts extends AccumulatorV2[String, Map[String, Long]] {
    private val counts = mutable.HashMap.empty[String, Long]
    def isZero: Boolean = counts.isEmpty
    def copy(): DirCounts = { val c = new DirCounts; c.counts ++= counts; c }
    def reset(): Unit = counts.clear()
    def add(key: String): Unit = counts(key) = counts.getOrElse(key, 0L) + 1L
    def merge(other: AccumulatorV2[String, Map[String, Long]]): Unit =
      other.value.foreach { case (k, n) => counts(k) = counts.getOrElse(k, 0L) + n }
    def value: Map[String, Long] = counts.toMap
  }

  /** Probe limit for a row ceiling: maxRows+1 clamped into Int range, so
    * an absurd ceiling degrades to "count everything" instead of
    * overflowing into a negative limit (which throws AnalysisException). */
  private[graft] def probeLimit(maxRows: Long): Int =
    if (maxRows >= Int.MaxValue) Int.MaxValue // +1 first would overflow
    else (math.max(maxRows, 0L) + 1L).toInt

  /** K1: single CSV file with header — the reference's one-file-with-header
    * report shape. coalesce(1) funnels everything through one task, so a
    * row-count ceiling rejects data-scale misuse up front: against `rows`
    * when the caller already knows the frame's row count, else against a
    * `limit` + `count` probe of its own. */
  def writeSingleCsv(df: DataFrame, path: String,
                     maxRows: Long = MaxSingleFileRows,
                     rows: Option[Long] = None): Unit = {
    val n = rows.getOrElse(df.limit(probeLimit(maxRows)).count())
    require(n <= maxRows,
      s"writeSingleCsv is a metadata-scale sink (> $maxRows rows); " +
        "use a partitioned write for data-scale output")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
  }

  /** K4: partitioned directory layout, null group → "__missing__"
    * (get_dbgap_data_dicts.py:206-221). */
  def writePartitioned(df: DataFrame, partitionCols: Seq[String], path: String,
                       format: String = "parquet"): Unit = {
    import org.apache.spark.sql.functions._
    val filled = partitionCols.foldLeft(df)((d, c) =>
      d.withColumn(c, coalesce(col(c).cast("string"), lit("__missing__"))))
    filled.write.mode("overwrite").partitionBy(partitionCols: _*).format(format).save(path)
  }
}
