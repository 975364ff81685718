package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame

/** The engine's temp parquet stages, and the only code that makes them.
  *
  * A stage is intermediate state a pipeline writes once and reads many
  * times: a round's centroids or ranks, an ingest base a later batch
  * merges into, a signature table the incremental operators band
  * against, a written layout. Each lives in a fresh temp dir (unique per
  * call, so concurrent sessions never race an overwrite), registered
  * here until [[drain]] deletes it: `Catalog.reset` drains between
  * catalog queries, so a long Bench/Verify session does not pile up
  * stages on disk and in the page cache (the round-11 bench-tail
  * amplification), and a JVM-exit hook drains whatever is left. A stage
  * is only read by the query that made it, which has finished its
  * action before the next drain. */
object Stage {

  /** Writes `df` to a fresh stage now and returns the stage read back
    * with the schema it was written with. `read.parquet(dir)` alone
    * would re-infer that schema from the footers, one job per stage;
    * parquet round-trips every field as nullable, so the nullable form
    * of `df.schema` is exactly what inference would return and the read
    * is bit-identical. */
  def apply(df: DataFrame): DataFrame =
    df.sparkSession.read
      .schema(org.apache.spark.sql.graftbridge.Bridge.asNullable(df.schema))
      .parquet(path(df))

  /** Writes `df` to a fresh stage now and returns its dir: the setup
    * step for the incremental operators that take a stage path
    * (`Dedup.lshCandidatePairsIncremental` and its siblings) and for
    * specs of the staged flows. In production that stage is a durable
    * table the pipeline owns, appended batch by batch; for streaming
    * ingest, appended per batch subdir with overwrite so a replayed
    * micro-batch cannot double its rows (the
    * `Curation.appendCardBatch(…, overwrite = true)` discipline). */
  def path(df: DataFrame): String = {
    val d = dir("graft_stage_")
    df.write.mode("overwrite").parquet(d)
    d
  }

  /** A fresh registered temp dir named `prefix…`, for a layout the
    * caller writes itself (IVF cells, BM25 indexes, z-ordered files). */
  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    exitHook
    dirs.add(d)
    d
  }

  /** The stage dirs made and not yet drained. */
  def registered: Set[String] = {
    import scala.jdk.CollectionConverters._
    dirs.asScala.toSet
  }

  /** Deletes every registered stage dir now and forgets it. */
  def drain(): Unit = {
    val it = dirs.iterator()
    while (it.hasNext) {
      val d = it.next()
      it.remove()
      deleteTree(Paths.get(d))
    }
  }

  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // installed on the first stage
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => drain()))

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
