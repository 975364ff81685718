package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main and the test
  * suite get this session shape:
  *  - `local[cores]` with `spark.sql.shuffle.partitions = cores`;
  *  - UTC session time zone, UI off;
  *  - `spark.cleaner.periodicGC.interval=15s`: ContextCleaner reclaims
  *    broadcasts and shuffle files only after a driver GC, and the
  *    default 30-min periodic GC never fires inside a catalog run, so
  *    ~100 queries of accumulated state squeeze the heap and the
  *    job-heavy late queries pay it in GC (measured: 3-4× inflation).
  *    The test JVM runs with `-XX:+ExplicitGCInvokesConcurrent` (see
  *    build.sbt), so there the timer's `System.gc()` starts a concurrent
  *    G1 cycle rather than a full stop-the-world collection;
  *  - graft's native SQL functions, injected once through
  *    [[graft.functions.GraftExtensions]]. Sessions forked with
  *    `newSession()` inherit them, so no caller registers them again. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or every core of the machine when unset. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = defaultCores): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "15s")
      .getOrCreate()
}
