package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop narrowing: SPARK_GRAFT_ONLY=x82,x83 runs only queries whose
    // name starts with a listed prefix (unset in driver runs — full sweep)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written BEFORE the query loop: round 11's
    // correctness artifact shipped empty because a budget-killed Verify
    // never reached the end-of-run write, so the driver's json.load found
    // nothing and zeroed the round. Writing it first means a truncated run
    // still yields rows for every query dumped before the kill.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val t00 = System.nanoTime()
    var done = 0
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        done += 1
        // per-query progress: a budget-truncated driver run still shows
        // exactly how far it got (and which query it died inside)
        println(f"[verify] ok $name ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          f"($done/${selected.size}, total ${(System.nanoTime() - t00) / 1e9}%.0fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache() // queries are independent
      // operator-managed RDD caches (e.g. dupClusters' final round) are
      // invisible to clearCache — drop them between queries too
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // staged temp-parquet dirs (signature stages, sketch bases, IVF
      // layouts) otherwise accumulate until JVM exit: dozens of dirs of
      // page-cache + disk pressure by the late catalog (r11 bench-tail
      // amplification). Queries are independent — drop them now.
      graft.ext.Dedup.drainStageDirs()
    }
    spark.stop()
  }
}
