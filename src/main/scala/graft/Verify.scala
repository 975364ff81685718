package graft
import java.nio.file.{Files, Paths}
import graft.catalog.Catalog
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in oracle SQL would otherwise make the
    * checker's json.load fail and silently zero the correctness check. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-loop narrowing: SPARK_GRAFT_ONLY=x82,x83 runs only queries whose
    // name starts with a listed prefix (unset in driver runs — full sweep)
    val selected = Catalog.select(sys.env.get("SPARK_GRAFT_ONLY"))
    // oracle_sql.json is written BEFORE the query loop: round 11's
    // correctness artifact shipped empty because a budget-killed Verify
    // never reached the end-of-run write, so the driver's json.load found
    // nothing and zeroed the round. Writing it first means a truncated run
    // still yields rows for every query dumped before the kill.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val t00 = System.nanoTime()
    var done = 0
    selected.keys.foreach { name =>
      val t0 = System.nanoTime()
      try {
        Catalog.plan(spark, name, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        done += 1
        // per-query progress: a budget-truncated driver run still shows
        // exactly how far it got (and which query it died inside)
        println(f"[verify] ok $name ${(System.nanoTime() - t0) / 1e9}%.2fs " +
          f"($done/${selected.size}, total ${(System.nanoTime() - t00) / 1e9}%.0fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Catalog.reset(spark) // queries are independent
    }
    spark.stop()
  }
}
