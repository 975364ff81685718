package graft.tools

/** Dump `.explain("formatted")` for catalog queries to files — the
  * plan-evidence artifact of optimization rounds (plans/rNN/<q>_before.txt
  * / _after.txt). Not part of the engine surface.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query>[,<query>…]
  *   e.g. runMain graft.tools.PlanDump plans/r17 before x37_pretrain_build,x68_char_bpe
  *
  * Environment: SPARK_GRAFT_SF_DIR (default sf0.1). The session is
  * [[graft.GraftSession]]'s, as in Bench, so the dumped plans are the
  * benched plans.
  * Queries whose construction stages side tables (graph EdgeStage, IVF
  * layouts) run those stages as part of building the frame; the dumped
  * plan is the FINAL returned frame's, which is what the query times. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
        s"(${plan.count(_ == '\n')} lines)")
      graft.ext.Dedup.drainStageDirs()
    }
    spark.stop()
  }
}
