package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.XmlDictSource

/** LakeFS XML-index lifecycle (SURVEY.md §3.3) — the reference's only
  * pivot: recursive XML scan per repository → per (study × repository)
  * variable roll-up → repositories pivoted into columns.
  */
object LakeIndex {

  /** `repos`: name → root path (the reference's repo:branch scoping). */
  def run(spark: SparkSession, repos: Map[String, String]): DataFrame = {
    val perRepo = repos.toSeq.sortBy(_._1).map { case (repo, root) =>
      XmlDictSource.variables(XmlDictSource.readDataTables(spark, root))
        .withColumn("repository", lit(repo))
    }
    val all = perRepo.reduce(_ unionByName _)

    // A7: per study × repository counts
    val rollup = all.groupBy(col("study_id"), col("repository"))
      .agg(countDistinct(col("dt_id")).as("n_data_tables"),
        count(lit(1)).as("n_variables"))

    // §3.3 pivot: one column per repository holding its variable count
    val repoNames = repos.keys.toSeq.sorted
    rollup.groupBy(col("study_id")).agg(
      sum(when(col("repository") === repoNames.head, col("n_variables"))
        .otherwise(0L)).as(repoNames.head),
      repoNames.tail.map(r =>
        sum(when(col("repository") === r, col("n_variables")).otherwise(0L)).as(r)): _*)
  }
}
