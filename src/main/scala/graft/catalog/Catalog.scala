package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: its plan over a testdata directory and its DuckDB
  * oracle, registered together. */
final case class Entry(name: String, plan: (SparkSession, String) => DataFrame,
                       oracle: Oracle)

sealed trait Oracle
/** ANSI SQL that DuckDB runs on the same parquet tables. */
final case class Sql(text: String) extends Oracle
/** The query answers another entry's oracle verbatim: a different plan
  * (indexed, incremental, weighted, re-laid-out) for the same result. */
final case class SameAs(name: String) extends Oracle

object Catalog {
  type Plan = (SparkSession, String) => DataFrame

  /** The name → plan and name → oracle SQL views of `entries`. Throws on a
    * name registered twice, and on a [[SameAs]] whose target is missing or
    * is itself a [[SameAs]]. */
  def registry(entries: Seq[Entry]): (Map[String, Plan], Map[String, String]) = {
    val dups = entries.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty, s"catalog names registered twice: ${dups.mkString(", ")}")
    val sql = entries.collect { case Entry(n, _, Sql(text)) => n -> text }.toMap
    val oracles = entries.map {
      case Entry(n, _, Sql(text)) => n -> text
      case Entry(n, _, SameAs(target)) =>
        require(sql.contains(target),
          s"$n: SameAs($target) must name an entry with its own Sql oracle")
        n -> sql(target)
    }
    (entries.map(e => e.name -> e.plan).toMap, oracles.toMap)
  }

  /** The queries whose name starts with one of the comma-separated
    * prefixes in `only`; every query when `only` is None. */
  def select(only: Option[String]): Map[String, Plan] = {
    val prefixes = only.map(_.split(",").toSeq)
    SparkEntry.queries.filter { case (name, _) =>
      prefixes.forall(_.exists(name.startsWith)) }
  }

  /** Builds query `name`'s frame over `dir`. Every Spark job started from
    * here until the next [[reset]], while staging or while running the
    * frame, carries the query's name as its job description. */
  def plan(spark: SparkSession, name: String, dir: String): DataFrame = {
    spark.sparkContext.setJobDescription(name)
    SparkEntry.queries(name)(spark, dir)
  }

  /** Drops what a query leaves behind so the next one starts clean: cached
    * frames, operator-managed persistent RDDs (invisible to clearCache, e.g.
    * dupClusters' final round), staged temp-parquet dirs (signature stages,
    * sketch bases, IVF layouts, which otherwise live until JVM exit), and
    * the job description. Returns the number of persistent RDDs that were
    * still registered. */
  def reset(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val leftover = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    graft.ops.Stage.drain()
    sc.setJobDescription(null)
    leftover
  }
}
