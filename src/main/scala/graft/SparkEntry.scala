package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog._
import graft.catalog.Common.{discountedRevenue, t}

/** Driver contract — see SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2 is a named query over the driver's
  * parquet testdata, registered once, plan and DuckDB oracle together, as
  * an [[graft.catalog.Entry]] in one of the per-family objects under
  * `graft.catalog`. Determinism rules for hash-equality across engines:
  *  - every computed column is explicitly aliased identically in both;
  *  - no bare `first()`; order-sensitive ops take an explicit tiebreak;
  *  - double aggregates go through exact decimal arithmetic, then cast back
  *    to double (order-independent ⇒ bit-identical across engines);
  *  - derived integers are cast to long (DuckDB COUNT/SUM are BIGINT/HUGEINT).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full star-join: lineitem⋈orders⋈customer⋈nation⋈region with the
    * dimension chain broadcast, revenue per region/returnflag. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    val nat = broadcast(t(spark, dir, "nation"))
    val reg = broadcast(t(spark, dir, "region"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("l_returnflag"))
      .agg(discountedRevenue(col("l_extendedprice"), col("l_discount"))
             .as("revenue"),
           count(lit(1)).as("n_items"))
  }

  /** Name → plan and name → DuckDB oracle SQL over every family's entries,
    * built once. A [[graft.catalog.SameAs]] entry maps to its target's SQL. */
  val (queries, oracleSql) = Catalog.registry(
    RelationalQueries.entries ++
    EventQueries.entries ++
    DedupQueries.entries ++
    SimilarityQueries.entries ++
    TextStatsQueries.entries ++
    TokenizerQueries.entries ++
    CurationQueries.entries ++
    LearnQueries.entries ++
    SketchQueries.entries ++
    GraphQueries.entries ++
    RetrievalQueries.entries ++
    MultimodalQueries.entries)
}
