package graft

import graft.catalog.{Catalog, Entry, Oracle, SameAs, Sql}

/** Driver-contract invariants: catch catalog drift before the driver does. */
class SparkEntrySpec extends SparkSpec {

  private def entry(name: String, oracle: Oracle): Entry =
    Entry(name, (s, _) => s.range(1).toDF(), oracle)

  test("registry: every query has exactly one oracle; 281 of each") {
    assert(SparkEntry.queries.size == 281)
    assert(SparkEntry.oracleSql.size == 281)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("registry rejects a name registered twice") {
    val e = intercept[IllegalArgumentException](Catalog.registry(Seq(
      entry("a", Sql("SELECT 1")), entry("b", Sql("SELECT 2")),
      entry("a", Sql("SELECT 3")))))
    assert(e.getMessage.contains("a"))
  }

  test("registry rejects a SameAs to a missing or to another SameAs entry") {
    intercept[IllegalArgumentException](Catalog.registry(Seq(
      entry("a", Sql("SELECT 1")), entry("b", SameAs("nope")))))
    intercept[IllegalArgumentException](Catalog.registry(Seq(
      entry("a", Sql("SELECT 1")), entry("b", SameAs("a")),
      entry("c", SameAs("b")))))
    val (plans, oracles) = Catalog.registry(Seq(
      entry("a", Sql("SELECT 1")), entry("b", SameAs("a"))))
    assert(plans.keySet == Set("a", "b"))
    assert(oracles == Map("a" -> "SELECT 1", "b" -> "SELECT 1"))
  }

  test("Catalog.plan names the query's jobs; Catalog.reset clears the name") {
    val sc = spark.sparkContext
    Catalog.plan(spark, "q1_agg", "/root/testdata/sf0.001")
    assert(sc.getLocalProperty("spark.job.description") == "q1_agg")
    Catalog.reset(spark)
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  test("every query builds a plan against sf0.001 (no analysis errors)") {
    try SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.schema.nonEmpty, name)
    } finally {
      // s6 writes two managed bucketed tables while it builds: drop them
      // so the suite leaves nothing in the working dir's warehouse
      Seq("graft_bkt_customer", "graft_bkt_orders")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("entry smoke: flagship star join returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
