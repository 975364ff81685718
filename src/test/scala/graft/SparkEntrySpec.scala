package graft

/** Driver-contract invariants: catch catalog drift before the driver does. */
class SparkEntrySpec extends SparkSpec {

  test("every oracle key has a query; catalog is non-trivial") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
    assert(SparkEntry.queries.size >= 60)
    assert(SparkEntry.oracleSql.size >= 55)
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
