package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  // ───────── Filters ─────────

  test("F2 validationSplit quarantines with first-missing-field reason") {
    val df = Seq(
      ("phs1", "c1", "Study A"),
      (null, "c1", "Study B"),
      ("phs3", "", null)
    ).toDF("Accession", "Consent", "Name")
    val (valid, rejects) = Filters.validationSplit(df, Seq("Accession", "Consent", "Name"))
    assert(valid.count() == 1)
    val r = rejects.select("reason").as[String].collect().sorted
    assert(r.sameElements(Array("missing Accession", "missing Consent")))
    // the one-pass tag: the same reason on each row, null on a valid one
    val tagged = Filters.validationTag(df, Seq("Accession", "Consent", "Name"))
      .select("Name", "reason").as[(String, String)].collect().toSet
    assert(tagged == Set(("Study A", null), ("Study B", "missing Accession"),
      (null, "missing Consent")))
  }

  test("F4 skipSet excludes listed keys, no-ops on empty") {
    val df = Seq("a", "b", "c").toDF("k")
    assert(Filters.skipSet(df, "k", Seq("b")).count() == 2)
    assert(Filters.skipSet(df, "k", Nil).count() == 3)
  }

  test("F9 quarantinePayload nulls payload on error rows only") {
    val df = Seq(("ok", 1.0), ("error", 2.0)).toDF("status", "v")
    val out = Filters.quarantinePayload(df, col("status") === "error", "v")
      .select("v").as[Option[Double]].collect()
    assert(out.sameElements(Array(Some(1.0), None)))
  }

  test("F10 logSeveritySplit partitions lines by severity in one pass") {
    val logs = Seq("2026 ERROR boom", "2026 warning: slow", "2026 ok fine").toDF("line")
    val split = Filters.logSeveritySplit(logs, "line")
    assert(split("ERROR").as[String].collect().sameElements(Array("2026 ERROR boom")))
    assert(split("WARNING").as[String].collect().sameElements(Array("2026 warning: slow")))
    assert(split("OTHER").as[String].collect().sameElements(Array("2026 ok fine")))
    // one-pass tag variant agrees with the split partition
    val tags = Filters.logSeverityTag(logs, "line")
      .as[(String, String)].collect().toMap
    assert(tags == Map("2026 ERROR boom" -> "ERROR",
      "2026 warning: slow" -> "WARNING", "2026 ok fine" -> "OTHER"))
    // a line carrying BOTH severities lands only in the FIRST (precedence
    // partition — split and tag agree; no double emission)
    val both = Seq("ERROR then WARNING later").toDF("line")
    val s2 = Filters.logSeveritySplit(both, "line")
    assert(s2("ERROR").count() == 1 && s2("WARNING").count() == 0 && s2("OTHER").count() == 0)
    assert(Filters.logSeverityTag(both, "line").select("sev").as[String].head() == "ERROR")
  }

  // ───────── Joins ─────────

  test("J7 outerDispatch tags left_only/right_only/both") {
    val l = Seq("a", "b").toDF("k")
    val r = Seq("b", "c").toDF("k")
    val out = Joins.outerDispatch(l, r, "k").as[(String, String)].collect().sortBy(_._1)
    assert(out.sameElements(Array(("a", "left_only"), ("b", "both"), ("c", "right_only"))))
  }

  test("J5/J6 semi and anti join partition the left side") {
    val l = Seq("a", "b", "c").toDF("k")
    val r = Seq("b").toDF("k")
    assert(Joins.semi(l, r, "k").as[String].collect().sameElements(Array("b")))
    assert(Joins.anti(l, r, "k").as[String].collect().sorted.sameElements(Array("a", "c")))
  }

  test("J8 prefixScanMembership harvests prefixed ids from any column") {
    val source = Seq(("phs000007.v32", "x"), ("junk", "phs000123"), ("a", "b"))
      .toDF("c1", "c2")
    val target = Seq("phs000007", "phs000123", "phs999999").toDF("study_id")
    val out = Joins.prefixScanMembership(source, Seq("c1", "c2"), "phs",
      target, "study_id").as[String].collect().sorted
    assert(out.sameElements(Array("phs000007", "phs000123")))
  }

  test("asofJoin: latest right row at-or-before; equal ts included; no match -> null") {
    val left = Seq(
      (1L, 10L, "a"), // after right@5 -> v5
      (1L, 5L, "b"),  // equal ts -> right@5 visible (>= semantics)
      (1L, 3L, "c"),  // before any right -> null
      (2L, 9L, "d"),  // user 2: latest of right@{1,7} -> v7
      (3L, 9L, "e")   // user with no right rows at all -> null
    ).toDF("user_id", "ts", "tag")
    val right = Seq(
      (1L, 5L, 50.0, "x"),
      (2L, 1L, 10.0, "y"),
      (2L, 7L, 70.0, null.asInstanceOf[String]) // partial-null right row
    ).toDF("user_id", "ts", "v", "note")
    val out = Joins.asofJoin(left, right, "user_id", "ts", Seq("v", "note"))
      .orderBy("user_id", "ts")
      .as[(Long, Long, String, Option[Double], Option[String])].collect()
    assert(out.sameElements(Array(
      (1L, 3L, "c", None, None),
      (1L, 5L, "b", Some(50.0), Some("x")),
      (1L, 10L, "a", Some(50.0), Some("x")),
      (2L, 9L, "d", Some(70.0), None), // note stays null: fields never mix matches
      (3L, 9L, "e", None, None))))
  }

  test("bucketedRangeJoin: containment incl. multi-bucket ranges, [lo,hi) bounds") {
    val points = Seq((1L, 5.0), (2L, 10.0), (3L, 25.0), (4L, 99.0)).toDF("id", "v")
    val ranges = Seq(
      ("r1", 0.0, 10.0),   // [0,10): catches 5 only (10 excluded)
      ("r2", 5.0, 35.0),   // spans 4 buckets at width 10: catches 5,10,25
      ("r3", 90.0, 100.0)  // catches 99
    ).toDF("rid", "lo", "hi")
    val out = Joins.bucketedRangeJoin(points, ranges, "v", "lo", "hi", 10L)
      .select("id", "rid").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "r1"), (1L, "r2"), (2L, "r2"), (3L, "r2"), (4L, "r3")))
  }

  // ───────── Aggs ─────────

  test("A1 duplicates finds keys with count>1") {
    val df = Seq("x", "x", "y").toDF("id")
    val out = Aggs.duplicates(df, Seq("id")).as[(String, Long)].collect()
    assert(out.sameElements(Array(("x", 2L))))
  }

  test("A8 dedupConsolidate keeps min winner and collects values") {
    val df = Seq((1, 10L, "c1"), (1, 5L, "c2"), (2, 7L, "c1")).toDF("base", "ord", "consent")
    val out = Aggs.dedupConsolidate(df, "base", "ord", "consent")
      .orderBy("base").as[(Int, Long, String)].collect()
    assert(out.sameElements(Array((1, 5L, "c1|c2"), (2, 7L, "c1"))))
  }

  test("§3.3 manualPivot pivots values into stable columns") {
    val df = Seq(("s1", "bdc"), ("s1", "heal"), ("s2", "bdc")).toDF("study", "repo")
    val out = Aggs.manualPivot(df, "study", "repo", Seq("bdc", "heal"))
      .orderBy("study").as[(String, Long, Long)].collect()
    assert(out.sameElements(Array(("s1", 1L, 1L), ("s2", 1L, 0L))))
  }

  // ───────── Windows ─────────

  test("W1 uniquify suffixes duplicates in order, leaves first untouched") {
    val df = Seq(("f", "n", 1), ("f", "n", 2), ("f", "n", 3), ("f", "m", 4))
      .toDF("file", "name", "pos")
    val out = Windows.uniquify(df, Seq("file"), "name", "pos", "uniq")
      .orderBy("pos").select("uniq").as[String].collect()
    assert(out.sameElements(Array("n", "n_1", "n_2", "m")))
  }

  test("W2 topKPerGroup returns k rows per group with deterministic tiebreak") {
    val df = Seq(("g", 3.0, 1L), ("g", 3.0, 2L), ("g", 1.0, 3L), ("h", 9.9, 4L))
      .toDF("grp", "score", "id")
    val out = Windows.topKPerGroup(df, Seq("grp"), Seq(col("score").desc, col("id")), 2)
    assert(out.count() == 3)
    val g = out.filter(col("grp") === "g").orderBy("rn").select("id").as[Long].collect()
    assert(g.sameElements(Array(1L, 2L)))
  }
}
