package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProjectionsSpec extends SparkSpec {
  import spark.implicits._

  test("P1 splitPart takes the nth dot-part (accession -> study_id)") {
    val df = Seq("phs000007.v32.c1", "phs002206", "").toDF("acc")
    val out = df.select(Projections.splitPart(col("acc"), ".", 1)).as[String].collect()
    assert(out.sameElements(Array("phs000007", "phs002206", "")))
    // true nth-token semantics for part >= 2 (split_part, NOT substring_index)
    val p2 = df.select(Projections.splitPart(col("acc"), ".", 2)).as[String].collect()
    assert(p2.sameElements(Array("v32", "", "")))
  }

  test("P2 splitTokenOrDefault falls back when token absent") {
    val df = Seq("phs000007.v32", "phs000007", null).toDF("acc")
    val out = df.select(Projections.splitTokenOrDefault(col("acc"), "\\.", 1, "v1"))
      .as[String].collect()
    assert(out.sameElements(Array("v32", "v1", "v1")))
  }

  test("P3 regexGroup extracts accession/consent; empty on non-match") {
    val pat = "^(phs.*?)(?:\\.(c\\d+))?$"
    val df = Seq("phs000007.v32.c1", "bogus").toDF("id")
    val out = df.select(
      Projections.regexGroup(col("id"), pat, 1).as("acc"),
      Projections.regexGroup(col("id"), pat, 2).as("consent"))
      .as[(String, String)].collect()
    assert(out(0) == (("phs000007.v32", "c1")))
    assert(out(1) == (("", "")))
  }

  test("P5 preferenceCoalesce treats empty string as missing") {
    val df = Seq(("", "name", "short"), (null, null, null)).toDF("full", "name", "short")
    val out = df.select(Projections.preferenceCoalesce("(no name)",
      col("full"), col("name"), col("short"))).as[String].collect()
    assert(out.sameElements(Array("name", "(no name)")))
  }

  test("P6 aliasChainOrError picks first non-empty; raises when all absent") {
    val ok = Seq(("", "fallback"), ("primary", "x")).toDF("a", "b")
      .select(Projections.aliasChainOrError(lit("no name"), col("a"), col("b")))
      .as[String].collect()
    assert(ok.sameElements(Array("fallback", "primary")))
    val boom = intercept[Exception] {
      Seq(("", null: String)).toDF("a", "b")
        .select(Projections.aliasChainOrError(
          concat(lit("no usable name for "), lit("row1")), col("a"), col("b")))
        .collect()
    }
    assert(boom.getMessage.contains("no usable name for row1"))
  }

  test("P9 normalizeName: first pipe token, trim, [ /]->_, lower, default") {
    val df = Seq("TOPMed | parent", "A/B prog", "", null).toDF("p")
    val out = df.select(Projections.normalizeName(col("p"))).as[String].collect()
    assert(out.sameElements(Array("topmed", "a_b_prog", "unknown_program", "unknown_program")))
  }

  test("lowercase equals lower() on ASCII and on ICU's special cases, interpreted and codegen'd") {
    val df = Seq("plain ascii", "MiXeD CaSe 42", "\u0130stanbul", "STRA\u1E9EE",
      "\u039F\u0394\u039F\u03A3 \u039F\u0394\u039F\u03A3",
      "\u212A", "\u0131I", "\uD83D\uDE00 Emoji \uD83D\uDC4D", "", null).toDF("s")
    // a local relation is folded by the optimizer (interpreted eval); the
    // repartitioned copy runs through whole-stage codegen
    for (in <- Seq(df, df.repartition(2))) {
      val rows = in.select(col("s"), lower(col("s")), Projections.lowercase(col("s")))
        .as[(String, String, String)].collect()
      assert(rows.length == 10)
      rows.foreach { case (s, builtin, ours) => assert(ours == builtin, s"input $s") }
    }
    // the special cases really are special: non-ASCII took the ICU path
    val sigma = Seq("\u039F\u0394\u039F\u03A3").toDF("s")
      .select(Projections.lowercase(col("s"))).as[String].head()
    assert(sigma == "\u03BF\u03B4\u03BF\u03C2") // final sigma
  }

  test("packedMap equals str_to_map on edge cases; a duplicate key raises in both") {
    val df = Seq("", "a", "a=", "=b", "a=b=c", "a=1|", "|a=1", "a=1||b=2", null)
      .toDF("packed")
    for (in <- Seq(df, df.repartition(2))) {
      val rows = in.select(col("packed"),
        map_entries(str_to_map(col("packed"), lit("\\|"), lit("="))),
        map_entries(Projections.packedMap(col("packed")))).collect()
      assert(rows.length == 9)
      rows.foreach(r => assert(r.get(2) == r.get(1), s"input ${r.get(0)}"))
    }
    val dup = Seq("a=1|a=2").toDF("packed").repartition(1)
    val builtin = intercept[Exception](
      dup.select(str_to_map(col("packed"), lit("\\|"), lit("="))).collect())
    val ours = intercept[Exception](dup.select(Projections.packedMap(col("packed"))).collect())
    assert(builtin.getMessage.contains("DUPLICATED_MAP_KEY"), builtin.getMessage)
    assert(ours.getMessage.contains("DUPLICATED_MAP_KEY"), ours.getMessage)
  }

  test("P10 pipeJoinSortedDistinct") {
    val df = Seq(Seq("b", "a", "b")).toDF("arr")
    val out = df.select(Projections.pipeJoinSortedDistinct(col("arr"))).as[String].head()
    assert(out == "a|b")
  }

  test("P11/P12 packed map round-trips") {
    val df = Seq("b=2|a=1").toDF("packed")
    val roundTrip = df.select(
      Projections.packMap(Projections.parsePackedMap(col("packed")))).as[String].head()
    assert(roundTrip == "b=2|a=1") // insertion order preserved by str_to_map
    val parsed = df.select(element_at(Projections.parsePackedMap(col("packed")), "a"))
      .as[String].head()
    assert(parsed == "1")
  }

  test("P13 parseStringifiedList handles python-literal lists (no eval)") {
    val df = Seq("['Male', 'Female']").toDF("v")
    val out = df.select(Projections.parseStringifiedList(col("v"))).as[Seq[String]].head()
    assert(out == Seq("Male", "Female"))
  }

  test("P13 native parsePyLiteralList: quotes, escapes, bare tokens, malformed") {
    val df = Seq(
      """['Male', "Don't know", 'a\'b']""",
      """[1, 2.5, None]""",
      """[]""",
      """not a list""",
      """['unterminated""",
      """[] garbage""").toDF("v")
    val out = df.select(Projections.parsePyLiteralList(col("v")).as("a"))
      .as[Option[Seq[String]]].collect()
    assert(out(0).get == Seq("Male", "Don't know", "a'b"))
    assert(out(1).get == Seq("1", "2.5", "None"))
    assert(out(2).get == Nil)
    assert(out(3).isEmpty && out(4).isEmpty) // malformed -> null, no throw
    assert(out(5).isEmpty) // trailing garbage after [] is malformed too

    // Python string-literal escape semantics (eval-compatible, minus eval)
    val esc = Seq(
      """['a\db']""",      // unknown escape: backslash KEPT (Python keeps \d)
      """['\x41\x62']""",  // hex escapes decode: A, b
      "['" + '\\' + "u00e9']", // \uNNNN decodes (built to dodge source-level \u)
      """['\101\10\8']""", // octal \101='A', \10='\b'; \8 is NOT octal -> kept
      """['\n\t\\\'']""",  // recognized escapes
      """['\xZZ']""",      // malformed hex -> null (eval raises; we quarantine)
      "['" + '\\' + "u12']" // short \u -> null
    ).toDF("v").select(Projections.parsePyLiteralList(col("v")).as("a"))
      .as[Option[Seq[String]]].collect()
    assert(esc(0).get == Seq("a\\db"))
    assert(esc(1).get == Seq("Ab"))
    assert(esc(2).get == Seq("é"))
    assert(esc(3).get == Seq("A\b\\8"))
    assert(esc(4).get == Seq("\n\t\\'"))
    assert(esc(5).isEmpty && esc(6).isEmpty)
    // non-nullable child (concat of literals): malformed input must still
    // surface as null, not crash codegen with a constant-false isNull
    val nn = spark.range(1).select(
      Projections.parsePyLiteralList(concat(lit("not"), lit(" a list"))).as("a"))
      .as[Option[Seq[String]]].head()
    assert(nn.isEmpty)
  }

  test("P14 encodeValues maps known values, null for unknown (ANSI-safe)") {
    val df = Seq("Male", "Female", "Other").toDF("v")
    val out = df.select(Projections.encodeValues(col("v"), Map("Male" -> 1, "Female" -> 2)))
      .as[Option[Int]].collect()
    assert(out.sameElements(Array(Some(1), Some(2), None)))
  }

  test("P15 jsonPath extracts nested with default") {
    val df = Seq("""{"a":{"b":"x"}}""", """{}""").toDF("j")
    val out = df.select(Projections.jsonPath(col("j"), "$.a.b", "dflt")).as[String].collect()
    assert(out.sameElements(Array("x", "dflt")))
  }
}
