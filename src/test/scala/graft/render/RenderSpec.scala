package graft.render

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class RenderSpec extends SparkSpec {
  import spark.implicits._

  test("GapExchange renderer emits the study-frame document (K3 companion)") {
    val studies = Seq(("phs000007.v32", "Framingham <Cohort>", "Heart & vessels"))
      .toDF("study_id", "study_name", "study_description")
    val docs = DbGapXmlRenderer.renderGapExchange(studies).collect()
    assert(docs.length == 1)
    val (path, xml) = docs.head
    assert(path == "phs000007.v32/GapExchange_phs000007.v32.xml")
    assert(xml.contains("<StudyNameEntrez>Framingham &lt;Cohort&gt;</StudyNameEntrez>"))
    assert(xml.contains("<Description>Heart &amp; vessels</Description>"))
    assert(xml.contains("""<Study accession="phs000007.v32">"""))
  }

  test("processingSummary renders all sections from ONE job (single guarded collect)") {
    val summary = Seq(
      ("phs2", "phs2.v1", "SUCCESS", "dbGaP_download", "ok"),
      ("phs1", "phs1.v3", "SUCCESS", "XML_generator", "fallback meta"),
      ("phs3", "phs3.v2", "FAILED", "none", "missing Consent"))
      .toDF("study_id", "accession_id", "status", "method", "details")
    val group = s"summary_once_${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "processingSummary job count")
    val txt = try SummaryReport.processingSummary(summary, Seq("phs2"))
    finally spark.sparkContext.clearJobGroup()
    // status-store updates are async — poll briefly for the job count
    def jobs(): Int = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    val deadline = System.currentTimeMillis() + 10000
    while (jobs() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200) // let any EXTRA job surface before asserting the ceiling
    assert(jobs() == 1, s"expected one collect job, saw ${jobs()}")
    // the one pass still feeds counters AND every bucketed section
    assert(txt.contains("Total studies processed: 3"))
    assert(txt.contains("Successfully processed: 2"))
    assert(txt.contains("  - Downloaded from dbGaP: 1"))
    assert(txt.contains("  - Generated with XML fallback: 1"))
    assert(txt.contains("Failed: 1"))
    assert(txt.contains("\nStudies downloaded from dbGaP:\n  1. phs2 (phs2.v1) - ok"))
    assert(txt.contains(
      "\nStudies generated using XML generator:\n  1. phs1 (phs1.v3) - Reason: fallback meta"))
    assert(txt.contains("\nFailed studies:\n  1. phs3 (phs3.v2) - Reason: missing Consent"))
    assert(txt.contains("Studies in both Gen3 and PicSure: 1"))
  }

  test("processingSummary ceiling-guards the detail collect (last unguarded driver collect)") {
    val summary = (1 to 50).map(i =>
        (s"phs$i", s"phs$i.v1", "SUCCESS", "dbGaP_download", "ok"))
      .toDF("study_id", "accession_id", "status", "method", "details")
    val e = intercept[IllegalArgumentException] {
      SummaryReport.processingSummary(summary, Nil, maxDetailRows = 10L)
    }
    assert(e.getMessage.contains("metadata-scale"), e.getMessage)
    // a ceiling at/above the frame size renders normally
    val txt = SummaryReport.processingSummary(summary, Nil, maxDetailRows = 50L)
    assert(txt.contains("Total studies processed: 50"))
    // an absurd ceiling (no effective limit) must not pre-allocate a
    // Int.MaxValue heap — the plain-collect branch renders identically
    val unbounded = SummaryReport.processingSummary(summary, Nil,
      maxDetailRows = Long.MaxValue)
    assert(unbounded == txt)
  }

  test("processingSummary: driver rows and the status frame render the same text") {
    // in Spark's order "\uFFFF" sorts before "\uD83D\uDE00" (U+1F600), in
    // String.compareTo after it; a null-accession reject has study_id ""
    val gen = "Generated from PicSure metadata"
    val statuses = Seq(
      ("\uD83D\uDE00", "\uD83D\uDE00.v1", "SUCCESS", "XML_generator", gen),
      ("phs2", "phs2.v1", "SUCCESS", "dbGaP_download", "ok"),
      ("", "(no accession)", "FAILED", "none", "missing Accession"),
      ("\uFFFF", "\uFFFF.v1", "FAILED", "none", "missing Consent"),
      ("phs1", "phs1.v3", "SUCCESS", "XML_generator", gen),
      ("\uFFFF", "\uFFFF.v2", "SUCCESS", "XML_generator", gen),
      ("phs3", "phs3.v2", "FAILED", "none", "missing Description"))
    val overlap = Seq("phs2", "phs1")
    val frame = SummaryReport.processingSummary(
      statuses.toDF("study_id", "accession_id", "status", "method", "details"), overlap)
    assert(frame.contains("\nFailed studies:\n" +
      "  1.  ((no accession)) - Reason: missing Accession\n" +
      "  2. phs3 (phs3.v2) - Reason: missing Description\n" +
      "  3. \uFFFF (\uFFFF.v1) - Reason: missing Consent\n"), frame)
    assert(frame.contains(s"  2. \uFFFF (\uFFFF.v2) - Reason: $gen\n" +
      s"  3. \uD83D\uDE00 (\uD83D\uDE00.v1) - Reason: $gen\n"), frame)
    val rnd = new scala.util.Random(7)
    for (i <- 1 to 5) {
      val out = Files.createTempDirectory(s"summary_rows_$i").toString
      val shuffled = rnd.shuffle(statuses)
      assert(SummaryReport.writeProcessingSummary(shuffled, overlap, out) == frame, shuffled)
      assert(Files.readString(Paths.get(out, "processing_summary.txt")) == frame)
      assert(SummaryReport.processingSummary(
        shuffled.toDF("study_id", "accession_id", "status", "method", "details")
          .repartition(3), overlap) == frame)
    }
  }

  test("escape handles all five XML special forms") {
    import DbGapXmlRenderer.escape
    assert(escape("""a&b<c>d"e""") == "a&amp;b&lt;c&gt;d&quot;e")
    assert(escape(null) == "")
    // nothing to escape: the input itself comes back, nothing is copied
    for (clean <- Seq("", "plain text", "～😀 ünïcode", "a'b")) assert(escape(clean) eq clean)
    assert(escape("&") == "&amp;" && escape("<") == "&lt;" &&
      escape(">") == "&gt;" && escape("\"") == "&quot;")
    assert(escape("&&<<") == "&amp;&amp;&lt;&lt;")
    assert(escape("x > y & 😀\"") == "x &gt; y &amp; 😀&quot;")
    assert(escape("""<a href="u?x=1&y=2">t</a>""") ==
      "&lt;a href=&quot;u?x=1&amp;y=2&quot;&gt;t&lt;/a&gt;")
  }

  test("renderDataTables: the streamed documents equal the collect_list oracle") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    // the former formulation, kept as the oracle: one aggregate row per
    // document, header fields by `min`, variables by `array_sort` on the
    // struct of (pos, var_id, …, values)
    def oracleEscape(s: String): String =
      if (s == null) ""
      else s.flatMap {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' => "&quot;"
        case c => c.toString
      }
    def oracle(vars: DataFrame): Set[(String, String)] =
      vars.groupBy(col("dt_id"), col("study_id"))
        .agg(
          min(col("study_name")).as("study_name"),
          min(col("group_description")).as("group_description"),
          min(col("path_prefix")).as("path_prefix"),
          array_sort(collect_list(struct(
            col("pos"), col("var_id"), col("var_name"), col("var_title"),
            col("var_description"), col("var_type"), col("values")))).as("vars"))
        .map { row =>
          val dtId = row.getAs[String]("dt_id")
          val studyId = row.getAs[String]("study_id")
          val sb = new StringBuilder
          sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n"
          sb ++= "<?xml-stylesheet type=\"text/xsl\" href=\"./datadict_v2.xsl\"?>\n"
          sb ++= s"""<data_table id="${oracleEscape(dtId)}" study_id="${oracleEscape(studyId)}"""" +
            """ participant_set="1"""" +
            s""" study_name="${oracleEscape(row.getAs[String]("study_name"))}">\n"""
          val desc = row.getAs[String]("group_description")
          if (desc != null) sb ++= s"  <description>${oracleEscape(desc)}</description>\n"
          row.getAs[scala.collection.Seq[Row]]("vars").foreach { v =>
            sb ++= s"""  <variable id="${oracleEscape(v.getAs[String]("var_id"))}">\n"""
            def child(tag: String, value: String): Unit =
              if (value != null) sb ++= s"    <$tag>${oracleEscape(value)}</$tag>\n"
            child("name", v.getAs[String]("var_name"))
            child("title", v.getAs[String]("var_title"))
            child("description", v.getAs[String]("var_description"))
            child("type", v.getAs[String]("var_type"))
            val values = v.getAs[scala.collection.Seq[Row]]("values")
            if (values != null) values.foreach { value =>
              sb ++= s"""    <value code="${oracleEscape(value.getAs[String]("code"))}">""" +
                s"${oracleEscape(value.getAs[String]("label"))}</value>\n"
            }
            sb ++= "  </variable>\n"
          }
          sb ++= "</data_table>\n"
          val prefix = Option(row.getAs[String]("path_prefix")).getOrElse("")
          (s"$prefix$studyId/$dtId.data_dict.xml", sb.toString)
        }.collect().toSet

    val str = Seq("dt_id", "study_id", "study_name", "group_description", "path_prefix")
    val schema = StructType(str.map(StructField(_, StringType)) ++
      Seq(StructField("pos", IntegerType)) ++
      Seq("var_id", "var_name", "var_title", "var_description", "var_type")
        .map(StructField(_, StringType)) :+
      StructField("values", ArrayType(StructType(Seq(
        StructField("code", StringType), StructField("label", StringType))))))
    val (dtA, stA) = ("pht<1>", "phs&\"1\"")
    def v(code: String, label: String) = Row(code, label)
    // document A: header fields vary within the group, with nulls; "～"
    // (U+FF5E) sorts before "😀" (U+1F600) in UTF-8 but after it in UTF-16
    val docA = Seq(
      Row(dtA, stA, "😀 \"q\"", "desc & <b>", "bdc/", 3, "v<3", "n3", "t3", "d3", "string", null),
      Row(dtA, stA, null, null, null, 1, "v1&", "n&1", "t\"1", "d>1", "encoded value",
        Seq(v("1", "yes & no"), v("2", "<none>"))),
      Row(dtA, stA, "～ <b>", "desc & <a>", "bdc/", 1, "v0", "n0", null, null, null, null),
      Row(dtA, stA, "😀", null, "bdc/", 2, "vX", "b>", "t", "d", "string", null),
      Row(dtA, stA, null, "desc & <c>", "bdc/", 2, "vX", "a<", "t2", "d", "string", null),
      Row(dtA, stA, "～ <c>", null, "bdc/", 2, "vX", "a<", "t1", "d", "string", null),
      Row(dtA, stA, null, null, null, 2, "vX", "a<", "t1", "d", null, Seq(v("1", "z"))),
      Row(dtA, stA, null, null, null, 2, "vX", "a<", "t1", "d", null,
        Seq(v("2", "x&"), v("1", "y<"))),
      Row(dtA, stA, null, null, null, 2, "vX", "a<", "t1", "d", null, null),
      Row(dtA, stA, null, null, null, 2, "vX", "a<", "t1", "\"d\"", "string", null)) ++
      (4 to 9).map(i => Row(dtA, stA, null, null, "bdc/", i, s"v$i", s"n$i<", s"t$i>",
        s"d$i&", "string", if (i % 2 == 0) null else Seq(v(s"$i", s"\"l$i\""))))
    val others = Seq(
      // the same dt_id in another study is another document; no header values
      Row(dtA, "phs2", null, null, null, 1, "w1", "m1", null, null, null, null),
      Row(dtA, "phs2", null, null, null, 0, "w0", "m0", null, null, null, null),
      Row(null, "phs3", "s3", null, "", 1, "u1", "k1", null, null, null, null),
      Row("pht>4", stA, "s&4", "g\"4\"", "heal/", 1, "z>", "z&", "z<", "z\"", "string",
        Seq(v("<c>", "&l\""))))
    // interleave A's rows with the others' so the slices split document A
    val rows = docA.zipWithIndex.flatMap { case (r, i) =>
      if (i < others.length) Seq(r, others(i)) else Seq(r) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val slicesWithA = df.rdd.mapPartitions(it =>
      Iterator(it.count(r => r.getString(0) == "pht<1>" && r.getString(1) == "phs&\"1\"")))
      .collect().count(_ > 0)
    assert(slicesWithA >= 3, s"document A spans $slicesWithA input partitions")

    val docs = DbGapXmlRenderer.renderDataTables(df).collect()
    val expected = oracle(df)
    assert(docs.length == 4 && expected.size == 4)
    assert(docs.toSet == expected)
    val a = docs.find(_._1 == "bdc/phs&\"1\"/pht<1>.data_dict.xml").get._2
    // UTF-8 `min`, as the engine compares strings (UTF-16 order would pick 😀)
    assert(a.contains("""study_name="～ &lt;b&gt;">"""), a)
    assert(a.contains("  <description>desc &amp; &lt;a&gt;</description>\n"), a)
    assert(docs.exists(_._1 == "phs2/pht<1>.data_dict.xml"))
    assert(docs.exists(_._1 == "phs3/null.data_dict.xml"))
  }

  test("KGX assembly: consent collapse (A8), typed graph, single-doc render") {
    val studies = Seq("phs1.c1", "phs1.c2", "phs2.c1").toDF("study_id")
      .withColumn("name", col("study_id"))
      .withColumn("program", lit("topmed"))
    val nodes = KgxAssembler.studyNodes(studies, "study_id", "name", "program")
    assert(nodes.count() == 2) // consent variants collapsed per base id
    val phs1 = nodes.filter(col("id") === "phs1").select("consents").as[String].head()
    assert(phs1 == "phs1.c1|phs1.c2")
    val (cNodes, edges) = KgxAssembler.consentNodesAndEdges(studies, "study_id")
    val (tn, te) = KgxAssembler.typedGraph(cNodes, edges)
    assert(tn.collect().forall(_.categories == Seq("biolink:StudyPopulation")))
    assert(te.collect().forall(_.predicate == "biolink:related_to"))
    val doc = KgxAssembler.toJsonDocument(
      nodes.select("id", "name", "categories", "iri"), edges)
    assert(doc.startsWith("""{"nodes":[""") && doc.contains(""""edges":["""))
    assert(doc.contains(""""subject":"phs1.c1","predicate":"biolink:related_to","object":"phs1""""))
  }

  test("renderDataTables: input clustered on the document key plans no exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL,
      REPARTITION_BY_NUM, ShuffleExchangeLike}
    object Stages extends AdaptiveSparkPlanHelper
    val vars = Seq(
      ("pht1", "phs1", "s1", "g", "", 2, "v2", "n2"),
      ("pht1", "phs1", "s1", "g", "", 1, "v1", "n1"),
      ("pht2", "phs1", "s1", null, "", 1, "w1", "m1"),
      ("pht1", "phs2", "s2", null, "", 1, "u1", "k1"))
      .toDF("dt_id", "study_id", "study_name", "group_description", "path_prefix", "pos",
        "var_id", "var_name")
      .select(col("*"), lit(null).cast("string").as("var_title"),
        lit(null).cast("string").as("var_description"), lit("string").as("var_type"),
        lit(null).cast("array<struct<code:string,label:string>>").as("values"))
      .repartition(3) // round-robin: clustered on nothing
    def shuffles(df: org.apache.spark.sql.Dataset[_]): Seq[ShuffleExchangeLike] = {
      df.collect()
      Stages.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeLike => e }
    }
    val expected = DbGapXmlRenderer.renderDataTables(vars).collect().toSet
    assert(expected.size == 3)
    // clustered on the key, or on a part of it: the input's own exchange
    // (which replaces the round-robin one) is the only one
    for (keys <- Seq(Seq("dt_id", "study_id"), Seq("study_id", "dt_id"), Seq("study_id"))) {
      val docs = DbGapXmlRenderer.renderDataTables(vars.repartition(keys.map(col): _*))
      assert(shuffles(docs).map(_.shuffleOrigin) == Seq(REPARTITION_BY_COL),
        s"$keys: ${docs.queryExecution.executedPlan}")
      assert(docs.collect().toSet == expected)
    }
    // unclustered input: exactly the one exchange the grouping asks for
    assert(shuffles(DbGapXmlRenderer.renderDataTables(vars)).map(_.shuffleOrigin).toSet ==
      Set(ENSURE_REQUIREMENTS, REPARTITION_BY_NUM))
  }

  test("P18 composition: XML read -> field rewrite -> re-render") {
    // the reference mutates StudyNameEntrez in a parsed tree
    // (get_dbgap_data_dicts.py:24-42); our equivalent is scan -> join new
    // names -> re-render, all declarative
    val fixtures = getClass.getResource("/fixtures").getPath
    val dts = graft.sources.XmlDictSource.readDataTables(spark, s"$fixtures/lake/bdc")
    val newNames = Seq(("phs000007.v32", "Renamed Study")).toDF("sid", "new_name")
    val renderInput = graft.sources.XmlDictSource.variables(dts)
      .join(newNames, col("study_id") === col("sid"))
      .select(col("dt_id"), col("study_id"),
        col("new_name").as("study_name"),
        lit(null).cast("string").as("group_description"),
        lit("").as("path_prefix"),
        col("pos"),
        col("var_id"), col("name").as("var_name"),
        lit(null).cast("string").as("var_title"),
        col("description").as("var_description"),
        col("type").as("var_type"),
        lit(null).cast("array<struct<code:string,label:string>>").as("values"))
    val docs = DbGapXmlRenderer.renderDataTables(renderInput).collect()
    assert(docs.length == 1)
    assert(docs.head._2.contains("""study_name="Renamed Study""""))
    assert(docs.head._2.contains("<name>AGE</name>")) // variables preserved
  }

  test("writeDocuments rejects data-derived paths escaping the sink dir") {
    val out = Files.createTempDirectory("esc").toString
    val evil = Seq(("../outside.txt", "nope")).toDS()
    val boom = intercept[Exception] {
      DocumentSink.writeDocuments(evil, out)
    }
    assert(boom.getMessage.contains("escapes the sink directory")
      || boom.getCause != null)
    assert(!Files.exists(Paths.get(out).getParent.resolve("outside.txt")))
    // absolute paths are rejected too
    val abs = Seq(("/tmp/graft_abs_escape.txt", "nope")).toDS()
    intercept[Exception] { DocumentSink.writeDocuments(abs, out) }
    assert(!Files.exists(Paths.get("/tmp/graft_abs_escape.txt")))
    // a legitimate nested relative path still writes
    DocumentSink.writeDocuments(Seq(("sub/ok.txt", "yes")).toDS(), out)
    assert(Files.readString(Paths.get(out, "sub/ok.txt")) == "yes")
  }

  test("driver-funneled sinks raise past their row ceilings") {
    val big = spark.range(5).selectExpr("CAST(id AS STRING) AS id",
      "CAST(id AS STRING) AS name", "array('biolink:Study') AS categories")
    val edges = Seq.empty[(String, String, String)]
      .toDF("subject", "predicate", "object")
    val e1 = intercept[IllegalArgumentException] {
      KgxAssembler.toJsonDocument(big, edges, maxRows = 2)
    }
    assert(e1.getMessage.contains("collects nodes to the driver"))
    // the edges carry their own ceiling: one node fits, five edges do not
    val e2 = intercept[IllegalArgumentException] {
      KgxAssembler.toJsonDocument(big.limit(1), big.select(col("id").as("subject"),
        lit("biolink:related_to").as("predicate"), col("name").as("object")), maxRows = 2)
    }
    assert(e2.getMessage.contains("collects edges to the driver"), e2.getMessage)
    val out = Files.createTempDirectory("cap").toString
    val flat = big.select("id", "name")
    val e3 = intercept[IllegalArgumentException] {
      DocumentSink.writeSingleCsv(flat, s"$out/csv", maxRows = 2)
    }
    assert(e3.getMessage.contains("metadata-scale sink"))
    // under the ceiling both still work
    assert(KgxAssembler.toJsonDocument(big, edges, maxRows = 100).contains("\"id\":\"0\""))
    DocumentSink.writeSingleCsv(flat, s"$out/csv2", maxRows = 100)
    assert(Files.list(Paths.get(out, "csv2"))
      .anyMatch(_.getFileName.toString.startsWith("part-")))
    // an absurd ceiling must clamp (NOT overflow into a negative limit and
    // throw a confusing AnalysisException) — the guard degrades to a pass
    DocumentSink.writeSingleCsv(flat, s"$out/csv3", maxRows = Long.MaxValue)
    assert(DocumentSink.probeLimit(Long.MaxValue) == Int.MaxValue)
    assert(DocumentSink.probeLimit(10L) == 11)
  }

  test("toJsonDocument: nodes given in reverse id order come out sorted") {
    // given in reverse id order, in one partition
    val nodes = Seq(("n3", "c"), ("n2", "b"), ("n1", "a")).toDF("id", "name").coalesce(1)
    val edges = Seq(("n3", "n1"), ("n1", "n2"), ("n1", "n1")).toDF("subject", "object")
      .select(col("subject"), lit("biolink:related_to").as("predicate"), col("object"))
    // nodes come out sorted by id, edges by (subject, object)
    val doc = KgxAssembler.toJsonDocument(nodes, edges, maxRows = 3)
    assert(doc == """{"nodes":[{"id":"n1","name":"a"},{"id":"n2","name":"b"},""" +
      """{"id":"n3","name":"c"}],"edges":[""" +
      """{"subject":"n1","predicate":"biolink:related_to","object":"n1"},""" +
      """{"subject":"n1","predicate":"biolink:related_to","object":"n2"},""" +
      """{"subject":"n3","predicate":"biolink:related_to","object":"n1"}]}""", doc)
  }

  test("jsonDocument: the driver-rendered document equals the toJSON path byte for byte") {
    import graft.model.{KgxEdge, KgxNode}
    def node(id: String, name: String, cats: Seq[String] = Seq("biolink:Study"),
             iri: Option[String] = None) = KgxNode(id, name, cats, None, iri, None)
    val nodes = Seq(
      node("b", null), // a null name is omitted
      node("q\"uote", "back\\slash \"both\""),
      node("ctl\u0001\t\n\r\b\f\u001f", "\u0000 nul and \u007f del"),
      node("\uffff", "U+FFFF sorts before every non-BMP id"),
      node("\ud83d\ude00", "😀 non-BMP", Seq("biolink:A", "biolink:B")),
      node("～", "fullwidth tilde"),
      node("a", "é ünïcode </script> & <b>", Seq.empty, iri = Some("https://x/a?b=1&c=2")),
      node(null, "a null id sorts first"),
      node("c", "no categories", cats = null))
    val edges = Seq(
      KgxEdge("b", "biolink:related_to", "a"),
      KgxEdge("\ud83d\ude00", "biolink:related_to", "\uffff"),
      KgxEdge("a", "biolink:related_to", "\\"),
      KgxEdge("a", "biolink:related_to", "\""),
      KgxEdge(null, "biolink:related_to", "b"),
      KgxEdge("\uffff", null, null))
    val oracle = KgxAssembler.toJsonDocument(nodes.toDS().toDF(), edges.toDS().toDF())
    val doc = KgxAssembler.jsonDocument(nodes, edges)
    assert(doc == oracle)
    // the oracle's order and omissions, spelled out
    assert(doc.startsWith("""{"nodes":[{"name":"a null id sorts first","categories":["""))
    assert(doc.contains("""{"id":"b","categories":["biolink:Study"]}"""))
    assert(doc.indexOf("\uffff") < doc.indexOf("\ud83d\ude00"))
    assert(doc.contains("""{"id":"c","name":"no categories"}"""))
    assert(doc.contains("\"id\":\"ctl\\u0001\\t\\n\\r\\b\\f\\u001F\""), doc)
    // nothing to sort or write: two empty lists, as the toJSON path renders them
    val none = KgxAssembler.toJsonDocument(Seq.empty[KgxNode].toDS().toDF(),
      Seq.empty[KgxEdge].toDS().toDF())
    assert(KgxAssembler.jsonDocument(Nil, Nil) == none)
    assert(none == """{"nodes":[],"edges":[]}""")
  }

  test("K4 partitioned layout: null partition values become __missing__") {
    val out = Files.createTempDirectory("part").toString
    val df = Seq(("a", "p1"), ("b", null)).toDF("v", "prog")
    DocumentSink.writePartitioned(df, Seq("prog"), out)
    assert(Files.exists(Paths.get(out, "prog=p1")))
    assert(Files.exists(Paths.get(out, "prog=__missing__")))
    // round-trips with partition pruning intact
    val back = spark.read.parquet(out)
    assert(back.filter(col("prog") === "__missing__").select("v").as[String].head() == "b")
  }
}
