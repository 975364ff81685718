package graft.pipelines

import graft.SparkSpec
import graft.sources.{CsvSources, MdsJsonSource, XmlDictSource}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = getClass.getResource("/fixtures").getPath

  /** What `body` ran: its actions in order, each with the number of Spark
    * jobs it started, and the analyzed plan of each action that is a SQL
    * execution. An action is one SQL execution, named by its call site
    * without the line ("collect at BdcIngest.scala"); jobs outside any
    * execution (schema inference) count as actions of their own. Under
    * adaptive execution the jobs of one action run on other threads and
    * carry no useful call site, but they all carry its execution id.
    * `executed` holds each such action's final physical plan (adaptive
    * query stages included). Job counts are those of the spec session's 4
    * cores. */
  private case class Observed(actions: Seq[(String, Int)], plans: Seq[LogicalPlan],
                              executed: Seq[SparkPlan])

  private def actionsOf(body: => Unit): Seq[(String, Int)] = observe(body).actions

  private def observe(body: => Unit): Observed = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
    val sc = spark.sparkContext
    val group = s"pipelines_${System.nanoTime()}"
    val executions = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val plans = new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()
    val executed = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String)]()
    @volatile var barrierSeen = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.put(s.executionId.toString, s.description.replaceAll(":\\d+$", ""))
        case s: SparkListenerSQLExecutionEnd =>
          // every execution's end event carries its QueryExecution, named
          // or not (`qe` is private[sql], hence the reflective read)
          val qe = s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]
          if (qe != null) {
            plans.put(s.executionId.toString, qe.analyzed)
            executed.put(s.executionId.toString, qe.executedPlan)
          }
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = j.properties.getProperty("spark.jobGroup.id")
        if (g == group) jobs.add((j.jobId,
          Option(j.properties.getProperty("spark.sql.execution.id")).getOrElse(""),
          j.stageInfos.maxBy(_.stageId).name))
        else if (g == s"$group-barrier") barrierSeen = true
      }
    }
    sc.addSparkListener(listener)
    try {
      // no group description: an execution is then named by its call site
      sc.setJobGroup(group, null)
      try body finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the barrier job is
      // seen, every event of the body has been delivered
      sc.setJobGroup(s"$group-barrier", null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!barrierSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val ordered = jobs.asScala.toSeq.sortBy(_._1)
    val keys = ordered.map { case (id, exec, site) =>
      if (exec.isEmpty) s"job $id" -> site.replaceAll(":\\d+$", "")
      else exec -> executions.getOrDefault(exec, "?")
    }
    val sqlIds = keys.distinct.collect { case (id, _) if !id.startsWith("job ") => id }
    Observed(keys.distinct.map { k => k._2 -> keys.count(_ == k) },
      sqlIds.map(plans.get), sqlIds.map(executed.get))
  }

  /** The expressions whose UTF8_BINARY evaluation calls into Spark 4.1's
    * `CollationAwareUTF8String`, whose static initializer title-cases all
    * 1,114,112 code points through ICU. `javap -c` on
    * `org.apache.spark.sql.catalyst.util.CollationSupport$*` (spark-unsafe)
    * lists the binary-collation branches that reach it: `Lower`, `Upper` and
    * `InitCap` under the default ICU case mappings, and `StringTrim`/
    * `StringTrimRight` with a trim string under a space-trimming collation
    * (kept here for every trim-string form); `StringToMap` calls its
    * `splitSQL` directly. */
  private def collationCaseMapCalls(plan: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    plan.collectWithSubqueries { case node => node.expressions.flatMap(_.collect {
      case e @ (_: Lower | _: Upper | _: InitCap | _: StringToMap) => e.toString
      case e: StringTrim if e.trimStr.isDefined => e.toString
      case e: StringTrimLeft if e.trimStr.isDefined => e.toString
      case e: StringTrimRight if e.trimStr.isDefined => e.toString
    })}.flatten
  }

  test("BdcIngest: validation split, join, XML per data table in program dirs") {
    val out = Files.createTempDirectory("bdc").toString
    val gen3 = CsvSources.readGen3Studies(spark, s"$fixtures/gen3.csv")
    val pic = CsvSources.cleanPicsureVars(
      CsvSources.readPicsureVars(spark, s"$fixtures/picsure.csv"))
    val res = BdcIngest.run(spark, gen3, pic, out)

    // rejects: missing Consent (phs002206), missing Description (phs000285)
    val rejects = res.rejects.select("Accession", "reason")
      .as[(String, String)].collect().toMap
    assert(rejects == Map(
      "phs002206.v2" -> "missing Consent",
      "phs000285.v3" -> "missing Description"))

    // program dir normalized from "topmed|parent" -> topmed
    val xml1 = Paths.get(out, "topmed/phs000007.v32/pht000030.data_dict.xml")
    val xml2 = Paths.get(out, "topmed/phs000007.v32/pht000031.data_dict.xml")
    assert(Files.exists(xml1), s"missing $xml1")
    assert(Files.exists(xml2), s"missing $xml2")
    val content = Files.readString(xml1)
    assert(content.contains("""<data_table id="pht000030" study_id="phs000007.v32""""))
    assert(content.contains("<name>AGE</name>"))
    // categorical SEX gets positional value codes (xml_generator.py:151-156)
    assert(content.contains("""<value code="1">Male</value>"""))
    assert(content.contains("""<value code="2">Female</value>"""))
    assert(content.contains("<type>encoded value</type>"))
    // orphan study and varId-less row never appear
    assert(!Files.exists(Paths.get(out, "g")))
    assert(!content.contains("BROKEN"))

    // companion GapExchange frame next to the data tables
    val gap = Paths.get(out, "topmed/phs000007.v32/GapExchange_phs000007.v32.xml")
    assert(Files.exists(gap), s"missing $gap")
    assert(Files.readString(gap).contains("<StudyNameEntrez>Framingham Cohort</StudyNameEntrez>"))

    val summary = res.summary.as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(summary("generated")._1 == 1L)
    assert(summary("skipped")._1 == 2L)

    // processing_summary.txt (write_summary layout, A9/K6)
    val txt = Files.readString(Paths.get(out, "processing_summary.txt"))
    assert(txt == res.processingSummary)
    assert(txt.contains("PROCESSING SUMMARY"))
    assert(txt.contains("Total studies processed: 3"))
    assert(txt.contains("Successfully processed: 1"))
    assert(txt.contains("  - Generated with XML fallback: 1"))
    assert(txt.contains("Failed: 2"))
    assert(txt.contains("\nStudies generated using XML generator:\n" +
      "  1. phs000007 (phs000007.v32) - Reason: Generated from PicSure metadata"))
    assert(txt.contains("\nFailed studies:\n"))
    assert(txt.contains("(phs000285.v3) - Reason: missing Description"))
    // Gen3∩PicSure overlap: phs ids harvested from ALL picsure text columns
    assert(txt.contains("Studies in both Gen3 and PicSure: 1"))
    assert(txt.contains("\nStudies found in both Gen3 and PicSure:\n  phs000007"))

    // observed counts: 3 Gen3 rows, 4 PicSure rows past the clean rule
    // (the varId-less row is dropped; the orphan is read)
    // and 3 documents written, all in the one program dir: 2 data tables
    // and the GapExchange frame
    assert(res.counts == BdcIngest.Counts(gen3Rows = 3L, validRows = 1L,
      rejectsByReason = Map("missing Consent" -> 1L, "missing Description" -> 1L),
      picsureRows = 4L, documentsByDir = Map("topmed" -> 3L)))
  }

  test("BdcIngest: one Gen3 collect and one document write") {
    val out = Files.createTempDirectory("bdc_jobs").toString
    val gen3 = CsvSources.readGen3Studies(spark, s"$fixtures/gen3.csv")
    val pic = CsvSources.cleanPicsureVars(
      CsvSources.readPicsureVars(spark, s"$fixtures/picsure.csv"))
    var res: BdcIngest.Result = null
    val observed = observe { res = BdcIngest.run(spark, gen3, pic, out) }
    val actions = observed.actions
    // Gen3 in one collect guarded by its own limit (no probe `count`); the
    // data-table and GapExchange documents in one write whose PicSure scan
    // also observes the overlap ids; the summary renders from the collected
    // rows, with no job
    assert(actions.map(_._1) == Seq(
      "collect at BdcIngest.scala",
      "foreachPartition at DocumentSink.scala"), actions)
    assert(actions.map(_._2).sum == 4, actions)
    // Gen3 is read by the collect alone and PicSure by the write alone:
    // the results and the write's broadcast side are local relations
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val read = observed.plans.map(_.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(_.getName)
        case _ => Nil
      }
      case _ => Nil
    })
    assert(read == Seq(Seq("gen3.csv"), Seq("picsure.csv")), observed.plans)
    assert(Seq(res.valid, res.rejects, res.summary).forall(_.inputFiles.isEmpty))
    assert(Files.readString(Paths.get(out, "processing_summary.txt"))
      .contains("\nStudies found in both Gen3 and PicSure:\n  phs000007"))
  }

  test("BdcIngest: the document write is one sorted shuffle, no window or aggregate") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val out = Files.createTempDirectory("bdc_plan").toString
    val gen3 = CsvSources.readGen3Studies(spark, s"$fixtures/gen3.csv")
    val pic = CsvSources.cleanPicsureVars(
      CsvSources.readPicsureVars(spark, s"$fixtures/picsure.csv"))
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "foreachPartition") writes.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      BdcIngest.run(spark, gen3, pic, out)
      val deadline = System.currentTimeMillis() + 10000
      while (writes.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, writes)
    // the final adaptive plan, query stages included
    val plan = writes.peek().executedPlan
    object Stages extends AdaptiveSparkPlanHelper
    def all(pf: PartialFunction[SparkPlan, SparkPlan]) = Stages.collect(plan)(pf)
    assert(all { case e: ShuffleExchangeLike => e }.size == 1, plan)
    assert(all { case w: WindowExec => w }.isEmpty, plan)
    assert(all { case a: BaseAggregateExec => a }.isEmpty, plan)
    assert(Files.exists(Paths.get(out, "topmed/phs000007.v32/pht000030.data_dict.xml")))
  }

  private val picsureHeader = "studyId,dtId,varId,derived_var_name,derived_group_name," +
    "description,columnmeta_name,columnmeta_description,columnmeta_var_group_description," +
    "is_categorical,values\n"

  /** Runs the BDC lifecycle on `gen3Csv` (the fixture's by default) and a
    * PicSure file holding `picsureCsv`, under a time limit that interrupts
    * it: the overlap is an observation of the write's scan, and waiting on
    * one that never reports would block for ever. */
  private def bdcRun(name: String, picsureCsv: String, gen3Csv: Option[String] = None)
      : (BdcIngest.Result, java.nio.file.Path) = {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val dir = Files.createTempDirectory(name)
    val pic = Files.writeString(dir.resolve("picsure.csv"), picsureCsv).toString
    val gen3 = gen3Csv.fold(s"$fixtures/gen3.csv")(
      Files.writeString(dir.resolve("gen3.csv"), _).toString)
    val out = dir.resolve("out")
    val res = TimeLimits.failAfter(120.seconds) {
      BdcIngest.run(spark, CsvSources.readGen3Studies(spark, gen3),
        CsvSources.cleanPicsureVars(CsvSources.readPicsureVars(spark, pic)), out.toString)
    }
    (res, out)
  }

  private def dataTables(out: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(out).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".data_dict.xml")).toSeq
  }

  test("BdcIngest: no valid study: no data tables, no overlap, no wait") {
    import scala.jdk.CollectionConverters._
    // the fixture's header and its two rejected studies
    val gen3 = Files.readAllLines(Paths.get(s"$fixtures/gen3.csv")).asScala
    val (res, out) = bdcRun("bdc_none", Files.readString(Paths.get(s"$fixtures/picsure.csv")),
      Some((gen3.head +: gen3.drop(2)).map(_ + "\n").mkString))
    assert(res.counts == BdcIngest.Counts(2L, 0L,
      Map("missing Consent" -> 1L, "missing Description" -> 1L), 0L, Map.empty))
    assert(res.valid.count() == 0L && res.rejects.count() == 2L)
    assert(res.summary.as[(String, Long, String)].collect().toSeq ==
      Seq(("skipped", 2L, "phs000285.v3|phs002206.v2")))
    assert(dataTables(out).isEmpty)
    assert(res.processingSummary.contains("Successfully processed: 0"))
    assert(res.processingSummary.contains("Studies in both Gen3 and PicSure: 0"))
  }

  test("BdcIngest: the overlap counts any row's valid phs ids, never a reject's") {
    // no row joins a valid study: the overlap comes from an orphan row's
    // group column (phs000007 is valid) and never from the description
    // naming phs002206, which the validation rejected
    val (res, out) = bdcRun("bdc_orphans", picsureHeader +
      "phs999999,pht999000,phv99900001,ORPHAN,phs000007.v32,o,ORPHAN,o,G,False,\n" +
      "phs999999,pht999000,phv99900002,REJ,g,phs002206.v2 follow-up,REJ,r,G,False,\n")
    assert(res.counts.picsureRows == 2L)
    assert(res.counts.documentsByDir == Map("topmed" -> 1L)) // the GapExchange frame
    assert(dataTables(out).isEmpty)
    assert(Files.exists(out.resolve("topmed/phs000007.v32/GapExchange_phs000007.v32.xml")))
    assert(res.processingSummary.contains("Studies in both Gen3 and PicSure: 1"))
    assert(res.processingSummary.contains(
      "\nStudies found in both Gen3 and PicSure:\n  phs000007\n"))
  }

  test("BdcIngest: a header-only PicSure file scans no row and finds no overlap") {
    val (res, out) = bdcRun("bdc_empty", picsureHeader)
    assert(res.counts == BdcIngest.Counts(3L, 1L,
      Map("missing Consent" -> 1L, "missing Description" -> 1L), 0L, Map("topmed" -> 1L)))
    assert(dataTables(out).isEmpty)
    assert(Files.exists(out.resolve("topmed/phs000007.v32/GapExchange_phs000007.v32.xml")))
    assert(res.processingSummary.contains("Studies in both Gen3 and PicSure: 0"))
  }

  test("PretrainCuration: gate → line dedup → fuzzy dedup → decontaminate → carve") {
    import graft.ext.Curation
    val docs = Seq(
      (1L, "the quick brown fox jumps over dog\nBOILER PLATE LINE", "en"),
      (2L, "the quick brown fox jumps over dog\nBOILER PLATE LINE", "en"), // exact dup
      (3L, "tiny doc", "en"),                                              // too short
      (4L, "ceci nest pas anglais du tout vraiment", "fr"),                // bad lang
      (5L, "alpha beta gamma delta epsilon zeta eta theta\nBOILER PLATE LINE", "en"),
      (6L, "alpha beta gamma delta epsilon zeta eta iota\nBOILER PLATE LINE", "en"), // near-dup of 5
      (7L, "document that shares exactly these grams today", "en"),        // contaminated
      (8L, "unique filler document number eight with words", "en"),
      (9L, "another entirely different filler document nine", "en"),
      (10L, "more independent filler content document ten", "en"),
      (11L, "final standalone filler document number eleven", "en")
    ).toDF("doc_id", "text", "lang")
    val bench = Seq((100L, "benchmark shares exactly these grams okay")).toDF("doc_id", "text")

    val res = PretrainCuration.run(docs, bench,
      Curation.Rules(minTokens = 3, allowedLangs = Seq("en")), holdoutPerLang = 2)

    val rejected = res.rejected.select("doc_id", "status")
      .as[(Long, String)].collect().toMap
    assert(rejected == Map(2L -> "dup", 3L -> "too_short", 4L -> "bad_lang"))

    val attrition = res.attrition.as[(String, Long)].collect().toMap
    assert(attrition == Map(
      "0_input" -> 11L,          // all docs
      "1_rule_gate" -> 8L,       // minus dup/short/lang
      "2_line_dedup" -> 8L,      // BOILER line (3 corpus occurrences) stripped, docs survive
      "3_fuzzy_dedup" -> 7L,     // near-dup 6 dropped (keeper = min id 5)
      "4_decontaminated" -> 6L,  // 7 shares a 3-gram with the benchmark
      "5_train" -> 4L            // 2 per-lang holdout carved out
    ), attrition.toString)

    val train = res.train.select("doc_id").as[Long].collect().toSet
    val holdout = res.holdout.select("doc_id").as[Long].collect().toSet
    assert(holdout.size == 2 && (train & holdout).isEmpty)
    assert((train | holdout) == Set(1L, 5L, 8L, 9L, 10L, 11L))

    // the boilerplate line is gone from the surviving text, order kept
    val t1 = res.train.unionByName(res.holdout).filter(col("doc_id") === 1L)
      .select("text").as[String].head()
    assert(t1 == "the quick brown fox jumps over dog")
  }

  test("HealIngest: alias normalization, uniquify, enum packing, KGX") {
    val out = Files.createTempDirectory("heal").toString
    val mapping = CsvSources.readHdpidMapping(spark, s"$fixtures/mapping.csv")
    val res = HealIngest.run(spark, s"$fixtures/mds", mapping, out)

    val idx = res.variableIndex.orderBy("study_id", "dd_id", "name")
      .collect().map(r => (r.getAs[String]("study_id"), r.getAs[String]("name"),
        r.getAs[String]("section"), r.getAs[String]("encodings")))
    // HDP00001 uses property/module aliases + packed encodings form
    assert(idx.contains(("HDP00001", "opioid_use", "screening", "0=No|1=Yes")))
    // HDP00002: enumLabels map packed; duplicate name uniquified to _1
    assert(idx.exists(r => r._1 == "HDP00002" && r._2 == "pain_score" && r._4 == "1=Mild|2=Severe"))
    assert(idx.exists(r => r._1 == "HDP00002" && r._2 == "pain_score_1"))
    // 404-stub dict contributes no variables
    assert(!idx.exists(_._2 == null))
    assert(idx.length == 4)

    // study-type subdir from mapping: "HEAL Research Network" -> heal_research_network
    assert(Files.exists(Paths.get(out,
      "xml/heal_research_network/HDP00002/HEALCDE:dd-1.data_dict.xml")))
    assert(Files.exists(Paths.get(out,
      "xml/heal_studies/HDP00001/HEALCDE:dd-2.data_dict.xml")))

    // 404-stub dict surfaced in the skip report with its error
    val skipped = res.skippedDds.as[(String, String, String)].collect()
    assert(skipped.sameElements(Array(("HDP00002", "HEALCDE:dd-404", "404 not found"))))

    // KGX document contains study + dd nodes and related_to edges
    assert(res.kgxJson.contains(""""id":"HDP00002""""))
    assert(res.kgxJson.contains(""""id":"HEALCDE:dd-1""""))
    assert(res.kgxJson.contains(""""predicate":"biolink:related_to""""))

    // observed counts: 3 dictionaries (one a 404 stub), 4 variables, one
    // document per study-type dir
    assert(res.counts == HealIngest.Counts(dictionaries = 3L,
      skippedByReason = Map("404 not found" -> 1L), variables = 4L,
      documentsByDir = Map("heal_research_network" -> 1L, "heal_studies" -> 1L)))
  }

  test("HealIngest: each source parsed once; one action per driver-funnelled sink") {
    val out = Files.createTempDirectory("heal_jobs").toString
    val mapping = CsvSources.readHdpidMapping(spark, s"$fixtures/mapping.csv")
    var res: HealIngest.Result = null
    val actions = actionsOf { res = HealIngest.run(spark, s"$fixtures/mds", mapping, out) }
    assert(actions.map(_._1) == Seq(
      "json at MdsJsonSource.scala", // schema inference
      "localCheckpoint at HealIngest.scala", // the dictionaries: the one parse
      "collect at HealIngest.scala", // dictionary rows: KGX, skip report, CSV ceiling
      "localCheckpoint at HealIngest.scala", // the uniquified index
      "csv at DocumentSink.scala",
      "foreachPartition at DocumentSink.scala"), actions) // XML documents
    assert(actions.map(_._2).sum == 7, actions)
    // the results read the stages, not the JSON
    assert(res.variableIndex.inputFiles.isEmpty && res.skippedDds.inputFiles.isEmpty)
  }

  test("HealIngest: the variables are shuffled once, for the window and the documents") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val out = Files.createTempDirectory("heal_plan").toString
    val mapping = CsvSources.readHdpidMapping(spark, s"$fixtures/mapping.csv")
    val run = observe(HealIngest.run(spark, s"$fixtures/mds", mapping, out))
    assert(run.executed.nonEmpty && !run.executed.contains(null), run)
    object Stages extends AdaptiveSparkPlanHelper
    val shuffles = run.executed.map(p => Stages.collect(p) { case e: ShuffleExchangeLike => e })
    assert(shuffles.flatten.size == 1, run.executed)
    // the one exchange is the index staging's, which also holds the window
    val staging = run.executed(shuffles.indexWhere(_.nonEmpty))
    assert(Stages.collect(staging) { case w: WindowExec => w }.size == 1, staging)
    assert(Files.exists(Paths.get(out,
      "xml/heal_research_network/HDP00002/HEALCDE:dd-1.data_dict.xml")))
  }

  test("HealIngest: a dictionary without a study id or an @id is quarantined") {
    val out = Paths.get(Files.createTempDirectory("heal_ids").toString)
    val mapping = CsvSources.readHdpidMapping(spark, s"$fixtures/mapping.csv")
    val res = HealIngest.run(spark, s"$fixtures/mds_ids", mapping, out.toString)
    // only the dictionary with both ids is indexed and written
    assert(res.variableIndex.select("name").as[String].collect().toSeq == Seq("sleep_hours"))
    import scala.jdk.CollectionConverters._
    val written = Files.walk(out.resolve("xml")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(out.resolve("xml").relativize(_).toString).toSeq
    assert(written == Seq("heal_studies/HDP00003/HEALCDE:dd-3.data_dict.xml"), written)
    assert(res.skippedDds.as[(String, String, String)].collect().toSet == Set(
      ("HDP00003", null, "missing dictionary id (@id)"),
      (null, "HEALCDE:dd-9", "missing study id (_hdp_uid)")))
    // every KGX node has an id, and no edge leaves an id-less dictionary
    assert(res.kgxJson == """{"nodes":[{"id":"HDP00003","name":"HDP00003",""" +
      """"categories":["biolink:Study"]},{"id":"HEALCDE:dd-3","name":"Sleep CRF",""" +
      """"categories":["biolink:InformationResource"]}],"edges":[{"subject":"HEALCDE:dd-3",""" +
      """"predicate":"biolink:related_to","object":"HDP00003"}]}""", res.kgxJson)
    assert(res.counts == HealIngest.Counts(3L, Map("missing dictionary id (@id)" -> 1L,
      "missing study id (_hdp_uid)" -> 1L), 1L, Map("heal_studies" -> 1L)))
  }

  test("HealIngest: studies without dictionaries write an empty index and graph") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val dir = Files.createTempDirectory("heal_none")
    Files.createDirectories(dir.resolve("mds"))
    Files.writeString(dir.resolve("mds/HDP00009.json"),
      """{"gen3_discovery": {"_hdp_uid": "HDP00009", "project_title": "No dicts"}}""")
    val mapping = CsvSources.readHdpidMapping(spark, s"$fixtures/mapping.csv")
    // the dictionary count is an observation: a wait on one that never
    // reports would block for ever
    val res = TimeLimits.failAfter(120.seconds) {
      HealIngest.run(spark, dir.resolve("mds").toString, mapping, dir.resolve("out").toString)
    }
    assert(res.counts == HealIngest.Counts(0L, Map.empty, 0L, Map.empty))
    assert(res.variableIndex.count() == 0L && res.skippedDds.count() == 0L)
    assert(res.kgxJson == """{"nodes":[],"edges":[]}""")
  }

  test("BDC and HEAL ingests never reach the collation layer's ICU case-map table") {
    val gen3 = CsvSources.readGen3Studies(spark, s"$fixtures/gen3.csv")
    val pic = CsvSources.cleanPicsureVars(
      CsvSources.readPicsureVars(spark, s"$fixtures/picsure.csv"))
    val mapping = CsvSources.readHdpidMapping(spark, s"$fixtures/mapping.csv")
    val runs = Seq(
      "bdc" -> observe(BdcIngest.run(spark, gen3, pic,
        Files.createTempDirectory("bdc_icu").toString)),
      "heal" -> observe(HealIngest.run(spark, s"$fixtures/mds", mapping,
        Files.createTempDirectory("heal_icu").toString)))
    for ((name, run) <- runs) {
      // every SQL execution among the actions left its analyzed plan
      assert(run.plans.nonEmpty && !run.plans.contains(null), s"$name: $run")
      val calls = run.plans.flatMap(collationCaseMapCalls)
      assert(calls.isEmpty, s"$name plans call into CollationAwareUTF8String: $calls")
    }
  }

  test("DugIngest: sorted TSV with header, jq escaping, CDE exclusion (golden)") {
    val out = Files.createTempDirectory("dug").toString
    DugIngest.run(spark, s"$fixtures/dug/list.json", out)
    val dir = Paths.get(out, "list_tsv")
    val part = Files.list(dir).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get()
    val golden =
      "collection_id\tcollection_name\tcollection_action\n" +
        "dd-1\tOpioid\\tUse\t\n" + // embedded tab escaped like jq @tsv; null action -> empty
        "dd-2\tPain Study\tindex\n" +
        "dd-3\tCDE\tkeep\n" // name CDE but non-empty id: grep keeps it
    // the placeholder row ("\tCDE\t") is gone
    assert(Files.readString(part) == golden)
  }

  test("LakeIndex: per-repo variable counts pivoted into columns") {
    val piv = LakeIndex.run(spark, Map(
      "bdc" -> s"$fixtures/lake/bdc",
      "heal" -> s"$fixtures/lake/heal"))
    val rows = piv.orderBy("study_id")
      .as[(String, Long, Long)].collect()
    assert(rows.sameElements(Array(("phs000007.v32", 2L, 1L))))
  }

  test("typed Dataset[Study] view of an XML repository") {
    val studies = XmlDictSource.asStudies(
      XmlDictSource.readDataTables(spark, s"$fixtures/lake/bdc"), "bdc").collect()
    assert(studies.length == 1)
    val s0 = studies.head
    assert(s0.repository == "bdc" && s0.studyId == "phs000007.v32")
    assert(s0.sections.head.variables.map(_.name) == Seq("AGE", "SEX"))
    assert(s0.sections.head.variables.head.typ.contains("integer"))
  }

  test("XmlDictSource handles single-variable docs (struct vs array)") {
    val vars = XmlDictSource.variables(
      XmlDictSource.readDataTables(spark, s"$fixtures/lake/heal"))
    assert(vars.count() == 1)
    assert(vars.select("name").as[String].head() == "pain_score")
  }
}
