package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.{Filters, Joins, Projections, Windows}
import graft.pipelines.{BdcIngest, HealIngest, LakeIndex}
import graft.render.{DbGapXmlRenderer, DocumentSink, KgxAssembler, SummaryReport}
import graft.sources.{CsvSources, MdsJsonSource, XmlDictSource}

/** One benchmark sample: a fresh JVM that builds a session and runs one
  * ingest lifecycle through the program's public entry points.
  *
  * Usage: Harness <run|trace|readback> <workload> <inputDir> <outDir> <cores>
  *
  *  - run: time set-up and the lifecycle untraced, in CPU and wall
  *    seconds, and take the lifecycle's peak heap.
  *  - trace: time the lifecycle under a scheduler listener, then call
  *    each layer's public functions in the pipeline's order and time each
  *    call as a span, its output forced with the `noop` sink.
  *  - readback: read the generated inputs through the sources and print
  *    the counts the generator intended.
  *
  * `setup_s` and `run_user_cpu_s` are user-mode CPU seconds of the whole
  * JVM, every thread summed (JIT compilers and GC included); `cpu.*` splits
  * out kernel time and the JIT and GC threads, and `wall.*` are wall
  * seconds.
  *
  * The last stdout line is one JSON object prefixed with `RESULT `.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(mode, workload, in, out, cores) = args
    def uptime = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val atMain = uptime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val atSession = uptime
    GraftFunctions.register(spark)
    spark.range(1).count()
    val setupS = uptime
    val setupCpu = cpuSeconds()
    val fields: Seq[(String, Any)] = mode match {
      case "run" => run(spark, workload, in, out)
      case "trace" => trace(spark, workload, in, out, cores.toInt)
      case "readback" => readback(spark, workload, in)
    }
    val versions = Seq("setup_main_s" -> atMain, "setup_session_s" -> atSession,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version)
    spark.stop()
    println("RESULT " + Json.obj(Seq("setup_s" -> setupCpu("user"), "wall.setup_s" -> setupS,
      "cpu.setup_sys_s" -> setupCpu("sys")) ++ versions ++ fields))
  }

  /** CPU seconds this JVM has used so far, read from /proc: `user` and
    * `sys` time of the whole process, and the time of its JIT compiler
    * (`jit`) and GC and VM (`gc`) threads. The JVM keeps those threads for
    * its whole life (the run flags fix the compiler thread count). */
  def cpuSeconds(): Map[String, Double] = {
    def stat(path: String): (String, Array[String]) = {
      val line = new String(Files.readAllBytes(Paths.get(path)))
      val close = line.lastIndexOf(')')
      (line.substring(line.indexOf('(') + 1, close), line.substring(close + 2).split(' '))
    }
    // utime and stime, in clock ticks of 1/100 s
    def ticks(f: Array[String], i: Int) = f(i).toLong / 100.0
    val threads = new java.io.File("/proc/self/task").listFiles().toSeq.flatMap { t =>
      try Some(stat(s"${t.getPath}/stat")) catch { case _: java.io.IOException => None }
    }
    def group(p: String => Boolean) =
      threads.collect { case (n, f) if p(n) => ticks(f, 11) + ticks(f, 12) }.sum
    val (_, proc) = stat("/proc/self/stat")
    Map("user" -> ticks(proc, 11), "sys" -> ticks(proc, 12),
      "jit" -> group(_.contains("CompilerThre")),
      "gc" -> group(n => n.startsWith("GC Thread") || n.startsWith("VM ")))
  }

  // ------------------------------------------------------------ lifecycles

  /** Runs one lifecycle to its written outputs; returns the outputs a
    * check needs that are not files (lake_index writes nothing). */
  def lifecycle(spark: SparkSession, workload: String, in: String,
                out: String): Seq[(String, Any)] = workload match {
    case "bdc_ingest" =>
      val gen3 = CsvSources.readGen3Studies(spark, s"$in/gen3.csv")
      val pic = CsvSources.cleanPicsureVars(
        CsvSources.readPicsureVars(spark, s"$in/picsure.csv"))
      val res = BdcIngest.run(spark, gen3, pic, s"$out/docs")
      Seq(res.valid, res.rejects, res.summary).foreach(force)
      Nil
    case "heal_ingest" =>
      val mapping = CsvSources.readHdpidMapping(spark, s"$in/mapping.csv")
      val res = HealIngest.run(spark, s"$in/mds", mapping, s"$out/heal")
      Seq(res.variableIndex, res.skippedDds).foreach(force)
      Nil
    case "lake_index" =>
      val rows = LakeIndex.run(spark, lakeRepos(in)).collect()
      Seq("pivot" -> rows.map(r => r.getString(0) ->
        Seq("bdc" -> r.getLong(1), "heal" -> r.getLong(2))).sortBy(_._1).toSeq)
  }

  def lakeRepos(in: String): Map[String, String] =
    Map("bdc" -> s"$in/bdc", "heal" -> s"$in/heal")

  def force(df: Dataset[_]): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, workload: String, in: String,
          out: String): Seq[(String, Any)] = {
    val heap = new HeapWatch
    val c0 = cpuSeconds()
    val t0 = System.nanoTime()
    val outputs = lifecycle(spark, workload, in, out)
    val runS = (System.nanoTime() - t0) / 1e9
    val c = cpuSeconds().map { case (k, v) => k -> (v - c0(k)) }
    heap.stop()
    Seq("run_user_cpu_s" -> c("user"), "wall.run_s" -> runS, "cpu.sys_s" -> c("sys"),
      "cpu.jit_s" -> c("jit"), "cpu.gc_s" -> c("gc")) ++ heap.metrics ++ outputs
  }

  // ---------------------------------------------------------------- traced

  def trace(spark: SparkSession, workload: String, in: String, out: String,
            cores: Int): Seq[(String, Any)] = {
    val listener = new Counters(cores)
    spark.sparkContext.addSparkListener(listener)
    val gc0 = gcMillis()
    val heap = new HeapWatch
    listener.begin()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val outputs = lifecycle(spark, workload, in, out)
    val runS = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    heap.stop()
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    val counters = listener.summary(w0, w1) :+
      ("spark.gc_s" -> (gcMillis() - gc0) / 1e3)

    val spans = new Spans
    workload match {
      case "bdc_ingest" => bdcSpans(spark, spans, in, s"$out/spans")
      case "heal_ingest" => healSpans(spark, spans, in, s"$out/spans")
      case "lake_index" => lakeSpans(spark, spans, in)
    }
    val layerSum = spans.records.map(_._2).sum
    Seq("pipelines.run_s" -> runS,
      "pipelines.compose_s" -> (runS - layerSum)) ++
      counters ++ heap.metrics.map { case (k, v) => s"heap.$k" -> v } ++ spans.metrics ++
      Seq("spans" -> spans.records.map { case (n, s) => Seq("name" -> n, "s" -> s) }) ++
      outputs
  }

  /** Times one layer call per span. Inputs are materialized with
    * `localCheckpoint` outside the span, so a span holds its own call's
    * work and not a re-run of everything upstream. */
  final class Spans {
    val records = mutable.ArrayBuffer.empty[(String, Double)]
    val extra = mutable.ArrayBuffer.empty[(String, Any)]

    def time[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val result = body
      records += name -> (System.nanoTime() - t0) / 1e9
      result
    }

    /** Forces `df` inside span `name`, then returns it materialized. */
    def step[T](name: String)(df: => Dataset[T]): Dataset[T] = {
      val d = time(name) { val d = df; force(d); d }
      d.localCheckpoint()
    }

    /** Span totals by name (a call made once per repository sums). */
    def metrics: Seq[(String, Any)] =
      records.map(_._1).distinct.map(n => n -> records.filter(_._1 == n).map(_._2).sum).toSeq ++
        extra
  }

  def bdcSpans(spark: SparkSession, sp: Spans, in: String, out: String): Unit = {
    val gen3 = sp.step("sources.gen3_scan_s")(
      CsvSources.readGen3Studies(spark, s"$in/gen3.csv"))
    val scanned = sp.step("sources.picsure_scan_s")(
      CsvSources.cleanPicsureVars(CsvSources.readPicsureVars(spark, s"$in/picsure.csv"))
        .drop("values_arr"))
    val pic = sp.step("functions.pyliteral_s")(
      scanned.withColumn("values_arr", Projections.parsePyLiteralList(col("values"))))
    val (v, r) = sp.time("ops.validation_split_s") {
      val (v, r) = Filters.validationSplit(gen3, BdcIngest.requiredStudyFields)
      force(v); force(r); (v, r)
    }
    val valid = v.localCheckpoint()
    val rejects = r.localCheckpoint()
    val studies = valid
      .withColumn("study_id", Projections.splitPart(col("Accession"), ".", 1))
      .withColumn("program_dir", Projections.normalizeName(col("Program")))
    // the picsure `description` clashes with Gen3's `Description` under
    // case-insensitive resolution once the join is materialized: rename it
    // by position, as the pipeline resolves it through the picsure frame
    val joinedRaw = Joins.broadcastEquiJoin(pic, studies, pic("studyId") === studies("study_id"))
    val descAt = pic.columns.indexOf("description")
    val joined = sp.step("ops.join_s")(joinedRaw.toDF(joinedRaw.columns.indices.map(i =>
      if (i == descAt) "var_description" else joinedRaw.columns(i)): _*))
    val pos = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("dtId")).orderBy(col("varId")))
    val values = when(col("is_categorical"),
      transform(col("values_arr"), (x, i) =>
        struct((i + 1).cast("string").as("code"), x.as("label"))))
    val renderInput = joined.select(
      col("dtId").as("dt_id"), col("Accession").as("study_id"),
      col("Study Name").as("study_name"),
      col("columnmeta_var_group_description").as("group_description"),
      concat(col("program_dir"), lit("/")).as("path_prefix"),
      pos.as("pos"), col("varId").as("var_id"),
      col("derived_var_name").as("var_name"), col("columnmeta_name").as("var_title"),
      col("var_description"),
      when(col("is_categorical"), "encoded value").otherwise("string").as("var_type"),
      values.as("values"))
    val docs = sp.step("render.xml_render_s")(
      DbGapXmlRenderer.renderDataTables(renderInput).union(
        DbGapXmlRenderer.renderGapExchange(studies.select(
          col("Accession").as("study_id"), col("Study Name").as("study_name"),
          col("Description").as("study_description"),
          concat(col("program_dir"), lit("/")).as("path_prefix")))))
    writeDocs(sp, docs, out)
    val overlap = sp.time("ops.prefix_membership_s") {
      Joins.prefixScanMembership(pic, pic.columns.toSeq, "phs",
        studies.select(col("study_id")).distinct(), "study_id")
        .collect().map(_.getString(0)).toSeq
    }
    val perStudy = studies.select(col("study_id"), col("Accession").as("accession_id"),
        lit("SUCCESS").as("status"), lit("XML_generator").as("method"),
        lit("Generated from PicSure metadata").as("details"))
      .unionByName(rejects.select(
        Projections.splitPart(col("Accession"), ".", 1).as("study_id"),
        coalesce(col("Accession"), lit("(no accession)")).as("accession_id"),
        lit("FAILED").as("status"), lit("none").as("method"), col("reason").as("details")))
      .localCheckpoint()
    sp.time("render.summary_s")(SummaryReport.writeProcessingSummary(perStudy, overlap, out))
  }

  def writeDocs(sp: Spans, docs: Dataset[(String, String)], out: String): Unit = {
    sp.time("render.doc_write_s")(DocumentSink.writeDocuments(docs, s"$out/docs"))
    val files = Files.walk(Paths.get(out, "docs")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).toSeq
    sp.extra += "render.docs_written" -> files.size
    sp.extra += "render.mb_written" -> files.sum / 1048576.0
  }

  def healSpans(spark: SparkSession, sp: Spans, in: String, out: String): Unit = {
    val studies = sp.time("sources.mds_infer_s")(MdsJsonSource.readStudies(spark, s"$in/mds"))
      .localCheckpoint()
    val rawIndex = sp.step("sources.mds_scan_s")(MdsJsonSource.variableIndex(studies))
    val uniquified = sp.step("ops.uniquify_s")(
      Windows.uniquify(rawIndex, Seq("study_id", "dd_id"), "name", "pos", "name_uniq")
        .withColumn("name", col("name_uniq")).drop("name_uniq"))
    val indexCols = Seq("study_id", "dd_id", "name", "section", "title",
      "description", "type", "encodings", "logical_min", "logical_max")
    sp.time("render.csv_s")(DocumentSink.writeSingleCsv(
      uniquified.select(indexCols.map(col): _*), s"$out/variable_index"))
    val mapping = CsvSources.readHdpidMapping(spark, s"$in/mapping.csv")
    val enriched = sp.step("ops.enrich_s")(Joins.enrich(
      uniquified, mapping.withColumnRenamed("HDPID", "study_id"), "study_id"))
    val renderInput = enriched.select(
      col("dd_id").as("dt_id"), col("study_id"), col("study_id").as("study_name"),
      col("section").as("group_description"),
      concat(Projections.normalizeName(col("HEAL Study Type"), "heal_studies"),
        lit("/")).as("path_prefix"),
      col("pos"), col("name").as("var_id"), col("name").as("var_name"),
      col("title").as("var_title"), col("description").as("var_description"),
      col("type").as("var_type"),
      when(col("enum_map").isNotNull,
        transform(map_entries(col("enum_map")),
          e => struct(e("key").as("code"), e("value").as("label")))).as("values"))
    val docs = sp.step("render.xml_render_s")(DbGapXmlRenderer.renderDataTables(renderInput))
    writeDocs(sp, docs, out)
    val dds = MdsJsonSource.dataDictionaries(studies).localCheckpoint()
    val studyNodes = dds.select(col("study_id").as("id")).distinct()
      .withColumn("name", col("id"))
      .withColumn("categories", array(lit("biolink:Study")))
    val ddNodes = dds.select(col("dd_id").as("id"), col("dd_label").as("name"))
      .withColumn("categories", array(lit("biolink:InformationResource")))
    val edges = dds.select(col("dd_id").as("subject"),
      lit("biolink:related_to").as("predicate"), col("study_id").as("object"))
    sp.time("render.kgx_s")(KgxAssembler.toJsonDocument(studyNodes.unionByName(ddNodes), edges))
  }

  def lakeSpans(spark: SparkSession, sp: Spans, in: String): Unit = {
    var files = 0
    lakeRepos(in).toSeq.sortBy(_._1).foreach { case (_, root) =>
      val dt = sp.time("sources.xml_infer_s")(XmlDictSource.readDataTables(spark, root))
      files += dt.inputFiles.length
      sp.time("sources.xml_scan_s")(force(XmlDictSource.variables(dt)))
    }
    sp.extra += "sources.files_read" -> files
  }

  // -------------------------------------------------------------- readback

  def readback(spark: SparkSession, workload: String, in: String): Seq[(String, Any)] =
    workload match {
      case "bdc_ingest" =>
        val gen3 = CsvSources.readGen3Studies(spark, s"$in/gen3.csv")
        val (valid, rejects) = Filters.validationSplit(gen3, BdcIngest.requiredStudyFields)
        val raw = CsvSources.readPicsureVars(spark, s"$in/picsure.csv")
        val clean = CsvSources.cleanPicsureVars(raw)
        val labels = clean.filter(col("is_categorical"))
          .select(explode(col("values_arr")).as("l"))
        Seq("studies" -> gen3.count(), "valid" -> valid.count(),
          "rejects" -> rejects.groupBy("reason").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq,
          "picsure_rows" -> raw.count(), "picsure_clean" -> clean.count(),
          "picsure_labels" -> labels.count(),
          "distinct_labels" -> labels.distinct().collect().map(_.getString(0)).sorted.toSeq)
      case "heal_ingest" =>
        val studies = MdsJsonSource.readStudies(spark, s"$in/mds")
        val dds = MdsJsonSource.dataDictionaries(studies)
        val index = MdsJsonSource.variableIndex(studies)
        Seq("studies" -> studies.count(), "dictionaries" -> dds.count(),
          "stub_dictionaries" -> dds.filter(col("dd_error").isNotNull).count(),
          "index_rows" -> index.count(),
          "values" -> index.select(sum(coalesce(size(col("enum_map")), lit(0))))
            .head().getLong(0),
          "mapping_rows" -> CsvSources.readHdpidMapping(spark, s"$in/mapping.csv").count())
      case "lake_index" =>
        lakeRepos(in).toSeq.sortBy(_._1).map { case (repo, root) =>
          val dt = XmlDictSource.readDataTables(spark, root)
          repo -> Seq("tables" -> dt.count(),
            "variables" -> XmlDictSource.variables(dt).count())
        }
    }

  // ------------------------------------------------------------------ heap

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap use over the watched interval: the highest sum of the heap
    * pools' peaks (live data plus garbage not yet collected; generation
    * sizes are fixed by the JVM flags, so this repeats from run to run),
    * and the highest occupancy right after a collection (closer to the live
    * set, but it moves with when collections happen to fall). */
  final class HeapWatch extends NotificationListener {
    @volatile private var peakAfterGc = 0L
    @volatile var gcs = 0
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    emitters.foreach(_.addNotificationListener(this, null, null))

    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.exists(_.getName == pool) => u.getUsed
        }.sum
        synchronized { gcs += 1; peakAfterGc = math.max(peakAfterGc, used) }
      }

    private var peakRaw = 0L
    def stop(): Unit = {
      emitters.foreach(_.removeNotificationListener(this))
      peakRaw = heapPools.map(_.getPeakUsage.getUsed).sum
    }
    def metrics: Seq[(String, Any)] = Seq("peak_heap_mb" -> peakRaw / 1048576.0,
      "after_gc_peak_mb" -> peakAfterGc / 1048576.0, "gcs" -> gcs)
  }
}
