package graft.ops

import graft.SparkSpec
import graft.catalog.Catalog
import graft.ext.Sketch
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The stage lifecycle: every temp parquet stage is made, registered and
  * drained by [[Stage]], and by nothing else. */
class StageSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq((1L, "a b"), (2L, "b c"), (3L, "c d"))
    .toDF("doc_id", "text")

  /** The dirs `body` registers, and its result. */
  private def newDirs[T](body: => T): (Set[String], T) = {
    val before = Stage.registered
    val out = body
    (Stage.registered -- before, out)
  }

  /** Jobs `body` starts (its own job group; a barrier job flushes the
    * listener bus). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"stage-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var barrier = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = j.properties.getProperty("spark.jobGroup.id")
        if (g == group) jobs.incrementAndGet()
        else if (g == s"$group-barrier") barrier = true
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, null)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-barrier", null)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!barrier && System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("Stage(df) writes one fresh registered dir per call and reads back the same rows") {
    val (dirs, staged) = newDirs(Stage(docs))
    assert(dirs.size == 1, s"expected exactly one new stage dir, got $dirs")
    val dir = Paths.get(dirs.head)
    assert(Files.exists(dir), s"stage dir missing: $dir")
    assert(dir.getFileName.toString.startsWith("graft_stage_"))
    assert(staged.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      docs.as[(Long, String)].collect().toSeq)
    assert(staged.schema ==
      org.apache.spark.sql.graftbridge.Bridge.asNullable(docs.schema))
    val (again, _) = newDirs(Stage(docs))
    assert(again.size == 1 && again != dirs)
  }

  test("Stage(df) reads its stage back without a schema-inference job") {
    // the write alone: Stage.path runs exactly the jobs Stage(df) runs
    assert(jobsOf(Stage(docs)) == jobsOf(Stage.path(docs)))
    // re-reading the path with inference costs one more
    val p = Stage.path(docs)
    assert(jobsOf(spark.read.parquet(p)) == 1)
  }

  test("Catalog.reset drains every stage: frame, path, layout dir and sketch base") {
    val (frame, _) = newDirs(Stage(docs))
    val (path, p) = newDirs(Stage.path(docs))
    assert(path == Set(p))
    val (layout, l) = newDirs(Stage.dir("graft_layout_"))
    assert(layout == Set(l) && Paths.get(l).getFileName.toString.startsWith("graft_layout_"))
    docs.write.mode("overwrite").parquet(s"$l/cells")
    val toks = docs.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
    val (sketch, base) = newDirs(Stage(Sketch.cmsSketch(toks, "tok", 64, 2)))
    assert(base.count() > 0)
    val all = frame ++ path ++ layout ++ sketch
    assert(all.size == 4, all)
    all.foreach(d => assert(Files.exists(Paths.get(d)), d))
    Catalog.reset(spark)
    assert(Stage.registered.isEmpty, Stage.registered)
    all.foreach(d => assert(!Files.exists(Paths.get(d)), s"leaked stage dir: $d"))
  }

  test("only ops/Stage.scala creates temp dirs in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val hits = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(f => f.toString.endsWith(".scala"))
        .flatMap { f =>
          // byte-safe: a source file need not be valid UTF-8
          new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.ISO_8859_1)
            .split("\n").toSeq.zipWithIndex.collect {
            case (line, i) if line.contains("createTempDirectory") => s"$f:${i + 1}"
          }
        }.toList
    } finally walk.close()
    val stage = Paths.get("src/main/scala/graft/ops/Stage.scala").toString
    val outside = hits.filterNot(_.startsWith(stage + ":"))
    assert(outside.isEmpty, s"temp dirs made outside Stage: $outside")
    assert(hits.nonEmpty, "Stage.dir itself must call createTempDirectory")
  }
}
