package graft.tools

import graft.catalog.Catalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.collection.concurrent.TrieMap

/** Run one catalog query and print every Spark job's wall time + first
  * line of its call site — the decomposition a bench seconds number
  * hides (which stage writes / censuses / rounds dominate). Diagnostic
  * only; not part of the engine surface.
  *
  * Usage: runMain graft.tools.JobProfile <query> [reps]
  * Env: SPARK_GRAFT_SF_DIR; the session is [[graft.GraftSession]]'s. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = TrieMap.empty[Int, (Long, String)]
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .map(_.getProperty("callSite.short", "?")).getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, site) =>
          rows.add((je.jobId, t0, System.nanoTime(), site))
        }
    })
    (1 to reps).foreach { rep =>
      rows.clear()
      val t0 = System.nanoTime()
      val n = Catalog.plan(spark, name, sfDir).count()
      val t1 = System.nanoTime()
      Thread.sleep(300) // listener drain
      import scala.jdk.CollectionConverters._
      val js = rows.asScala.toSeq.sortBy(_._2)
      // DRIVER GAP = time when no job runs (listing, commit renames,
      // planning): wall time minus the union of the [start, end] job
      // intervals, so overlapping jobs are neither double-counted nor
      // allowed to skew the gap. A job's own gap is the idle time between
      // the latest end seen so far and its start.
      var covered = t0
      val gaps = js.map { case (_, st, en, _) =>
        val gap = math.max(0L, st - covered)
        covered = math.max(covered, en)
        gap
      }
      val gapTotal = (gaps.sum + math.max(0L, t1 - covered)) / 1e9
      println(f"== rep $rep: $name rows=$n total=${(t1 - t0) / 1e9}%.2f s, " +
        f"${js.size} jobs, job-sum=${js.map(j => j._3 - j._2).sum / 1e9}%.2f s, " +
        f"driver-gap=$gapTotal%.2f s")
      js.zip(gaps).foreach { case ((id, st, en, site), gapNs) =>
        val gap = gapNs / 1e9
        val gapStr = if (gap >= 0.05) f"  gap=$gap%5.2f s" else ""
        println(f"  job $id%3d  ${(en - st) / 1e9}%6.2f s$gapStr  $site")
      }
      Catalog.reset(spark)
      System.gc()
    }
    spark.stop()
  }
}
