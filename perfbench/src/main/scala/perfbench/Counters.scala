package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

object Counters {
  /** Layers that start jobs (`functions` only builds expressions). */
  val Layers = Seq("sources", "ops", "render", "pipelines")
  private val GraftFrame = """graft\.(\w+)\.""".r
}

/** Scheduler counters over one lifecycle. Each job is attributed to a
  * layer by the first `graft.<layer>.` frame of its call site, so a job a
  * pipeline starts through a render or source call counts there; a job
  * started from the pipeline itself, or from the harness forcing the
  * pipeline's returned frames, counts as `pipelines`. */
final class Counters(cores: Int) extends SparkListener {
  import Counters._

  private case class Job(start: Long, var end: Long, layer: String)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private var stages, tasks = 0L
  private var taskMs, inputBytes, shuffleWriteBytes, spillBytes = 0L

  def begin(): Unit = synchronized {
    jobs.clear(); stages = 0; tasks = 0
    taskMs = 0; inputBytes = 0; shuffleWriteBytes = 0; spillBytes = 0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a stage's details hold the long call site of the job that created
    // it; the result stage (highest id) belongs to this job
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val layer = GraftFrame.findFirstMatchIn(site).map(_.group(1))
      .filter(Layers.contains).getOrElse("pipelines")
    jobs(e.jobId) = Job(e.time, e.time, layer)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.failureReason.isEmpty) stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters for the wall-clock window [t0Ms, t1Ms]. The driver gap is
    * the window minus the union of job intervals: time no job ran. */
  def summary(t0Ms: Long, t1Ms: Long): Seq[(String, Any)] = synchronized {
    val wallMs = math.max(1L, t1Ms - t0Ms)
    var covered, reach = 0L
    reach = t0Ms
    jobs.values.toSeq.map(j => (math.max(j.start, t0Ms), math.min(j.end, t1Ms)))
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    val mb = 1048576.0
    Seq("spark.jobs" -> jobs.size, "spark.stages" -> stages, "spark.tasks" -> tasks,
      "spark.driver_gap_s" -> (wallMs - covered) / 1e3,
      "spark.task_s" -> taskMs / 1e3,
      "spark.core_util" -> taskMs.toDouble / (cores * wallMs),
      "spark.input_mb" -> inputBytes / mb,
      "spark.shuffle_write_mb" -> shuffleWriteBytes / mb,
      "spark.spill_mb" -> spillBytes / mb) ++
      Layers.flatMap { l =>
        val js = jobs.values.filter(_.layer == l)
        Seq(s"$l.jobs" -> js.size, s"$l.job_s" -> js.map(j => j.end - j.start).sum / 1e3)
      }
  }
}
