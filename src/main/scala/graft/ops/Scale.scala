package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew and co-location tools for the 100 TB posture (SURVEY.md §7.1).
  *
  * AQE's skew-join handling covers sort-merge joins at runtime; these are
  * the *plan-level* tools for the cases AQE can't fix: skewed aggregation
  * keys (one hot study/language/band dominating a partition) and repeated
  * large-large joins on the same key (bucketing).
  */
object Scale {

  /** Two-phase salted aggregation for skewed grouping keys: phase 1
    * aggregates on (key, salt) — spreading a hot key over `saltBuckets`
    * reducers — phase 2 merges the partials. Caller supplies per-phase
    * aggregate pairs: (partial expr over input, merge expr over partial).
    *
    * Example — skew-proof count + sum:
    * {{{
    * Scale.saltedAgg(df, Seq("lang"), 16)(
    *   Seq(count(lit(1)).as("n") -> sum(col("n")).as("n"),
    *       sum(col("v")).as("s") -> sum(col("s")).as("s")))
    * }}}
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltBuckets: Int)(
      phases: Seq[(Column, Column)]): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(phases.head._1, phases.tail.map(_._1): _*)
    partial.groupBy(keys.map(col): _*)
      .agg(phases.head._2, phases.tail.map(_._2): _*)
  }

  /** Salted join for a skewed big side against a small-but-not-broadcastable
    * build side: big rows keep their salt, the build side is replicated
    * `saltBuckets` times, and the join key becomes (key, salt). Shuffle
    * spreads each hot key across `saltBuckets` tasks. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 saltBuckets: Int): DataFrame = {
    val bigS = big.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val smallS = small.withColumn("_salt",
      explode(sequence(lit(0L), lit((saltBuckets - 1).toLong))))
    bigS.join(smallS, Seq(key, "_salt")).drop("_salt")
  }

  /** Two-phase SALTED WINDOW for a running sum over a skewed partition
    * key — the window analogue of [[saltedAgg]]. A plain
    * `sum over (partition by key order by ord)` puts every row of a hot
    * key into ONE task (AQE's skew handling covers joins, not windows), so
    * one hot user/study is one straggler at 100 TB. Here the key's rows
    * split into contiguous chunks of the ordering domain
    * (`floor(ord / chunkWidth)`):
    *  1. partial running sum within (key, chunk) — hot keys spread over
    *     many tasks, each window bounded by the chunk;
    *  2. per-(key, chunk) totals, then an EXCLUSIVE running sum over the
    *     chunk totals per key — a window over O(#chunks) rows, not rows;
    *  3. join the offsets back on (key, chunk) and add.
    * Result is row-identical to the plain running sum as long as `ord` is
    * unique per key (ties within a chunk are fine — they order the same
    * way in phase 1 as in the plain window). Oracle-proven equivalent
    * (s4_salted_window vs the plain-SQL running sum). */
  def saltedRunningSum(df: DataFrame, key: String, ord: String, value: Column,
                       outCol: String, chunkWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkWidth > 0, "chunkWidth must be positive")
    val chunked = df.withColumn("_chunk",
      floor(col(ord) / chunkWidth).cast("long"))
    val wIn = Window.partitionBy(col(key), col("_chunk")).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(col(key)).orderBy(col("_chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = chunked
      .groupBy(col(key), col("_chunk")).agg(sum(value).as("_chunk_total"))
      .withColumn("_offset", sum(col("_chunk_total")).over(wOff))
      .select(col(key), col("_chunk"), col("_offset"))
    chunked
      .withColumn("_partial", sum(value).over(wIn))
      .join(offsets, Seq(key, "_chunk"))
      .withColumn(outCol,
        col("_partial") + coalesce(col("_offset"), lit(0)))
      .drop("_chunk", "_partial", "_offset")
  }

  /** Two-phase SALTED TOP-K per group for a skewed grouping key: phase 1
    * ranks within (key, salt) and keeps each salt bucket's top k — hot
    * keys spread across `saltBuckets` tasks and the survivor set is
    * ≤ k·saltBuckets rows per key; phase 2 re-ranks the survivors within
    * the key. Equivalent to the plain one-window top-k whenever `order`
    * is a TOTAL order (include a tiebreak column). Unlike the running
    * sum, rows need no ordering relation to their salt bucket, so any
    * deterministic row-spread works.
    *
    * The salt derives from ROW CONTENT (xxhash64 of the order columns),
    * never from task identity: spark_partition_id / monotonically_
    * increasing_id change when a shuffle-fetch-failure retry recomputes a
    * map partition, which would re-salt some rows mid-query and lose or
    * duplicate phase-1 boundary rows. Content-hashing keeps every
    * recomputation bit-identical; the ≤ k·saltBuckets survivor bound and
    * the equivalence proof are unchanged (ties hashing to one bucket only
    * make phase 1 keep fewer rows — phase 2 sees every qualifying row
    * whenever `order` is total). */
  def saltedTopK(df: DataFrame, key: String, order: Seq[Column], k: Int,
                 saltBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // order entries are usually sort wrappers (col.desc) — hash the
    // underlying value column, not the (unevaluable) sort direction
    val saltCols = order.map(org.apache.spark.sql.graftbridge.Bridge.sortChild)
    val salted = df.withColumn("_salt",
      pmod(xxhash64(saltCols: _*), lit(saltBuckets.toLong)))
    val w1 = Window.partitionBy(col(key), col("_salt")).orderBy(order: _*)
    val w2 = Window.partitionBy(col(key)).orderBy(order: _*)
    salted
      .withColumn("_r1", row_number().over(w1)).filter(col("_r1") <= k)
      .withColumn("rnk", row_number().over(w2)).filter(col("rnk") <= k)
      .drop("_salt", "_r1")
  }

  /** Write both sides bucketed on the join key so later joins of these
    * tables are exchange-free (co-located scan + merge). Bucketed tables
    * require the table catalog (`saveAsTable`). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    // an in-memory catalog dies with its JVM but the managed-table
    // DIRECTORY survives; a later session's CTAS then refuses with
    // LOCATION_ALREADY_EXISTS even in overwrite mode — drop the entry and
    // clear any orphaned location first
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val root = if (warehouse.startsWith("file:")) new java.io.File(new java.net.URI(warehouse))
               else new java.io.File(warehouse)
    val loc = new java.io.File(root, table)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(loc)
    }
    // ONE file per bucket: the writer emits a file per (task, bucket)
    // pair, and a bucketed scan only reports its sortBy order when every
    // bucket holds a single file — multiple files would interleave. With
    // the order visible, a SortMergeJoin on the bucket key skips BOTH the
    // exchange AND the sort on this side (the per-iteration edge-sort tax
    // the graph rankers were still paying). repartition(buckets, key)
    // routes each bucket's rows to exactly one task.
    df.repartition(buckets, col(key)).write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
  }

  /** Range-partitioned, sorted-within-file layout: global range split
    * across files + in-file ordering ⇒ every file (and every parquet row
    * group inside it) covers a DISJOINT key range, so a read with a key
    * predicate prunes to the few files/row groups overlapping it via
    * parquet min/max stats. The standard data-layout move when one filter
    * key dominates read patterns at 100 TB (the poor man's Z-order for a
    * single key). */
  def writeRangeSorted(df: DataFrame, path: String, key: String,
                       nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(path)

  /** Spread the low 21 bits of a non-negative long into every other bit
    * position (the standard 64-bit Morton magic-mask sequence) — the
    * building block of [[zOrderValue]]. Pure bitwise projection, and the
    * same five shift/mask steps are expressible verbatim in ANSI SQL, so
    * z-values are oracle-checkable across engines. */
  def zSpread(c: Column): Column = {
    val masks = Seq(
      (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    masks.foldLeft(c.cast("long").bitwiseAND(lit(0x1fffffL))) {
      case (x, (s, m)) => (x.bitwiseOR(shiftleft(x, s))).bitwiseAND(lit(m))
    }
  }

  /** Morton (Z-order) interleave of two non-negative keys, 21 bits each:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Sorting by
    * this single value clusters rows that are close in BOTH dimensions
    * into the same neighborhoods. */
  def zOrderValue(a: Column, b: Column): Column =
    zSpread(a).bitwiseOR(shiftleft(zSpread(b), 1))

  /** Two-key clustered layout: range-split + sort the rewrite by the
    * Morton code of (keyA, keyB). [[writeRangeSorted]] gives disjoint
    * per-file ranges for ONE key — a predicate on any other key still
    * reads every file. Z-order trades a little per-key locality for
    * locality in BOTH: each output file covers ~1/√nFiles of EACH key's
    * range (vs 1/nFiles of one and ALL of the other), so parquet min/max
    * stats prune file/row-group reads for predicates on either key or
    * both. The standard lake layout when two filter keys share the read
    * pattern at 100 TB (Z-order compaction); keys wider than 21 bits
    * should be bucketed/quantized into the z-window first (the spec's
    * locality assertion is exactly this contract). */
  def writeZOrdered(df: DataFrame, path: String, keyA: String, keyB: String,
                    nFiles: Int, validate: Boolean = true): Unit = {
    require(!df.columns.contains("_z"), "writeZOrdered reserves column _z")
    // zSpread masks each key to its low 21 bits, so a negative or wider key
    // would ALIAS into another z-window and silently destroy the clustering
    // contract (reads stay correct — prunedRead re-applies the predicate —
    // but locality is gone). Enforce the documented [0, 2^21) domain with
    // one cheap min/max agg before paying the layout rewrite; keys wider
    // than 21 bits should be bucketed/quantized first. `validate = false`
    // opts out when the caller has already proven the domain.
    if (validate) {
      val r = df.agg(min(col(keyA)).cast("long"), max(col(keyA)).cast("long"),
        min(col(keyB)).cast("long"), max(col(keyB)).cast("long")).head()
      if (!r.isNullAt(0)) {
        val lim = 1L << 21
        Seq((keyA, r.getLong(0), r.getLong(1)), (keyB, r.getLong(2), r.getLong(3)))
          .foreach { case (k, lo, hi) =>
            require(lo >= 0 && hi < lim,
              s"writeZOrdered key $k spans [$lo, $hi] outside [0, 2^21): values " +
                "would alias in the Morton window — bucket/quantize the key first " +
                "(or pass validate = false if aliasing is intended)")
          }
      }
    }
    df.withColumn("_z", zOrderValue(col(keyA), col(keyB)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Unique temp directory for a written layout, registered in the shared
    * staging-dir registry (Dedup) — deleted at JVM exit, or earlier by the
    * Bench/Verify per-query `drainStageDirs()` hygiene so a long catalog
    * session doesn't accumulate dozens of layouts' disk + page-cache
    * pressure (the round-11 bench-tail amplification). */
  def tempLayoutDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    graft.ext.Dedup.registerStageDirForCleanup(dir.toString)
    dir.toString
  }

  /** Per-file skipping manifest for a parquet directory: one row per data
    * file with its row count and per-key min/max — the file-skipping
    * index a lake maintains (Delta/Iceberg manifests, Hive stats). Built
    * Spark-first: a single column-pruned scan of ONLY the key columns,
    * aggregated by `input_file_name()` — fully distributed, type-generic,
    * no driver-side footer walking. At extreme file counts the
    * footer-only sibling [[parquetManifestFooters]] is O(files) instead
    * of O(rows); this data-scan form reads just the key columns and is
    * layout/type-agnostic. Pairs with
    * [[writeRangeSorted]]/[[writeZOrdered]]: on those layouts each
    * file's [min,max] windows are tight/disjoint, which is what makes
    * [[prunedRead]] skip. */
  def parquetManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
                      keys: Seq[String]): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        keys.flatMap(k => Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k"))): _*)

  /** FOOTER-STATS manifest — the O(files) form of [[parquetManifest]]:
    * the same (file, n_rows, min/max per key) rows, but read from each
    * file's parquet FOOTER row-group statistics instead of scanning data.
    * The data-scan form reads every row of the key columns — fine while
    * layouts are small, O(corpus) at 100 TB, where a manifest build that
    * reads a few KB of footer per file is the only sane regime. The file
    * list is bounded driver metadata (every file index holds it); the
    * footer reads distribute over it via mapPartitions, so no single node
    * walks a million footers serially.
    *
    * Contract: keys must be top-level INT32/INT64-backed columns (int,
    * long, date) — min/max surface as longs, the comparisons
    * [[prunedRead]] makes. Row groups with no non-null key value
    * contribute nothing (an all-null file gets NULL min/max, matching the
    * data-scan form). Directory-partitioned layouts keep their partition
    * values in PATHS, not footers — use the partition pruning those
    * layouts already get ([[writeIvfPartitioned]]) instead. */
  def parquetManifestFooters(spark: org.apache.spark.sql.SparkSession,
                             dir: String, keys: Seq[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => fs.makeQualified(s.getPath).toUri.toString).toSeq.sorted
    // ship the Hadoop conf to the executors (Configuration is a Writable)
    val sconf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val ks = keys // avoid closing over `this`
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .mapPartitions { it =>
        val conf = sconf.value
        it.map { p =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new Path(p), conf))
          try {
            val blocks = reader.getFooter.getBlocks.asScala.toSeq
            val nRows = blocks.map(_.getRowCount).sum
            def asLong(v: Any): Long = v match {
              case l: java.lang.Long => l.longValue()
              case i: java.lang.Integer => i.longValue()
              case other => throw new IllegalArgumentException(
                s"footer manifest keys must be int/long-backed, got " +
                  s"${other.getClass.getSimpleName}")
            }
            val bounds = ks.flatMap { k =>
              val stats = blocks.flatMap(_.getColumns.asScala
                .find(_.getPath.toDotString == k))
                .map(_.getStatistics)
                .filter(s => s != null && s.hasNonNullValue)
              if (stats.isEmpty) Seq(null, null)
              else Seq(stats.map(s => asLong(s.genericGetMin)).min: java.lang.Long,
                stats.map(s => asLong(s.genericGetMax)).max: java.lang.Long)
            }
            org.apache.spark.sql.Row.fromSeq(p +: nRows +: bounds)
          } finally reader.close()
        }
      }
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("file", StringType) +: StructField("n_rows", LongType) +:
        keys.flatMap(k => Seq(StructField(s"min_$k", LongType),
          StructField(s"max_$k", LongType))))
    spark.createDataFrame(rows, schema)
  }

  /** Manifest-driven pruned read: keep only files whose [min,max] window
    * can overlap [lo, hi], read just those, and re-apply the exact
    * predicate (the manifest prunes, the filter decides). The file LIST
    * rides through the driver — bounded metadata, the same thing every
    * file index holds — never the data. Row-for-row equal to the full
    * scan with the same predicate (spec-pinned); the win is proportional
    * to layout quality: on a [[writeRangeSorted]]/[[writeZOrdered]]
    * layout the windows are tight, on a random layout every window spans
    * the domain and nothing prunes (the manifest makes that visible
    * instead of silent). */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, dir: String,
                 key: String, lo: Long, hi: Long): DataFrame =
    prunedReadWith(spark, parquetManifest(spark, dir, Seq(key)), dir, key, lo, hi)

  /** [[prunedRead]] against a PREBUILT manifest — the form a real lake
    * runs: the manifest (data-scan or [[parquetManifestFooters]]) is
    * built once per layout write and reused across every read, instead
    * of rebuilt per query. Same overlap test, same exact re-filter. */
  def prunedReadWith(spark: org.apache.spark.sql.SparkSession,
                     manifest: DataFrame, dir: String, key: String,
                     lo: Long, hi: Long): DataFrame = {
    val files = manifest
      .filter(!(col(s"max_$key") < lo || col(s"min_$key") > hi))
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.parquet(files.toSeq: _*)
      .filter(col(key) >= lo && col(key) <= hi)
  }

  /** Two-key [[prunedRead]]: keep files whose windows can overlap BOTH
    * ranges. On a [[writeZOrdered]] layout each file is tight in both
    * keys, so the intersection skips almost everything — the read
    * pattern that layout exists for (a single-key layout can only ever
    * prune on its one key). */
  def prunedRead2(spark: org.apache.spark.sql.SparkSession, dir: String,
                  keyA: String, loA: Long, hiA: Long,
                  keyB: String, loB: Long, hiB: Long): DataFrame = {
    val files = parquetManifest(spark, dir, Seq(keyA, keyB))
      .filter(!(col(s"max_$keyA") < loA || col(s"min_$keyA") > hiA) &&
        !(col(s"max_$keyB") < loB || col(s"min_$keyB") > hiB))
      .select("file").collect().map(_.getString(0))
    if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.parquet(files.toSeq: _*)
      .filter(col(keyA).between(loA, hiA) && col(keyB).between(loB, hiB))
  }

  /** Small-file compaction: rewrite a parquet directory of many small
    * files into ⌈rows/targetRowsPerFile⌉ files at `dest`. The small-files
    * problem is the standing operational decay of a streaming/incremental
    * lake (every scan pays per-file open + footer + task overhead, and
    * listings balloon); compaction is the maintenance pass that undoes
    * it. Round-robin `repartition(n)` — an exchange but NOT a sort — so
    * the rewrite never pays ordering it didn't ask for; use
    * [[writeRangeSorted]] when a dominant filter key should get
    * clustering out of the same rewrite. Writes to a SEPARATE dest and
    * returns the file count: swapping dest for src is the caller's
    * commit step (on a real lake, an atomic metadata/manifest swap —
    * overwriting the directory being read would lose data on failure,
    * same contract as the reference's staged store sync). */
  /** HOT-PARTITION compaction of a `partitionBy(partCol)` layout — the
    * generic form of the IVF-cell maintenance pass
    * ([[graft.ext.Similarity.compactIvfCells]] and the BM25 postings'
    * [[graft.ext.Retrieval.compactIndexBuckets]] are thin wrappers):
    * append batches accrete ~1 file per touched partition, so after B
    * batches a pruned probe of that partition pays B file opens +
    * footers. This walks the `partCol=` directories (an O(partitions)
    * driver listing — the footer-manifest scale contract) and rewrites
    * every partition holding more than `maxFilesPerPart` data files.
    * The small-vs-big row census comes from parquet FOOTER metadata
    * (O(hot files) footer opens on executors, zero data read — the
    * [[parquetManifestFooters]] contract), so the data itself is read
    * exactly once:
    * ONE read pruned to the hot partitions (`pruneFilter` builds the
    * partition-column predicate in the caller's key type, so static
    * pruning stays intact) + ONE `partitionBy` write into a hidden
    * `.compact/` staging dir for all hot partitions that fit
    * `targetRowsPerFile`; only oversized partitions fall back to the
    * per-partition multi-file [[compactParquet]] path. The commit is
    * RENAME-FIRST per partition (old data moves aside before the staged
    * copy renames in — at no instant is a partition's only copy gone),
    * and a leftover `.compact/` from an interrupted commit is REFUSED
    * loudly. Partition directories never change, so pruned probes and
    * answers are invisible to compaction.
    *
    * SINGLE-WRITER: invisible to concurrent READERS only — an append
    * racing the census-to-swap window can land files that are deleted
    * with the old copy. Serialize compaction against appends (the
    * append-only stages' single-maintenance-owner contract).
    *
    * Keys are handled as the raw `partCol=<value>` directory suffixes;
    * callers with typed partition columns pass a `pruneFilter` in that
    * type and map the returned keys back. Returns (key, filesBefore,
    * filesAfter) per compacted partition, key-sorted. */
  def compactPartitionedLayout(spark: org.apache.spark.sql.SparkSession,
                               layoutDir: String, partCol: String,
                               targetRowsPerFile: Long, maxFilesPerPart: Int,
                               pruneFilter: Seq[String] => org.apache.spark.sql.Column)
      : Seq[(String, Int, Int)] = {
    require(maxFilesPerPart >= 1, "maxFilesPerPart must be >= 1")
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(layoutDir)
    val fs = root.getFileSystem(conf)
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val prefix = s"$partCol="
    // per-partition data-file listing, ONCE and in PARALLEL: the walk is
    // O(partitions) driver-side metadata work (the r17 verdict's s10b
    // driver-gap item) — serial on an object store it costs
    // partitions × round-trip latency; a bounded pool makes it
    // max(latency) per batch of 16. The census below REUSES this listing
    // instead of re-listing every hot directory a second time (sound:
    // compaction is single-writer — serialized against appends — so the
    // listing is a consistent snapshot).
    val partDirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
    val perDir: Map[String, Array[org.apache.hadoop.fs.FileStatus]] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, partDirs.length)))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val futs = partDirs.toSeq.map { s => scala.concurrent.Future {
          s.getPath.getName.stripPrefix(prefix) -> dataFiles(s.getPath)
        }.transform(scala.util.Success(_)) }
        val settled = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
        settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
        settled.collect { case scala.util.Success(v) => v }.toMap
      } finally pool.shutdown()
    }
    val hot = perDir.view.mapValues(_.length)
      .filter(_._2 > maxFilesPerPart).toMap
    if (hot.isEmpty) return Seq.empty
    val staging = new org.apache.hadoop.fs.Path(root, ".compact")
    // a leftover .compact means a prior run died MID-COMMIT and may hold
    // the only copy of a partition — refuse loudly, never wipe
    require(!fs.exists(staging),
      s"$staging exists — a previous compaction did not commit cleanly; " +
        "recover or remove it explicitly before compacting again")
    val hotKeys = hot.keys.toSeq.sorted
    // the partition column must round-trip AS THE DIRECTORY STRING:
    // partition-type inference would parse an all-numeric key set (e.g.
    // md5-hex buckets that happen to draw only digits, "07") as ints —
    // the census would then miss the hot key ("7" != "07") and, worse,
    // the staging partitionBy would write bucket=7 while the commit
    // expects bucket=07, renaming the only copy aside and deleting it.
    // Pin the partition column to STRING via an explicit schema (data
    // schema from one leaf dir, which has no partition column).
    // Partition types live only in directory names, so later readers
    // re-infer exactly as before — the pin is invisible outside this
    // pass.
    val leaf = new org.apache.hadoop.fs.Path(root, s"$prefix${hotKeys.head}")
    val dataSchema = spark.read.parquet(leaf.toString).schema
    require(!dataSchema.fieldNames.contains(partCol),
      s"layout data files must not store partition column $partCol")
    val pruned = spark.read
      .schema(dataSchema.add(partCol, org.apache.spark.sql.types.StringType))
      .parquet(layoutDir)
      .filter(pruneFilter(hotKeys))
    // small-vs-big census from parquet FOOTER metadata only — O(files)
    // footer opens distributed over executors, zero data read. The
    // groupBy(partCol).count() this replaces was a full second pass over
    // the very data the compaction is about to rewrite.
    val sconf = new org.apache.spark.SerializableWritable(conf)
    // file set from the parallel listing above — no second O(hot) walk
    val keyedFiles = hotKeys.flatMap { k =>
      perDir(k).map(s => k -> fs.makeQualified(s.getPath).toUri.toString)
    }
    val rows: Map[String, Long] = spark.sparkContext
      .parallelize(keyedFiles, math.max(1, math.min(keyedFiles.size, 64)))
      .mapPartitions { it =>
        import scala.jdk.CollectionConverters._
        val c = sconf.value
        it.map { case (k, p) =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p), c))
          try (k, reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
          finally reader.close()
        }
      }.collect() // O(hot files) pairs — bounded like the dir listing
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val (big, small) = hotKeys
      .partition(k => rows.getOrElse(k, 0L) > targetRowsPerFile)
    if (small.nonEmpty)
      pruned.filter(pruneFilter(small))
        .repartition(col(partCol))
        .write.mode("overwrite").partitionBy(partCol).parquet(staging.toString)
    big.foreach { k =>
      compactParquet(spark,
        new org.apache.hadoop.fs.Path(root, s"$prefix$k").toString,
        new org.apache.hadoop.fs.Path(staging, s"$prefix$k").toString,
        targetRowsPerFile)
    }
    // commit: rename-first swap per partition (see scaladoc). Partitions
    // are independent, so the 3-4 FS round-trips each are issued from a
    // bounded driver pool — on an object store with thousands of hot
    // partitions the commit costs max(rename latency), not the serial
    // sum of O(partitions) metadata round-trips. Crash mid-commit leaves
    // some partitions swapped and some staged, exactly like the serial
    // form — the leftover-.compact refusal above is the recovery gate.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, hotKeys.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val out = try {
      val futs = hotKeys.map { k => scala.concurrent.Future {
        val part = new org.apache.hadoop.fs.Path(root, s"$prefix$k")
        val old = new org.apache.hadoop.fs.Path(staging, s"old-$prefix$k")
        val staged = new org.apache.hadoop.fs.Path(staging, s"$prefix$k")
        require(fs.rename(part, old), s"compact commit failed for $prefix$k")
        if (fs.exists(staged))
          require(fs.rename(staged, part), s"compact commit failed for $prefix$k")
        require(fs.delete(old, true), s"compact cleanup failed for $prefix$k")
        (k, hot(k), if (fs.exists(part)) dataFiles(part).length else 0)
      // lift each commit to Try BEFORE sequencing: Future.sequence on raw
      // futures fails fast on the first failed rename while sibling
      // threads keep swapping partition dirs in the background
      // (pool.shutdown() does not wait) — a caller acting on the error
      // (e.g. inspecting the leftover .compact dir per the recovery
      // message) would race in-flight swaps. Awaiting the Try-lifted
      // sequence guarantees no commit thread outlives this method; only
      // then is the first failure surfaced.
      }.transform(scala.util.Success(_)) }
      val settled = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
      settled.collect { case scala.util.Success(v) => v }
    } finally pool.shutdown()
    fs.delete(staging, true)
    out
  }

  def compactParquet(spark: org.apache.spark.sql.SparkSession, src: String,
                     dest: String, targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    // qualify both paths against the FileSystem (scheme, authority, working
    // dir) before comparing: a raw-URI compare misses logical aliases of
    // the same directory — relative vs absolute spellings, `.`/`..`
    // segments — and would let the overwrite-while-reading through
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): org.apache.hadoop.fs.Path = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).makeQualified(path)
    }
    require(qualified(src) != qualified(dest),
      "compact stages into a separate dest; swapping is the caller's commit step")
    val df = spark.read.parquet(src)
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartition(files).write.mode("overwrite").parquet(dest)
    files
  }
}
