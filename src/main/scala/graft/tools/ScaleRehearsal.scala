package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal main (diagnostic, not part of the engine surface):
  * measures the sf0.1 → N× runtime scaling of the heavy query
  * families the 100 TB posture leans on (connected components,
  * incremental + one-shot all-pairs, compacted BM25, PageRank, IVF
  * layout compaction), so the posture rests on an empirical curve,
  * not just plan shape. Factor defaults to 10; pass 100 for the
  * work-term regime (the 10× exponents of the all-pairs/BM25 families
  * were still overhead-bound).
  *
  * The N× corpora are built from sf0.1 by unioning id-shifted copies:
  * - documents for the DEDUP families get a per-copy AFFINE
  *   SUBSTITUTION CIPHER over letters+digits (copy 0 is the identity;
  *   for copies < 26 the map degenerates to the old rotation):
  *   character-level shingle structure is preserved EXACTLY within a
  *   copy (the cipher is bijective per char), while cross-copy 5-char
  *   shingles are disjoint — so cluster/pair structure replicates N×
  *   with no artificial cross-copy mega-clusters, the natural
  *   linear-growth regime. The AFFINE form (x → a·x + b mod 26, a a
  *   unit) matters at factor > 26: plain rotation has period 26, so
  *   copies i and i+26 would share the whole lowercase cipher and
  *   digit-free docs would become cross-copy EXACT duplicates, welding
  *   letter-shingle structure across copies. Distinct affine maps agree
  *   on at most a couple of characters, so a shared 5-char shingle
  *   across copies needs 5 consecutive agreement points — effectively
  *   never. (The first cut of this tool SUFFIXED every token with
  *   `_c<i>`, which injected the same 5-char salt shingles into every
  *   doc and welded the corpus into one LSH blob; don't salt inside
  *   the shingle alphabet.)
  * - documents for BM25 stay RAW (shifted ids only): posting lists
  *   grow N× and the fixed query terms keep matching — the
  *   heavy-hitter growth a bigger corpus really has;
  * - orders/lineitem for PageRank shift all keys per copy → N
  *   disjoint copies of the graph (linear edge growth, same diameter);
  * - embeddings for the IVF family shift vec_id per copy (vectors
  *   repeat — cells grow N× linearly, centroids/queries stay copy-0's).
  * Copy offsets are multiples of 15 so the queries' doc_id % 3 / % 5
  * batch splits keep their proportions.
  *
  * Each family runs twice at factor 1 (second reading kept — JIT-warm)
  * and once at factor N; the printed exponent is
  * log(tN/t1) / log(N) (1.0 = perfectly linear). Heap is reported as
  * the true per-run HIGH-WATER mark (memory-pool peaks, reset before
  * each run — the memory envelope). */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_rehearsal"
    // optional 3rd arg: comma list of family-name prefixes (resume a
    // partially-completed rehearsal without re-running finished rows)
    val only = if (args.length > 2 && args(2).nonEmpty && args(2) != "all")
      Some(args(2).split(",").toSeq) else None
    val factor = if (args.length > 3) args(3).toInt else 10
    require(factor >= 2 && factor <= 312,
      s"factor must be in [2, 312] (affine cipher count): $factor")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val off = 15000000L // multiple of 15: preserves % 3 and % 5 splits

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    // affine permutation of an alphabet: position p → a·p + b mod n.
    // a must be a unit mod n; (aIdx, b) are chosen so copy i < 26 is
    // the old rotation (a = 1, b = i) and all copies 0..311 get
    // pairwise-distinct lowercase maps.
    val units26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val units10 = Seq(1, 3, 7, 9)
    def affine(alpha: String, a: Int, b: Int): String = {
      val n = alpha.length
      (0 until n).map(p => alpha((a * p + b) % n)).mkString
    }
    // per-copy ciphered text as ONE projection column. Digit maps:
    // affine mod 10 yields only 4·10 = 40 distinct bijections, so a
    // plain digit affine would repeat with period 40 and weld
    // letter-free content across copies i and i+40 (the same failure
    // the letter affine prevents at period 26); composing a per-block
    // two-digit swap (block = i/40) makes all copies < 320 provably
    // distinct on digits too — 4 affine units × 10 shifts × 8 swap
    // blocks, and swap(0, s) on a bijection's distinct chars differs
    // across blocks at position s — which covers the 312 factor cap.
    // Copies < 10 keep the original rotation
    // (a=1, b=i, block 0), so cached factor-10 corpora stay valid.
    def cipherMap(i: Int): (String, String) = {
      val aL = units26((i / 26) % units26.size)
      val bL = i % 26
      val aD = units10((i / 10) % units10.size)
      val bD = i % 10
      val dig0 = affine(digits, aD, bD)
      val dig = (i / 40) match {
        case 0 => dig0
        case s => // swap positions 0 and s: distinct map per block
          val arr = dig0.toCharArray
          val t0 = arr(0); arr(0) = arr(s); arr(s) = t0
          new String(arr)
      }
      (lower + upper + digits,
        affine(lower, aL, bL) + affine(upper, aL, bL) + dig)
    }
    def cipherText(i: Int): org.apache.spark.sql.Column = {
      val (from, to) = cipherMap(i)
      translate(col("text"), from, to)
    }
    // SHARED-VOCABULARY (Zipf-head) mode (r16 verdict #1): the cipher
    // corpora model only the DISJOINT-vocabulary pole — per-copy token
    // spaces never overlap, so distinct-token tables grow linearly with
    // the corpus (the friendliest case for re-scanned wide censuses, the
    // harshest for narrow staged ones, per the r16 AllPairsIndex A/B).
    // Natural 100 TB text is the other pole: any two shards share a
    // saturating Zipf HEAD (stopwords, domain terms) while the tail
    // grows Heaps-style. zipf mode keeps a pinned 12-token head —
    // including every bench query term, so heavy-hitter postings grow
    // with the corpus — IDENTICAL across copies, and char-ciphers only
    // the TAIL tokens, word-by-word. Both maps are bijective per copy,
    // so within-copy set/shingle structure (and therefore dup-pair
    // structure and query outputs) replicates exactly N× — the
    // measurement changes regime, never workload. Caveat (documented in
    // PERF.md): per-copy tails stay pairwise disjoint, so tail TYPE
    // growth is linear, not Heaps' n^~0.5 — sharing tail ciphers across
    // copies would weld cross-copy near-exact duplicates into mega
    // clusters and change the workload itself.
    val headToks = Seq("customer", "filter", "join", "window", "merge",
      "sort", "vector", "stream", "batch", "the", "a", "spark")
    def zipfText(i: Int): org.apache.spark.sql.Column =
      if (i == 0) col("text")
      else {
        val (from, to) = cipherMap(i)
        val head = array(headToks.map(lit): _*)
        array_join(transform(split(col("text"), " "),
          t => when(array_contains(head, t), t)
            .otherwise(translate(t, from, to))), " ")
      }
    def salted(d: DataFrame, i: Int): DataFrame = d.select(
      (col("doc_id") + i * off).as("doc_id"), cipherText(i).as("text"))
    def shifted(d: DataFrame, i: Int): DataFrame = d.select(
      (col("doc_id") + i * off).as("doc_id"), col("text"))
    def zipfed(d: DataFrame, i: Int): DataFrame = d.select(
      (col("doc_id") + i * off).as("doc_id"), zipfText(i).as("text"))
    // x64 reads (doc_id, text, source) and lifts chunk collisions to a
    // HOST graph: hosts must shift per copy (hid + i*20 — sf0.1 has 20
    // hosts) or every copy's collisions collapse onto the same 20 nodes
    // and the graph would not grow with the corpus
    def saltedHost(d: DataFrame, i: Int): DataFrame = d.select(
      (col("doc_id") + i * off).as("doc_id"), cipherText(i).as("text"),
      concat(lit("src"),
        (expr("cast(substring(source, 4) as long)") + i * 20L)
          .cast("string")).as("source"))
    // full-schema variant of salted(): the capstone pipeline (x37)
    // reads lang/source/n_chars too — same single projection, no join
    def saltedFull(d: DataFrame, i: Int): DataFrame = d.select(
      (col("doc_id") + i * off).as("doc_id"),
      col("lang"), col("source"), col("n_chars"),
      cipherText(i).as("text"))

    // ATOMIC corpus prep: a killed run leaves a half-written dir (often
    // just _temporary) that a bare exists() check would trust forever —
    // this round's first rehearsal crashed on exactly that
    // (UNABLE_TO_INFER_SCHEMA on a partial x100_raw). Write to a .tmp
    // sibling and rename into place, so `path` exists only complete.
    def prep(path: String, df: => DataFrame): Unit = {
      val p = new java.io.File(path)
      if (!p.exists()) {
        val tmp = new java.io.File(path + ".tmp")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        if (tmp.exists()) rm(tmp)
        df.write.mode("overwrite").parquet(tmp.getPath)
        require(tmp.renameTo(p), s"rename ${tmp.getPath} -> $path failed")
      }
    }
    val docs = spark.read.parquet(s"$base/documents.parquet")
      .select(col("doc_id"), col("text"))
    // factor-1 dirs reuse sf0.1 via a rewritten two-column table so both
    // factors read identically-shaped inputs (no schema-width bias)
    prep(s"$work/x1_salt/documents.parquet", salted(docs, 0))
    prep(s"$work/x${factor}_salt/documents.parquet",
      (0 until factor).map(salted(docs, _)).reduce(_ unionByName _))
    prep(s"$work/x1_raw/documents.parquet", shifted(docs, 0))
    prep(s"$work/x${factor}_raw/documents.parquet",
      (0 until factor).map(shifted(docs, _)).reduce(_ unionByName _))
    val orders = spark.read.parquet(s"$base/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = spark.read.parquet(s"$base/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    def g(i: Int)(o: DataFrame, l: DataFrame): (DataFrame, DataFrame) = (
      o.select((col("o_orderkey") + i * off).as("o_orderkey"),
        (col("o_custkey") + i * off).as("o_custkey")),
      l.select((col("l_orderkey") + i * off).as("l_orderkey"),
        (col("l_suppkey") + i * off).as("l_suppkey"), col("l_quantity")))
    prep(s"$work/x1_graph/orders.parquet", g(0)(orders, li)._1)
    prep(s"$work/x1_graph/lineitem.parquet", g(0)(orders, li)._2)
    prep(s"$work/x${factor}_graph/orders.parquet",
      (0 until factor).map(i => g(i)(orders, li)._1).reduce(_ unionByName _))
    prep(s"$work/x${factor}_graph/lineitem.parquet",
      (0 until factor).map(i => g(i)(orders, li)._2).reduce(_ unionByName _))
    // x59g's TrustRank seeds come from supplier (s_suppkey % 4 = 0):
    // shift s_suppkey by the same per-copy offset as l_suppkey so each
    // copy's vetted-host list matches its own graph copy (off is a
    // multiple of 4, so the % 4 seed split keeps its proportion)
    val supp = spark.read.parquet(s"$base/supplier.parquet")
      .select(col("s_suppkey"))
    def suppShift(i: Int): DataFrame =
      supp.select((col("s_suppkey") + i * off).as("s_suppkey"))
    prep(s"$work/x1_graph/supplier.parquet", suppShift(0))
    prep(s"$work/x${factor}_graph/supplier.parquet",
      (0 until factor).map(suppShift).reduce(_ unionByName _))
    val docsFull = spark.read.parquet(s"$base/documents.parquet")
    prep(s"$work/x1_sfull/documents.parquet", saltedFull(docsFull, 0))
    prep(s"$work/x${factor}_sfull/documents.parquet",
      (0 until factor).map(saltedFull(docsFull, _)).reduce(_ unionByName _))
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    def embShift(i: Int): DataFrame = emb.select(
      (col("vec_id") + i * off).as("vec_id"), col("embedding"), col("label"))
    prep(s"$work/x1_emb/embeddings.parquet", embShift(0))
    prep(s"$work/x${factor}_emb/embeddings.parquet",
      (0 until factor).map(embShift).reduce(_ unionByName _))
    prep(s"$work/x1_zipf/documents.parquet", zipfed(docs, 0))
    prep(s"$work/x${factor}_zipf/documents.parquet",
      (0 until factor).map(zipfed(docs, _)).reduce(_ unionByName _))
    val docsHost = spark.read.parquet(s"$base/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    prep(s"$work/x1_shost/documents.parquet", saltedHost(docsHost, 0))
    prep(s"$work/x${factor}_shost/documents.parquet",
      (0 until factor).map(saltedHost(docsHost, _)).reduce(_ unionByName _))

    val families = Seq(
      ("x17_dup_clusters", "salt"),
      ("x86b_allpairs_incremental", "salt"),
      ("x43d_bm25_compacted", "raw"),
      ("x59_pagerank", "graph"),
      // the exact prefix-filter join (x86 family): the cipher keeps
      // every copy's shingle vocabulary disjoint, so prefix buckets
      // grow linearly — the natural regime for a growing corpus
      ("x86_allpairs_join", "salt"),
      // IVF layout maintenance: write + 2 appends + compaction + probe
      ("s10b_ivf_compact", "emb"),
      // the CAPSTONE composition (curate → LSH CC dedup → decontam →
      // mixture → packing): the mixture stage caps the tail at fixed
      // per-source counts, so the exponent reads the heavy FRONT
      // (curation, staged LSH, CC, 5-gram decontamination) at N×
      ("x37_pretrain_build", "sfull"),
      // ExactSubstr span stats: one digest-keyed window exchange — the
      // cipher keeps cross-copy 5-token spans disjoint (token text is
      // ciphered), so span structure replicates linearly
      ("x41_repeated_spans", "salt"),
      // SemDeDup: data-driven assignment + within-cell pairs + CC;
      // vectors repeat across copies, so every semantic-dup cell grows
      // N× — the giant-cell regime the within-cell pair join must survive
      ("x30_semdedup", "emb"),
      // the retrieval capstone: passage chunking + BM25 + the
      // qid-partitioned ranking windows + graded eval — the window is
      // the scale question (few queries ⇒ wide partitions)
      ("x105_passage_eval", "raw"),
      // tokenizer trainers (r15 verdict #6): every merge round scans
      // the corpus, so the loops' exponents were the last unmeasured
      // heavy driver loop. RAW growth is the trainers' real regime —
      // same language stats at N× count mass, identical merge
      // trajectory, the per-round census aggregations carrying N× rows
      ("x68_char_bpe", "raw"),
      ("x76_wordpiece_train", "raw"),
      // the remaining iterative / join-heavy graph families: HITS
      // re-keys both edge ends per half-step, k-core peels in cascade
      // rounds, triangles is the one genuinely super-linear-looking
      // join (its bound is Σ deg² — disjoint copies keep it linear)
      ("x83_hits", "graph"),
      ("x90_kcore", "graph"),
      ("x87_triangles", "graph"),
      // last unmeasured driver loops: Lloyd rounds scan the corpus per
      // iteration (vectors repeat across copies — every cell grows N×);
      // decontamination is the 3-gram join against a benchmark slice
      // (cipher keeps cross-copy grams disjoint — linear growth regime)
      ("x35_kmeans_train", "emb"),
      ("x23_decontamination", "salt"),
      // the heaviest still-unmeasured compositions (r16 verdict #3/#4):
      // chunk-level dedup one-shot + incremental, the copygraph capstone
      // (chunk collisions → host copy graph → PageRank → cut → rollup),
      // and the production keeper policy (CC closure + score join +
      // keeper window) that only rode x17's plain measurement
      ("x62_chunk_neardup", "salt"),
      ("x62b_chunk_incremental", "salt"),
      ("x64_copygraph_curation", "shost"),
      ("x17b_quality_keeper", "salt"),
      // warm-restart cadence (r16 verdict #2): resident graph staged
      // once, delta APPENDED, warm rounds over the combined table —
      // the per-crawl cost must now be delta-sized, not corpus-sized
      ("x59d_pagerank_incremental", "graph"),
      // the weighted and seeded crawl cadences (r17 verdict #6): only
      // x59d's lifecycle carried a 100× exponent; the weighted form's
      // per-crawl delta aggregation and the trust form's seed-merged
      // skeleton have different merge costs
      ("x59f_weighted_crawl", "graph"),
      ("x59g_trustrank_crawl", "graph"),
      // shared-vocabulary (Zipf-head) re-measurements (r16 verdict #1):
      // the dedup/retrieval families whose plan trades were adjudicated
      // on the disjoint-vocab cipher corpus, re-read on the regime
      // natural text actually presents. A label suffix "@zipf" keeps
      // both corpus readings in the same artifact.
      ("x86_allpairs_join@zipf", "zipf"),
      ("x86b_allpairs_incremental@zipf", "zipf"),
      ("x43d_bm25_compacted@zipf", "zipf"),
      ("x23_decontamination@zipf", "zipf"),
      ("x17_dup_clusters@zipf", "zipf"),
      ("x26_incremental_dedup@zipf", "zipf"),
      ("x62_chunk_neardup@zipf", "zipf"))
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // true high-water mark: sum of heap POOL PEAKS since the last
    // reset (an instantaneous totalMemory-freeMemory sample would miss
    // a mid-query peak that GC already collected)
    import scala.jdk.CollectionConverters._
    def heapPools = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def heapMb(): Long =
      heapPools.map(_.getPeakUsage.getUsed).sum >> 20
    // same-denominator heap reporting (r16 verdict: peak-pool high-water
    // scales with GC laziness, so heap columns only compare across rounds
    // under the SAME -Xmx) — record the actual ceiling in the artifact;
    // the standing convention is SPARK_DRIVER_MEM=64g for 100x runs
    val xmxMb = Runtime.getRuntime.maxMemory() >> 20
    println(s"[rehearsal] driver_xmx_mb=$xmxMb " +
      s"(SPARK_DRIVER_MEM=${sys.env.getOrElse("SPARK_DRIVER_MEM", "<unset: 16g default>")})")
    def run(name: String, dir: String): (Double, Long) = {
      resetPeaks()
      val t0 = System.nanoTime()
      // labels may carry an "@corpus" suffix — the query name precedes it
      val n = graft.SparkEntry.queries(name.takeWhile(_ != '@'))(spark, dir)
        .count()
      val dt = (System.nanoTime() - t0) / 1e9
      val hm = heapMb()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      graft.ext.Dedup.drainStageDirs()
      System.gc()
      println(f"[rehearsal] $name $dir rows=$n ${dt}%.2fs heap=${hm}MB")
      (dt, hm)
    }
    val rows = families.map { case (name, kind) =>
      run(name, s"$work/x1_$kind") // JIT warmup, discarded
      val (t1, _) = run(name, s"$work/x1_$kind")
      val (tN, hm) = run(name, s"$work/x${factor}_$kind")
      val exp = math.log(tN / t1) / math.log(factor.toDouble)
      println(f"[rehearsal] SUMMARY $name t1=$t1%.2f t$factor=$tN%.2f " +
        f"exponent=$exp%.2f heapN=${hm}MB")
      f""""$name":{"t1_sec":$t1%.2f,"tN_sec":$tN%.2f,"exponent":$exp%.2f,"heap_mb":$hm,"xmx_mb":$xmxMb}"""
    }
    println(s"""{"metric":"scale_rehearsal","factor":$factor,"xmx_mb":$xmxMb,"families":${rows.mkString("{", ",", "}")},"base":"$base"}""")
    spark.stop()
  }
}
