package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Staged all-pairs prefix index ([[Dedup.allPairsIndex]]): the base
  * corpus's prefixes (a_id, tok, _ap_n), element sets (_ap_id, toks),
  * and FROZEN element-frequency order (tok, _ap_c) — each a parquet
  * stage, so incremental batches never rescan the base.
  *
  * `occ` (optional, `censusInIndex = true`, the DEFAULT): a staged
  * NARROW per-token census of the base prefixes (tok, _ap_occ),
  * letting each ingest batch's occ-cap gate read token-sized counts
  * instead of re-scanning the prefix stage. Which form is cheaper
  * depends on the vocabulary regime, measured both ways at 100×
  * (PERF.md r17): on the shared-vocabulary zipf corpus — the regime
  * natural text presents (any two shards share a Zipf head) — the
  * census form wins 64.1 vs 81.1 s; on the disjoint-vocab cipher
  * corpus it loses 162.0 vs 149.8 s (census rows grow with the
  * prefixes themselves). The default matches the natural-text regime;
  * pass `censusInIndex = false` for provably disjoint-vocabulary
  * shards. */
case class AllPairsIndex(prefix: org.apache.spark.sql.DataFrame,
                         sets: org.apache.spark.sql.DataFrame,
                         counts: org.apache.spark.sql.DataFrame,
                         occ: Option[org.apache.spark.sql.DataFrame] = None)

/** Large-scale document deduplication operators.
  *
  * Beyond the reference's id-level dedup (SURVEY.md A1/A8), these are the
  * content-level dedup primitives a 100 TB training-data pipeline needs.
  * Design rules for scale:
  *  - signatures are pure projections (array_min over transform) — computed
  *    in whole-stage codegen with NO shuffle and NO explode blow-up;
  *  - candidate generation shuffles only (band_key → doc_id) pairs, never
  *    document text;
  *  - exact verification joins back to text only for the candidate set.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content digest, deterministic winner =
    * smallest id. One shuffle on a 32-byte key regardless of doc size. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature over character shingles, ORACLE-PORTABLE form.
    *
    * Semantics: one md5 per shingle, four disjoint 32-bit hex windows per
    * digest as four hash functions ((k+3)/4 digests per shingle; extra
    * groups prefix the shingle with a group tag) — exactly expressible in
    * ANSI SQL as min(substr(md5(substr(text,i,L)), 8w+1, 8)). Evaluated
    * natively in one pass per row (graft.functions.Md5MinHashSignature). */
  def minhashSignature(df: DataFrame, textCol: String, k: Int,
                       shingleLen: Int = 5, idCol: String = "doc_id"): DataFrame = {
    // native single-pass evaluation of the portable md5 formulation —
    // byte-identical to min(substr(md5(substr(text,i,L)), 8w+1, 8)) (see
    // Md5MinHash scaladoc + the equivalence spec), with no per-shingle
    // string/hex allocation and no explode/shuffle at all.
    val sigExpr = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.Md5MinHashSignature(
        org.apache.spark.sql.graftbridge.Bridge.expression(col(textCol)), k, shingleLen))
    // explode(array(x)) pins ONE evaluation per row; the field projections
    // below read the materialized array
    df.select(col(idCol), explode(array(sigExpr)).as("_sig"))
      .select(col(idCol) +: (1 to k).map(i => col("_sig").getItem(i - 1).as(s"h$i")): _*)
  }

  /** (id, band_idx, band_key) band rows for a signature table: the k
    * hashes grouped into bands of `rowsPerBand`, each band keyed by a
    * sha1 over its hashes ("|"-separated — no concat ambiguity across
    * hash columns of any type). */
  def lshBands(sig: DataFrame, idCol: String, k: Int,
               rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val hs = (1 to rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band_idx"), sha1(concat_ws("|", hs: _*)).as("band_key"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_key"))
  }

  /** LSH banding: docs sharing any full band become candidate pairs.
    * Shuffle carries only narrow keys. */
  def lshCandidatePairs(sig: DataFrame, idCol: String, k: Int,
                        rowsPerBand: Int): DataFrame = {
    // NOTE: the aliased self-join recomputes the signature pass per side;
    // persisting the (id, band) table here was measured SLOWER at bench
    // scale (cache write cost > recompute), so recompute is kept. At true
    // 100 TB scale, materialize the signature table to parquet first.
    val exploded = lshBands(sig, idCol, k, rowsPerBand)
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
  }

  /** CONNECTIVITY-oriented LSH candidates — the [[dupClusters]] feeder
    * that survives hot band buckets: per (band_idx, band_key) bucket
    * emit a STAR (bucket-min id ↔ every other member) instead of the
    * clique. For connected components the star is EXACTLY equivalent
    * (every bucket member is connected through the bucket min, so the
    * transitive closure — and with it every cluster — is identical to
    * the clique's; DedupSpec pins the equality), but a bucket of m docs
    * costs m−1 edges instead of m(m−1)/2. Real corpora make this the
    * difference between linear and quadratic: a boilerplate/exact-dup
    * group of 10⁵ docs lands in one band bucket, which the clique form
    * turns into 5·10⁹ pairs and the star into 10⁵.
    *
    * NOT for pair-level consumers (Jaccard verify, x3's pair lists):
    * the star omits most within-bucket pairs — it answers "which docs
    * are in the same component", never "which pairs collided". Shape:
    * one (band)-keyed aggregation for the bucket mins + one band-keyed
    * join back; only (band_key, id) rows ever shuffle. */
  def lshCandidateStarPairs(sig: DataFrame, idCol: String, k: Int,
                            rowsPerBand: Int): DataFrame = {
    val exploded = lshBands(sig, idCol, k, rowsPerBand)
    val mins = exploded.groupBy(col("band_idx"), col("band_key"))
      .agg(min(col(idCol)).as("_lsh_min"))
    exploded.join(mins, Seq("band_idx", "band_key"))
      .filter(col(idCol) =!= col("_lsh_min"))
      .select(col("_lsh_min").as("a_id"), col(idCol).as("b_id"))
      .distinct()
  }

  /** [[lshCandidateStarPairs]] from a staged signature table (the
    * lshCandidatePairsStaged move for CC feeds): one signature pass,
    * star edges per band bucket. */
  def lshCandidateStarPairsStaged(sig: DataFrame, idCol: String, k: Int,
                                  rowsPerBand: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_stage_")
    registerStageDirForCleanup(dir.toString)
    sig.write.mode("overwrite").parquet(dir.toString)
    lshCandidateStarPairs(sig.sparkSession.read.parquet(dir.toString),
      idCol, k, rowsPerBand)
  }

  /** At-scale LSH candidate generation: materialize the signature table to
    * parquet FIRST, then band/self-join from the staged table — exactly ONE
    * signature computation over the corpus. [[lshCandidatePairs]]'s aliased
    * self-join recomputes the signature on each side, which measured FASTER
    * at bench scale (cache write > recompute) but is the wrong trade at
    * 100 TB where the signature pass reads the full text corpus: staging
    * costs one narrow parquet write of (id, k×8-byte hashes) and every
    * later pass — banding, joins, incremental dedup — reads that instead of
    * the text. Returns the same pairs as the unstaged form. */
  def lshCandidatePairsStaged(sig: DataFrame, idCol: String, k: Int,
                              rowsPerBand: Int, sigPath: String): DataFrame = {
    // NOTE: the stage write runs HERE, at DataFrame-construction time (not
    // when the returned frame is acted on) — callers sharing a fixed
    // sigPath across concurrent sessions would race the overwrite; use the
    // no-path overload for a collision-free per-invocation directory.
    sig.write.mode("overwrite").parquet(sigPath)
    val staged = sig.sparkSession.read.parquet(sigPath)
    lshCandidatePairs(staged, idCol, k, rowsPerBand)
  }

  /** [[lshCandidatePairsStaged]] with a unique per-invocation staging
    * directory (no cross-session overwrite races on a shared path). The
    * dir is registered for recursive deletion at JVM exit, so repeated
    * bench/verify runs don't accumulate parquet stages in /tmp. */
  def lshCandidatePairsStaged(sig: DataFrame, idCol: String, k: Int,
                              rowsPerBand: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_stage_")
    registerStageDirForCleanup(dir.toString)
    lshCandidatePairsStaged(sig, idCol, k, rowsPerBand, dir.toString)
  }

  /** Chunk-level (partial-overlap) near-dup detection — what whole-doc
    * MinHash structurally misses: two docs sharing one long identical
    * region but differing elsewhere (an article wrapped in two sites'
    * boilerplate, a quoted passage, a concatenated page) dilute the
    * shared shingles below any banding threshold at the DOC level.
    * Chunking restores locality: split each text into fixed
    * `chunkChars`-character windows, MinHash-signature each CHUNK
    * ([[minhashSignature]] semantics, so every hash is the oracle-portable
    * min-md5-window form), LSH-band the chunks, and report DOC pairs
    * supported by `minChunkHits`+ distinct chunk collisions.
    *
    * `maxBandChunks` (0 = off) drops bands hotter than the cap BEFORE the
    * self-join — at corpus scale a boilerplate chunk ("all rights
    * reserved …") lands millions of chunks in one band and the pair
    * fan-out under it is quadratic; capping trades recall on
    * ultra-common chunks (which dedup wants to ignore anyway) for a
    * bounded join. The cap is one extra band-key count — narrow rows.
    *
    * Scale shape: chunking is a projection (explode fan-out ≈ corpus
    * chars / chunkChars); signatures are the same zero-shuffle native
    * pass as x2; every exchange after that carries (band_key, id, cidx)
    * rows, never chunk text; the hit count is one (a_id, b_id)-keyed agg.
    * Same recompute-vs-stage trade as [[lshCandidatePairs]] — at true
    * 100 TB, stage the chunk signature table first.
    *
    * Tail chunks shorter than `shingleLen` cannot form one full shingle
    * and are dropped. Returns (a_id, b_id, n_chunk_hits), a_id < b_id. */
  def chunkNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                        chunkChars: Int, k: Int, rowsPerBand: Int,
                        maxBandChunks: Int = 0, minChunkHits: Int = 1,
                        shingleLen: Int = 5): DataFrame = {
    require(minChunkHits >= 1, "minChunkHits must be >= 1")
    val sig = chunkSignatures(df, textCol, idCol, chunkChars, k, shingleLen)
    val bands = cappedChunkBands(
      lshBands(sig, "_ck", k, rowsPerBand), maxBandChunks)
    val a = bands.as("a")
    val b = bands.as("b")
    chunkHitCount(
      a.join(b, col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a._ck.id") < col("b._ck.id"))
        .select(col("a._ck.id").as("a_id"), col("b._ck.id").as("b_id"),
          col("a._ck.cidx").as("a_cidx"), col("b._ck.cidx").as("b_cidx")),
      minChunkHits)
  }

  /** The (chunk-key, k-hash) signature table [[chunkNearDupPairs]] and
    * [[chunkNearDupPairsIncremental]] band from: one row per
    * `chunkChars`-character window, keyed by a `_ck = (id, cidx)` struct.
    * This is the table a production flow STAGES (parquet, appended batch
    * by batch — the [[stageSignatures]] contract) so corpus text is never
    * rescanned. */
  def chunkSignatures(df: DataFrame, textCol: String, idCol: String,
                      chunkChars: Int, k: Int,
                      shingleLen: Int = 5): DataFrame = {
    require(chunkChars >= shingleLen, "chunks must fit one shingle")
    val chunks = df
      .filter(col(textCol).isNotNull && length(col(textCol)) >= shingleLen)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, (length(`$textCol`) - 1) div $chunkChars), " +
          s"i -> substring(`$textCol`, i * $chunkChars + 1, $chunkChars))"))
        .as(Seq("cidx", "_ck_chunk")))
      .filter(length(col("_ck_chunk")) >= shingleLen)
      .select(struct(col(idCol).as("id"), col("cidx").as("cidx")).as("_ck"),
        col("_ck_chunk"))
    minhashSignature(chunks, "_ck_chunk", k, shingleLen, "_ck")
  }

  private def cappedChunkBands(bands: DataFrame, maxBandChunks: Int): DataFrame = {
    require(maxBandChunks >= 0, "maxBandChunks: 0 disables the cap")
    if (maxBandChunks == 0) bands
    else {
      val ok = bands.groupBy(col("band_idx"), col("band_key"))
        .agg(count(lit(1)).as("_ck_n"))
        .filter(col("_ck_n") <= maxBandChunks)
        .drop("_ck_n")
      bands.join(ok, Seq("band_idx", "band_key"), "left_semi")
    }
  }

  private def chunkHitCount(pairs: DataFrame, minChunkHits: Int): DataFrame =
    pairs.distinct()
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_chunk_hits"))
      .filter(col("n_chunk_hits") >= minChunkHits)

  /** Incremental [[chunkNearDupPairs]] — partial-overlap detection for a
    * GROWING corpus, the [[lshCandidatePairsIncremental]] discipline on
    * CHUNK signatures: the ingested corpus's chunk-signature table lives
    * in a parquet stage (append per batch; corpus TEXT is never
    * rescanned), an arriving batch computes only its own chunk
    * signatures and band-joins against stage ∪ batch. Returns doc pairs
    * with at least one side in the batch, a_id < b_id, with the same
    * `n_chunk_hits` the one-shot form would report for those pairs —
    * cross-batch hit counts are exact because every staged chunk is
    * present to collide with. The hot-band cap censuses stage ∪ batch,
    * so a boilerplate band already hot in the corpus stays dropped for
    * every later batch. Scale shape: the batch's band rows broadcast
    * (`broadcastNew = false` for backfill batches too big to broadcast);
    * the stage streams map-side. */
  def chunkNearDupPairsIncremental(newDf: DataFrame, sigPath: String,
                                   textCol: String, idCol: String,
                                   chunkChars: Int, k: Int, rowsPerBand: Int,
                                   maxBandChunks: Int = 0,
                                   minChunkHits: Int = 1,
                                   shingleLen: Int = 5,
                                   broadcastNew: Boolean = true): DataFrame = {
    require(minChunkHits >= 1, "minChunkHits must be >= 1")
    val newSig = chunkSignatures(newDf, textCol, idCol, chunkChars, k,
      shingleLen)
    val staged = newDf.sparkSession.read.parquet(sigPath)
    val all = cappedChunkBands(
      lshBands(staged.unionByName(newSig), "_ck", k, rowsPerBand),
      maxBandChunks).as("a")
    val nb0 = lshBands(newSig, "_ck", k, rowsPerBand)
    val nb = (if (broadcastNew) broadcast(nb0) else nb0).as("b")
    val hits = all.join(nb,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a._ck.id") =!= col("b._ck.id"))
      .select(
        when(col("a._ck.id") < col("b._ck.id"),
          struct(col("a._ck.id").as("a_id"), col("b._ck.id").as("b_id"),
            col("a._ck.cidx").as("a_cidx"), col("b._ck.cidx").as("b_cidx")))
          .otherwise(
            struct(col("b._ck.id").as("a_id"), col("a._ck.id").as("b_id"),
              col("b._ck.cidx").as("a_cidx"), col("a._ck.cidx").as("b_cidx")))
          .as("_ck_p"))
      .select(col("_ck_p.a_id"), col("_ck_p.b_id"),
        col("_ck_p.a_cidx"), col("_ck_p.b_cidx"))
    chunkHitCount(hits, minChunkHits)
  }

  /** Write a signature table to a unique temp parquet stage (registered
    * for JVM-exit deletion) and return its path — the setup step for
    * [[lshCandidatePairsIncremental]] and tests of the staged flow. In
    * production the stage is a durable table the pipeline owns, appended
    * batch by batch — and for streaming ingest, appended per-batch-subdir
    * with overwrite so a crash-replayed micro-batch can't double its
    * signatures (the `Curation.appendCardBatch(…, overwrite = true)`
    * discipline, EventStreamsSpec). */
  def stageSignatures(sig: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sig_stage_")
    registerStageDirForCleanup(dir.toString)
    sig.write.mode("overwrite").parquet(dir.toString)
    dir.toString
  }

  /** [[stageSignatures]] + read-back in one step, supplying the KNOWN
    * schema to the reader: `spark.read.parquet(stage)` re-infers the
    * schema it wrote a millisecond earlier — a footer-read job per stage
    * call, pure overhead the engine pays dozens of times per catalog run
    * (every staged round/census/skeleton). The schema is exact by
    * construction (we wrote this exact frame), so the read is
    * bit-identical; only the inference job disappears. */
  def stageAndRead(df: DataFrame): DataFrame =
    // asNullable: parquet round-trips every field as nullable, so the
    // supplied schema must match what inference would have produced
    df.sparkSession.read
      .schema(org.apache.spark.sql.graftbridge.Bridge.asNullable(df.schema))
      .parquet(stageSignatures(df))

  /** Incremental batch dedup — the production flow for a GROWING corpus:
    * signatures of everything already ingested live in a parquet stage
    * (one narrow (id, k hashes) table, written once per batch, e.g. via
    * [[stageSignatures]]/append); a new batch computes only ITS OWN
    * signatures and band-joins against the stage. Returns candidate pairs
    * with at least one side in the new batch, `a_id < b_id`.
    *
    * 100 TB posture: corpus TEXT is never rescanned — only the new batch
    * pays a text pass. The stage's band rows stream map-side into a
    * broadcast hash join against the (small) new-batch bands, so the
    * corpus is neither shuffled nor collected; the only shuffle is the
    * final distinct over matched pairs. Set `broadcastNew = false` when a
    * backfill batch is too big to broadcast (falls back to a shuffle
    * join on the band key). Reads the stage as-is: append the new batch's
    * signatures to the stage AFTER calling (or the batch would pair with
    * itself twice). */
  def lshCandidatePairsIncremental(newSig: DataFrame, sigPath: String,
                                   idCol: String, k: Int, rowsPerBand: Int,
                                   broadcastNew: Boolean = true): DataFrame = {
    val corpus = newSig.sparkSession.read.parquet(sigPath)
    val aBands = lshBands(corpus.unionByName(newSig), idCol, k, rowsPerBand).as("a")
    val bBands0 = lshBands(newSig, idCol, k, rowsPerBand)
    val bBands = (if (broadcastNew) broadcast(bBands0) else bBands0).as("b")
    aBands.join(bBands,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("a_id"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("b_id"))
      .distinct()
  }

  /** Staging dirs pending JVM-exit deletion (exposed for specs). */
  def registeredStageDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    stageDirs.asScala.toSet
  }

  private val stageDirs = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  // one hook for all registered dirs, installed on first use
  private lazy val installStageCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stageDirs.forEach { d =>
        val p = java.nio.file.Paths.get(d)
        if (java.nio.file.Files.exists(p)) {
          java.nio.file.Files.walk(p)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
        }
      }
    }))

  private[graft] def registerStageDirForCleanup(dir: String): Unit = {
    installStageCleanupHook
    stageDirs.add(dir)
  }

  /** Delete every registered staging dir NOW and clear the registry —
    * the inter-query hygiene hook for long catalog sessions (Bench,
    * Verify). The JVM-exit hook alone let a 229-query session accumulate
    * dozens of temp parquet stages (disk + page-cache pressure measured
    * as up-to-17× bench-tail inflation in round 11). Safe between
    * independent queries: a stage is only read by the query that created
    * it, and that query has completed its action before the drain. */
  def drainStageDirs(): Unit = {
    val it = stageDirs.iterator()
    while (it.hasNext) {
      val d = it.next()
      it.remove()
      val p = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
  }

  /** MinHash signature via the native single-pass codegen expression
    * (graft.functions.MinHashSignature) — the fast engine-internal path:
    * pure projection, no explode, no shuffle, no per-shingle allocation.
    * Hash values are engine-specific (not oracle-portable; use
    * [[minhashSignature]] where cross-engine equality matters). */
  def minhashSignatureFast(df: DataFrame, textCol: String, k: Int,
                           shingleLen: Int = 5, idCol: String = "doc_id"): DataFrame = {
    val sig = graft.functions.GraftFunctions.minhashSig(col(textCol), k, shingleLen)
    df.select(col(idCol) +: (0 until k).map(i => sig.getItem(i).as(s"h${i + 1}")): _*)
  }

  /** SimHash (nBits ≤ 60): per token take md5 → integer; bit i of the
    * signature is the sign of Σ_tokens (±1 by token's bit i). Explode-based
    * (one row per token) with a single groupBy(doc) — at scale this is one
    * shuffle of (id, tokenHash) longs. */
  def simhash(df: DataFrame, textCol: String, idCol: String,
              nBits: Int = 32): DataFrame = {
    require(nBits <= 60, "md5 prefix gives 60 usable bits")
    val tok = df.select(col(idCol),
      explode(split(TextStats.wsTrim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("th", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until nBits).map { i =>
      sum(when(shiftright(col("th"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val agg = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until nBits).map { i =>
      when(col(s"b$i") > 0, lit(1L) * lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col(idCol), sig.as("simhash"))
  }

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Keeper selection over [[dupClusters]] labels the way production
    * curation does it: each cluster keeps its BEST member by a quality
    * score (descending, ties to the lower id) instead of the arbitrary
    * min-id representative. `labels` is (id, cluster_id); `scores` is
    * (idCol, scoreCol) — joined BY ID (one id-keyed hash join), keeper
    * picked by one cluster-keyed window over cluster-sized groups.
    * The scores side is PROJECTED onto internal aliases before the
    * join, so the join key is unambiguous for any idCol — including
    * `idCol == "id"` or a scores frame that carries its own unrelated
    * `id`/`cluster_id` column (the bare `col("id") === col(idCol)`
    * form mis-resolved both). Returns (cluster_id, keeper_id,
    * keeper_score). */
  def clusterKeepers(labels: DataFrame, scores: DataFrame,
                     idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(labels.columns.toSet == Set("id", "cluster_id"),
      "labels must be exactly (id, cluster_id) — dupClusters' shape")
    require(scores.columns.contains(idCol),
      s"scores side lacks id column $idCol")
    require(scores.columns.contains(scoreCol),
      s"scores side lacks score column $scoreCol")
    val s = scores.select(col(idCol).as("_ck_sid"),
      col(scoreCol).as("_ck_score"))
    labels.join(s, col("id") === col("_ck_sid"))
      .withColumn("_ck_rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("_ck_score").desc, col("id"))))
      .filter(col("_ck_rn") === 1)
      .select(col("cluster_id"), col("id").as("keeper_id"),
        col("_ck_score").as("keeper_score"))
  }

  /** Banded hamming near-dup pairs over [[simhash]] signatures — LSH in
    * hamming space: the nBits signature splits into `bands` equal slices;
    * docs sharing ANY band's value become candidates (equi-join on the
    * (band, value) key — never all-pairs), and the exact [[hamming]]
    * verify keeps pairs ≤ `maxHamming`. Pigeonhole makes the candidate
    * stage LOSSLESS whenever maxHamming < bands (≤ maxHamming differing
    * bits cannot touch every band), so the result set EQUALS the
    * brute-force definition — which is exactly what the x5c oracle
    * computes, pinning the banded algorithm against the definition.
    * Returns (a_id, b_id, hamming), a < b.
    *
    * Scale: the demo runs 16-bit/4-band (compact oracle); a corpus-scale
    * deployment uses 64-bit signatures with 8 × 8-bit bands — same code,
    * bigger knobs — so band buckets stay selective. */
  def simhashNearDupPairs(sig: DataFrame, idCol: String, sigCol: String,
                          nBits: Int, bands: Int,
                          maxHamming: Int): DataFrame = {
    require(nBits % bands == 0, s"nBits $nBits must split into $bands bands")
    require(maxHamming < bands,
      "losslessness needs maxHamming < bands (pigeonhole)")
    val w = nBits / bands
    val banded = sig.select(col(idCol).as("_sh_id"), col(sigCol).as("_sh_sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("_sh_b"))
      .withColumn("_sh_v",
        expr(s"shiftright(_sh_sig, _sh_b * $w)").bitwiseAND((1L << w) - 1))
    val a = banded.select(col("_sh_b"), col("_sh_v"),
      col("_sh_id").as("a_id"), col("_sh_sig").as("_sh_siga"))
    val b = banded.select(col("_sh_b"), col("_sh_v"),
      col("_sh_id").as("b_id"), col("_sh_sig").as("_sh_sigb"))
    a.join(b, Seq("_sh_b", "_sh_v"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming(col("_sh_siga"), col("_sh_sigb")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** N-gram (token-set) Jaccard similarity for candidate pairs: both sides
    * reduced to distinct token arrays; |∩| / |∪|. */
  def tokenSets(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      array_distinct(split(TextStats.wsTrim(col(textCol)), "\\s+")).as("toks"))

  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact-Jaccard verification of CANDIDATE pairs — the scale-safe tail
    * of LSH dedup. Candidates carry only (a_id, b_id); the token/ngram
    * arrays join back BY ID, so the work is O(|candidates|): no join key
    * ever has block-quadratic fan-out (contrast the all-pairs-within-block
    * form, which explodes quadratically once a block holds millions of
    * docs). Compose as lshCandidatePairs → jaccardVerify. */
  def jaccardVerify(candidates: DataFrame, sets: DataFrame, idCol: String,
                    setCol: String = "toks"): DataFrame =
    candidateSetPairs(candidates, sets, idCol, setCol)
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_set"), col("b_set"))).cast("long").as("n_common"),
        jaccard(col("a_set"), col("b_set")).as("jaccard"))

  /** Shared candidate→sets join behind [[jaccardVerify]] and
    * [[containmentVerify]]: candidates carry (a_id, b_id) only, both
    * sides' sets join back BY ID — O(|candidates|), never block-
    * quadratic. Returns (a_id, b_id, a_set, b_set). */
  private def candidateSetPairs(candidates: DataFrame, sets: DataFrame,
                                idCol: String, setCol: String): DataFrame = {
    val a = sets.select(col(idCol).as("a_id"), col(setCol).as("a_set"))
    val b = sets.select(col(idCol).as("b_id"), col(setCol).as("b_set"))
    candidates.select(col("a_id"), col("b_id"))
      .join(a, "a_id").join(b, "b_id")
  }

  /** Asymmetric n-gram CONTAINMENT for candidate pairs — the doc-in-doc
    * signal symmetric Jaccard structurally misses: a document quoted
    * whole inside a longer one, or wrapped in boilerplate, has
    * |∩| ≈ |smaller side| so containment = |∩| / min(|A|, |B|) ≈ 1 while
    * Jaccard = |∩| / |∪| shrinks with the size ratio — at 10× wrap it is
    * under 0.1 and every symmetric threshold lets the copy through.
    * Production curation runs BOTH: Jaccard for near-dup pairs,
    * containment for subsumption (quote farms, scraped-with-chrome
    * copies, licence-text wrapping). Same scale-safe candidate-driven
    * shape as [[jaccardVerify]] — candidates carry (a_id, b_id) only and
    * the sets join back BY ID, O(|candidates|); both ratios are IEEE
    * divisions of exact integers, bit-stable across engines. Returns
    * (a_id, b_id, n_common, n_a, n_b, containment, jaccard). */
  def containmentVerify(candidates: DataFrame, sets: DataFrame, idCol: String,
                        setCol: String = "toks"): DataFrame =
    candidateSetPairs(candidates, sets, idCol, setCol)
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_set"), col("b_set"))).cast("long").as("n_common"),
        size(col("a_set")).cast("long").as("n_a"),
        size(col("b_set")).cast("long").as("n_b"),
        (size(array_intersect(col("a_set"), col("b_set"))).cast("double")
          / least(size(col("a_set")), size(col("b_set")))).as("containment"),
        jaccard(col("a_set"), col("b_set")).as("jaccard"))

  /** Edit-distance (Levenshtein) verification of candidate pairs — the
    * CHARACTER-exact tail of the verify family beside [[jaccardVerify]]
    * (symmetric sets) and [[containmentVerify]] (subsumption): two texts
    * can share every word-set statistic yet differ by edits sets can't
    * see (reorderings collapse, typo families, template slot fills), and
    * conversely near-identical strings with one word swapped score low
    * Jaccard on small token sets. Same scale-safe candidate-driven shape:
    * candidates carry (a_id, b_id) only, texts join back BY ID —
    * O(|candidates|) rows. The CPU trade is per-PAIR: Levenshtein is
    * O(len²), so texts TRUNCATE to `maxLen` chars first (the loud,
    * documented bound that keeps a pathological pair from owning a task —
    * production uses edit distance on short text: titles, lines,
    * near-identical spans, after a cheap set-based candidate stage; both
    * engines replay the same truncation, so the oracle checks the exact
    * semantics). Returns (a_id, b_id, dist, sim): dist the integer edit
    * distance of the truncated texts, sim = 1 − dist / max(len_a, len_b)
    * (one IEEE division of exact integers — bit-stable), 1.0 when both
    * truncated texts are empty.
    *
    * Unicode contract: Spark's levenshtein counts CODE-POINT edits (the
    * correct unit — this operator's semantics); DuckDB's counts BYTE
    * edits, so the x13d oracle equivalence holds on ASCII corpora (the
    * test tables) and the oracle is the weaker byte-level twin beyond
    * ASCII — the engine side needs no change, the caveat is the
    * oracle's. */
  def editVerify(candidates: DataFrame, docs: DataFrame, idCol: String,
                 textCol: String, maxLen: Int = 256): DataFrame = {
    require(maxLen >= 1, s"editVerify maxLen must be >= 1: $maxLen")
    val txt = docs.select(col(idCol),
      substring(coalesce(col(textCol), lit("")), 1, maxLen).as("_ed_t"))
    val maxL = greatest(length(col("a_set")), length(col("b_set")))
    candidateSetPairs(candidates, txt, idCol, "_ed_t")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_set"), col("b_set")).cast("long").as("dist"),
        when(maxL === 0, lit(1.0))
          .otherwise(lit(1.0) -
            levenshtein(col("a_set"), col("b_set")).cast("double")
              / maxL.cast("double")).as("sim"))
  }

  /** Duplicate clusters: connected components over (a_id, b_id) near-dup
    * pairs, label = MIN id in the component (so the label doubles as the
    * deterministic keeper, A8 semantics). Docs with no pair are absent —
    * they are their own cluster.
    *
    * Iterative min-label propagation: each round a node takes the min of
    * (its label, its neighbors' labels); a changed=0 round exits early and
    * `maxIter` is a hard stop. Convergence is O(component diameter) —
    * banded near-dup components are quasi-cliques (measured: 4 rounds on
    * the 179k-pair sf0.1 graph), so the default keeps rounds single-pass
    * and cheap. For high-diameter graphs set `pointerJump=true`: each
    * round additionally follows the candidate label to ITS candidate
    * label (path compression → O(log n) rounds) at the cost of a second
    * per-round materialization. Each round shuffles only (id, label)
    * longs. Per round the label frame is rebuilt from its materialized
    * RDD (`createDataFrame(plan.rdd)`): this truncates lineage — the loop
    * plan references the previous labels twice, so without truncation the
    * plan tree doubles per iteration (measured: driver OOM during
    * analysis by round ~15) — AND lets the previous round's cache be
    * explicitly unpersisted once the new round materializes (leaving
    * every round's localCheckpoint pinned measured as steadily growing
    * round times from memory pressure). On a multi-node cluster where
    * executor loss must be survivable, set a reliable checkpoint dir
    * (`sc.setCheckpointDir`) and `checkpointEvery = N`: every Nth round's
    * label RDD checkpoints to the reliable store, so a lost executor
    * recomputes at most N-1 rounds instead of the whole chain (cache
    * blocks are not fault-tolerant; the materialize-cut lineage cannot
    * rebuild them from source). `stepsPerRound` propagation steps are FUSED into each
    * materialized round (default 2): extra steps re-reference the cached
    * round-start labels, so the per-round plan stays bounded while round
    * count — and with it materialization + job-submission overhead, the
    * dominant cost on low-diameter graphs — drops by the fusion factor.
    * `maxIter` counts rounds, so the propagation budget is
    * maxIter × stepsPerRound + 1 hops (the fused identity-init
    * contributes one extra hop before the loop). */
  /** Rounds the last [[dupClusters]] call ran (diagnostic only). */
  @volatile private[graft] var lastDupClusterRounds: Int = 0

  /** False iff the last [[dupClusters]] call exhausted maxIter with labels
    * still changing — the returned clustering is then WRONG (a component
    * wider than the propagation budget splits into several clusters), so
    * callers get a loud signal instead of silently-split clusters. */
  @volatile private[graft] var lastDupClusterConverged: Boolean = true

  def dupClusters(pairs: DataFrame, maxIter: Int = 20,
                  pointerJump: Boolean = false,
                  stepsPerRound: Int = 2,
                  checkpointEvery: Int = 0): DataFrame = {
    // materialize the pair list ONCE up front: it is typically the output
    // of LSH candidate generation (a signature pass over the corpus), and
    // both union branches below would otherwise recompute it
    val p = pairs.select(col("a_id"), col("b_id")).persist()
    p.count()
    val edges = p.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(p.select(col("b_id").as("src"), col("a_id").as("dst")))
      .persist()
    val spark = pairs.sparkSession
    // materialize a plan's RDD, cut lineage, manage the cache explicitly;
    // optionally mark it for a reliable checkpoint (written by the first
    // job that runs on it — the labelSum right after)
    val ckptEnabled = checkpointEvery > 0 &&
      spark.sparkContext.getCheckpointDir.isDefined
    def materialize(df: DataFrame, checkpoint: Boolean = false)
        : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (checkpoint) rdd.checkpoint()
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    // one min-propagation step: each node's new label = min over (its own
    // label ∪ its neighbors' labels), as ONE union + ONE groupBy — two
    // shuffle stages per step (the earlier nbrMin-join + left-join form
    // cost three; per-round stage overhead dominates on these graphs)
    def step(lbl: DataFrame): DataFrame =
      edges
        .join(lbl.select(col("id").as("dst"), col("label").as("dst_label")), "dst")
        .select(col("src").as("id"), col("dst_label").as("label"))
        .union(lbl.select(col("id"), col("label")))
        .groupBy(col("id")).agg(min(col("label")).as("label"))
    // convergence check without carrying an `old` column or re-joining:
    // min-propagation is MONOTONE — Σ labels strictly decreases while any
    // label changes — so one agg over the freshly-cached round compares
    // against the previous round's sum (decimal: overflow-proof under ANSI)
    def labelSum(lbl: DataFrame): java.math.BigDecimal = {
      val s = lbl.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty graph
    }
    // identity-init FUSED with the first propagation step: step(identity)
    // algebraically reduces to min(self ∪ neighbors) per node, because the
    // dst-label join against identity labels is an identity lookup — so
    // the classic "labels = id, then step" start pays one edge join + one
    // union purely to rediscover min(id, min(dst)). ONE src-keyed
    // aggregation replaces the nodes-distinct shuffle AND round 1's first
    // join+union+groupBy (2 exchanges + a join removed from every call);
    // labels after this init are bit-identical to one step from identity,
    // so the converged clustering is unchanged (ExtSpec fixtures pin it).
    // min(dst) is never null here (edges carries both directions of
    // non-null pair ids), so least() is a plain two-term min.
    var (labels, labelsRdd) = materialize(
      edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("_nmin"))
        .select(col("id"), least(col("id"), col("_nmin")).as("label")))
    var prevSum = labelSum(labels)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val updatedPlan =
        if (!pointerJump) {
          // fuse `stepsPerRound` propagation steps into ONE materialization:
          // extra steps re-reference the cached round-start labels, so the
          // plan stays bounded while round count — and with it the
          // materialization + job-submission overhead — drops by the
          // fusion factor
          (1 to math.max(stepsPerRound, 1)).foldLeft(labels)((f, _) => step(f))
        } else {
          // one propagation step, then follow the candidate label to ITS
          // candidate label (path compression — O(log n) rounds on high-
          // diameter graphs), reading the materialized intermediate
          val (m1, m1Rdd) = materialize(step(labels))
          val jump = m1.select(col("label").as("_j_from"), col("id").as("_j_id"))
            .join(m1.select(col("id").as("_j_from"), col("label").as("_j_to")),
              Seq("_j_from"), "left")
            .select(col("_j_id").as("id"),
              coalesce(col("_j_to"), col("_j_from")).as("label"))
          // m1's cache stays pinned until the jumped round materializes;
          // the next loop pass unpersists it via labelsRdd rotation below
          labelsRdd.unpersist(false)
          labels = m1
          labelsRdd = m1Rdd
          jump
        }
      val (updated, updatedRdd) = materialize(updatedPlan,
        checkpoint = ckptEnabled && (iter + 1) % checkpointEvery == 0)
      val newSum = labelSum(updated) // materializes the round's cache
      labelsRdd.unpersist(false) // previous round's cache is now dead weight
      labels = updated
      labelsRdd = updatedRdd
      changed = newSum.compareTo(prevSum) != 0
      prevSum = newSum
      iter += 1
    }
    lastDupClusterRounds = iter
    lastDupClusterConverged = !changed
    if (changed)
      // loud, not fatal: the caller may have set maxIter deliberately low;
      // the flag lets pipelines assert convergence where it matters
      System.err.println(s"[graft] dupClusters hit maxIter=$maxIter with " +
        "labels still changing — clusters are NOT converged " +
        "(raise maxIter or set pointerJump=true for high-diameter graphs)")
    edges.unpersist()
    p.unpersist()
    // the returned frame reads the final round's cached RDD directly —
    // the single retained cache of this call, O(nodes-in-pairs) longs
    // (unpersisting it would force a recompute cascade through the
    // already-freed intermediate rounds)
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Benchmark decontamination: flag training documents sharing any word
    * n-gram with a benchmark/eval set, with the shared-distinct-gram
    * count as evidence. The benchmark side reduces to DISTINCT grams
    * (eval sets are small — typically broadcastable); the join carries
    * (gram, id) pairs, never document text; output is one row per
    * contaminated train doc. The standard pretrain decontamination pass. */
  /** `bloomPreFilter` — opt-in bloom probe ahead of the broadcast join.
    * MEASURED at bench scale (PERF.md Round 4, sf0.1, interleaved warm
    * runs): a wash to slightly negative (~7.1 s vs ~6.7-7.2 s) — the
    * eval-gram hash map is tiny and cache-resident, so the BHJ probe a
    * negative gram pays is already as cheap as the bloom probe. The knob
    * exists for the regime where it wins: eval-gram maps big enough to
    * miss cache (full benchmark suites at 100 TB), where dropping the
    * true-negative mass before the join probe is the difference. Blooms
    * have no false negatives, so results are identical either way
    * (spec-asserted). */
  def contaminatedDocs(train: DataFrame, bench: DataFrame, textCol: String,
                       idCol: String, n: Int,
                       bloomPreFilter: Boolean = false): DataFrame = {
    val bg = bench.select(explode(wordNgrams(col(textCol), n)).as("g")).distinct()
    val tg0 = train.select(col(idCol), explode(wordNgrams(col(textCol), n)).as("g"))
    // Bloom pre-filter: a codegen'd bloom_filter_might_contain probe on
    // xxhash64(gram) drops the true-negative mass of the train-gram stream
    // BEFORE the join build-side probe and the struct row it feeds — the
    // exact join then verifies survivors, so results are unchanged (blooms
    // have no false negatives). Built from the eval side (small by
    // definition) in one extra metadata-scale job at CONSTRUCTION time.
    val tg = if (bloomPreFilter) {
      val h = bg.select(xxhash64(col("g")).as("h"))
      val bf = h.stat.bloomFilter("h", math.max(h.count(), 1L), 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.graftbridge.Bridge
      val probe = Bridge.column(BloomFilterMightContain(
        Literal(bos.toByteArray, org.apache.spark.sql.types.BinaryType),
        Bridge.expression(xxhash64(col("g")))))
      tg0.filter(probe)
    } else tg0
    // broadcast is PINNED, not left to the optimizer: eval sets are small
    // by definition, while the exploded train-gram stream is a multiple of
    // corpus size — a sort-merge join here would shuffle+sort that stream
    // (the 100 TB scale-killer). PlanSpec asserts the BroadcastHashJoin.
    tg.join(broadcast(bg), "g")
      .groupBy(col(idCol))
      .agg(count_distinct(col("g")).as("n_shared"))
  }

  /** Pair-level contamination ATTRIBUTION — which benchmark document
    * contaminated which train document, with the shared-gram count as
    * evidence: the report a decontamination run ships so drops are
    * auditable per benchmark (the [[contaminatedDocs]] aggregate tells
    * you THAT a doc overlaps; this tells you with WHAT). Same scale
    * posture as the x23 family: eval grams broadcast (small by
    * definition, pinned — never a shuffle of the exploded train-gram
    * stream), one (train, bench)-keyed aggregation; [[wordNgrams]]
    * already distincts within a doc, so each (train, gram, bench) triple
    * joins once and a plain count is the distinct shared-gram count.
    * Returns (idCol, bench_<idCol>, n_shared). */
  def contaminationPairs(train: DataFrame, bench: DataFrame, textCol: String,
                         idCol: String, n: Int): DataFrame = {
    val benchId = s"bench_$idCol"
    val bg = bench.select(col(idCol).as(benchId),
      explode(wordNgrams(col(textCol), n)).as("g"))
    val tg = train.select(col(idCol),
      explode(wordNgrams(col(textCol), n)).as("g"))
    tg.join(broadcast(bg), "g")
      .groupBy(col(idCol), col(benchId))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Fractional contamination — the THRESHOLDED form production
    * decontamination uses (drop a doc when ≥ frac of its distinct
    * n-grams appear in the benchmark split), vs [[contaminatedDocs]]'
    * any-overlap form. Per train doc: distinct-gram total, shared count,
    * and their ratio. Same scale posture: the eval grams broadcast
    * (pinned), the exploded per-(id, gram) stream is left-joined so BOTH
    * counts ride one aggregation — no second text pass, no extra
    * shuffle beyond the per-doc groupBy. */
  def contaminationFraction(train: DataFrame, bench: DataFrame,
                            textCol: String, idCol: String,
                            n: Int): DataFrame = {
    // the same reserved-name contract as scd2Merge/ivfAssignJoin: the id
    // column survives into the internal projection, so it must not collide
    // with the working/output names
    val internal = Set("_gs", "g", "_hit", "n_grams", "n_shared", "frac")
    require(!internal.contains(idCol),
      s"contaminationFraction reserves column names ${internal.mkString(", ")}; " +
        s"rename id column '$idCol'")
    val bg = bench.select(explode(wordNgrams(col(textCol), n)).as("g"))
      .distinct().withColumn("_hit", lit(1))
    // ONE gram pass: the array materializes in its own projection (size
    // and the Generate both read it — CollapseProject keeps a non-cheap
    // twice-referenced alias separate, so it evaluates once per row),
    // then every (id, n_grams, gram) row probes the broadcast and the
    // per-doc agg counts the hits; map-side partials collapse the gram
    // stream before its shuffle. explode_outer keeps gram-less docs
    // (n_shared 0) in the result. A null-text doc has NULL grams: its
    // n_grams pins to 0 (size(NULL) is -1 under legacy sizeOfNull) and
    // its frac to NULL — a 0-gram doc has no defined contamination ratio.
    train.select(col(idCol), wordNgrams(col(textCol), n).as("_gs"))
      .select(col(idCol),
        when(col("_gs").isNull, lit(0L))
          .otherwise(size(col("_gs")).cast("long")).as("n_grams"),
        explode_outer(col("_gs")).as("g"))
      .join(broadcast(bg), Seq("g"), "left_outer")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(col("_hit")).as("n_shared"))
      .withColumn("frac",
        when(col("n_grams") === 0, lit(null).cast("double"))
          .otherwise(col("n_shared").cast("double") / col("n_grams")))
      .select(col(idCol), col("n_grams"), col("n_shared"), col("frac"))
  }

  /** The k md5-derived bloom bit positions of a gram column — shared by
    * the build and probe sides of [[bloomGramBits]]/
    * [[contaminatedDocsBloom]] so the two can only agree: position h
    * (1-based) is the first 5 md5 hex digits of `gram || ":bloom:" || h`
    * taken mod mBits. Pure integer/md5 arithmetic — replays bit-for-bit
    * in any engine, which is what makes the bloom's FALSE POSITIVES
    * oracle-checkable, not just its no-false-negative guarantee. */
  private def bloomPositions(gram: Column, mBits: Int, kHash: Int): Column =
    array((1 to kHash).map { h =>
      conv(substring(md5(concat(gram, lit(s":bloom:$h"))), 1, 5), 16, 10)
        .cast("long") % mBits
    }: _*)

  /** The eval side of BLOOM decontamination — [[contaminatedDocs]]' regime
    * flip: x23 broadcasts the eval grams EXACTLY, which is right while
    * eval sets are benchmark-sized, and impossible when the "eval" side is
    * itself corpus-scale (decontaminating a new crawl against the entire
    * already-trained corpus, 10⁹+ distinct grams). A bloom filter replaces
    * the unbounded gram set with a FIXED-size bitmap: mBits bits stored as
    * mBits/32 (word_idx, bits) rows — built here as DATA by one explode
    * (k positions per distinct eval gram) and one bit_or aggregation, so
    * the eval side never collects and the bitmap's size is the caller's
    * choice, independent of the eval corpus. 32-bit words (bits in a long,
    * top half zero) keep every shift result positive — no sign-bit
    * semantics to match across engines. `mBits` ≤ 2²⁰ (positions draw from
    * 5 md5 hex digits); size it at ≈ 1.44 · kHash · |eval grams| bits for
    * the classic fp rate 2^−kHash. */
  def bloomGramBits(bench: DataFrame, textCol: String, n: Int, mBits: Int,
                    kHash: Int): DataFrame = {
    require(mBits >= 32 && mBits % 32 == 0 && mBits <= (1 << 20),
      s"mBits must be a multiple of 32 in [32, 2^20]: $mBits")
    require(kHash >= 1, s"kHash must be >= 1: $kHash")
    bench.select(explode(wordNgrams(col(textCol), n)).as("g")).distinct()
      .select(explode(bloomPositions(col("g"), mBits, kHash)).as("p"))
      // word_idx = p >> 5, bit = p & 31: exact integer ops on the
      // non-negative position (== p // 32 and p % 32, the oracle's spelling)
      .groupBy(call_function("shiftright", col("p"), lit(5)).as("word_idx"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        col("p").bitwiseAND(31L).cast("int"))).as("bits"))
  }

  /** The probe side: flag train docs whose ANY distinct word n-gram hits
    * all `kHash` bloom bits, with the flagged-gram count as evidence —
    * [[contaminatedDocs]]' output shape under the bloom's contract: NO
    * false negatives (every truly shared gram flags — the safe direction
    * for decontamination, which over-drops rather than leaks), false
    * positives at the sized 2^−kHash rate, and DETERMINISTIC — the md5
    * positions replay bit-for-bit, so the oracle verifies the exact
    * flagged set INCLUDING its false positives. Scale shape: the bitmap
    * broadcasts (≤ mBits/32 rows — pinned; that boundedness is the whole
    * point), the corpus gram stream explodes ×kHash then collapses in one
    * (id, gram) agg and one id agg; the corpus never shuffles text. */
  def contaminatedDocsBloom(train: DataFrame, bloomBits: DataFrame,
                            textCol: String, idCol: String, n: Int,
                            mBits: Int, kHash: Int): DataFrame = {
    require(kHash >= 1, s"kHash must be >= 1: $kHash")
    val probes = train
      .select(col(idCol), explode(wordNgrams(col(textCol), n)).as("g"))
      .select(col(idCol), col("g"),
        explode(bloomPositions(col("g"), mBits, kHash)).as("p"))
      .select(col(idCol), col("g"),
        call_function("shiftright", col("p"), lit(5)).as("word_idx"),
        col("p").bitwiseAND(31L).cast("int").as("_bit"))
    probes
      .join(broadcast(bloomBits), Seq("word_idx"), "left_outer")
      .select(col(idCol), col("g"),
        when(col("bits").isNotNull &&
             call_function("shiftright", col("bits"), col("_bit"))
               .bitwiseAND(1L) === 1L, 1L).otherwise(0L).as("_hit"))
      .groupBy(col(idCol), col("g"))
      .agg(sum(col("_hit")).as("_nh"))
      .filter(col("_nh") === kHash)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_flagged"))
  }

  /** The dedup lifecycle's final artifact: the corpus with every
    * non-keeper duplicate removed. `clusters` is [[dupClusters]] output
    * (label = MIN id = the keeper); a doc is dropped iff it appears there
    * with a label other than its own id. Docs with no near-dup pair never
    * appear in `clusters` and survive untouched — one broadcast-friendly
    * anti-join (the non-keeper id list is |duplicates|, far smaller than
    * the corpus). */
  def applyDedup(docs: DataFrame, clusters: DataFrame, idCol: String): DataFrame = {
    val dropIds = clusters.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  /** C4-style corpus-wide line dedup (C4 kept only lines that appear
    * under a repetition ceiling ACROSS the corpus — boilerplate
    * navigation/footer lines repeat thousands of times): count identical
    * lines over all documents, drop lines above `maxOccurrences`,
    * reassemble each document with its surviving lines in original order.
    * A document whose every line is dropped is absent from the output
    * (pure-boilerplate doc — the C4 outcome).
    *
    * Scale shape: the count aggregation AND the count-back join are keyed
    * by `md5(line)` — a fixed 16-byte digest — never by the line text, so
    * the 100 TB regime (the count side outgrows a broadcast and the join
    * becomes a sort-merge) shuffles and sorts digests while the text
    * rides only as the reassembly payload. Map-side partial agg folds
    * per-partition repeats before the count shuffle; the final per-doc
    * reassembly groupBy is the one stage that must carry text. md5
    * collisions are the only semantic delta vs raw-line keying (2^-64-
    * scale — the same digest this operator's own spec uses to prove
    * byte-identical reassembly). */
  def dedupLinesAcrossCorpus(df: DataFrame, textCol: String, idCol: String,
                             maxOccurrences: Long = 2,
                             delim: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("pos", "line")))
      .withColumn("_lk", md5(col("line")))
    val counts = lines.groupBy(col("_lk")).agg(count(lit(1)).as("_n"))
    lines.join(counts, "_lk")
      .filter(col("_n") <= maxOccurrences)
      .groupBy(col(idCol))
      .agg(
        concat_ws(delim,
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as(textCol),
        count(lit(1)).as("n_lines_kept"))
  }

  /** Per-position k-token window hashes — the ExactSubstr building block
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": harmful duplication is repeated SPANS, not just repeated
    * documents). One output row per window: (id, pos, h) with h = md5 of
    * the space-joined k-gram starting at 0-based token position pos.
    * Construction is the wordNgrams zip-of-shifted-slices (codegen'd, no
    * interpreted HOF lambda) but STRICT: only full k-token windows, so a
    * doc shorter than k tokens contributes nothing. Downstream shuffles
    * see only the 32-hex digest, the id, and the position — span text
    * never rides an exchange (the x27 line-dedup contract). */
  def spanHashes(df: DataFrame, textCol: String, idCol: String,
                 k: Int): DataFrame = {
    require(k >= 2, "a span is at least 2 tokens (k >= 2)")
    Seq("_sp_toks", "_sp_win", "pos", "h").foreach { c =>
      require(c != idCol, s"spanHashes reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"spanHashes reserves column $c")
    }
    val toks = col("_sp_toks")
    val nWin = size(toks) - (k - 1)
    df.filter(col(textCol).isNotNull &&
        TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(idCol),
        split(TextStats.wsTrim(col(textCol)), "\\s+").as("_sp_toks"))
      .filter(size(toks) >= k)
      .select(col(idCol), posexplode(arrays_zip((0 until k).map(o =>
        slice(toks, lit(o + 1), nWin)): _*)))
      .withColumnRenamed("col", "_sp_win")
      .select(col(idCol), col("pos"),
        md5(concat_ws(" ",
          (0 until k).map(o => col(s"_sp_win.$o")): _*)).as("h"))
  }

  /** Content-defined chunking (the Rabin-boundary move, LBFS/restic's
    * dedup discipline applied to tokens): a chunk boundary falls BEFORE
    * token i wherever the k-token window starting at i hashes into the
    * cut class (first-two-md5-hex-digits mod `maskMod` == 0, the x31
    * bucket convention — mean chunk length ≈ maskMod tokens). Boundaries
    * depend only on LOCAL content, so an insertion near a document's
    * head shifts every fixed window ([[graft.ext.Curation.chunkByTokens]],
    * [[chunkNearDupPairs]]'s char windows) but CDC boundaries
    * re-synchronize at the next cut — downstream chunks hash identically
    * and dedup keeps matching them (DedupSpec pins this shift
    * robustness). Documents shorter than k tokens form one chunk; the
    * deterministic core carries no min/max-chunk clamps (those need a
    * sequential scan; the mask IS the length knob).
    *
    * Scale shape: window hashes ride the codegen'd [[spanHashes]]
    * explode; cut positions reduce in ONE id-keyed aggregation (longs
    * only — ~n/maskMod cuts per doc); chunk assembly is a per-doc
    * projection over the cut array. Returns (idCol, chunk_id, n_tokens,
    * chunk_text). */
  def cdcChunks(df: DataFrame, textCol: String, idCol: String,
                k: Int, maskMod: Int): DataFrame = {
    require(k >= 2, "a boundary window is at least 2 tokens (k >= 2)")
    require(maskMod >= 2 && maskMod <= 256,
      "maskMod must be in [2, 256] (mean chunk length; 2-hex-digit hash)")
    // no idCol exemption: an id column named like an output would yield
    // duplicate output columns — fail loudly instead
    Seq("_cd_cuts", "_cd_toks", "_cd_cp", "chunk_id", "n_tokens", "chunk_text")
      .foreach { c =>
        require(c != idCol, s"cdcChunks reserves column $c — rename the id column")
        require(!df.columns.contains(c), s"cdcChunks reserves column $c")
      }
    val cuts = spanHashes(df, textCol, idCol, k)
      .filter(col("pos") >= 1 &&
        conv(substring(col("h"), 1, 2), 16, 10).cast("long") % maskMod === 0)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_cd_cuts"))
    val toks = df
      .filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(idCol),
        split(TextStats.wsTrim(col(textCol)), "\\s+").as("_cd_toks"))
    toks.join(cuts, Seq(idCol), "left")
      .withColumn("_cd_cp",
        concat(array(lit(0)), coalesce(col("_cd_cuts"),
            typedlit(Seq.empty[Int])),
          array(size(col("_cd_toks")))))
      .select(col(idCol), col("_cd_toks"),
        posexplode(transform(sequence(lit(0), size(col("_cd_cp")) - 2),
          j => struct(element_at(col("_cd_cp"), j + 1).as("s"),
            element_at(col("_cd_cp"), j + 2).as("e")))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_id"),
        (col("col.e") - col("col.s")).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("_cd_toks"), col("col.s") + 1,
          col("col.e") - col("col.s"))).as("chunk_text"))
  }

  /** Spans repeated >= minOcc times corpus-wide (within- OR cross-document
    * — ExactSubstr excises both): (h, n_occ, n_docs). One shuffle keyed on
    * the 16-byte digest; map-side partial counts absorb hot spans. */
  def repeatedSpans(df: DataFrame, textCol: String, idCol: String, k: Int,
                    minOcc: Int = 2): DataFrame = {
    require(minOcc >= 2, "a repeat needs at least 2 occurrences")
    spanHashes(df, textCol, idCol, k)
      .groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_occ") >= minOcc)
  }

  /** EXACT maximal shared substrings between digest-collided document
    * pairs — the verify stage that lifts the span family from
    * window-QUANTIZED to token-EXACT boundaries (Lee et al. 2022
    * fidelity without a corpus suffix array). Identity: a maximal
    * shared token span [s, e] (length ≥ k) matches ALL of its interior
    * k-windows and NONE beyond, so on each (pair, diagonal = posA −
    * posB) the maximal run of CONSECUTIVE matched window starts
    * reconstructs the true span exactly: start = run min, length =
    * run max − run min + k. Runs merge by gaps-and-islands (window
    * start − row_number is constant within a run), so two distinct
    * shared substrings on the same diagonal stay two spans — the case
    * a min/max-per-diagonal quantization would weld into one. A final
    * token-slice comparison re-checks every reported span against the
    * actual text (digest equality is md5-trusted upstream; `verified`
    * = 1 is the exactness certificate, and the DedupSpec fixture pins
    * a boundary the windowed form misquantizes).
    *
    * Scale: matched pairs are keyed by DIGEST (never text); hyper-
    * repeated digests (occ > occCap, boilerplate) are dropped before
    * the self-join — the x62 hot-band discipline that bounds the
    * quadratic — at the documented cost that a span containing a
    * capped window may split at that window. Runs group on (pair,
    * diagonal); the verify joins each doc's token array back by id
    * (two id-keyed joins, no token ever rides a digest exchange).
    * Spans shorter than k tokens are invisible by construction (the
    * window length IS the detection floor). Returns
    * (a_id, b_id, a_start, b_start, n_tokens, verified). */
  def sharedSpansExact(df: DataFrame, textCol: String, idCol: String,
                       k: Int, occCap: Int = 64): DataFrame = {
    require(k >= 2, "a span is at least 2 tokens (k >= 2)")
    require(occCap >= 2, s"occCap must be >= 2: $occCap")
    import org.apache.spark.sql.expressions.Window
    val sp = spanHashes(df, textCol, idCol, k)
      .withColumn("_sx_occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("_sx_occ") >= 2 && col("_sx_occ") <= occCap)
      .select(col(idCol), col("pos"), col("h"))
    val m = sp.select(col(idCol).as("a_id"), col("pos").as("_sx_ap"), col("h"))
      .join(sp.select(col(idCol).as("b_id"), col("pos").as("_sx_bp"),
        col("h")), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("_sx_ap"),
        (col("_sx_ap") - col("_sx_bp")).as("_sx_diag"))
    spanRunsVerified(m, spanToks(df, textCol, idCol), k)
  }

  /** Whitespace-split token arrays for the span family's verify joins:
    * (idCol, _sx_t); null/blank docs dropped (the spanHashes filter). */
  private def spanToks(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(idCol).as("_sx_vid"),
        split(TextStats.wsTrim(col(textCol)), "\\s+").as("_sx_t"))

  /** Shared x41d/x41f tail: per-(pair, diagonal) gaps-and-islands run
    * merging over matched-window rows `(a_id, b_id, _sx_ap, _sx_diag)`,
    * then the token-slice verification against `toks (_sx_vid, _sx_t)`.
    * Returns (a_id, b_id, a_start, b_start, n_tokens, verified). */
  private def spanRunsVerified(m: DataFrame, toks: DataFrame,
                               k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("a_id"), col("b_id"), col("_sx_diag"))
      .orderBy(col("_sx_ap"))
    val runs = m
      .withColumn("_sx_isl", col("_sx_ap") - row_number().over(w))
      .groupBy(col("a_id"), col("b_id"), col("_sx_diag"), col("_sx_isl"))
      .agg(min(col("_sx_ap")).as("a_start"),
        (max(col("_sx_ap")) - min(col("_sx_ap")) + k).as("n_tokens"))
      .select(col("a_id"), col("b_id"), col("a_start"),
        (col("a_start") - col("_sx_diag")).as("b_start"), col("n_tokens"))
    runs
      .join(toks.select(col("_sx_vid").as("a_id"), col("_sx_t").as("_sx_ta")),
        Seq("a_id"))
      .join(toks.select(col("_sx_vid").as("b_id"), col("_sx_t").as("_sx_tb")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        col("a_start").cast("long").as("a_start"),
        col("b_start").cast("long").as("b_start"),
        col("n_tokens").cast("long").as("n_tokens"),
        when(slice(col("_sx_ta"), col("a_start") + 1, col("n_tokens"))
          === slice(col("_sx_tb"), col("b_start") + 1, col("n_tokens")),
          1L).otherwise(0L).as("verified"))
  }

  /** INCREMENTAL [[sharedSpansExact]] for a GROWING corpus (the x26/x86b
    * contract): the already-ingested corpus's span digests live in a
    * parquet stage — (id, pos, h) rows, the [[repeatedSpanStatsIncremental]]
    * stage format — and a NEW batch finds every maximal shared span
    * TOUCHING it (batch×corpus + batch×batch) while only the batch pays
    * a window pass. Occurrence caps count across corpus ∪ batch, so cap
    * decisions match the one-shot form on every shared digest; the
    * output is EXACTLY the one-shot [[sharedSpansExact]] restricted to
    * batch-touching pairs (the x86b same-oracle convention).
    *
    * 100 TB posture: the corpus stage is filtered map-side by a
    * BROADCAST semi-join against the batch's distinct digests (never
    * shuffled on a text key, never rescanned as windows); the ONLY
    * corpus-text touch is the verify's id-keyed token join, itself
    * semi-join-pruned to docs that actually matched. Batch ids must be
    * disjoint from corpus ids (loud raise). Set `broadcastNew = false`
    * for backfill batches too big to broadcast. Append the batch's
    * [[spanHashes]] to the stage AFTER calling. */
  def sharedSpansExactIncremental(newDf: DataFrame, corpus: DataFrame,
                                  spanPath: String, textCol: String,
                                  idCol: String, k: Int, occCap: Int = 64,
                                  broadcastNew: Boolean = true): DataFrame = {
    require(k >= 2, "a span is at least 2 tokens (k >= 2)")
    require(occCap >= 2, s"occCap must be >= 2: $occCap")
    val newSp = spanHashes(newDf, textCol, idCol, k)
    val corpSp = newDf.sparkSession.read.parquet(spanPath)
    val clash = newDf.select(col(idCol)).distinct()
      .join(corpus.select(col(idCol)), Seq(idCol), "leftsemi")
      .limit(1).count()
    require(clash == 0L,
      "sharedSpansExactIncremental requires batch ids disjoint from the " +
        "corpus — re-submit changed docs via a fresh one-shot pass instead")
    // per-digest occurrence across corpus ∪ batch, batch-digest-bounded
    val newH0 = newSp.groupBy("h").agg(count(lit(1)).as("_sx_new_n"))
    val newH = if (broadcastNew) broadcast(newH0) else newH0
    val corpM = corpSp.join(newH.select("h"), Seq("h"), "leftsemi")
    val corpN = corpM.groupBy("h").agg(count(lit(1)).as("_sx_corp_n"))
    // the un-hinted side: a left outer join can only build its right side,
    // so a broadcast hint on the left is ignored (and logged per query)
    val okH0 = newH0.join(corpN, Seq("h"), "left")
      .select(col("h"), (col("_sx_new_n") +
        coalesce(col("_sx_corp_n"), lit(0L))).as("_sx_tot"))
      .filter(col("_sx_tot") >= 2 && col("_sx_tot") <= occCap)
      .select("h")
    val okH = if (broadcastNew) broadcast(okH0) else okH0
    def side(df: DataFrame, p: String) = df.join(okH, Seq("h"))
      .select(col(idCol).as(p + "id"), col("pos").as(p + "pos"), col("h"))
    val bsp = side(newSp, "x")
    // batch×batch (ordered inside the batch) + batch×corpus (normalized
    // across the id union — the x86b least/greatest move)
    val bb = bsp.join(side(newSp, "y"), Seq("h"))
      .filter(col("xid") < col("yid"))
    val bc = bsp.join(side(corpM, "y"), Seq("h"))
    val m = bb.unionByName(bc)
      .select(least(col("xid"), col("yid")).as("a_id"),
        greatest(col("xid"), col("yid")).as("b_id"),
        when(col("xid") < col("yid"), col("xpos")).otherwise(col("ypos"))
          .as("_sx_ap"),
        (when(col("xid") < col("yid"), col("xpos")).otherwise(col("ypos")) -
          when(col("xid") < col("yid"), col("ypos")).otherwise(col("xpos")))
          .as("_sx_diag"))
    // verify tokens: the batch's own + ONLY the corpus docs that matched
    val matchedCorp = m.select(col("a_id").as("_sx_vid"))
      .unionByName(m.select(col("b_id").as("_sx_vid"))).distinct()
    val toks = spanToks(newDf, textCol, idCol)
      .unionByName(spanToks(corpus, textCol, idCol)
        .join(matchedCorp, Seq("_sx_vid"), "leftsemi"))
    spanRunsVerified(m, toks, k)
  }

  /** Per-document repeated-span statistics: how much of each doc is
    * ExactSubstr-removable. n_spans = full k-windows, n_repeated = windows
    * whose span occurs >= minOcc times corpus-wide, repeated_frac their
    * exact ratio (two longs, ONE double division — engine-portable). The
    * occurrence count rides a window over the digest (the x39 one-exchange
    * pattern: no self-join, no second text pass), then one id-keyed
    * aggregation — two exchanges total, digests and longs only. */
  def repeatedSpanStats(df: DataFrame, textCol: String, idCol: String,
                        k: Int, minOcc: Int = 2): DataFrame = {
    require(minOcc >= 2, "a repeat needs at least 2 occurrences")
    import org.apache.spark.sql.expressions.Window
    val occ = count(lit(1)).over(Window.partitionBy(col("h")))
    spanHashes(df, textCol, idCol, k)
      .withColumn("_sp_occ", occ)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_sp_occ") >= minOcc, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("repeated_frac",
        col("n_repeated").cast("double") / col("n_spans"))
  }

  /** Incremental [[repeatedSpanStats]] for a GROWING corpus (the x26
    * contract): span digests of everything already ingested live in a
    * parquet stage — (id, pos, h) rows written via [[stageSignatures]]/
    * append — and a NEW batch's per-doc stats count occurrences across
    * corpus ∪ batch while only the batch pays a text pass.
    *
    * 100 TB posture: the corpus stage is filtered map-side by a BROADCAST
    * semi-join against the batch's distinct digests (the stage is never
    * shuffled on a text-derived key and never rescanned as text), then
    * only the MATCHED digests' counts — bounded by the batch size — join
    * back to the batch windows. Set `broadcastNew = false` for backfill
    * batches too big to broadcast (falls back to a shuffle join).
    * Append the batch's [[spanHashes]] to the stage AFTER calling. */
  def repeatedSpanStatsIncremental(newDf: DataFrame, spanPath: String,
                                   textCol: String, idCol: String, k: Int,
                                   minOcc: Int = 2,
                                   broadcastNew: Boolean = true): DataFrame = {
    require(minOcc >= 2, "a repeat needs at least 2 occurrences")
    val newSp = spanHashes(newDf, textCol, idCol, k)
    val corpus = newDf.sparkSession.read.parquet(spanPath)
    val newH0 = newSp.groupBy("h").agg(count(lit(1)).as("_sp_new_n"))
    val newH = if (broadcastNew) broadcast(newH0) else newH0
    val corpN = corpus.join(newH.select("h"), Seq("h"), "leftsemi")
      .groupBy("h").agg(count(lit(1)).as("_sp_corp_n"))
    // un-hinted left side (see sharedSpansExactIncremental)
    val occ0 = newH0.join(corpN, Seq("h"), "left")
      .select(col("h"),
        (col("_sp_new_n") + coalesce(col("_sp_corp_n"), lit(0L))).as("_sp_tot"))
    val occ = if (broadcastNew) broadcast(occ0) else occ0
    newSp.join(occ, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("_sp_tot") >= minOcc, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("repeated_frac",
        col("n_repeated").cast("double") / col("n_spans"))
  }

  /** ExactSubstr APPLY: excise every repeated k-token span occurrence
    * except the corpus-wide first, and reassemble the surviving tokens in
    * document order. The keeper is deterministic — min (id, pos) per span
    * digest via row_number riding the SAME digest partitioning as the
    * occurrence count (one window exchange, two window functions).
    * Excised windows fan out to their k covered token positions as
    * (id, p) LONG pairs; collect_set unions overlapping masks per doc
    * (one id-keyed shuffle); the rebuild zips each doc's own token array
    * with its index OUTSIDE the lambda (the wordNgrams HOF lesson) and
    * drops masked positions — order is the array's own, no per-token
    * collect_list reassembly. Null/blank docs are dropped (they carry no
    * spans); docs shorter than k pass through whitespace-normalized.
    * Returns (id, text_clean, n_removed). */
  def exciseRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                          k: Int, minOcc: Int = 2): DataFrame = {
    require(minOcc >= 2, "a repeat needs at least 2 occurrences")
    Seq("_sp_occ", "_sp_rn", "_sp_p", "_sp_mask", "_sp_zip", "_sp_toks2",
        "text_clean", "n_removed").foreach { c =>
      require(c != idCol, s"exciseRepeatedSpans reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"exciseRepeatedSpans reserves column $c")
    }
    import org.apache.spark.sql.expressions.Window
    val byH = Window.partitionBy(col("h"))
    val keeper = Window.partitionBy(col("h")).orderBy(col(idCol), col("pos"))
    val masks = spanHashes(df, textCol, idCol, k)
      .withColumn("_sp_occ", count(lit(1)).over(byH))
      .withColumn("_sp_rn", row_number().over(keeper))
      .filter(col("_sp_occ") >= minOcc && col("_sp_rn") > 1)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("_sp_p"))
      .groupBy(col(idCol)) // collect_set dedups overlapping window positions
      .agg(sort_array(collect_set(col("_sp_p"))).as("_sp_mask"))
    val toks = col("_sp_toks2")
    df.filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(idCol), split(TextStats.wsTrim(col(textCol)), "\\s+").as("_sp_toks2"))
      .join(masks, Seq(idCol), "left")
      .withColumn("_sp_mask",
        coalesce(col("_sp_mask"), array().cast("array<int>")))
      .withColumn("_sp_zip",
        arrays_zip(toks.as("tk"), sequence(lit(0), size(toks) - 1).as("ix")))
      .select(col(idCol),
        concat_ws(" ", transform(
          filter(col("_sp_zip"), s =>
            !array_contains(col("_sp_mask"), s.getField("ix"))),
          s => s.getField("tk"))).as("text_clean"),
        size(col("_sp_mask")).cast("long").as("n_removed"))
  }

  /** Pairwise EXACT-BOUNDARY excision — [[sharedSpansExact]]'s apply
    * stage, completing the Lee et al. 2022 story with token-exact
    * cuts: for every verified maximal shared span between a pair, the
    * HIGHER id loses its occurrence (the lower id is the keeper — the
    * A8 min-keeper convention at span granularity), masks union per
    * doc, and the survivors reassemble in document order (the
    * exciseRepeatedSpans zip-filter rebuild). Differences from the
    * window-granular [[exciseRepeatedSpans]]: boundaries come from the
    * verified maximal spans (never from per-window keeper races when
    * overlapping spans straddle documents), and within-doc repeats are
    * out of scope (pairwise spans only). Same null/short-doc contract:
    * null/blank docs drop, docs shorter than k pass through
    * whitespace-normalized. Returns (id, text_clean, n_removed). */
  def exciseSharedSpans(df: DataFrame, textCol: String, idCol: String,
                        k: Int, occCap: Int = 64): DataFrame = {
    Seq("_se_p", "_se_mask", "_se_zip", "_se_toks", "text_clean",
        "n_removed").foreach { c =>
      require(c != idCol, s"exciseSharedSpans reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"exciseSharedSpans reserves column $c")
    }
    val masks = sharedSpansExact(df, textCol, idCol, k, occCap)
      .filter(col("verified") === 1L)
      .select(col("b_id").as(idCol),
        explode(sequence(col("b_start").cast("int"),
          (col("b_start") + col("n_tokens") - 1).cast("int"))).as("_se_p"))
      .groupBy(col(idCol)) // collect_set unions overlapping pair masks
      .agg(sort_array(collect_set(col("_se_p"))).as("_se_mask"))
    val toks = col("_se_toks")
    df.filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(idCol),
        split(TextStats.wsTrim(col(textCol)), "\\s+").as("_se_toks"))
      .join(masks, Seq(idCol), "left")
      .withColumn("_se_mask",
        coalesce(col("_se_mask"), array().cast("array<int>")))
      .withColumn("_se_zip",
        arrays_zip(toks.as("tk"), sequence(lit(0), size(toks) - 1).as("ix")))
      .select(col(idCol),
        concat_ws(" ", transform(
          filter(col("_se_zip"), s =>
            !array_contains(col("_se_mask"), s.getField("ix"))),
          s => s.getField("tk"))).as("text_clean"),
        size(col("_se_mask")).cast("long").as("n_removed"))
  }

  /** EXACT all-pairs set-similarity join by PREFIX FILTERING (Bayardo,
    * Ma & Srikant, WWW'07 "Scaling Up All Pairs Similarity Search"; the
    * SSJoin/PPJoin family): every document pair whose token-set Jaccard
    * is ≥ tNum/tDen — with NO false negatives, the guarantee the LSH
    * family (x2/x3) trades away. The filter theorem: order the token
    * universe by one GLOBAL total order (here rarest-first — ascending
    * global frequency, then token — the canonical choice, because rare
    * tokens make the least-selective prefixes collide least) and keep
    * each document's first p = |A| − ceil(t·|A|) + 1 tokens; any pair
    * with Jaccard ≥ t MUST share a prefix token (if the prefixes were
    * disjoint, the overlap is at most the suffix length, too small).
    * Candidates additionally pass the size bound tDen·min ≥ tNum·max
    * (Jaccard ≤ min/max), then verify EXACTLY.
    *
    * Integer-exact throughout: ceil(t·n) = (tNum·n + tDen − 1) div tDen;
    * the final test den·i ≥ num·(n_a + n_b − i) folds to
    * (tNum + tDen)·i ≥ tNum·(n_a + n_b) — no division anywhere, so the
    * x86 oracle replays the whole chain including the prefix boundary.
    *
    * Scale shape: one token-key exchange for the global frequencies, a
    * per-document window for prefix positions (PARTITIONED by id —
    * bounded by document size, never global), one equi-join on prefix
    * tokens producing candidates (the prefix join is where the theorem
    * earns its keep: rarest-first ordering keeps the hottest join key as
    * cold as the data allows — the built-in skew mitigation, with AQE's
    * OptimizeSkewedJoin behind it for residual hot tokens), a distinct
    * on (a, b) id pairs, and the candidate-driven verify joining the
    * token arrays back BY ID (the [[jaccardVerify]] shape —
    * O(|candidates|), never block-quadratic).
    *
    * Returns (a_id, b_id, n_a, n_b, n_inter) for every qualifying pair,
    * a_id < b_id. */
  def allPairsJoin(df: DataFrame, idCol: String, setCol: String,
                   tNum: Int, tDen: Int,
                   maxTokenOcc: Long = 1L << 20): DataFrame = {
    require(tNum >= 1 && tDen >= 1 && tNum <= tDen,
      s"threshold is a fraction in (0, 1]: $tNum/$tDen")
    require(maxTokenOcc >= 1, s"maxTokenOcc must be >= 1: $maxTokenOcc")
    // no reserved-name contract: both inputs are projected to internal
    // names before any output column exists.
    // elements are OPAQUE strings (tokens, shingles, hashes — the caller
    // picks the granularity); duplicates inside a set are collapsed
    val tk = apTokens(df, idCol, setCol)
    val cnt = tk.groupBy(col("tok")).agg(count(lit(1)).as("_ap_c"))
    // the gated prefix frame feeds THREE consumers (census + both sides
    // of the self-join): stage it once (narrow 4-column parquet, the
    // allPairsIndex discipline) or each consumer re-pays the explode +
    // frequency join + per-doc window over the full corpus. Measured at
    // the 100× rehearsal: unstaged census-join +58%, window-riding
    // census +33%, staged census-join +28% over the ungated r15 form —
    // the stage is the cheapest way to buy the guardrail.
    val pref0 = apPrefix(tk, cnt, tNum, tDen)
    val prefS =
      if (maxTokenOcc >= Long.MaxValue / 2) pref0
      else stageAndRead(pref0)
    val pref = apOccGate(prefS, maxTokenOcc)
    val cand = pref
      .join(pref.select(col("a_id").as("b_id"), col("tok"),
        col("_ap_n").as("_ap_nb"), col("_ap_p").as("_ap_pb")), "tok")
      .filter(col("a_id") < col("b_id"))
      .transform(apSizeBound(tNum, tDen))
      .transform(apPositionalBound(tNum, tDen))
      .select(col("a_id"), col("b_id")).distinct()
    apVerify(cand, apSets(tk), tNum, tDen)
  }

  /** HEAVY-TOKEN occ-cap for the all-pairs prefix join (the x41/x101
    * pre-censused discipline; r15 verdict #3): a token appearing in the
    * PREFIX of p documents builds a p²-row candidate bucket in the
    * prefix self-join — the one quadratic the positional/size bounds
    * cannot cut a priori, and the family's 100× memory envelope grows
    * with the square of the hottest prefix token's document frequency.
    * So the prefix frame is gated BEFORE the bucket join builds: a
    * per-token census whose raise rides the gate join's FILTER
    * predicate, exactly the kendall/t-closeness shape — an over-budget
    * token never feeds the self-join; it fails the job loudly with the
    * remediation (longer shingles raise selectivity, or raise the cap
    * after sizing executors for occ² candidate rows of that token).
    * Rarest-first prefix ordering makes real corpora sit far under any
    * sane cap (sf0.1 bigram corpus: hottest prefix token ≈ 10² docs);
    * the census costs one count on the same tok key the self-join
    * shuffles anyway. `maxTokenOcc >= Long.MaxValue/2` skips the gate
    * entirely (documented escape hatch for trusted layouts). */
  private[ext] def apOccGate(pref: DataFrame, maxTokenOcc: Long,
                             occExtra: Option[DataFrame] = None): DataFrame = {
    if (maxTokenOcc >= Long.MaxValue / 2) return pref
    def raiseOver(occ: Column): Column =
      when(occ <= maxTokenOcc, lit(true))
        .otherwise(raise_error(concat(
          lit("allPairsJoin: a prefix token appears in more than "
            + s"maxTokenOcc=$maxTokenOcc documents — its candidate "
            + "bucket is occ² rows; use longer/rarer shingles or raise "
            + "the cap; occ = "),
          occ.cast("string"))))
    // census-join form over the (staged) prefix frame; the incremental
    // path adds the BASE prefix occurrences to the census (batch ∪ base,
    // the x62b hot-band convention). A window-riding census (count over
    // partitionBy(tok)) was tried and measured SLOWER at 100× (+33% vs
    // this form's +28% over ungated): the window buffers every token
    // group and its exchange did not amortize the self-join's.
    // the raise must fire only for tokens the GATED prefix actually
    // contributes: in the incremental path the census also counts the
    // BASE prefix (occExtra), and a base-only token over the cap — an
    // index built under a looser or disabled cap — builds no new
    // candidate bucket here, so raising on it would misattribute the
    // failure to an innocent batch. The _ap_occ_b flag marks
    // batch-prefix presence; base-only rows read `true` lazily (CaseWhen
    // short-circuits, so raiseOver never evaluates for them) and then
    // drop in the inner gate join anyway.
    val occSrc = occExtra match {
      case Some(extra) =>
        pref.select(col("tok"), lit(1).as("_ap_occ_b"))
          .unionByName(extra.select(col("tok"), lit(0).as("_ap_occ_b")))
      case None => pref.select(col("tok"), lit(1).as("_ap_occ_b"))
    }
    val gate = occSrc.groupBy(col("tok"))
      .agg(count(lit(1)).as("_ap_occ"), max(col("_ap_occ_b")).as("_ap_b"))
      .select(col("tok"),
        when(col("_ap_b") === 0, lit(true))
          .otherwise(raiseOver(col("_ap_occ"))).as("_ap_gate"))
    pref.join(gate, Seq("tok")).filter(col("_ap_gate")).drop("_ap_gate")
  }

  /** [[apOccGate]] fed a PRE-COUNTED base census (tok, _ap_occ) instead
    * of the base prefix rows — the `censusInIndex` ingest form: the
    * batch census joins token-sized counts, never re-scanning the staged
    * base prefixes. Gate semantics are identical: total occ = batch +
    * base occurrences; only batch-present tokens are gated (base-only
    * tokens never enter the batch census), so the misattribution
    * contract holds by construction. */
  private[ext] def apOccGateCounted(pref: DataFrame, maxTokenOcc: Long,
                                    baseOcc: DataFrame): DataFrame = {
    if (maxTokenOcc >= Long.MaxValue / 2) return pref
    def raiseOver(occ: Column): Column =
      when(occ <= maxTokenOcc, lit(true))
        .otherwise(raise_error(concat(
          lit("allPairsJoin: a prefix token appears in more than "
            + s"maxTokenOcc=$maxTokenOcc documents — its candidate "
            + "bucket is occ² rows; use longer/rarer shingles or raise "
            + "the cap; occ = "),
          occ.cast("string"))))
    val gate = pref.groupBy(col("tok")).agg(count(lit(1)).as("_ap_bc"))
      .join(baseOcc.select(col("tok"), col("_ap_occ").as("_ap_oc")),
        Seq("tok"), "left")
      .select(col("tok"),
        raiseOver(col("_ap_bc") + coalesce(col("_ap_oc"), lit(0L)))
          .as("_ap_gate"))
    pref.join(gate, Seq("tok")).filter(col("_ap_gate")).drop("_ap_gate")
  }

  /** (id as a_id, tok) element stream behind the all-pairs family. */
  private[ext] def apTokens(df: DataFrame, idCol: String, setCol: String): DataFrame =
    df.select(col(idCol).as("a_id"),
      explode(array_distinct(col(setCol))).as("tok"))

  /** Per-document prefixes of [[allPairsJoin]] under the global order
    * (count, tok) given by `cnt` — an element ABSENT from cnt reads
    * count 0 (rarest), which is how a frozen base-corpus order stays a
    * valid total order for never-seen batch elements. Returns
    * (a_id, tok, _ap_n). */
  private[ext] def apPrefix(tk: DataFrame, cnt: DataFrame,
                       tNum: Int, tDen: Int): DataFrame = {
    val sz = tk.groupBy(col("a_id")).agg(count(lit(1)).as("_ap_n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id"))
      .orderBy(col("_ap_c"), col("tok"))
    tk.join(cnt, Seq("tok"), "left")
      .withColumn("_ap_c", coalesce(col("_ap_c"), lit(0L)))
      .join(sz, "a_id")
      .withColumn("_ap_p", row_number().over(w))
      .filter(col("_ap_p") <=
        expr(s"_ap_n - ((${tNum}L * _ap_n + ${tDen - 1}L) div ${tDen}L) + 1L"))
      .select(col("a_id"), col("tok"), col("_ap_n"), col("_ap_p"))
  }

  /** The Jaccard size bound over a candidate frame carrying (_ap_n,
    * _ap_nb): J ≤ min/max, so tDen·min ≥ tNum·max or the pair prunes. */
  private[ext] def apSizeBound(tNum: Int, tDen: Int)(cand: DataFrame): DataFrame =
    cand.filter(lit(tDen) * least(col("_ap_n"), col("_ap_nb")) >=
      lit(tNum) * greatest(col("_ap_n"), col("_ap_nb")))

  /** The PPJoin POSITIONAL bound over a candidate frame carrying both
    * ranks (_ap_p/_ap_pb) and sizes: J ≥ t forces overlap
    * o ≥ ⌈tNum(n_a+n_b)/(tNum+tDen)⌉, and on the FIRST shared element
    * (positions p_a, p_b in the global order) o ≤ 1 + min(n_a − p_a,
    * n_b − p_b). That first-shared-element row is always present in the
    * candidate join, so filtering rows whose bound cannot reach the
    * requirement keeps completeness while cutting the pre-distinct
    * volume (Xiao et al. WWW 2008; measured 1.5M → 667k candidates on
    * the sf0.1 bigram corpus when this landed). */
  private[ext] def apPositionalBound(tNum: Int, tDen: Int)(cand: DataFrame): DataFrame =
    cand.filter(expr("1L + least(_ap_n - _ap_p, _ap_nb - _ap_pb)") >=
      expr(s"((${tNum}L * (_ap_n + _ap_nb) + ${tNum + tDen - 1}L)" +
        s" div ${tNum + tDen}L)"))

  /** Sorted distinct element arrays per id: (_ap_id, toks). */
  private def apSets(tk: DataFrame): DataFrame =
    tk.groupBy(col("a_id"))
      .agg(sort_array(collect_list(col("tok"))).as("toks"))
      .withColumnRenamed("a_id", "_ap_id")

  /** Candidate-driven exact verify of the all-pairs family: sets join
    * back BY ID, the threshold test is (tNum+tDen)·i ≥ tNum·(n_a+n_b). */
  private def apVerify(cand: DataFrame, sets: DataFrame,
                       tNum: Int, tDen: Int): DataFrame =
    cand
      .join(sets.select(col("_ap_id").as("a_id"), col("toks").as("_ap_ta")),
        "a_id")
      .join(sets.select(col("_ap_id").as("b_id"), col("toks").as("_ap_tb")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        size(col("_ap_ta")).cast("long").as("n_a"),
        size(col("_ap_tb")).cast("long").as("n_b"),
        size(array_intersect(col("_ap_ta"), col("_ap_tb"))).cast("long")
          .as("n_inter"))
      .filter(lit((tNum + tDen).toLong) * col("n_inter") >=
        lit(tNum.toLong) * (col("n_a") + col("n_b")))

  /** Staged prefix INDEX of a base corpus for [[allPairsJoinIncremental]]:
    * the base's prefixes, element sets, and — the piece that makes the
    * index reusable — its element-frequency table, FROZEN as the global
    * prefix order. Each table stages to parquet (unique temp dirs,
    * JVM-exit cleanup, the stageSignatures contract), so later batches
    * never rescan the base corpus. */
  def allPairsIndex(base: DataFrame, idCol: String, setCol: String,
                    tNum: Int, tDen: Int,
                    censusInIndex: Boolean = true): AllPairsIndex = {
    require(tNum >= 1 && tDen >= 1 && tNum <= tDen,
      s"threshold is a fraction in (0, 1]: $tNum/$tDen")
    val spark = base.sparkSession
    // stage the element stream FIRST: counts, prefixes, and sets all
    // derive from it, and without the stage each would re-run the
    // caller's set projection (often a shingle explode) over the whole
    // base corpus — one text pass instead of three
    val tk = stageAndRead(apTokens(base, idCol, setCol))
    val cnt = tk.groupBy(col("tok")).agg(count(lit(1)).as("_ap_c"))
    val cntS = stageAndRead(cnt)
    // prefix and sets both derive from the ALREADY-STAGED tk + counts —
    // stage them CONCURRENTLY (two driver threads, two Spark jobs)
    // instead of two sequential write+read commit round-trips; both
    // futures settle before any failure rethrows (the Scale.scala
    // compaction-pool discipline, r12 ADVICE)
    val (prefix, sets) = stagePairConcurrently(
      apPrefix(tk, cntS, tNum, tDen), apSets(tk))
    // narrow census: one agg over the ALREADY-STAGED prefixes + a
    // token-sized stage write, paid once at indexing time
    val occ = if (censusInIndex)
      Some(stageAndRead(
        prefix.groupBy(col("tok")).agg(count(lit(1)).as("_ap_occ"))))
    else None
    AllPairsIndex(prefix, sets, cntS, occ)
  }

  /** Stage two independent tables on two driver threads (Spark schedules
    * the jobs concurrently); both settle before the first failure
    * rethrows, so no staging thread outlives the call. */
  private def stagePairConcurrently(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // stageAndRead inside the future: the read-back frame carries the
    // writer's known schema, so no footer-inference job ever runs
    val fs = Seq(Future(stageAndRead(a)), Future(stageAndRead(b)))
    val settled = fs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    settled.collectFirst { case scala.util.Failure(e) => throw e }
    (settled(0).get, settled(1).get)
  }

  /** APPEND a processed batch into an [[AllPairsIndex]]: the batch's
    * prefixes and element sets — computed under the index's FROZEN
    * frequency order, exactly as [[allPairsJoinIncremental]] sees them —
    * join the staged base tables, so the NEXT batch's incremental join
    * also pairs against this one. Counts stay frozen (the order must
    * never change under already-indexed prefixes); rebuild the index on
    * the usual compaction cadence when drift erodes selectivity. The
    * ingest invariant (spec-pinned): joining batches b₁, b₂, … each
    * against the index-so-far and unioning the outputs yields EXACTLY
    * the one-shot [[allPairsJoin]] restricted to batch-touching pairs —
    * each pair materializes once (a cross-batch pair only in the later
    * batch's run). Same disjoint-ids contract as the join. */
  def allPairsIndexAppend(index: AllPairsIndex, batch: DataFrame,
                          idCol: String, setCol: String,
                          tNum: Int, tDen: Int): AllPairsIndex = {
    require(tNum >= 1 && tDen >= 1 && tNum <= tDen,
      s"threshold is a fraction in (0, 1]: $tNum/$tDen")
    val spark = batch.sparkSession
    val tk = apTokens(batch, idCol, setCol)
    // stage ONLY the batch's tables and union them onto the existing
    // staged parts — the file-append shape: the base is never rewritten,
    // so appending batch t costs O(|batch t|) whatever the index holds
    // the two independent batch tables stage concurrently (see
    // allPairsIndex)
    val (bPrefix, bSets) = stagePairConcurrently(
      apPrefix(tk, index.counts, tNum, tDen), apSets(tk))
    // census form: merge the batch's token counts into the staged narrow
    // census (token-sized stage write — delta-vocabulary cost, not
    // corpus cost)
    val occ = index.occ.map { o =>
      stageAndRead(
        o.select(col("tok"), col("_ap_occ"))
          .unionByName(bPrefix.groupBy(col("tok"))
            .agg(count(lit(1)).as("_ap_occ")))
          .groupBy(col("tok")).agg(sum(col("_ap_occ")).as("_ap_occ")))
    }
    AllPairsIndex(
      index.prefix.unionByName(bPrefix),
      index.sets.unionByName(bSets),
      index.counts, occ)
  }

  /** INCREMENTAL [[allPairsJoin]]: every pair at Jaccard ≥ tNum/tDen
    * TOUCHING a new batch — batch×base plus batch×batch — against a
    * staged [[allPairsIndex]], with the base corpus never rescanned
    * (the x26 continuous-ingest move applied to the exact join).
    *
    * Correctness under the frozen order: the prefix-filter lemma needs
    * only SOME total order applied consistently to both sides of a pair
    * — the base's (frequency, element) order extends to never-seen
    * batch elements as (0, element), still total, so no qualifying pair
    * is missed even as true frequencies drift. Drift costs only
    * candidate selectivity (rebuild the index on the usual compaction
    * cadence), never recall — and the exact verify makes the OUTPUT
    * identical to a full [[allPairsJoin]] restricted to batch-touching
    * pairs, which is what the x86b oracle checks.
    *
    * Batch ids must be disjoint from base ids (pairs normalize to
    * a_id < b_id across the union). Returns (a_id, b_id, n_a, n_b,
    * n_inter). */
  def allPairsJoinIncremental(batch: DataFrame, index: AllPairsIndex,
                              idCol: String, setCol: String,
                              tNum: Int, tDen: Int,
                              maxTokenOcc: Long = 1L << 20): DataFrame = {
    require(tNum >= 1 && tDen >= 1 && tNum <= tDen,
      s"threshold is a fraction in (0, 1]: $tNum/$tDen")
    require(maxTokenOcc >= 1, s"maxTokenOcc must be >= 1: $maxTokenOcc")
    val tk = apTokens(batch, idCol, setCol)
    // LOUD disjointness contract: a batch id already present in the base
    // would double its set rows in the verify join and emit phantom
    // self-pairs — fail here instead (one tiny ids-only semi-join)
    val clash = batch.select(col(idCol).as("_ap_id")).distinct()
      .join(index.sets.select(col("_ap_id")), "_ap_id")
      .limit(1).count()
    require(clash == 0L,
      "allPairsJoinIncremental requires batch ids disjoint from the " +
        "base index — re-submit changed docs via a fresh index instead")
    // occ-cap census over batch ∪ base prefixes (the x62b hot-band
    // stage-∪-batch convention): candidates only form through batch
    // prefix rows, so gating bpref alone closes BOTH the batch×batch
    // and batch×base buckets; the base side is a narrow staged scan.
    // The batch prefix stages first — it feeds the census and three
    // join sides (see allPairsJoin's staging note)
    val bpref0 = apPrefix(tk, index.counts, tNum, tDen)
    val bprefS =
      if (maxTokenOcc >= Long.MaxValue / 2) bpref0
      else stageAndRead(bpref0)
    val bpref = index.occ match {
      case Some(o) => apOccGateCounted(bprefS, maxTokenOcc, o)
      case None => apOccGate(bprefS, maxTokenOcc, occExtra = Some(index.prefix))
    }
    // batch × batch, id-ordered inside the batch
    val candNN = bpref
      .join(bpref.select(col("a_id").as("b_id"), col("tok"),
        col("_ap_n").as("_ap_nb"), col("_ap_p").as("_ap_pb")), "tok")
      .filter(col("a_id") < col("b_id"))
      .transform(apSizeBound(tNum, tDen))
      .transform(apPositionalBound(tNum, tDen))
      .select(col("a_id"), col("b_id"))
    // batch × base, normalized to a_id < b_id across the id union
    val candNO = bpref
      .join(index.prefix.select(col("a_id").as("_ap_oid"), col("tok"),
        col("_ap_n").as("_ap_nb"), col("_ap_p").as("_ap_pb")), "tok")
      .transform(apSizeBound(tNum, tDen))
      .transform(apPositionalBound(tNum, tDen))
      .select(least(col("a_id"), col("_ap_oid")).as("a_id"),
        greatest(col("a_id"), col("_ap_oid")).as("b_id"))
    val cand = candNN.unionByName(candNO).distinct()
    apVerify(cand, apSets(tk).unionByName(index.sets), tNum, tDen)
  }

  /** Word n-gram sets (distinct) for n-gram Jaccard: tokens joined with a
    * single space per n-window. Pure projection. */
  def wordNgrams(text: Column, n: Int): Column = wordNgrams(text, n, distinct = true)

  /** [[wordNgrams]] with per-doc multiplicity control: `distinct = false`
    * keeps every occurrence — the form corpus-diversity metrics
    * (distinct-n) need, where within-doc repetition is exactly the
    * signal being measured. */
  def wordNgrams(text: Column, n: Int, distinct: Boolean): Column = {
    val toks = split(TextStats.wsTrim(text), "\\s+")
    // n-grams as a zip of n shifted slices, NOT an index lambda: inside a
    // transform() lambda every toks reference re-evaluates the split per
    // output element (HOFs are interpreted — no codegen, no subexpression
    // reuse), which re-ran the regex thousands of times per row. Here
    // toks is referenced only OUTSIDE the lambda (slices + size); the
    // lambda touches just its struct argument. Short docs (< n tokens)
    // keep the old semantics: slices beyond the end zip as nulls and
    // concat_ws skips them, yielding the same truncated gram.
    val zipped = arrays_zip((0 until n).map(o =>
      slice(toks, lit(o + 1), greatest(size(toks) - (n - 1), lit(1)))): _*)
    val grams = transform(zipped, s =>
      concat_ws(" ", (0 until n).map(o => s.getField(o.toString)): _*))
    if (distinct) array_distinct(grams) else grams
  }
}
