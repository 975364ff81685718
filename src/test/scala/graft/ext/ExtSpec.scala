package graft.ext

import graft.SparkSpec
import graft.ops.Stage
import org.apache.spark.sql.functions._

class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different words entirely here now today")
  ).toDF("doc_id", "text")

  // ───────── Dedup ─────────

  test("exactDedup groups identical texts, keeps smallest id") {
    val out = Dedup.exactDedup(docs, "text", "doc_id")
    assert(out.count() == 3)
    val dup = out.filter(col("n_dups") === 2).select("keep_id").as[Long].head()
    assert(dup == 1L)
  }

  test("minhash: identical docs get identical signatures, near-dups share most") {
    val sig = Dedup.minhashSignature(docs, "text", 8)
    val rows = sig.select((col("doc_id") +: (1 to 8).map(i => col(s"h$i"))): _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    assert(rows(1L) == rows(2L))
    val nearShared = rows(1L).zip(rows(3L)).count { case (a, b) => a == b }
    val farShared = rows(1L).zip(rows(4L)).count { case (a, b) => a == b }
    assert(nearShared > farShared)
    assert(nearShared >= 4) // ~89% shingle overlap => most minhashes agree
  }

  test("lshCandidatePairs surfaces dup/near-dup pairs, not unrelated docs") {
    val sig = Dedup.minhashSignature(docs, "text", 8)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", 8, 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("lshCandidatePairs over a Stage: same pairs, ONE signature pass (plan-checked)") {
    val sig = Dedup.minhashSignature(docs, "text", 8)
    val staged = Dedup.lshCandidatePairs(Stage(sig), "doc_id", 8, 2)
    val unstaged = Dedup.lshCandidatePairs(sig, "doc_id", 8, 2)
    assert(staged.as[(Long, Long)].collect().toSet ==
      unstaged.as[(Long, Long)].collect().toSet)
    // the staged plan reads the materialized parquet; the signature
    // expression must NOT appear (it would mean a recompute of the text pass)
    val plan = staged.queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet"), plan)
    assert(!plan.toLowerCase.contains("minhash"), s"signature recomputed: $plan")
  }

  test("bpeTrain: three hand-checked rounds — merged tokens feed later pairs") {
    val S = "\u0001"
    val corpus = Seq("a b a b c", "a b c d").toDF("text")
    val merges = TextStats.bpeTrain(corpus, "text", 3)
      .map(m => (m.merge_rank, m.a, m.b, m.n))
    // r1: (a,b) x3; r2: corpus is "a·b a·b c" / "a·b c d" -> (a·b,c) x2;
    // r3: all pairs count 1, tie-break (a asc, b asc) picks (a·b, a·b·c)
    assert(merges == Seq(
      (1, "a", "b", 3L),
      (2, s"a${S}b", "c", 2L),
      (3, s"a${S}b", s"a${S}b${S}c", 1L)), merges.toString)
  }

  test("clusterKeepers picks the best-quality member, not the min id") {
    // clusters {1,2,3} and {10,11}: the best score sits on the HIGHEST
    // id in the first cluster — the policy must diverge from x17's
    // min-id label there, and break the second cluster's score tie to
    // the lower id
    val labels = Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id"))
    val scores = Seq((1L, 5L), (2L, 7L), (3L, 9L), (10L, 4L), (11L, 4L))
      .toDF("doc_id", "q")
    val got = Dedup.clusterKeepers(labels, scores, "doc_id", "q")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 9L), (10L, 10L, 4L)), got.toString)
  }

  test("clusterKeepers joins unambiguously: idCol == \"id\" and stray id columns both work") {
    // the bare col(\"id\") === col(idCol) form mis-resolved when the
    // scores frame ITSELF used \"id\" (a trivially-true self-compare) or
    // smuggled an unrelated \"id\" column — both shapes must now pick the
    // same keepers as the clean frame
    val labels = Dedup.dupClusters(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id"))
    val want = Set((1L, 3L, 9L), (10L, 10L, 4L))
    // scores keyed by a column literally named "id"
    val sameName = Seq((1L, 5L), (2L, 7L), (3L, 9L), (10L, 4L), (11L, 4L))
      .toDF("id", "q")
    assert(Dedup.clusterKeepers(labels, sameName, "id", "q")
      .as[(Long, Long, Long)].collect().toSet == want)
    // scores carrying an UNRELATED "id" column (decoy values would pick
    // the wrong keepers if the join resolved against it)
    val stray = Seq((1L, 5L, 99L), (2L, 7L, 99L), (3L, 9L, 99L),
      (10L, 4L, 99L), (11L, 4L, 99L)).toDF("doc_id", "q", "id")
    assert(Dedup.clusterKeepers(labels, stray, "doc_id", "q")
      .as[(Long, Long, Long)].collect().toSet == want)
    // labels must be the exact dupClusters shape
    assert(intercept[IllegalArgumentException] {
      Dedup.clusterKeepers(sameName.withColumnRenamed("q", "cluster_id")
        .withColumn("extra", lit(1)), sameName, "id", "q")
    }.getMessage.contains("dupClusters"))
  }

  test("cdcChunks rejects an id column named like an output") {
    assert(intercept[IllegalArgumentException] {
      Dedup.cdcChunks(Seq((1L, "a b c d e")).toDF("chunk_id", "text"),
        "text", "chunk_id", 4, 16)
    }.getMessage.contains("rename the id column"))
  }

  test("keywordTags: synonym groups collapse, case-insensitive, unmatched docs tag empty") {
    val kws = Seq(("Join", "exec"), ("merge", "exec"), ("stream", "runtime"),
      ("ghost", "absent")).toDF("kw", "tag")
    val d = Seq(
      (1L, "JOIN then merge then join"),   // both kws -> ONE exec tag
      (2L, "stream of Merge results"),     // runtime + exec, sorted
      (3L, "nothing relevant here"),
      (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextStats.keywordTags(d, "text", "doc_id", kws)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "exec", 1L),
      (2L, "exec|runtime", 2L),
      (3L, "", 0L), (4L, "", 0L), (5L, "", 0L)), got.mkString(", "))
    // dictionary shape + reserved-name guards
    assert(intercept[IllegalArgumentException] {
      TextStats.keywordTags(d, "text", "doc_id", kws.withColumnRenamed("kw", "k"))
    }.getMessage.contains("(kw, tag)"))
    assert(intercept[IllegalArgumentException] {
      TextStats.keywordTags(Seq((1L, "x")).toDF("tags", "text"),
        "text", "tags", kws)
    }.getMessage.contains("rename the id column"))
  }

  test("kMeansParallelSeed spreads seeds by distance mass where first-k collapses") {
    // three tight clusters with ids ordered so the FIRST k ids all sit
    // in cluster A — the first-k convention's failure mode. k-means||'s
    // d²-weighted oversample must seed across clusters: its k-means cost
    // (Σ min quantized d²) must beat the first-k seed's on this fixture.
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val raw: Seq[(Long, Seq[Float])] =
      (1L to 8L).map(i => i -> v(0.0 + i * 0.001, 0.0)) ++
      (9L to 16L).map(i => i -> v(10.0 + i * 0.001, 10.0)) ++
      (17L to 24L).map(i => i -> v(-10.0 + i * 0.001, 5.0))
    val pts = raw.toDF("vec_id", "embedding")
    val seed = Similarity.kMeansParallelSeed(pts, "vec_id", "embedding",
      3, 4, 3)
    val rows = seed.select(col("cid"), col("cand_id"), col("weight"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 3, rows.mkString(","))
    val ids = rows.map(_._2).toSet
    assert(ids.subsetOf(raw.map(_._1).toSet), ids.toString)
    // cid order is (weight desc, id asc)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-_).toSeq)
    // cost comparison against the first-k seed, replayed driver-side
    // with the exact Q30 distance
    def q30(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) =>
        val d = x.toDouble - y.toDouble
        math.floor(d * d * (1L << 30).toDouble).toLong
      }.sum
    val byId = raw.toMap
    def cost(centIds: Set[Long]): BigInt = {
      val cents = centIds.toSeq.map(byId)
      raw.map { case (_, p) => BigInt(cents.map(c => q30(p, c)).min) }.sum
    }
    assert(cost(ids) < cost(Set(1L, 2L, 3L)),
      s"parallel-seed cost ${cost(ids)} must beat first-k ${cost(Set(1L, 2L, 3L))}")
    // deterministic under repartitioning and row order
    val seed2 = Similarity.kMeansParallelSeed(
      pts.orderBy(col("vec_id").desc).repartition(7),
      "vec_id", "embedding", 3, 4, 3)
    assert(seed2.select(col("cid"), col("cand_id"), col("weight"))
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq == rows.toSeq)
    // the seed table feeds the Lloyd trainer unchanged (spherical
    // assignment is by DOT product, so a cell may legitimately empty out
    // and drop — standard Lloyd; shape compatibility is the claim here)
    val trained = Similarity.kMeansTrain(pts,
      seed.select(col("cid"), col("cvec")), "vec_id", "embedding", 1)
    assert(trained.count() >= 1 && trained.count() <= 3)
  }

  test("log2q8: column and driver implementations agree; exact at powers of two") {
    val xs = (1L to 1024L) ++ Seq(12345L, 999999L, 1L << 40, (1L << 55) - 1)
    val got = xs.toDF("x").select(col("x"), Unigram.log2q8(col("x")).as("l"))
      .as[(Long, Long)].collect().toMap
    xs.foreach { x =>
      assert(got(x) == Unigram.log2q8Long(x), s"x=$x")
      // never above the true log, never more than ~8 ulps of truncation under
      val ideal = math.floor(math.log(x.toDouble) / math.log(2.0) * 256).toLong
      assert(got(x) <= ideal && got(x) >= ideal - 8, s"x=$x got=${got(x)} ideal=$ideal")
    }
    (0 to 54).foreach(e =>
      assert(Unigram.log2q8Long(1L << e) == e.toLong * 256, s"2^$e"))
  }

  test("unigram viterbi: max-score path, ties to the smallest split (longest last piece)") {
    // equal-count pieces make [ab|c] and [a|bc] score-tie on "abc": the
    // dp's (s desc, j asc) rule must pick j=1 — the LONGEST final piece
    val s = Map("a" -> -100L, "b" -> -100L, "c" -> -100L,
      "ab" -> -100L, "bc" -> -100L)
    val w = Seq("abc", "abab").toDF("word")
    val got = w
      .withColumn("dp", Unigram.viterbiDp(col("word"), s, 2))
      .select(col("word"), Unigram.viterbiPieces(col("word"), col("dp")).as("ps"))
      .as[(String, Seq[String])].collect().toMap
    assert(got("abc") == Seq("a", "bc"), got("abc"))
    // fewer pieces always win under equal negative scores
    assert(got("abab") == Seq("ab", "ab"), got("abab"))
  }

  test("unigramTrain: hand-computed EM fixture — counts, char floor, prune, scores") {
    // corpus: "abab" ×2, "abc" ×1. Seed counts: a=5 b=5 ab=5 ba=2 c=1
    // bc=1 (total 19). Round-1 Viterbi: abab→[ab,ab] (fewer pieces);
    // abc→[a,bc] (score tie, smallest-j rule). Counts: ab=4 a=1 bc=1;
    // char floor b=1 c=1 (total 8). Round-2 scores make [ab,c] win on
    // abc → final counts ab=5 c=1, floors a=1 b=1. Prune vocabSize=4 =
    // 3 chars + top-1 multi (ab).
    val docs = Seq((1L, "abab abc"), (2L, "abab")).toDF("doc_id", "text")
    val got = Unigram.unigramTrain(docs, "text", maxPieceLen = 2,
        maxWordLen = 8, nSeed = 10, emRounds = 2, vocabSize = 4)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    def sc(n: Long) = Unigram.log2q8Long(n) - Unigram.log2q8Long(8L)
    assert(got == Seq(("a", 1L, sc(1)), ("ab", 5L, sc(5)),
      ("b", 1L, sc(1)), ("c", 1L, sc(1))), got.toString)
    // required chars can never be pruned away
    assert(intercept[IllegalArgumentException] {
      Unigram.unigramTrain(docs, "text", 2, 8, 10, 1, 2)
    }.getMessage.contains("required single"))
  }

  test("unigram segment: lossless coverage, truncation contract, reserved names") {
    val docs = Seq((1L, "abab abc xyz"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // vocab covering only a/b/c/ab: xyz's chars must still segment —
    // build scores over the full char inventory like the trainer would
    val s = Map("a" -> -100L, "b" -> -120L, "c" -> -150L, "ab" -> -130L,
      "x" -> -700L, "y" -> -700L, "z" -> -700L)
    val got = Unigram.segment(docs, "text", "doc_id", s, 2, 8)
      .as[(Long, Seq[String])].collect()
    got.foreach { case (_, ps) => assert(ps.nonEmpty) }
    // every word reassembles from its pieces
    val words = got.map(_._2.mkString)
    assert(words.toSet == Set("abab", "abc", "xyz"), words.mkString(","))
    // truncation: maxWordLen=2 cuts "abab" to "ab" before segmenting
    val t = Unigram.segment(docs.filter(col("doc_id") === 1), "text",
        "doc_id", s, 2, 2)
      .as[(Long, Seq[String])].collect().map(_._2.mkString).toSet
    assert(t == Set("ab", "xy"), t.toString)
    assert(intercept[IllegalArgumentException] {
      Unigram.segment(docs.withColumnRenamed("doc_id", "pieces"), "text",
        "pieces", s, 2, 8)
    }.getMessage.contains("rename the id column"))
  }

  test("unigram scoreDocs: hand-computed bits/pieces, oov isolation, floor-div, absent blanks") {
    // vocab: p(a)=p(b)=1/4 (−512 Q8), p(ab)=1/2 (−256). "ab" segments
    // [ab] (−256 beats [a,b] = −1024); "a" scores −512; "az" has no
    // covering segmentation (z is outside the inventory) → oov
    val s = Map("a" -> -512L, "b" -> -512L, "ab" -> -256L)
    val docs = Seq((1L, "ab a"), (2L, "ab az"), (3L, "   "),
      (4L, null.asInstanceOf[String]), (5L, "ab ab a")).toDF("doc_id", "text")
    val got = Unigram.scoreDocs(docs, "text", "doc_id", s, 2, 8)
      .select(col("doc_id"), col("n_words"), col("n_oov"), col("n_pieces"),
        col("bits_q8"), col("bpp_q8"))
      .as[(Long, Long, Long, Long, Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 0L, 2L, 768L, Some(384L)),   // ab(−256,1pc) + a(−512,1pc)
      (2L, 1L, 1L, 1L, 256L, Some(256L)),   // az excluded from everything but n_oov
      (5L, 3L, 0L, 3L, 1024L, Some(341L))), // 1024 div 3 floors to 341
      got.toString)
    // docs with no words at all are absent, not zero rows
    assert(!got.exists(r => r._1 == 3L || r._1 == 4L))
    // a doc that is ALL oov keeps n_words=0 and a null bpp
    val allOov = Unigram.scoreDocs(Seq((9L, "zz")).toDF("doc_id", "text"),
        "text", "doc_id", s, 2, 8)
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect().head
    assert(allOov == ((9L, 0L, 1L, 0L, 0L, None)), allOov.toString)
    assert(intercept[IllegalArgumentException] {
      Unigram.scoreDocs(docs.withColumnRenamed("doc_id", "bits_q8"),
        "text", "bits_q8", s, 2, 8)
    }.getMessage.contains("rename the id column"))
  }

  test("scoreDocsJoin: bit-parity with the literal scorer on fixture and corpus; vocab contract") {
    // the data-driven segmenter's whole contract: identical outputs with
    // the vocabulary as a DataFrame instead of a plan literal — including
    // the all-oov word, whose every substring misses the edge join
    val s = Map("a" -> -512L, "b" -> -512L, "ab" -> -256L)
    val docs = Seq((1L, "ab a"), (2L, "ab az"), (5L, "ab ab a"), (9L, "zz"))
      .toDF("doc_id", "text")
    val vocab = s.toSeq.toDF("piece", "score_q8")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("n_words"), col("n_oov"), col("n_pieces"),
        col("bits_q8"), col("bpp_q8"))
        .as[(Long, Long, Long, Long, Long, Option[Long])].collect().toSet
    assert(rows(Unigram.scoreDocsJoin(docs, "text", "doc_id", vocab, 2, 8))
      == rows(Unigram.scoreDocs(docs, "text", "doc_id", s, 2, 8)))
    // and on the parquet corpus under the actually-trained vocabulary
    val pdocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val trained = Unigram.unigramTrain(pdocs, "text", maxPieceLen = 4,
      maxWordLen = 16, nSeed = 40, emRounds = 2, vocabSize = 40)
    val tmap = trained.select(col("piece"), col("score_q8"))
      .as[(String, Long)].collect().toMap
    assert(rows(Unigram.scoreDocsJoin(pdocs, "text", "doc_id",
        trained.select(col("piece"), col("score_q8")), 4, 16))
      == rows(Unigram.scoreDocs(pdocs, "text", "doc_id", tmap, 4, 16)))
    assert(intercept[IllegalArgumentException] {
      Unigram.scoreDocsJoin(docs, "text", "doc_id",
        vocab.withColumnRenamed("piece", "p"), 2, 8)
    }.getMessage.contains("piece, score_q8"))
  }

  test("unigramTrainJoin: bit-parity with the literal trainer on fixture and corpus") {
    // the data-driven trainer's whole contract: same seed tie rule, same
    // Viterbi dp, same floors and prune — identical output with every
    // stage a DataFrame (no literal ceiling, no driver count collect)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("piece"), col("n"), col("score_q8"))
        .as[(String, Long, Long)].collect().toSet
    val docs = Seq((1L, "abab abc"), (2L, "abab")).toDF("doc_id", "text")
    assert(rows(Unigram.unigramTrainJoin(docs, "text", 2, 8, 10, 2, 4))
      == rows(Unigram.unigramTrain(docs, "text", 2, 8, 10, 2, 4)))
    val pdocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    assert(rows(Unigram.unigramTrainJoin(pdocs, "text", 4, 16, 40, 2, 40))
      == rows(Unigram.unigramTrain(pdocs, "text", 4, 16, 40, 2, 40)))
    // the coverage check still fires loudly
    assert(intercept[IllegalArgumentException] {
      Unigram.unigramTrainJoin(docs, "text", 2, 8, 10, 1, 2)
    }.getMessage.contains("required single"))
  }

  test("appendIvfPqPartitioned: frozen-quantizer appends reach the one-shot state; compaction shrinks") {
    // the FAISS add path: centroids + residual codebook train on the
    // resident base and FREEZE; appended batches encode under them, so
    // base+appends must equal a one-shot write of the union bit for bit
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val base = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 > 1)
    val cb = Similarity.ivfPqCodebook(
      Similarity.ivfResiduals(base, cents, "vec_id", "embedding"),
      "vec_id", 4, 16, 64)
    def enc(b: org.apache.spark.sql.DataFrame) =
      Similarity.pqEncodeResiduals(
          Similarity.ivfResiduals(b, cents, "vec_id", "embedding"), "resid", cb)
        .select(col("vec_id").as("n_id"), col("cid"), col("codes"))
    val oneDir = java.nio.file.Files.createTempDirectory("ivfpq_oneshot").toString
    Similarity.writeIvfPqPartitioned(enc(emb), oneDir)
    val appDir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    Similarity.writeIvfPqPartitioned(enc(base), appDir)
    Similarity.appendIvfPqPartitioned(
      enc(emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0)), appDir)
    Similarity.appendIvfPqPartitioned(
      enc(emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 1)), appDir)
    // identical layout CONTENT (cells, ids, codes) before any compaction
    def state(p: String) = spark.read.parquet(p)
      .select(col("n_id"), col("cid"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(state(appDir) == state(oneDir))
    // files accreted per touched cell; the generic maintenance pass
    // (compactIvfCells — the codes layout is cid-partitioned parquet
    // exactly like the vector layout) rewrites hot cells to one file
    def cellFiles(cid: Int) = new java.io.File(s"$appDir/cid=$cid").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val hot = (0 until 16).filter(c =>
      new java.io.File(s"$appDir/cid=$c").isDirectory && cellFiles(c) > 1)
    assert(hot.nonEmpty, "fixture must accrete multi-file cells")
    val report = Similarity.compactIvfCells(spark, appDir, 1L << 20)
    assert(report.map(_._1).toSet == hot.toSet, s"$report vs hot=$hot")
    hot.foreach(c => assert(cellFiles(c) == 1))
    assert(state(appDir) == state(oneDir)) // compaction invisible to content
    // and the probe over the appended+compacted layout answers exactly
    // like the one-shot layout
    val qs = emb.filter(col("vec_id") < 4)
    def full(p: String) =
      Similarity.ivfPqTopKPartitioned(p, cents, qs, "vec_id", "embedding",
          cb, 5, 2)
        .select(col("q_id").cast("long"), col("n_id").cast("long"),
          col("score"), col("rank").cast("long"))
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(full(appDir) == full(oneDir))
  }

  test("kMeansParallelSeedJoin: bit-parity with the literal path") {
    // the data-driven form's whole contract: same draws, distances,
    // weights, and top-k cut as the literal path — compare FULL rows,
    // vectors included, on the literal test's adversarial fixture and on
    // the parquet embeddings at the x35b/x35c catalog params
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val raw: Seq[(Long, Seq[Float])] =
      (1L to 8L).map(i => i -> v(0.0 + i * 0.001, 0.0)) ++
      (9L to 16L).map(i => i -> v(10.0 + i * 0.001, 10.0)) ++
      (17L to 24L).map(i => i -> v(-10.0 + i * 0.001, 5.0))
    val pts = raw.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cid"), col("cand_id"), col("weight"), col("cvec"))
        .as[(Int, Long, Long, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(rows(Similarity.kMeansParallelSeedJoin(pts, "vec_id", "embedding", 3, 4, 3))
      == rows(Similarity.kMeansParallelSeed(pts, "vec_id", "embedding", 3, 4, 3)))
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    assert(rows(Similarity.kMeansParallelSeedJoin(emb, "vec_id", "embedding", 8, 8, 2))
      == rows(Similarity.kMeansParallelSeed(emb, "vec_id", "embedding", 8, 8, 2)))
    // the over-sample ceiling still fires loudly on the join path
    assert(intercept[IllegalArgumentException] {
      Similarity.kMeansParallelSeedJoin(pts, "vec_id", "embedding",
        2, 24, 3, maxCandidates = 2)
    }.getMessage.contains("maxCandidates"))
  }

  test("redactCardNumbers: Luhn-valid PANs redact, invalid 16-digit decoys survive") {
    // the operator's point is the checksum: two classic test PANs (Visa
    // 4111..., Mastercard 5500...0004) must redact under either
    // separator style, while Luhn-invalid 16-digit runs pass through
    val docs = Seq(
      (1L, "pay 4111 1111 1111 1111 now"),
      (2L, "order 1234 5678 9012 3456 ref"),
      (3L, "a 4111-1111-1111-1111 b 9999 9999 9999 9999 c"),
      (4L, "5500 0000 0000 0004 visa")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextStats.redactCardNumbers(col("text")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "pay <CARD> now", got(1L))
    assert(got(2L) == "order 1234 5678 9012 3456 ref", got(2L))
    assert(got(3L) == "a <CARD> b 9999 9999 9999 9999 c", got(3L))
    assert(got(4L) == "<CARD> visa", got(4L))
  }

  test("containmentVerify: doc-in-doc scores ~1 where Jaccard decays with the wrap ratio") {
    // b contains a's text verbatim inside 12 tokens of chrome: every one
    // of a's bigrams appears in b, so containment is exactly 1.0 while
    // Jaccard is 3/15 — under any symmetric near-dup threshold
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "x1 x2 x3 x4 x5 x6 alpha beta gamma delta y1 y2 y3 y4 y5 y6"),
      (3L, "totally unrelated words here")).toDF("doc_id", "text")
    val sets = docs.select(col("doc_id"), Dedup.wordNgrams(col("text"), 2).as("gs"))
    val cands = Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    val got = Dedup.containmentVerify(cands, sets, "doc_id", "gs")
      .select(col("a_id"), col("b_id"), col("n_common"), col("n_a"),
        col("n_b"), col("containment"), col("jaccard"))
      .as[(Long, Long, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._2)
    assert(got(0) == (1L, 2L, 3L, 3L, 15L, 1.0, 0.2), got(0).toString)
    assert(got(1)._6 == 0.0 && got(1)._7 == 0.0, got(1).toString)
  }

  test("wordNgrams multiplicity overload: distinct=false keeps repeats; short docs truncate identically") {
    // the distinct-n diversity metric (x95) measures within-doc
    // repetition, so its gram stream must keep every occurrence; the
    // default distinct form and the multiplicity form must agree as
    // SETS (same grams, same short-doc truncation)
    val docs = Seq(
      (1L, "a b a b a"),   // bigrams with repeats: a b, b a, a b, b a
      (2L, "solo"),        // 1 token -> one truncated bigram "solo"
      (3L, "x y")).toDF("doc_id", "text")
    val all = docs.select(col("doc_id"),
      Dedup.wordNgrams(col("text"), 2, distinct = false).as("gs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(all(1L) == Seq("a b", "b a", "a b", "b a"), all(1L).toString)
    assert(all(2L) == Seq("solo"), all(2L).toString)
    assert(all(3L) == Seq("x y"), all(3L).toString)
    val dst = docs.select(col("doc_id"),
      Dedup.wordNgrams(col("text"), 2).as("gs"))
      .as[(Long, Seq[String])].collect().toMap
    assert(dst(1L) == Seq("a b", "b a"), dst(1L).toString)
    // set-equality between the two forms on every doc
    all.foreach { case (id, gs) =>
      assert(gs.toSet == dst(id).toSet, s"doc $id: $gs vs ${dst(id)}")
    }
  }

  test("allPairsJoin: exact threshold pairs equal brute force; boundary inclusive") {
    // J(1,2) = J(1,6) = 3/4, J(2,6) = 1, J(1,3) = 1/3 (an exact
    // boundary at t = 1/3 — >= keeps it), J(2,3) = J(3,6) = 2/5,
    // everything involving 4 or 5 is far below
    val sets = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c")),
      (3L, Seq("a", "b", "e", "f")),
      (4L, Seq("a", "x", "y", "z")),
      (5L, Seq("p", "q")),
      (6L, Seq("c", "b", "a", "a"))      // dup of 2 up to order/multiplicity
    ).toDF("id", "s")
    def brute(t: Double): Set[(Long, Long)] = {
      val m = Map(1L -> Set("a", "b", "c", "d"), 2L -> Set("a", "b", "c"),
        3L -> Set("a", "b", "e", "f"), 4L -> Set("a", "x", "y", "z"),
        5L -> Set("p", "q"), 6L -> Set("a", "b", "c"))
      (for {
        a <- m.keys; b <- m.keys if a < b
        j = m(a).intersect(m(b)).size.toDouble / m(a).union(m(b)).size
        if j >= t
      } yield (a, b)).toSet
    }
    def run(num: Int, den: Int): Set[(Long, Long, Long, Long, Long)] =
      Dedup.allPairsJoin(sets, "id", "s", num, den)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val half = run(1, 2)
    assert(half.map(p => (p._1, p._2)) == brute(0.5), half)
    // (1,2): n_a 4, n_b 3, inter 3; (2,6): the exact duplicate
    assert(half.contains((1L, 2L, 4L, 3L, 3L)), half)
    assert(half.contains((2L, 6L, 3L, 3L, 3L)), half)
    // J(1,3) = 2/6 = 1/3: kept at t = 1/3 (boundary inclusive), dropped above
    assert(run(1, 3).map(p => (p._1, p._2)) == brute(1.0 / 3))
    assert(run(1, 3).contains((1L, 3L, 4L, 4L, 2L)))
    // t = 1: exact duplicates only
    assert(run(1, 1).map(p => (p._1, p._2)) == Set((2L, 6L)))
    // brute-force agreement across a threshold sweep (the no-false-
    // negative guarantee is the operator's whole point)
    for ((n, d) <- Seq((1, 4), (2, 5), (3, 5), (7, 10), (9, 10)))
      assert(run(n, d).map(p => (p._1, p._2)) == brute(n.toDouble / d),
        s"threshold $n/$d")
    intercept[IllegalArgumentException](Dedup.allPairsJoin(sets, "id", "s", 3, 2))
    // a set column named like an output is harmless — inputs are
    // projected to internal names first
    val renamed = Dedup.allPairsJoin(
      sets.withColumnRenamed("s", "n_inter"), "id", "n_inter", 1, 1)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(renamed.map(p => (p._1, p._2)) == Set((2L, 6L)))
  }

  test("PPJoin positional bound: TIGHT boundary fixture — pruned pairs provably unreachable, counted") {
    // Adversarial construction at t = 1/2: prefix-SHARING docs with
    // disjoint tails whose first shared element sits exactly at the
    // prefix edge. For n_a = n_b = 6 the overlap requirement is
    // o >= ceil(1·12/3) = 4 and the bound on a share at positions
    // (p_a, p_b) is 1 + min(6−p_a, 6−p_b): position 3 gives EXACTLY 4
    // (must survive), position 4 gives 3 (must prune). Frequency
    // shaping: u/v/w/z/m singletons rank first, the shared pivots
    // (s, r: count 2) next, boosted tails (fa/fb: count 4, ga..gf:
    // count 3) last — so the pivots land at the exact prefix slots.
    val sets = Seq(
      (1L, Seq("ua", "ub", "uc", "s", "fa", "fb")),  // A: s @ prefix pos 4
      (2L, Seq("va", "vb", "vc", "s", "fa", "fb")),  // B: s @ prefix pos 4
      (3L, Seq("wa", "wb", "r", "ga", "gb", "gc")),  // D: r @ pos 3, ga @ 4
      (4L, Seq("za", "zb", "r", "gd", "ge", "gf")),  // E: r @ pos 3, gd @ 4
      (5L, Seq("ha", "hb", "hc", "hd")),             // P: J(P,Q) = 4/5
      (6L, Seq("ha", "hb", "hc", "hd", "he")),       // Q
      (7L, Seq("fa", "fb", "ma", "mb", "mc", "md")), // boosts fa/fb to 4
      (8L, Seq("fa", "fb", "me", "mf", "mg", "mh")),
      (9L, Seq("ga", "gb", "gc", "gd", "ge", "gf")), // boosts g's to 3
      (10L, Seq("ga", "gb", "gc", "gd", "ge", "gf")) // exact dup of 9
    ).toDF("id", "s")
    val m = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L).zip(
      sets.orderBy("id").as[(Long, Seq[String])].collect()
        .map(_._2.toSet)).toMap
    def jacc(a: Long, b: Long): Double =
      m(a).intersect(m(b)).size.toDouble / m(a).union(m(b)).size
    // rebuild the internal chain to COUNT candidates across the bound
    val tk = Dedup.apTokens(sets, "id", "s")
    val cnt = tk.groupBy(col("tok")).agg(count(lit(1)).as("_ap_c"))
    val pref = Dedup.apPrefix(tk, cnt, 1, 2)
    val raw = pref
      .join(pref.select(col("a_id").as("b_id"), col("tok"),
        col("_ap_n").as("_ap_nb"), col("_ap_p").as("_ap_pb")), "tok")
      .filter(col("a_id") < col("b_id"))
      .transform(Dedup.apSizeBound(1, 2))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("a_id").cast("long"), col("b_id").cast("long"))
        .distinct().as[(Long, Long)].collect().toSet
    val before = pairs(raw)
    val after = pairs(raw.transform(Dedup.apPositionalBound(1, 2)))
    // the counted cut: 8 candidate pairs enter, exactly 3 survive
    assert(before == Set((1L, 2L), (3L, 4L), (3L, 9L), (3L, 10L),
      (4L, 9L), (4L, 10L), (5L, 6L), (9L, 10L)), before.toString)
    assert(after == Set((3L, 4L), (5L, 6L), (9L, 10L)), after.toString)
    // every pruned pair is PROVABLY unreachable: its true Jaccard is
    // below threshold, so pruning can never cost an answer
    (before -- after).foreach { case (a, b) =>
      assert(jacc(a, b) < 0.5, s"($a,$b) J=${jacc(a, b)}")
    }
    // the boundary survivor (3,4) sits at exact bound equality and is
    // then (correctly) rejected by the verify, not by the filter
    assert(jacc(3L, 4L) < 0.5)
    // end-to-end: output == brute force (completeness under the filter)
    val out = Dedup.allPairsJoin(sets, "id", "s", 1, 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out.map(p => (p._1, p._2)) ==
      (for { a <- m.keys; b <- m.keys if a < b && jacc(a, b) >= 0.5 }
        yield (a, b)).toSet, out.toString)
    assert(out.map(p => (p._1, p._2)) == Set((5L, 6L), (9L, 10L)))
  }

  test("allPairsJoinIncremental: exactly the batch-touching slice; frozen order handles unseen elements") {
    val sets = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c")),
      (3L, Seq("a", "b", "e", "f")),
      (4L, Seq("a", "x", "y", "z")),
      (5L, Seq("p", "q")),
      (6L, Seq("c", "b", "a")),
      // batch doc with an element the base NEVER saw: "zz" freezes at
      // count 0 (rarest) — it must land in the prefix, and the (2,7)
      // pair (J = 3/4 >= 1/2) must still surface
      (7L, Seq("a", "b", "c", "zz"))
    ).toDF("id", "s")
    val base = sets.filter($"id" <= 4)
    val batch = sets.filter($"id" >= 5)
    val idx = Dedup.allPairsIndex(base, "id", "s", 1, 2)
    val inc = Dedup.allPairsJoinIncremental(batch, idx, "id", "s", 1, 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val full = Dedup.allPairsJoin(sets, "id", "s", 1, 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val touching = full.filter(p => p._1 >= 5 || p._2 >= 5)
    assert(inc == touching, s"inc $inc vs touching slice $touching")
    assert(inc.contains((2L, 7L, 3L, 4L, 3L)),
      "the unseen-element pair must survive the frozen order")
    assert(inc.exists(p => p._1 >= 5 && p._2 >= 5) ||
      !full.exists(p => p._1 >= 5 && p._2 >= 5),
      "batch-internal pairs covered when they exist")
    // base-only pairs never reappear
    assert(inc.forall(p => p._1 >= 5 || p._2 >= 5))
    // a batch id already present in the base fails LOUDLY — it would
    // double its set rows in the verify join and emit phantom pairs
    val e = intercept[IllegalArgumentException](
      Dedup.allPairsJoinIncremental(
        sets.filter($"id" === 2 || $"id" === 7), idx, "id", "s", 1, 2))
    assert(e.getMessage.contains("disjoint"), e.getMessage)
    // MULTI-BATCH ingest: b1 joins the base index and APPENDS; b2 then
    // joins base+b1 — the union must equal the one-shot join's slice
    // touching either batch, each pair exactly once (cross-batch pairs
    // surface only in the later batch's run)
    val b1 = sets.filter($"id" === 5 || $"id" === 6)
    val b2 = sets.filter($"id" === 7)
    val run1 = Dedup.allPairsJoinIncremental(b1, idx, "id", "s", 1, 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val idx1 = Dedup.allPairsIndexAppend(idx, b1, "id", "s", 1, 2)
    val run2 = Dedup.allPairsJoinIncremental(b2, idx1, "id", "s", 1, 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val accumulated = run1 ++ run2
    assert(accumulated.distinct.size == accumulated.size,
      s"no pair may surface twice: $accumulated")
    assert(accumulated.toSet == touching,
      s"ingest union $accumulated vs one-shot slice $touching")
    // the cross-batch pair (6,7) must come from b2's run specifically
    assert(run2.exists(p => p._1 == 6L && p._2 == 7L), run2.toString)
  }

  test("allPairsJoin occ-cap: pathological prefix token raises BEFORE the bucket join; sane cap answers unchanged") {
    // 12 docs share hot token "z" plus a unique filler; at t = 1/2 and
    // |set| = 2 the prefix keeps 2 − ceil(2/2) + 1 = 2 tokens — EVERY
    // token, so "z" sits in 12 prefixes and its bucket would be 12²
    // candidate rows. Docs 13/14 are the genuine duplicate pair the
    // gated run must still answer.
    val docs = ((1L to 12L).map(i => (i, Seq("z", s"u$i"))) ++
      Seq((13L, Seq("aa", "bb")), (14L, Seq("bb", "aa"))))
      .toDF("id", "toks")
    // cap below the hot token's occ: the job fails loudly, naming the knob
    val e = intercept[Exception] {
      Dedup.allPairsJoin(docs, "id", "toks", 1, 2, maxTokenOcc = 8L).count()
    }
    assert(String.valueOf(e.getMessage).contains("maxTokenOcc")
      || Option(e.getCause).exists(c =>
           String.valueOf(c.getMessage).contains("maxTokenOcc")),
      e.toString)
    // cap at/above the occ: bit-identical to the ungated join
    def pairs(cap: Long) =
      Dedup.allPairsJoin(docs, "id", "toks", 1, 2, maxTokenOcc = cap)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val gated = pairs(12L)
    assert(gated == pairs(Long.MaxValue), gated.toString)
    assert(gated.map(p => (p._1, p._2)) == Set((13L, 14L)), gated.toString)
    // the raise sits BEFORE the candidate self-join (the kendall
    // pre-censused discipline): every input side of the tok-keyed
    // prefix self-join must carry the raise gate in-plan
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, RaiseError}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = Dedup.allPairsJoin(docs, "id", "toks", 1, 2)
      .queryExecution.optimizedPlan
    // the candidate self-join is the one whose build side carries the
    // renamed (_ap_pb, b_id) prefix columns — the gate join (on tok,
    // against the census) and the verify joins (on ids) don't
    val bucketJoins = plan.collect {
      case j: Join
        if j.right.output.exists(_.name == "_ap_pb") ||
          j.left.output.exists(_.name == "_ap_pb")
      => j
    }
    assert(bucketJoins.nonEmpty, plan.toString)
    bucketJoins.foreach { j =>
      j.children.foreach { side =>
        assert(side.exists(_.expressions.exists(_.exists(
          _.isInstanceOf[RaiseError]))),
          s"prefix self-join input lacks the occ census gate:\n$side")
      }
    }
    // incremental path: the batch ∪ base census closes the cross bucket
    val base = docs.filter($"id" <= 7)
    val batch = docs.filter($"id" >= 8)
    val idx = Dedup.allPairsIndex(base, "id", "toks", 1, 2)
    val e2 = intercept[Exception] {
      Dedup.allPairsJoinIncremental(batch, idx, "id", "toks", 1, 2,
        maxTokenOcc = 8L).count()
    }
    assert(String.valueOf(e2.getMessage).contains("maxTokenOcc")
      || Option(e2.getCause).exists(c =>
           String.valueOf(c.getMessage).contains("maxTokenOcc")),
      e2.toString)
    val inc = Dedup.allPairsJoinIncremental(batch, idx, "id", "toks", 1, 2,
        maxTokenOcc = 16L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(inc.map(p => (p._1, p._2)) == Set((13L, 14L)), inc.toString)
  }

  test("allPairsJoin occ-cap incremental: a BASE-ONLY over-cap token never raises (no misattributed batch failure)") {
    // base holds hot token "z" in 12 prefixes (over the cap 8) — an index
    // built under a looser cap; the batch never touches "z", so it builds
    // no z-bucket and the gate must not blame it. A batch that DOES carry
    // "z" still raises (the real occ² bucket would form).
    val base = (1L to 12L).map(i => (i, Seq("z", s"u$i"))).toDF("id", "toks")
    val idx = Dedup.allPairsIndex(base, "id", "toks", 1, 2)
    val cleanBatch = Seq((13L, Seq("aa", "bb")), (14L, Seq("bb", "aa")))
      .toDF("id", "toks")
    val got = Dedup.allPairsJoinIncremental(cleanBatch, idx, "id", "toks",
        1, 2, maxTokenOcc = 8L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == Set((13L, 14L)), got.toString)
    val hotBatch = Seq((15L, Seq("z", "cc"))).toDF("id", "toks")
    val e = intercept[Exception] {
      Dedup.allPairsJoinIncremental(hotBatch, idx, "id", "toks", 1, 2,
        maxTokenOcc = 8L).count()
    }
    assert(String.valueOf(e.getMessage).contains("maxTokenOcc")
      || Option(e.getCause).exists(c =>
           String.valueOf(c.getMessage).contains("maxTokenOcc")),
      e.toString)
  }

  test("allPairsIndex censusInIndex: narrow-census ingest ≡ prefix-scan ingest (pairs, gate, append)") {
    // same docs as the ingest-lifecycle test: base 60%, two batches; the
    // narrow-census index must answer identically through index, join,
    // append, join — and its gate must raise/not-raise exactly like the
    // prefix-scan census
    val docs = ((1L to 12L).map(i => (i, Seq("z", s"u$i"))) ++
      Seq((13L, Seq("aa", "bb")), (14L, Seq("bb", "aa")),
        (15L, Seq("aa", "cc")), (16L, Seq("cc", "aa"))))
      .toDF("id", "toks")
    val base = docs.filter($"id" <= 10)
    val b1 = docs.filter($"id" > 10 && $"id" <= 13)
    val b2 = docs.filter($"id" > 13)
    def flow(census: Boolean): Set[(Long, Long, Long, Long, Long)] = {
      val idx0 = Dedup.allPairsIndex(base, "id", "toks", 1, 2,
        censusInIndex = census)
      assert(idx0.occ.isDefined == census)
      val p1 = Dedup.allPairsJoinIncremental(b1, idx0, "id", "toks", 1, 2)
      val idx1 = Dedup.allPairsIndexAppend(idx0, b1, "id", "toks", 1, 2)
      assert(idx1.occ.isDefined == census)
      val p2 = Dedup.allPairsJoinIncremental(b2, idx1, "id", "toks", 1, 2)
      (p1.unionByName(p2)).as[(Long, Long, Long, Long, Long)]
        .collect().toSet
    }
    assert(flow(census = true) == flow(census = false))
    // gate parity: a hot batch raises through the counted gate too
    // (base here includes doc 13 (aa, bb) so the clean batch below has a
    // genuine base partner)
    val idxC = Dedup.allPairsIndex(docs.filter($"id" <= 13), "id", "toks",
      1, 2, censusInIndex = true)
    val e = intercept[Exception] {
      Dedup.allPairsJoinIncremental(
        Seq((20L, Seq("z", "dd"))).toDF("id", "toks"), idxC, "id", "toks",
        1, 2, maxTokenOcc = 8L).count()
    }
    assert(String.valueOf(e.getMessage).contains("maxTokenOcc")
      || Option(e.getCause).exists(c =>
           String.valueOf(c.getMessage).contains("maxTokenOcc")),
      e.toString)
    // and a base-only hot token still never raises (counted gate only
    // ever sees batch tokens)
    val clean = Dedup.allPairsJoinIncremental(
      Seq((21L, Seq("aa", "bb"))).toDF("id", "toks"), idxC, "id", "toks",
      1, 2, maxTokenOcc = 8L)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(clean.nonEmpty)
  }

  test("editVerify: classic distances, truncation, empty/null texts, candidate-driven") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"),             // the classic: dist 3
      (3L, "abcdefXX"), (4L, "abcdefYYZZ"),        // truncate at 6: dist 0
      (5L, ""), (6L, null.asInstanceOf[String]),   // empty vs null -> both ""
      (7L, "abc")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L), (3L, 4L), (5L, 6L), (5L, 7L)).toDF("a_id", "b_id")
    val got = Dedup.editVerify(cands, docs, "doc_id", "text", maxLen = 6)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 2L, 2L, 1.0 - 2.0 / 6),  // "kitten"/"sittin" after truncation
      (3L, 4L, 0L, 1.0),            // both truncate to "abcdef"
      (5L, 6L, 0L, 1.0),            // two empties: dist 0, sim pinned 1.0
      (5L, 7L, 3L, 0.0)), got.mkString(", "))
    // only candidate pairs appear — never all-pairs
    assert(got.size == 4)
  }

  test("bloom decontamination: no false negatives vs exact, deterministic, bounded bitmap") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "something with the quick brown fox inside"),
      (2L, "entirely unrelated content right here"),
      (3L, "quick brown fox appears again")).toDF("doc_id", "text")
    val exact = Dedup.contaminatedDocs(train, bench, "text", "doc_id", 3)
      .as[(Long, Long)].collect().toMap
    val bits = Dedup.bloomGramBits(bench, "text", 3, 131072, 3)
    // bitmap is bounded by construction: <= mBits/32 rows, each 32-bit
    val bitRows = bits.as[(Long, Long)].collect()
    assert(bitRows.length <= 131072 / 32)
    assert(bitRows.forall { case (w, b) =>
      w >= 0 && w < 131072 / 32 && b >= 0 && b <= 0xFFFFFFFFL })
    val bloom = Dedup.contaminatedDocsBloom(train, bits, "text", "doc_id", 3,
      131072, 3).as[(Long, Long)].collect().toMap
    // no false negatives: every exactly-shared doc flags with >= its count
    assert(exact.keySet.subsetOf(bloom.keySet))
    exact.foreach { case (id, n) => assert(bloom(id) >= n) }
    // at this sizing (131072 bits, ~9 grams) there are no fps either
    assert(bloom == exact)
    // determinism: a second independent build+probe is bit-identical
    val again = Dedup.contaminatedDocsBloom(train,
      Dedup.bloomGramBits(bench, "text", 3, 131072, 3),
      "text", "doc_id", 3, 131072, 3).as[(Long, Long)].collect().toMap
    assert(again == bloom)
    // the false-positive direction, demonstrated: an undersized 32-bit
    // bloom (9 draws over 32 bits) yields a DETERMINISTIC false positive —
    // on this md5-fixed fixture doc 1 flags 3 grams where only 2 truly
    // overlap. Over-count, never under-count: the safe direction.
    val tiny = Dedup.contaminatedDocsBloom(train,
      Dedup.bloomGramBits(bench, "text", 3, 32, 3), "text", "doc_id", 3, 32, 3)
      .as[(Long, Long)].collect().toMap
    assert(exact.keySet.subsetOf(tiny.keySet))
    exact.foreach { case (id, n) => assert(tiny(id) >= n) }
    assert(tiny.values.sum > exact.values.sum,
      s"undersized bloom produced no false positive: $tiny vs $exact")
    // shape guards
    intercept[IllegalArgumentException] {
      Dedup.bloomGramBits(bench, "text", 3, 100, 3) } // not a multiple of 32
    intercept[IllegalArgumentException] {
      Dedup.bloomGramBits(bench, "text", 3, 32, 0) }
  }

  test("wordPieceTrain: likelihood ranking picks the rarer-but-tighter pair BPE would not") {
    // word counts: ab x4, cd x3. Pair (a,##b): pn 4, c(a)=c(##b)=4 ->
    // score = lg4 - lg4 - lg4 = -512 Q8. Pair (c,##d): pn 3, counts 3 ->
    // score = -lg3 = -405 Q8. WordPiece merges (c,##d) FIRST despite the
    // lower raw count — the ranking BPE inverts.
    val docs = Seq((1L, "ab ab cd"), (2L, "ab ab cd cd")).toDF("doc_id", "text")
    val ms = WordPiece.wordPieceTrain(docs, "text", 3, 16)
    assert(ms.map(m => (m.merge_rank, m.a, m.b, m.merged, m.pn, m.score_q8)) ==
      Seq((1, "c", "##d", "cd", 3L, -405L),
          (2, "a", "##b", "ab", 4L, -512L)), ms.toString) // round 3 exhausts
    // trained vocab at minFreq 1: the two merged units only
    val v = WordPiece.wordPieceVocab(docs, "text", ms, 16, 1L)
    assert(v == Map("ab" -> 4L, "cd" -> 3L), v.toString)
    // minFreq prunes
    assert(WordPiece.wordPieceVocab(docs, "text", ms, 16, 4L) == Map("ab" -> 4L))
    // ceiling fires loudly
    intercept[IllegalArgumentException] {
      WordPiece.wordPieceVocab(docs, "text", ms, 16, 1L, maxVocabLiteral = 1)
    }
  }

  test("WordPiece greedy MaxMatch: longest-first, ## continuations, whole-word [UNK]") {
    val vocab = Map("ab" -> 1L, "a" -> 1L, "##b" -> 1L, "c" -> 1L)
    val docs = Seq(
      (1L, "abb c ab"),  // abb -> "ab ##b" (longest-first), c -> "c", ab -> "ab"
      (2L, "abc"),       // pos 2 has no ##c -> whole word [UNK]
      (3L, "  "), (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = WordPiece.segmentDocs(docs, "text", "doc_id", vocab, 8, 16)
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Seq(
      (1L, 3L, 0L, 4L, h("ab ##b c ab")),
      (2L, 1L, 1L, 1L, h("[UNK]"))), got.mkString(", "))
  }

  test("WordPiece data-driven segmenter: bit-parity with the literal fold on fixture and corpus") {
    // the hand fixture, including the all-oov word whose every window
    // misses the edge join (the LEFT-join-back arm)
    val vocab = Map("ab" -> 1L, "a" -> 1L, "##b" -> 1L, "c" -> 1L)
    val docs = Seq((1L, "abb c ab"), (2L, "abc"), (3L, "xyz"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val vdf = vocab.keys.toSeq.toDF("piece")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(WordPiece.segmentDocsJoin(docs, "text", "doc_id", vdf, 8, 16))
      == rows(WordPiece.segmentDocs(docs, "text", "doc_id", vocab, 8, 16)))
    // and on the real corpus under a trained vocabulary
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ms = WordPiece.wordPieceTrain(d, "text", 2, 16)
    val lit = WordPiece.wordPieceVocab(d, "text", ms, 16, 2L)
    val join = WordPiece.wordPieceVocabDf(d, "text", ms, 16, 2L)
    assert(rows(WordPiece.segmentDocsJoin(d, "text", "doc_id", join, 8, 16))
      == rows(WordPiece.segmentDocs(d, "text", "doc_id", lit, 8, 16)))
    // vocab-shape contract
    intercept[IllegalArgumentException] {
      WordPiece.segmentDocsJoin(docs, "text", "doc_id",
        Seq("x").toDF("not_piece"), 8, 16)
    }
  }

  test("topNgramCharFraction: counts all windows, exact per-mille, smallest-gram ties, short docs absent") {
    val docs = Seq(
      (1L, "a a a a b"),    // "a a" x3 of 4 windows; 1000*3*3 div 9 = 1000
      (2L, "m n m"),        // "m n" and "n m" tie at 1 -> smaller gram wins
      (3L, "z z z z z z"),  // degenerate loop: 1000*5*3 div 11 = 1363 > 1000
      (4L, "solo"),         // 1 token: no bigram window -> absent
      (5L, "")).toDF("doc_id", "text")
    val got = TextStats.topNgramCharFraction(docs, "text", "doc_id", 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "a a", 3L, 1000L),
      (2L, "m n", 1L, 600L),  // 1000*1*3 div 5
      (3L, "z z", 5L, 1363L)), got.mkString(", "))
  }

  test("reserved-output-name guards reject id columns named like outputs across the surface") {
    // the whole defect class closed at once: an id column NAMED like an
    // operator output used to slip through the reserved check and yield
    // duplicate/mis-bound output columns — every site must now fail with
    // the rename hint
    def rejects(body: => Any): Unit =
      assert(intercept[IllegalArgumentException](body)
        .getMessage.contains("rename the id column"))
    rejects(Dedup.spanHashes(Seq((1L, "a b c")).toDF("pos", "text"),
      "text", "pos", 2))
    rejects(Dedup.exciseRepeatedSpans(
      Seq((1L, "a b c")).toDF("text_clean", "text"), "text", "text_clean", 2))
    rejects(TextStats.tokenIdsJoin(Seq((1L, "a b")).toDF("ids", "text"),
      "text", "ids", Seq.empty[BpeMerge], Seq(("a", 1)).toDF("tok", "vid")))
    rejects(TextStats.bigramLmScoreQ30(
      Seq((1L, "a b")).toDF("n_pairs", "text"), "text", "n_pairs",
      Seq("a b").toDF("text"), "text"))
    // ...while the one legal overlap — the id column that IS the output
    // id name — still works
    assert(TextStats.bigramLmScoreQ30(
      Seq((1L, "a b")).toDF("doc_id", "text"), "text", "doc_id",
      Seq("a b").toDF("text"), "text").columns.contains("doc_id"))
  }

  test("simhashNearDupPairs: banded candidates equal brute force; lossless guard enforced") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // near-dup of 1
      (3L, "omega psi chi phi upsilon"),      // unrelated
      (4L, "alpha beta gamma delta epsilon")) // exact dup of 1
      .toDF("doc_id", "text")
    val sig = Dedup.simhash(docs, "text", "doc_id", 32)
    val got = Dedup.simhashNearDupPairs(sig, "doc_id", "simhash", 32, 4, 3)
      .as[(Long, Long, Long)].collect().toSet
    // brute force over the collected signatures — the oracle's definition
    val s = sig.as[(Long, Long)].collect().toMap
    val want = (for {
      a <- s.keys; b <- s.keys if a < b
      h = java.lang.Long.bitCount(s(a) ^ s(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((1L, 4L, 0L)), "exact dup must be hamming 0")
    // pigeonhole guard: maxHamming >= bands would lose pairs — rejected
    assert(intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(sig, "doc_id", "simhash", 32, 4, 4)
    }.getMessage.contains("pigeonhole"))
  }

  test("cdcChunks: boundaries re-synchronize after an insertion (fixed windows all shift)") {
    // doc B = doc A with one token inserted at the head. CDC boundaries
    // depend only on local 4-token windows, so they shift WITH the
    // content: verified by hand (and by the oracle's replay), A cuts at
    // {12,17,25,34} and B at {13,18,26,35} — every chunk but the first
    // is byte-identical. Fixed-stride windows (x67) share NOTHING.
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, a), (2L, "INS " + a)).toDF("doc_id", "text")
    val cdc = Dedup.cdcChunks(docs, "text", "doc_id", 4, 16)
      .as[(Long, Long, Long, String)].collect()
    val ca = cdc.filter(_._1 == 1L).sortBy(_._2).map(_._4).toSeq
    val cb = cdc.filter(_._1 == 2L).sortBy(_._2).map(_._4).toSeq
    assert(ca.size == 5 && cb.size == 5, s"${ca.size}/${cb.size}")
    assert(ca.head != cb.head && cb.head == "INS " + ca.head)
    assert(ca.tail == cb.tail, "downstream chunks must re-synchronize")
    // the fixed-window chunker has zero shared chunks on the same pair —
    // the contrast that motivates CDC for dedup
    val fixed = Curation.chunkByTokens(docs, "text", "doc_id", 8, 8)
      .as[(Long, Long, Long, String)].collect()
    val fa = fixed.filter(_._1 == 1L).map(_._4).toSet
    val fb = fixed.filter(_._1 == 2L).map(_._4).toSet
    assert((fa intersect fb).isEmpty, (fa intersect fb).toString)
    // degenerate docs: shorter than the window -> exactly one chunk
    val tiny = Dedup.cdcChunks(Seq((9L, "a b c")).toDF("doc_id", "text"),
      "text", "doc_id", 4, 16).as[(Long, Long, Long, String)].collect()
    assert(tiny.toSeq == Seq((9L, 0L, 3L, "a b c")), tiny.mkString(","))
  }

  test("char-level BPE: the x68 charification feeds the trainer, boundary merges allowed") {
    val S = "\u0001"
    // "aa ab aa" charifies to "a a ¤ a b ¤ a a" (¤ marks word boundaries,
    // the SentencePiece move). Hand-checked rounds: (a,a)x2 beats (¤,a)x2
    // on the a-asc tie; then every pair is 1 and (a,b) wins the tie; then
    // (a·a, ¤) — a BOUNDARY-absorbing merge, the word-final subword form.
    val charified = Seq("aa ab aa").toDF("text").select(
      trim(regexp_replace(
        regexp_replace(TextStats.bpeNormalize(col("text")), " ", "¤"),
        "(.)", "$1 ")).as("ctext"))
    assert(charified.as[String].head() == "a a ¤ a b ¤ a a")
    val merges = TextStats.bpeTrain(charified, "ctext", 3)
      .map(m => (m.merge_rank, m.a, m.b, m.n))
    assert(merges == Seq(
      (1, "a", "a", 2L),
      (2, "a", "b", 1L),
      (3, s"a${S}a", "¤", 1L)), merges.toString)
  }

  test("bpeApplyMerge is greedy leftmost non-overlapping (the BPE rule)") {
    val S = "\u0001"
    val df = Seq("b b b", "b b", "x b b y", "ba b b", "b").toDF("text")
    val out = df.select(TextStats.bpeApplyMerge(
      TextStats.bpeNormalize(col("text")), "b", "b", S).as("t"))
      .as[String].collect().toSeq
    // "b b b" -> first two merge, third survives; partial-token "ba" never
    // matches; a 1-token doc is untouched
    assert(out == Seq(s"b${S}b b", s"b${S}b", s"x b${S}b y", s"ba b${S}b", "b"), out)
    // and the trainer sees the merged token as a unit next round
    val m = TextStats.bpeTrain(Seq("b b b", "b b").toDF("text"), "text", 2)
      .map(x => (x.merge_rank, x.a, x.b, x.n))
    assert(m == Seq((1, "b", "b", 3L), (2, s"b${S}b", "b", 1L)), m.toString)
  }

  test("bpeSegment applies a trained table in rank order; token counts shrink by merge mass") {
    val S = "\u0001"
    val corpus = Seq("a b a b c", "a b c d").toDF("text")
    val merges = TextStats.bpeTrain(corpus, "text", 3)
    val seg = corpus.select(TextStats.bpeSegment(col("text"), merges).as("s"))
      .as[Seq[String]].collect().toSeq
    // doc 1 collapses to ONE token via m3=(a·b, a·b·c); doc 2 to two
    assert(seg == Seq(Seq(s"a${S}b${S}a${S}b${S}c"), Seq(s"a${S}b${S}c", "d")), seg)
    // on this OVERLAP-FREE fixture every counted pair is replaced, so
    // encoded token total = original total − Σ merge counts exactly
    // (with overlaps the reduction is merely bounded by the merge mass —
    // the PropertySpec invariant)
    val before = corpus.select(
      sum(TextStats.tokenCount(col("text"))).cast("long")).as[Long].head()
    val after = corpus.select(
      sum(size(TextStats.bpeSegment(col("text"), merges))).cast("long")).as[Long].head()
    assert(after == before - merges.map(_.n).sum, s"$before -> $after, $merges")
  }

  test("tokenIds: 1-based vocab ranks in frequency order, OOV = 0") {
    val S = "\u0001"
    val corpus = Seq("a b a b c", "a b c d").toDF("text")
    val merges = TextStats.bpeTrain(corpus, "text", 1) // just (a,b) -> a·b
    assert(merges.map(m => (m.a, m.b)) == Seq(("a", "b")))
    // segmented: [a·b, a·b, c], [a·b, c, d] -> counts a·b=3, c=2, d=1
    val vocab = TextStats.trainTokenVocab(corpus, "text", merges, 2)
    assert(vocab == Seq(s"a${S}b", "c"), vocab)
    val ids = corpus.select(TextStats.tokenIds(col("text"), merges, vocab))
      .as[Seq[Int]].collect().toSeq
    assert(ids == Seq(Seq(1, 1, 2), Seq(1, 2, 0)), ids) // d falls to OOV 0
    // frequency ties rank alphabetically-first lower (count desc, tok asc)
    val v2 = TextStats.trainTokenVocab(Seq("z y").toDF("text"), "text", Nil, 2)
    assert(v2 == Seq("y", "z"), v2)
  }

  test("decodeTokenIds inverts tokenIds exactly in-vocab; OOV surfaces, never vanishes") {
    val corpus = Seq((1L, "a b a b c"), (2L, "a   b\tc d")).toDF("doc_id", "text")
    val merges = TextStats.bpeTrain(corpus, "text", 2)
    // full-coverage vocab -> decode(encode(t)) == bpeNormalize(t), md5-equal
    val full = TextStats.trainTokenVocab(corpus, "text", merges, 100)
    val rt = corpus.select(
        md5(TextStats.bpeNormalize(col("text"))).as("want"),
        md5(TextStats.decodeTokenIds(
          TextStats.tokenIds(col("text"), merges, full), full)).as("got"))
      .as[(String, String)].collect()
    assert(rt.forall { case (w, g) => w == g }, rt.toSeq)
    // truncated vocab: the OOV id decodes to a visible marker at its
    // position (never silently dropped); in-vocab ids still un-merge to
    // their original words. doc 2 = "a b c d" → ids [a·b·c→1, d→OOV 0]
    val tiny = TextStats.trainTokenVocab(corpus, "text", merges, 1)
    val ids2 = corpus.filter(col("doc_id") === 2L)
      .select(TextStats.tokenIds(col("text"), merges, tiny))
      .as[Seq[Int]].head()
    assert(ids2 == Seq(1, 0), ids2)
    val dec = corpus.filter(col("doc_id") === 2L)
      .select(TextStats.decodeTokenIds(
        TextStats.tokenIds(col("text"), merges, tiny), tiny))
      .as[String].head()
    assert(dec == "a b c �", dec)
  }

  test("tokenIdsJoin ≡ tokenIds: the data-driven vocab path is bit-identical") {
    // the ivfAssignJoin lesson applied to the tokenizer: a real vocab is
    // 50k-100k entries — too big for a plan literal — so the join form
    // must reproduce the literal form exactly, OOV included
    val corpus = Seq((1L, "a b a b c"), (2L, "a b c d"), (3L, "d d"))
      .toDF("doc_id", "text")
    val merges = TextStats.bpeTrain(corpus, "text", 2)
    val vocabSeq = TextStats.trainTokenVocab(corpus, "text", merges, 3)
    val vocabDf = TextStats.trainTokenVocabDf(corpus, "text", merges, 3)
    // the two trainers agree on content AND rank
    assert(vocabDf.orderBy("vid").select("tok").as[String].collect().toSeq
      == vocabSeq, vocabSeq)
    val lit_ = corpus
      .select(col("doc_id"), TextStats.tokenIds(col("text"), merges, vocabSeq).as("ids"))
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val join_ = TextStats.tokenIdsJoin(corpus, "text", "doc_id", merges, vocabDf)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(lit_ == join_, s"literal $lit_ vs join $join_")
    // the join plan broadcasts the vocab and never shuffle-joins; the
    // reassembly exchange carries ids, not token strings
    val p = TextStats.tokenIdsJoin(corpus, "text", "doc_id", merges, vocabDf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"), p)
  }

  test("packSequences chunks the per-group id stream at seqLen, crossing doc boundaries") {
    val d = Seq(
      (1L, "en", Seq(2, 3, 0)),
      (2L, "en", Seq(3, 0, 0, 0)),
      (3L, "en", Seq(2)),
      (4L, "de", Seq(0, 1)),
      (5L, "de", Seq(1, 1, 1))).toDF("doc_id", "lang", "ids")
    val out = Curation.packSequences(d, Seq("lang"), "doc_id", "ids", 4)
      .as[(String, Long, Seq[Int], Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // en stream [2,3,0] ++ [3,0,0,0] ++ [2] chunks to [2,3,0,3],[0,0,0,2];
    // de stream [0,1] ++ [1,1,1] leaves a short tail [1]
    assert(out == Seq(
      ("de", 0L, Seq(0, 1, 1, 1), 4L),
      ("de", 1L, Seq(1), 1L),
      ("en", 0L, Seq(2, 3, 0, 3), 4L),
      ("en", 1L, Seq(0, 0, 0, 2), 4L)), out)
    // total ids conserved regardless of seqLen
    val n7 = Curation.packSequences(d, Seq("lang"), "doc_id", "ids", 7)
      .agg(sum(col("n_ids"))).as[Long].head()
    assert(n7 == 13L)
  }

  test("packSequencesIncremental continues numbering from the carry; increments compose to one-shot") {
    val base = Seq((1L, "en", Seq(2, 3, 0)), (2L, "en", Seq(3, 0)),
      (3L, "de", Seq(5))).toDF("doc_id", "lang", "ids")
    val b1 = Seq((10L, "en", Seq(7, 8, 9)), (11L, "de", Seq(6, 4, 6, 4)))
      .toDF("doc_id", "lang", "ids")
    val carry = java.nio.file.Files.createTempDirectory("graft_carry")
      .toString + "/c"
    // empty first carry: zero rows, schema only
    Curation.batchCarry(base.limit(0), Seq("lang"), "ids").write.parquet(carry)
    def packInc(df: org.apache.spark.sql.DataFrame) =
      Curation.packSequencesIncremental(df, carry, Seq("lang"), "doc_id", "ids", 4)
        .as[(String, Long, Seq[Int], Long)].collect().toSeq
    val p0 = packInc(base)
    Curation.batchCarry(base, Seq("lang"), "ids").write.mode("append").parquet(carry)
    val p1 = packInc(b1)
    Curation.batchCarry(b1, Seq("lang"), "ids").write.mode("append").parquet(carry)
    // batch 2's en ids land at global idx 5,6,7: they COMPLETE base's
    // short tail seq 1 (same seq_id, the filling ids)
    assert(p0.toSet == Set(("en", 0L, Seq(2, 3, 0, 3), 4L), ("en", 1L, Seq(0), 1L),
      ("de", 0L, Seq(5), 1L)), p0)
    assert(p1.toSet == Set(("en", 1L, Seq(7, 8, 9), 3L),
      ("de", 0L, Seq(6, 4, 6), 3L), ("de", 1L, Seq(4), 1L)), p1)
    // parity: per (group, seq_id), increments concatenated in batch order
    // equal the one-shot packing of the full corpus
    val oneShot = Curation.packSequences(base.unionByName(b1),
      Seq("lang"), "doc_id", "ids", 4)
      .as[(String, Long, Seq[Int], Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val composed = (p0 ++ p1).groupBy(r => (r._1, r._2))
      .view.mapValues(_.flatMap(_._3).toSeq).toMap
    assert(composed == oneShot, s"composed $composed vs one-shot $oneShot")
  }

  test("bpeTrain stops early when the corpus runs out of pairs; staging path agrees") {
    assert(TextStats.bpeTrain(Seq("x").toDF("text"), "text", 3).isEmpty)
    // a corpus with exactly one mergeable round
    assert(TextStats.bpeTrain(Seq("p q", "r").toDF("text"), "text", 5)
      .map(m => (m.a, m.b, m.n)) == Seq(("p", "q", 1L)))
    // stagePerIteration writes each round's corpus to parquet but must not
    // change the result
    val corpus = Seq("a b a b c", "a b c d").toDF("text")
    assert(TextStats.bpeTrain(corpus, "text", 3, stagePerIteration = true) ==
      TextStats.bpeTrain(corpus, "text", 3))
  }

  test("zipfQuality: integer-exact bit scores, OOV floors to zero bits") {
    val d = Seq((1L, "the the the"), (2L, "the rare"), (3L, "   "))
      .toDF("doc_id", "text")
    val out = TextStats.zipfQuality(d, "text", "doc_id")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // counts: the=4, rare=1 → bits: bin(4)='100' → 2; bin(1)='1' → 0
    assert(out(1L) == ((1L, 3L, 6L, 2.0)), out.toString)
    assert(out(2L) == ((2L, 2L, 2L, 1.0)), out.toString)
    assert(!out.contains(3L)) // token-less docs are absent
    // vocabSize cuts deterministically; out-of-vocab floors to count 1
    val cut = TextStats.zipfQuality(d, "text", "doc_id", vocabSize = 1)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(cut(2L) == ((2L, 2L, 2L, 1.0))) // 'rare' OOV: same 0 bits
  }

  test("ivfAssignJoin fails loudly on null ids instead of dropping rows") {
    val emb = Seq((Option(1L), Seq(1f, 0f)), (None: Option[Long], Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f))).toDF("cid", "cvec")
    val e = intercept[Exception] {
      Similarity.ivfAssignJoin(emb, cents, "vec_id", "embedding").collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.toString + "\n" + msgs(t.getCause)
    assert(msgs(e).contains("non-null"), msgs(e))
  }

  test("contaminationFraction: null-text docs report 0 grams and NULL frac") {
    val train = Seq((1L, Option("shared grams right here now")),
      (2L, None: Option[String])).toDF("doc_id", "text")
    val bench = Seq((10L, "shared grams right here today")).toDF("doc_id", "text")
    val out = Dedup.contaminationFraction(train, bench, "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    // doc 1: grams {shared grams right, grams right here, right here now},
    // two shared with the bench split
    assert(out(1L) == ((3L, 2L, Some(2.0 / 3))), out.toString)
    // doc 2 (null text): 0 grams, 0 shared, UNDEFINED (null) fraction —
    // not the -1/-0.0 a bare size(NULL) would leak
    assert(out(2L) == ((0L, 0L, None)), out.toString)
    // and the reserved-name contract fails loudly
    intercept[IllegalArgumentException] {
      Dedup.contaminationFraction(train.withColumnRenamed("doc_id", "g"),
        bench, "text", "g", 3)
    }
  }

  test("applyDedup keeps cluster keepers and unpaired docs, drops other members") {
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (7L, "lonely"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "cluster_id")
    val kept = Dedup.applyDedup(corpus, clusters, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 7L)) // keeper 1 + unpaired 7; 2 and 3 dropped
  }

  test("dedupLinesAcrossCorpus: drops corpus-frequent lines, keeps order, drops empty docs") {
    val in = Seq(
      (1L, "unique one\nBOILER\nunique two"),
      (2L, "BOILER\nkeep me\nBOILER"), // BOILER total count = 4 > 2
      (3L, "BOILER\npair line"),
      (4L, "pair line\nlast unique")   // "pair line" count = 2 <= 2: kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLinesAcrossCorpus(in, "text", "doc_id", 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("unique one\nunique two", 2L))) // order preserved
    assert(out(2L) == (("keep me", 1L)))
    assert(out(3L) == (("pair line", 1L)))
    assert(out(4L) == (("pair line\nlast unique", 2L)))
    // a doc of pure boilerplate vanishes (C4 outcome)
    val allBoiler = in.union(Seq((5L, "BOILER\nBOILER")).toDF("doc_id", "text"))
    val out5 = Dedup.dedupLinesAcrossCorpus(allBoiler, "text", "doc_id", 2)
      .select("doc_id").as[Long].collect().toSet
    assert(!out5.contains(5L))
  }

  test("dupClusters checkpointEvery writes reliable checkpoints; labels unchanged") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
      val out = Dedup.dupClusters(pairs, checkpointEvery = 1)
        .as[(Long, Long)].collect().toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      // a reliable checkpoint landed in the dir (executor loss would
      // recompute at most checkpointEvery-1 rounds, not the whole chain)
      def files(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(files(ckptDir) > 0, "no checkpoint files written")
    } finally {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  test("incremental LSH: staged corpus + new batch ≡ full pairs touching the batch") {
    val sigAll = Dedup.minhashSignature(docs, "text", 8)
    val newIds = Set(2L, 4L)
    val sigOld = sigAll.filter(!col("doc_id").isin(newIds.toSeq: _*))
    val sigNew = sigAll.filter(col("doc_id").isin(newIds.toSeq: _*))
    val stage = Stage.path(sigOld)
    assert(Stage.registered.contains(stage)) // drained by Catalog.reset / JVM exit
    val inc = Dedup.lshCandidatePairsIncremental(sigNew, stage, "doc_id", 8, 2)
      .as[(Long, Long)].collect().toSet
    // oracle: the full self-join restricted to pairs with >= 1 new side
    val full = Dedup.lshCandidatePairs(sigAll, "doc_id", 8, 2)
      .as[(Long, Long)].collect().toSet
      .filter(p => newIds(p._1) || newIds(p._2))
    assert(inc == full)
    assert(inc.forall { case (a, b) => a < b })
  }

  test("dupClusters: connected components with min-id labels (chains + pairs)") {
    // chain 1-2-3 (transitive closure needed), isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // label is the component min regardless of edge direction/order
    val rev = Seq((3L, 1L), (2L, 1L), (11L, 10L)).toDF("a_id", "b_id")
    assert(Dedup.dupClusters(rev).as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // pointer-jump variant: identical result, fewer rounds on a long chain
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val plain = Dedup.dupClusters(chain).as[(Long, Long)].collect().toMap
    val plainRounds = Dedup.lastDupClusterRounds
    val jumped = Dedup.dupClusters(chain, pointerJump = true)
      .as[(Long, Long)].collect().toMap
    assert(plain == (1L to 9L).map(_ -> 1L).toMap)
    assert(jumped == plain)
    assert(Dedup.lastDupClusterRounds < plainRounds,
      s"jump=${Dedup.lastDupClusterRounds} plain=$plainRounds")
  }

  test("dupClusters: fused steps halve rounds; maxIter exhaustion raises the flag") {
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // stepsPerRound=1 vs the default 2: same labels, ~half the rounds
    val one = Dedup.dupClusters(chain, stepsPerRound = 1).as[(Long, Long)].collect().toMap
    val oneRounds = Dedup.lastDupClusterRounds
    assert(Dedup.lastDupClusterConverged)
    val two = Dedup.dupClusters(chain).as[(Long, Long)].collect().toMap
    assert(two == one && one == (1L to 9L).map(_ -> 1L).toMap)
    assert(Dedup.lastDupClusterRounds < oneRounds,
      s"fused=${Dedup.lastDupClusterRounds} plain=$oneRounds")
    // a diameter-8 chain cannot converge in 1 round of 1 step → loud flag,
    // instead of silently-split clusters (ADVICE r2)
    Dedup.dupClusters(chain, maxIter = 1, stepsPerRound = 1).count()
    assert(!Dedup.lastDupClusterConverged)
  }

  test("contaminatedDocs flags train docs overlapping benchmark n-grams") {
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "something with the quick brown fox inside"), // shares 3-grams
      (2L, "entirely unrelated content right here"),
      (3L, "quick brown fox appears again")              // shares one 3-gram
    ).toDF("doc_id", "text")
    val out = Dedup.contaminatedDocs(train, bench, "text", "doc_id", 3)
      .as[(Long, Long)].collect().toMap
    assert(out.keySet == Set(1L, 3L)) // doc 2 is clean
    assert(out(1L) == 2L) // "the quick brown", "quick brown fox"
    assert(out(3L) == 1L) // "quick brown fox"
    // blooms have no false negatives, so the opt-in pre-filtered form must
    // be IDENTICAL to the exact-join-only default (the bloom only sheds
    // true-negative grams before the join)
    val withBloom = Dedup.contaminatedDocs(train, bench, "text", "doc_id", 3,
      bloomPreFilter = true).as[(Long, Long)].collect().toMap
    assert(out == withBloom)
  }

  test("leakage-free split: near-dup candidates never straddle the split") {
    // the x55 contract on real fixture data: every LSH candidate pair
    // lands on ONE side, eval is non-degenerate, and the draw is stable
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = graft.SparkEntry.queries("x55_leakage_split")(spark,
      "/root/testdata/sf0.001")
    val bySide = split.select("doc_id", "split").as[(Long, String)]
      .collect().toMap
    val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2)
      .as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(bySide(a) == bySide(b), s"pair ($a, $b) straddles the split")
    }
    val nEval = bySide.values.count(_ == "eval")
    assert(nEval > 0 && nEval < bySide.size, s"degenerate split: $nEval eval")
  }

  test("contaminationPairs attributes overlap to the specific benchmark doc") {
    val bench = Seq(
      (100L, "the quick brown fox jumps"),
      (101L, "pack my box with five dozen")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "something with the quick brown fox inside"), // ↔ 100 only
      (2L, "entirely unrelated content right here"),
      (3L, "quick brown fox then pack my box with stuff") // ↔ both
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationPairs(train, bench, "text", "doc_id", 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(
      (1L, 100L) -> 2L, // "the quick brown", "quick brown fox"
      (3L, 100L) -> 1L, // "quick brown fox"
      (3L, 101L) -> 2L  // "pack my box", "my box with"
    ), out)
  }

  test("simhash: identical => equal, near-dup closer than unrelated (hamming)") {
    val sh = Dedup.simhash(docs, "text", "doc_id", 32)
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(4L)))
  }

  test("jaccard on token sets") {
    val sets = Dedup.tokenSets(docs, "text", "doc_id")
    val a = sets.filter(col("doc_id") === 1).select("toks").as[Seq[String]].head()
    val j = docs.filter(col("doc_id") === 1).crossJoin(
        sets.filter(col("doc_id") === 3).select(col("toks").as("b_toks")))
      .select(Dedup.jaccard(array_distinct(split(col("text"), "\\s+")), col("b_toks")))
      .as[Double].head()
    assert(a.toSet == Set("the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog"))
    assert(j == 7.0 / 9.0) // 7 shared of 9 distinct-union tokens
  }

  // ───────── Similarity ─────────

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("dot and quantizedDot agree to quantization error; cosine in [-1,1]") {
    val out = vecs.filter(col("vec_id") === 0).crossJoin(
        vecs.filter(col("vec_id") === 1).select(col("embedding").as("b")))
      .select(
        Similarity.dot(col("embedding"), col("b")).as("d"),
        Similarity.quantizedDot(col("embedding"), col("b")).as("qd"),
        Similarity.cosine(col("embedding"), col("b")).as("c"))
      .as[(Double, Double, Double)].head()
    assert(math.abs(out._1 - 0.9) < 1e-6)
    assert(math.abs(out._1 - out._2) < 1e-8)
    assert(out._3 <= 1.0 && out._3 >= -1.0 && math.abs(out._3 - 0.9938837) < 1e-4)
  }

  test("bruteForceTopK ranks nearest first, excludes self") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", 2, Similarity.dot)
      .orderBy("rank").select("n_id").as[Long].collect()
    assert(out.sameElements(Array(1L, 2L))) // 2 and 3 tie at 0.0 -> id asc
  }

  test("ivfTopK matches brute force on clustered data") {
    val centroids = Seq((0, Array(1.0f, 0.0f, 0.0f)), (1, Array(0.0f, 1.0f, 0.0f)))
      .toDF("cid", "cvec")
    val q = vecs.filter(col("vec_id") === 0)
    val ivf = Similarity.ivfTopK(vecs, centroids, q, "vec_id", "embedding", 1, 1)
      .select("n_id").as[Long].collect()
    assert(ivf.sameElements(Array(1L))) // nearest neighbour found in probed cell
  }

  test("appendIvfPartitioned creates brand-new cells; probes find them") {
    // continuous ingest can land in a cell the original write never
    // touched — the append must create the cid= directory and pruned
    // probe reads must discover it (partition discovery is per-read)
    val centroids = Seq(
      (0, Array(1.0f, 0.0f)), (1, Array(0.0f, 1.0f)), (2, Array(-1.0f, 0.0f)))
      .toDF("cid", "cvec")
    def emb(rows: (Long, Array[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    val base = emb(1L -> Array(0.9f, 0.1f), 2L -> Array(0.1f, 0.95f))
    val batch = emb(3L -> Array(-0.9f, 0.05f)) // assigns to cell 2 — NEW
    val path = java.nio.file.Files.createTempDirectory("ivf_newcell").toString
    Similarity.writeIvfPartitioned(
      Similarity.ivfAssignJoin(base, centroids, "vec_id", "embedding"), path)
    Similarity.appendIvfPartitioned(
      Similarity.ivfAssignJoin(batch, centroids, "vec_id", "embedding"), path)
    val q = emb(100L -> Array(-1.0f, 0.0f)) // probes cell 2 only at nProbe=1
    val got = Similarity.ivfTopKPartitioned(path, centroids, q,
      "vec_id", "embedding", 1, 1).select("n_id").as[Long].collect()
    assert(got.sameElements(Array(3L)), got.mkString(","))
  }

  test("ivfAssignJoin agrees with the literal-projection assignment (Q30)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val viaLit = Similarity.ivfAssign(emb, cents, "vec_id", "embedding", q30 = true)
      .select(col("vec_id").as[Long], col("cid").as[Int]).collect().toMap
    val viaJoin = Similarity.ivfAssignJoin(emb, cents, "vec_id", "embedding")
      .select(col("vec_id").as[Long], col("cid").as[Int]).collect().toMap
    assert(viaJoin == viaLit)
    assert(viaJoin.values.toSet.size > 1, "fixture must span several cells")
  }

  test("ivfTopKJoin matches ivfTopK(q30) on the same centroids and probes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val q = emb.filter(col("vec_id") < 4)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id").as[Long], col("n_id").as[Long], col("rank").as[Int])
        .collect().toSet
    val viaLit = key(Similarity.ivfTopK(emb, cents, q, "vec_id", "embedding",
      3, 2, q30 = true))
    val viaJoin = key(Similarity.ivfTopKJoin(emb, cents, q, "vec_id", "embedding", 3, 2))
    assert(viaJoin == viaLit)
    assert(viaJoin.nonEmpty)
  }

  test("kMeansTrain converges to well-separated groups; empty cells drop") {
    // two tight groups around orthogonal axes with per-row jitter in a
    // third dimension; seeds start at one member of each group plus one
    // centroid nothing ever picks (it must drop, standard Lloyd)
    val rows = (0L until 20L).map { i =>
      val jit = 0.01f * (i / 2).toInt
      if (i % 2 == 0) (i, Array(1f, 0f, jit, 0f)) else (i, Array(0f, 1f, jit, 0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val seed = Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)),
      (2, Array(0f, 0f, 0f, -1f))).toDF("cid", "cvec")
    val trained = Similarity.kMeansTrain(df, seed, "vec_id", "embedding", 3)
    val cents = trained.select(col("cid").as[Int], col("cvec").as[Array[Float]])
      .collect().toMap
    assert(cents.keySet == Set(0, 1), s"dead centroid must drop: ${cents.keySet}")
    // the trained centroid IS the exact-arithmetic group mean: component 0
    // of cell 0 is mean(1.0)=1.0, component 2 the mean jitter of evens
    val meanJit = (0 until 10).map(j => 0.01f * j).map(_.toDouble).sum / 10
    assert(math.abs(cents(0)(0) - 1.0) < 1e-6, cents(0).toSeq)
    assert(math.abs(cents(0)(2) - meanJit) < 1e-3, cents(0).toSeq)
    // and the trained assignment separates the groups perfectly
    val cells = Similarity.ivfAssignJoin(df, trained, "vec_id", "embedding")
      .select(col("vec_id").as[Long], col("cid").as[Int]).collect().toMap
    assert((0L until 20L).forall(i => cells(i) == (i % 2).toInt), cells)
  }

  test("kMeansTrain stagePerIteration yields identical centroids from flat scans") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cid").as[Int], col("cvec").as[Array[Float]])
        .collect().map { case (c, v) => (c, v.toSeq) }.toMap
    val lazyRun = key(Similarity.kMeansTrain(emb, seed, "vec_id", "embedding", 2))
    val staged = key(Similarity.kMeansTrain(emb, seed, "vec_id", "embedding", 2,
      stagePerIteration = true))
    assert(staged == lazyRun)
    assert(staged.nonEmpty)
  }

  test("LSH candidates catch the true shingle-near-dup pairs (recall in LSH's own measure)") {
    // MinHash-LSH operates on 5-char shingles — the near-IDENTITY measure
    // a C4-style dedup targets. (Word-token Jaccard is NOT that measure:
    // it saturates on same-domain template text — 73% of all fixture
    // pairs clear token-j 0.5 — so judging shingle-LSH by it is a
    // category error.) At (k=4, r=2, b=2)
    // theory gives P(candidate) = 1-(1-j²)² ≥ 0.44 at shingle-j 0.5
    // rising to ~1 near j=1; the fixture's true pairs are all high-j and
    // measured recall is 1.0 (28/28) — pinned at ≥ 0.95 with the verify
    // stage downstream to restore precision. A failure message prints the
    // measured recall and its hit/truth counts.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sets = d.select(col("doc_id"), expr(
      "array_distinct(transform(sequence(1, greatest(length(text)-4, 1)), i -> substring(text, i, 5)))").as("sh"))
    val a = sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val truth = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .filter(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
        size(array_union(col("a_sh"), col("b_sh"))) >= 0.5)
      .select(col("a_id").as[Long], col("b_id").as[Long]).collect().toSet
    assert(truth.nonEmpty, "fixture must contain true near-dup pairs")
    val cand = Dedup.lshCandidatePairs(Dedup.minhashSignature(d, "text", 4),
      "doc_id", 4, 2)
      .select(col("a_id").as[Long], col("b_id").as[Long]).collect().toSet
    val recall = (cand & truth).size.toDouble / truth.size
    assert(recall >= 0.95, s"LSH recall vs shingle-Jaccard>=0.5: $recall " +
      s"(${(cand & truth).size}/${truth.size})")
  }

  test("ANN recall@5 vs brute force: IVF stays high, nProbe is monotone, training never hurts") {
    // QUALITY pin, not just determinism: the approximate paths must stay
    // close to exact top-k on the fixture (each failure message prints
    // the measured recall; the fixture's near-uniform synthetic vectors
    // are PQ's worst case — 4×16-dim subspaces to 16 entries is very
    // coarse there, so its honest bound is low while IVF's is high)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id").cast("long"), col("n_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5,
      (a, b) => Similarity.quantizedDot(a, b)))
    def recall(approx: Set[(Long, Long)]) = (approx & exact).size.toDouble / exact.size
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val r2 = recall(pairs(Similarity.ivfTopKJoin(emb, cents, q, "vec_id", "embedding", 5, 2)))
    val r8 = recall(pairs(Similarity.ivfTopKJoin(emb, cents, q, "vec_id", "embedding", 5, 8)))
    assert(r2 >= 0.8, s"IVF nProbe=2 recall $r2")
    assert(r8 >= r2, s"more probes must not lose recall: $r2 -> $r8")
    val km = Similarity.kMeansTrain(emb, cents, "vec_id", "embedding", 2)
    val rt = recall(pairs(Similarity.ivfTopKJoin(emb, km, q, "vec_id", "embedding", 5, 2)))
    assert(rt >= 0.7, s"trained-centroid IVF recall $rt")
    val rSeed = recall(pairs(Similarity.pqTopK(emb, q, "vec_id", "embedding",
      Similarity.pqCodebook(emb, "vec_id", "embedding", 4, 16, 64), 5)))
    val rTrained = recall(pairs(Similarity.pqTopK(emb, q, "vec_id", "embedding",
      Similarity.pqCodebookTrained(emb, "vec_id", "embedding", 4, 16, 64, 2), 5)))
    assert(rSeed >= 0.15, s"PQ seed recall $rSeed")
    assert(rTrained >= rSeed, s"training must not hurt: $rSeed -> $rTrained")
  }

  test("ivfPqTopK: composed IVF-PQ — layout ≡ in-memory, recall at the PQ bound, probes monotone") {
    // the composed index's recall limiter on this fixture is PQ
    // distortion (near-uniform synthetic vectors are PQ's worst case —
    // the flat-PQ test's honest bound is 0.15), so the composed pin is
    // the PQ-side floor; IVF contributes the scan cut, not the loss
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val qs = emb.filter(col("vec_id") < 8)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id").cast("long"), col("n_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    val exact = keyset(Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      5, (a, b) => Similarity.quantizedDot(a, b)))
    def rec(s: Set[(Long, Long)]) = (exact & s).size.toDouble / exact.size
    val p2 = rec(keyset(Similarity.ivfPqTopK(emb, cents, qs,
      "vec_id", "embedding", 4, 16, 64, 5, 2)))
    val p8 = rec(keyset(Similarity.ivfPqTopK(emb, cents, qs,
      "vec_id", "embedding", 4, 16, 64, 5, 8)))
    assert(p2 >= 0.1, s"composed IVF-PQ recall $p2 (measured 0.15)")
    assert(p8 >= p2, s"more probes must not lose recall: $p2 -> $p8")
    // the partitioned layout answers identically to the in-memory path
    // (codes + codebook + centroids only — no vectors stored)
    val res = Similarity.ivfResiduals(emb, cents, "vec_id", "embedding")
    val cb = Similarity.ivfPqCodebook(res, "vec_id", 4, 16, 64)
    val enc = Similarity.pqEncodeResiduals(res, "resid", cb)
      .select(col("vec_id").as("n_id"), col("cid"), col("codes"))
    val path = java.nio.file.Files.createTempDirectory("ivfpq_spec").toString
    Similarity.writeIvfPqPartitioned(enc, path)
    assert(!spark.read.parquet(path).columns.contains("embedding") &&
      !spark.read.parquet(path).columns.contains("resid"),
      "the layout must hold codes, never vectors")
    def full(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id").cast("long"), col("n_id").cast("long"),
        col("score"), col("rank").cast("long"))
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(full(Similarity.ivfPqTopKPartitioned(path, cents, qs,
        "vec_id", "embedding", cb, 5, 2))
      == full(Similarity.ivfPqTopK(emb, cents, qs,
        "vec_id", "embedding", 4, 16, 64, 5, 2)))
  }

  test("meanPoolQ30: exact Q30 means, FLOOR on negative sums, per-group counts") {
    // group 3's dim sum is -536870912 ≡ 1 (mod 3): floor gives
    // -178956971 where truncation would give -178956970 — the positive-
    // mod subtraction must be live or engines disagree on negative means
    val chunks = Seq(
      (1L, Seq(1.5f, -0.5f)), (1L, Seq(0.5f, -0.5f)),
      (3L, Seq(-0.4f)), (3L, Seq(-0.4f)), (3L, Seq(0.3f))
    ).toDF("parent_id", "embedding")
    val got = Similarity.meanPoolQ30(chunks, "parent_id", "embedding")
      .as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, Seq(1073741824L, -536870912L)),
      (3L, 3L, Seq(-178956971L))), got.mkString(", "))
    intercept[IllegalArgumentException] {
      Similarity.meanPoolQ30(
        chunks.withColumnRenamed("parent_id", "pooled"), "pooled", "embedding")
    }
  }

  test("ivfPqRerank: exact rescoring recovers recall the ADC stage loses") {
    // the refine stage's whole contract: within the probed cells, a wide
    // ADC shortlist + exact rescore must reach the IVF bound (PQ
    // distortion fully recovered — the candidates the shortlist retains
    // re-rank by the TRUE score), and can only improve on raw ADC
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val qs = emb.filter(col("vec_id") < 8)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id").cast("long"), col("n_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    val exact = keyset(Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
      5, (a, b) => Similarity.quantizedDot(a, b)))
    def rec(s: Set[(Long, Long)]) = (exact & s).size.toDouble / exact.size
    val adc = rec(keyset(Similarity.ivfPqTopK(emb, cents, qs,
      "vec_id", "embedding", 4, 16, 64, 5, 8)))
    val rr12 = rec(keyset(Similarity.ivfPqRerank(emb, cents, qs,
      "vec_id", "embedding", 4, 16, 64, 5, 8, 12)))
    val rr64 = rec(keyset(Similarity.ivfPqRerank(emb, cents, qs,
      "vec_id", "embedding", 4, 16, 64, 5, 8, 64)))
    val ivfOnly = rec(keyset(Similarity.ivfTopK(emb, cents, qs,
      "vec_id", "embedding", 5, 8, q30 = true)))
    // recovery: strictly above raw ADC on the PQ-worst-case fixture
    // (measured: adc 0.15-range, rr64 0.925), monotone in the shortlist
    // width, and bounded by the IVF-only recall (the refine stage cannot
    // resurrect a neighbor whose cell was never probed or whose ADC rank
    // fell below the shortlist — measured 0.925 vs IVF 0.975; equality
    // needs an uncut shortlist, which would defeat the stage's economics)
    assert(rr64 > adc, s"rerank must RECOVER recall: adc $adc -> $rr64")
    assert(rr64 >= rr12, s"wider shortlist must not lose recall: $rr12 -> $rr64")
    assert(rr64 <= ivfOnly + 1e-9, s"IVF bound: $rr64 vs $ivfOnly")
    assert(rr64 >= 0.9, s"measured 0.925 on this fixture: $rr64")
    // shortlist narrower than k refuses loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRerank(emb, cents, qs, "vec_id", "embedding",
        4, 16, 64, 5, 2, 3)
    }
  }

  test("pqCodebookTrained composes with pqTopK (trained codebook, same contract)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cb = Similarity.pqCodebookTrained(emb, "vec_id", "embedding", 4, 8, 64, 2)
    assert(cb.length == 4, "one codebook per subspace")
    assert(cb.forall(entries => entries.nonEmpty && entries.forall(_.length == 16)),
      "entries carry full sub-vectors")
    val q = emb.filter(col("vec_id") < 4)
    val out = Similarity.pqTopK(emb, q, "vec_id", "embedding", cb, 5)
    assert(out.count() == 4 * 5)
    // deterministic end-to-end: a second run returns the identical set
    val out2 = Similarity.pqTopK(emb, q, "vec_id", "embedding", cb, 5)
    assert(out.exceptAll(out2).isEmpty && out2.exceptAll(out).isEmpty)
  }

  test("trained centroids drive semDedupClusters (train → assign → dedup lifecycle)") {
    // the full semantic-dedup lifecycle: kMeansTrain produces the
    // centroids, semDedupClusters consumes them — no first-k convention
    // anywhere. Structural invariants: every row classified, keep is the
    // min-id representative of its cluster, non-keepers share a cluster
    // with their keeper.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val seed = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
    val trained = Similarity.kMeansTrain(emb, seed, "vec_id", "embedding", 2)
    val out = Similarity.semDedupClusters(emb, trained, "vec_id", "embedding", 0.3)
    assert(out.count() == emb.count(), "every row classified exactly once")
    val byCluster = out.select(col("vec_id").as[Long], col("cluster_id").as[Long],
      col("keep").as[Boolean]).collect().groupBy(_._2)
    byCluster.foreach { case (cid, rows) =>
      val keepers = rows.filter(_._3).map(_._1)
      assert(keepers.length == 1 && keepers.head == rows.map(_._1).min,
        s"cluster $cid keeper must be the min id: ${rows.toSeq}")
      assert(cid == rows.map(_._1).min, s"cluster id is the min member id")
    }
  }

  test("semDedupClusters maxCellSize guard fails loudly on a hot cell") {
    // ONE centroid => every row lands in the same cell: the within-cell
    // pair join would be corpus-quadratic — exactly what the guard stops
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val oneCent = emb.filter(col("vec_id") === 0)
      .select(lit(0).as("cid"), col("embedding").as("cvec"))
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedupClusters(emb, oneCent, "vec_id", "embedding", 0.3,
        maxCellSize = 10L)
    }
    assert(e.getMessage.contains("maxCellSize"), e.getMessage)
    assert(e.getMessage.contains("cid=0"), e.getMessage)
    // and a ceiling above the corpus size passes through
    val ok = Similarity.semDedupClusters(emb, oneCent, "vec_id", "embedding", 0.999,
      maxCellSize = 1000000L)
    assert(ok.count() == emb.count())
  }

  test("PQ: encode picks the L2-nearest codebook entry; ADC recovers the true neighbor") {
    // dim 4, 2 subspaces of 2; codebook = subvectors of rows 0 and 1
    val pv = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.1f, 0.9f)), // near row 0 in both subspaces
      (3L, Array(0.1f, 0.9f, 0.9f, 0.1f))  // near row 1 in both subspaces
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebook(pv, "vec_id", "embedding", 2, 2, 4)
    assert(cb.size == 2 && cb.head.size == 2 && cb.head.head.length == 2)
    val codes = Similarity.pqEncode(pv, "embedding", cb)
      .select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes(0L) == Seq(0, 0) && codes(2L) == Seq(0, 0))
    assert(codes(1L) == Seq(1, 1) && codes(3L) == Seq(1, 1))
    // asymmetric scoring: query 0's top neighbor under PQ is 2 (same cell),
    // and ranking is deterministic (score desc, id asc)
    val top = Similarity.pqTopK(pv, pv.filter(col("vec_id") === 0),
        "vec_id", "embedding", cb, 3)
      .orderBy("rank").select("n_id").as[Long].collect()
    assert(top.head == 2L, top.mkString(","))
  }

  test("native md5 minhash equals the SQL formulation byte-for-byte") {
    // reference implementation of min(substr(md5(substr(text,i,L)),8w+1,8));
    // SQL substr counts code points, so window over code points (not chars)
    def sqlSig(text: String, k: Int, l: Int): Seq[String] = {
      val cps = text.codePoints().toArray
      val n = cps.length
      val starts = if (n < l) Seq(0) else 0 to (n - l)
      val nG = (k + 3) / 4
      val mins = Array.fill(k)("~" * 8) // '~' > 'f'
      for (st <- starts) {
        val sh = new String(cps, st, math.min(st + l, n) - st)
        for (g <- 0 until nG) {
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(((if (g == 0) "" else g.toString) + sh).getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          for (w <- 0 until 4) {
            val i = g * 4 + w
            if (i < k) {
              val sub = hex.substring(8 * w, 8 * w + 8)
              if (sub < mins(i)) mins(i) = sub
            }
          }
        }
      }
      mins.toSeq
    }
    val texts = Seq("a", "abcd", "abcde", "hello world hello world",
      "the quick brown fox jumps over the lazy dog",
      // non-BMP: emoji + CJK-ext chars are 2 UTF-16 units but 1 code point —
      // UTF-16 windowing would misalign shingles and split surrogate pairs
      "😀abcdef", "x😀y🤖z ab", "😀😁😂")
    for (k <- Seq(4, 8)) {
      val got = Dedup.minhashSignature(
          texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
          "text", k)
        .orderBy("doc_id").collect()
        .map(r => (1 to k).map(i => r.getAs[String](s"h$i")))
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i) == sqlSig(t, k, 5), s"k=$k text='$t'")
      }
    }
  }

  test("int8 quantization: bounded error, high top-k agreement with exact dot") {
    val rnd = new scala.util.Random(7)
    val vs = (0L until 60L).map(i =>
      (i, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))).toDF("vec_id", "embedding")
    val qz = vs.select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qv"))
    // quantized values stay in [-127, 127]
    val bounds = qz.select(array_max(col("qv.q")).as("hi"), array_min(col("qv.q")).as("lo"))
      .agg(max(col("hi")), min(col("lo"))).as[(Long, Long)].head()
    assert(bounds._1 <= 127 && bounds._2 >= -127)
    // int8 dot approximates the exact dot within quantization error
    val pair = qz.filter(col("vec_id") === 0).crossJoin(
        qz.filter(col("vec_id") === 1).select(col("qv").as("qb")))
      .select(Similarity.quantizedInt8Dot(col("qv"), col("qb"))).as[Double].head()
    val exact = vs.filter(col("vec_id") === 0).crossJoin(
        vs.filter(col("vec_id") === 1).select(col("embedding").as("b")))
      .select(Similarity.dot(col("embedding"), col("b"))).as[Double].head()
    assert(math.abs(pair - exact) < 16 * 2.0 / 127.0, s"int8=$pair exact=$exact")
    // top-1 neighbor agreement for most queries (quantized ranking is usable)
    val queries = vs.filter(col("vec_id") < 10)
    val exactTop = Similarity.bruteForceTopK(vs, queries, "vec_id", "embedding", 1,
        Similarity.dot).select("q_id", "n_id").as[(Long, Long)].collect().toMap
    val qzQ = qz.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
    val int8Top = Similarity.topKPerQuery(
        qz.select(col("vec_id").as("n_id"), col("qv").as("n_qv"))
          .crossJoin(broadcast(qzQ)).filter(col("n_id") =!= col("q_id"))
          .select(col("q_id"), col("n_id"),
            Similarity.quantizedInt8Dot(col("q_qv"), col("n_qv")).as("score")), 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toMap
    val agree = exactTop.count { case (q, n) => int8Top.get(q).contains(n) }
    assert(agree >= 8, s"top-1 agreement $agree/10")
  }

  test("rhp LSH: identical vectors collide; orthogonal vectors don't") {
    val vs = Seq(
      (1L, Array(1.0f, 0.2f, 0.1f)),
      (2L, Array(1.0f, 0.2f, 0.1f)),   // identical -> same signature
      (3L, Array(0.99f, 0.21f, 0.1f)), // near-identical -> likely collide
      (4L, Array(-1.0f, 0.5f, -0.9f))  // far away
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.rhpNearDupPairs(vs, "vec_id", "embedding", 3, 16, 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
    // signature is deterministic across invocations
    val s1 = vs.select(Similarity.rhpSignature(col("embedding"), 3, 16)).as[Long].collect()
    val s2 = vs.select(Similarity.rhpSignature(col("embedding"), 3, 16)).as[Long].collect()
    assert(s1.sameElements(s2))
  }

  // ───────── TextStats ─────────

  test("nfcNormalize composes decomposed sequences; normalized text passes through") {
    val decomposed = "Cafe" + "́" // e + combining acute
    val df = Seq(decomposed, "Café", "plain ascii").toDF("t")
    val out = df.select(TextStats.nfcNormalize(col("t"))).as[String].collect()
    assert(out(0) == "Café" && out(0) == out(1))
    assert(out(2) == "plain ascii")
    // registered for SQL too
    graft.functions.GraftFunctions.register(spark)
    df.createOrReplaceTempView("nfc_t")
    assert(spark.sql("SELECT nfc_normalize(t) FROM nfc_t").as[String].collect()
      .toSeq == out.toSeq)
  }

  test("tokenCount handles empty/blank/normal — including non-space edge whitespace") {
    // "a b\t" and "\t" are the regression cases for the wsTrim fix: Spark's
    // trim() strips spaces only, so the old form counted a phantom empty
    // edge token (3 and 2 respectively). PropertySpec's BPE mass invariant
    // caught it on \t-padded generator docs.
    val df = Seq("", "   ", "a b  c", "a b\t", "\ta b", "\t", "x\ty z\n").toDF("t")
    val out = df.select(TextStats.tokenCount(col("t"))).as[Int].collect()
    assert(out.sameElements(Array(0, 0, 3, 2, 2, 0, 3)))
    // fingerprint: edge-whitespace variants collapse to the clean form
    val fps = Seq("a  b", "a b\t", "\ta\nb ").toDF("t")
      .select(TextStats.fingerprint(col("t"))).as[String].collect()
    assert(fps.distinct.length == 1, fps.toSeq)
  }

  test("langIdHeuristic picks the list with most hits, und when none") {
    val lists = Map(
      "en" -> Seq("the", "and", "of"),
      "de" -> Seq("der", "und", "das"))
    val df = Seq("the cat and the dog", "der hund und das", "xyzzy plugh").toDF("t")
    val out = df.select(TextStats.langIdHeuristic(col("t"), lists)).as[String].collect()
    assert(out.sameElements(Array("en", "de", "und")))
  }

  test("redactPii scrubs emails/phones; gopher signals spot repetition") {
    val df = Seq(
      "write to alice.b+spam@corp.example.com or call (919) 555-0100 today",
      "no pii here at all").toDF("t")
    val red = df.select(TextStats.redactPii(col("t"))).as[String].collect()
    assert(red(0) == "write to <EMAIL> or call <PHONE> today")
    assert(red(1) == "no pii here at all")
    val rep = Seq(
      "same thing. same thing. same thing. different",
      "one. two. three. four").toDF("t")
      .select(TextStats.duplicateSentenceFraction(col("t"))).as[Double].collect()
    assert(rep(0) == 0.5) // 4 units, 2 distinct
    assert(rep(1) == 0.0)
    val mx = Seq("a bb supercalifragilistic c").toDF("t")
      .select(TextStats.maxTokenLen(col("t"))).as[Int].head()
    assert(mx == "supercalifragilistic".length)
  }

  test("qualityScore bounded in [0,1]; degenerate text scores lower") {
    val df = Seq(
      "A perfectly reasonable sentence with adequate length and structure for scoring well.",
      "!!! ??? !!! ??? !!!").toDF("t")
    val out = df.select(TextStats.qualityScore(col("t"))).as[Double].collect()
    assert(out.forall(s => s >= 0.0 && s <= 1.0))
    assert(out(0) > out(1))
  }

  test("fingerprint is whitespace/case-insensitive; rollingTokenHash is order-sensitive") {
    val df = Seq(("A  B\tC", "a b c"), ("b a c", "a b c")).toDF("x", "y")
    val fp = df.select((TextStats.fingerprint(col("x")) === TextStats.fingerprint(col("y")))
      .as("eq")).as[Boolean].collect()
    assert(fp(0) && !fp(1))
    val rh = df.select((TextStats.rollingTokenHash(col("x")) === TextStats.rollingTokenHash(col("y")))
      .as("eq")).as[Boolean].collect()
    assert(!rh(0) && !rh(1)) // case differs / order differs => different hash
  }

  test("hashedLinearScoreQ30: order-invariant, additive, deterministic") {
    val ws = TextStats.seededWeightsQ30(64)
    val df = Seq(("w1 w2 w3", "w3 w1 w2"), ("w1", "w1")).toDF("x", "y")
    val eq = df.select((TextStats.hashedLinearScoreQ30(col("x"), ws) ===
      TextStats.hashedLinearScoreQ30(col("y"), ws)).as("eq")).as[Boolean].collect()
    assert(eq(0) && eq(1)) // permutation-invariant (exact long sums)
    // additivity: score(a ++ b) = score(a) + score(b)
    val add = Seq(("alpha beta", "alpha", "beta")).toDF("ab", "a", "b")
      .select((TextStats.hashedLinearScoreQ30(col("ab"), ws) ===
        TextStats.hashedLinearScoreQ30(col("a"), ws) +
        TextStats.hashedLinearScoreQ30(col("b"), ws)).as("eq")).as[Boolean].collect()
    assert(add(0))
    // seeded weights are stable (single source for plan + oracle)
    assert(TextStats.seededWeightsQ30(64) == ws)
    assert(ws.forall(w => w >= -(1L << 29) && w < (1L << 29)))
  }

  test("native hashedScore ≡ column composition on edge-case text") {
    val ws = TextStats.seededWeightsQ30(64)
    val tricky = Seq(
      "plain ascii words", "", " ", "  leading and   runs  ",
      "\ttab-led line", "trailing tab\t", "line\nbreaks\nhere", "héllo wörld",
      "𝄞 surrogate pair token", "one", "a b c d e f g h i j",
      "punct! mixed, tokens? yes.", " controlbytes")
      .toDF("text")
    val out = tricky.select(
      TextStats.hashedLinearScoreQ30(col("text"), ws).as("cols"),
      TextStats.hashedLinearScoreQ30Fast(col("text"), ws).as("native"))
      .as[(Long, Long)].collect()
    out.foreach { case (c, nv) => assert(c == nv, s"col=$c native=$nv") }
    // and over the real corpus fixture
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.filter(
      TextStats.hashedLinearScoreQ30(col("text"), ws) =!=
        TextStats.hashedLinearScoreQ30Fast(col("text"), ws)).count()
    assert(n == 0)
    // SQL registration path agrees too
    graft.functions.GraftFunctions.register(spark)
    docs.createOrReplaceTempView("hs_docs")
    val viaSql = spark.sql(
      "SELECT sum(hashed_quality_score(text, 64, 2026L)) FROM hs_docs")
      .as[Long].head()
    val viaCol = docs.agg(sum(TextStats.hashedLinearScoreQ30Fast(col("text"), ws)))
      .as[Long].head()
    assert(viaSql == viaCol)
  }

  test("semDedupClusters keeps one min-id representative per component") {
    // two identical vectors (near-dup) + one orthogonal, centroids = all 3
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cents = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val out = Similarity.semDedupClusters(emb, cents, "vec_id", "embedding", 0.9)
      .select(col("vec_id"), col("cluster_id"), col("keep"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.sameElements(Array((0L, 0L, true), (1L, 0L, false), (2L, 2L, true))))
  }

  test("mixtureSample: deterministic, rate-monotone, zero-rate empties a domain") {
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "dom")
    val full = Curation.mixtureSample(df, "id", "dom", Map("a" -> 1000, "b" -> 0), 600)
    val ids = full.select("id").as[Long].collect().sorted
    assert(ids.forall(_ % 2 == 0)) // domain b emptied
    assert(ids.length == 200) // rate 1000 keeps everything
    // determinism across invocations and independence from row order
    val again = Curation.mixtureSample(df.orderBy(col("id").desc), "id", "dom",
      Map("a" -> 1000, "b" -> 0), 600).select("id").as[Long].collect().sorted
    assert(again.sameElements(ids))
    // a lower rate keeps a subset of a higher rate's sample
    val hi = Curation.mixtureSample(df, "id", "dom", Map("a" -> 800), 0)
      .select("id").as[Long].collect().toSet
    val lo = Curation.mixtureSample(df, "id", "dom", Map("a" -> 300), 0)
      .select("id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
  }

  test("repeatedSpans: within-doc and cross-doc k-token repeats, strict windows") {
    val docs = Seq(
      (1L, "a b c d e f"),            // windows: [a b c d e], [b c d e f]
      (2L, "a b c d e x"),            // shares [a b c d e] with doc 1
      (3L, "p q r s t p q r s t"),    // window 0 == window 5 (within-doc)
      (4L, "too short"),              // < 5 tokens: no windows
      (5L, "\ta b c d e\t")           // dirty edges ≡ clean "a b c d e"
    ).toDF("doc_id", "text")
    // span table: [a b c d e] occurs 3× across docs 1, 2, 5; [p q r s t] 2× in doc 3
    val spans = Dedup.repeatedSpans(docs, "text", "doc_id", 5)
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(spans.length == 2, spans.toSeq)
    assert(spans.map(s => (s._2, s._3)).sameElements(Array((2L, 1L), (3L, 3L))))
    // per-doc stats: repeated_frac is the ExactSubstr-removable share
    val stats = Dedup.repeatedSpanStats(docs, "text", "doc_id", 5)
      .select(col("doc_id"), col("n_spans"), col("n_repeated"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(stats.sameElements(Array(
      (1L, 2L, 1L), (2L, 2L, 1L), (3L, 6L, 2L), (5L, 1L, 1L))), stats.toSeq)
    // doc 4 contributes no rows (no full window), doc 3's repeats are the
    // two [p q r s t] windows at positions 0 and 5
    val pos3 = Dedup.spanHashes(docs.filter(col("doc_id") === 3), "text", "doc_id", 5)
      .as[(Long, Int, String)].collect()
    assert(pos3.length == 6 && pos3.map(_._2).sorted.sameElements(0 until 6))
    assert(pos3.groupBy(_._3).values.count(_.length == 2) == 1)
  }

  test("lshCandidateStarPairs: CC-identical to the clique join, linear edges in hot buckets") {
    // 6 exact copies (one hot band bucket — the boilerplate class that
    // makes clique pairs quadratic), an exact-dup pair, a singleton
    val docs = (Seq.tabulate(6)(i =>
      ((i + 1).toLong, "aaaaa bbbbb ccccc ddddd")) ++
      Seq((10L, "zzzzz yyyyy xxxxx wwwww"),
        (11L, "zzzzz yyyyy xxxxx wwwww"),
        (20L, "lonely unique document here"))).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(docs, "text", 4)
    val clique = Dedup.lshCandidatePairs(sig, "doc_id", 4, 2)
    val star = Dedup.lshCandidateStarPairs(sig, "doc_id", 4, 2)
    // the clusters — the thing the star form exists to feed — are
    // IDENTICAL: every bucket member connects through the bucket min
    val cClique = Dedup.dupClusters(clique).as[(Long, Long)].collect().toSet
    val cStar = Dedup.dupClusters(star).as[(Long, Long)].collect().toSet
    assert(cStar == cClique, s"star=$cStar clique=$cClique")
    assert(cStar.filter(_._1 <= 6L).map(_._2) == Set(1L))
    // the hot bucket: m(m-1)/2 clique pairs vs m-1 star edges
    assert(clique.filter(col("b_id") <= 6).count() == 15L)
    assert(star.filter(col("b_id") <= 6).count() == 5L)
    // star edges are a subset of the clique pairs (min < every member)
    val sp = star.as[(Long, Long)].collect().toSet
    val cp = clique.as[(Long, Long)].collect().toSet
    assert(sp.subsetOf(cp), (sp -- cp).toString)
    // staged form is path-for-path the same pairs
    assert(Dedup.lshCandidateStarPairs(Stage(sig), "doc_id", 4, 2)
      .as[(Long, Long)].collect().toSet == sp)
  }

  test("sharedSpansExact: token-exact boundaries the windowed form misquantizes; diagonal gaps stay split") {
    val docs = Seq(
      (1L, "u v w x y z q"),
      (2L, "m u v w x y z n"),
      (3L, "a1 a2 a3 a4 a5 G1 H b1 b2 b3 b4 b5"),
      (4L, "a1 a2 a3 a4 a5 G2 H b1 b2 b3 b4 b5")
    ).toDF("doc_id", "text")
    val got = Dedup.sharedSpansExact(docs, "text", "doc_id", 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._3))
    // pair (1,2): the true shared substring is the SIX tokens
    // "u v w x y z" at offsets (0, 1) — the windowed form sees two
    // overlapping 5-windows with quantized boundaries; the diagonal
    // run merges them into the exact span (THE misquantization pin).
    // pair (3,4): two separate shared substrings on the SAME diagonal
    // ("a1..a5" then "H b1..b5", split by G1/G2) — gaps-and-islands
    // keeps them apart where a min/max-per-diagonal weld would report
    // one bogus 12-token span. Every span re-verifies against the
    // actual token slices.
    assert(got.toSeq == Seq(
      (1L, 2L, 0L, 1L, 6L, 1L),
      (3L, 4L, 0L, 0L, 5L, 1L),
      (3L, 4L, 6L, 6L, 6L, 1L)), got.toSeq.toString)
    // guards
    intercept[IllegalArgumentException] {
      Dedup.sharedSpansExact(docs, "text", "doc_id", 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.sharedSpansExact(docs, "text", "doc_id", 5, occCap = 1)
    }
  }

  test("sharedSpansExactIncremental: the batch-touching slice of the one-shot; base never re-windowed") {
    val base = Seq(
      (1L, "u v w x y z q"),
      (3L, "a1 a2 a3 a4 a5 G1 H b1 b2 b3 b4 b5"),
      (5L, "s1 s2 s3 s4 s5 s6"),
      (7L, "s1 s2 s3 s4 s5 s6") // base-base pair: must NOT appear
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "m u v w x y z n"),
      (14L, "a1 a2 a3 a4 a5 G2 H b1 b2 b3 b4 b5")
    ).toDF("doc_id", "text")
    val stage = Stage.path(
      Dedup.spanHashes(base, "text", "doc_id", 5))
    val got = Dedup.sharedSpansExactIncremental(batch, base, stage,
        "text", "doc_id", 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._3)).toSeq
    // the ingest invariant: exactly the one-shot join over base ∪ batch,
    // restricted to pairs touching the batch
    val oneShot = Dedup.sharedSpansExact(base.unionByName(batch),
        "text", "doc_id", 5)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .filter(r => r._1 >= 10L || r._2 >= 10L)
      .sortBy(r => (r._1, r._3)).toSeq
    assert(got == oneShot, s"inc=$got one=$oneShot")
    assert(got.size == 3 && got.forall(_._6 == 1L), got.toString)
    assert(!got.exists(r => r._1 == 5L || r._1 == 7L), got.toString)
    // batch ids clashing with the base raise loudly
    intercept[IllegalArgumentException] {
      Dedup.sharedSpansExactIncremental(base.limit(1), base, stage,
        "text", "doc_id", 5)
    }
  }

  test("exciseSharedSpans: exact-boundary pairwise apply — lower id keeps, masks union per doc") {
    // the sharedSpansExact fixture plus a short pass-through doc:
    // doc 2 loses the exact 6-token "u v w x y z" (tokens 1-6, leaving
    // "m n"); doc 4 loses BOTH spans on the same diagonal (tokens 0-4
    // and 6-11, leaving only "G2"); keepers and the sub-k doc pass
    // through whitespace-normalized
    val docs = Seq(
      (1L, "u v w x y z q"),
      (2L, "m u v w x y z n"),
      (3L, "a1 a2 a3 a4 a5 G1 H b1 b2 b3 b4 b5"),
      (4L, "a1 a2 a3 a4 a5 G2 H b1 b2 b3 b4 b5"),
      (9L, "\ttiny  doc ")
    ).toDF("doc_id", "text")
    val got = Dedup.exciseSharedSpans(docs, "text", "doc_id", 5)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, "u v w x y z q", 0L),
      (2L, "m n", 6L),
      (3L, "a1 a2 a3 a4 a5 G1 H b1 b2 b3 b4 b5", 0L),
      (4L, "G2", 11L),
      (9L, "tiny doc", 0L)), got.toSeq.toString)
  }

  test("exciseRepeatedSpans keeps the corpus-first occurrence and reassembles the rest") {
    val docs = Seq(
      (1L, "a b c d e f"),          // keeper of [a b c d e] (min id)
      (2L, "a b c d e x"),          // loses its [a b c d e]
      (3L, "p q r s t p q r s t"),  // within-doc: second occurrence excised
      (4L, "too short"),            // < k: passes through normalized
      (5L, "z a b c d e")           // loses its [a b c d e]
    ).toDF("doc_id", "text")
    val out = Dedup.exciseRepeatedSpans(docs, "text", "doc_id", 5)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out.sameElements(Array(
      (1L, "a b c d e f", 0L),
      (2L, "x", 5L),
      (3L, "p q r s t", 5L),
      (4L, "too short", 0L),
      (5L, "z", 5L))), out.toSeq)
    // overlap union: two repeated windows sharing tokens excise the union
    // of their positions, not double-count (doc 12/13 repeat BOTH spans of
    // a 6-token text: windows 0 and 1 each repeat; doc 13 loses all 6)
    val ov = Seq(
      (12L, "m n o p q r"),
      (13L, "m n o p q r")).toDF("doc_id", "text")
    val got = Dedup.exciseRepeatedSpans(ov, "text", "doc_id", 5)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.sameElements(Array(
      (12L, "m n o p q r", 0L), (13L, "", 6L))), got.toSeq)
  }

  test("prototypePrune drops the most prototypical ceil-fraction per cell") {
    // two unit-axis centroids; dot-argmax assignment puts 10,11 in cell 0
    // and 12,13,14 in cell 1; cosine ranks are hand-computable
    val emb = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),   // cell 0, cos 1.0   -> rnk 1
      (11L, Array(0.8f, 0.6f, 0.0f)),   // cell 0, cos 0.8   -> rnk 2
      (12L, Array(0.6f, 0.8f, 0.0f)),   // cell 1, cos 0.8   -> rnk 3
      (13L, Array(0.0f, 1.0f, 0.0f)),   // cell 1, cos 1.0   -> rnk 1
      (14L, Array(0.1f, 0.9f, 0.0f))    // cell 1, cos ~0.994 -> rnk 2
    ).toDF("vec_id", "embedding")
    val cents = Seq(
      (0, Array(1.0f, 0.0f, 0.0f)),
      (1, Array(0.0f, 1.0f, 0.0f))
    ).toDF("cid", "cvec")
    val out = Similarity.prototypePrune(emb, cents, "vec_id", "embedding", 500)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // cell 0 (n=2): cut = ceil(1.0) = 1 -> rnk 1 dropped
    assert(out(10L) == ((0L, 1L, false)))
    assert(out(11L) == ((0L, 2L, true)))
    // cell 1 (n=3): cut = ceil(1.5) = 2 -> rnks 1,2 dropped
    assert(out(13L) == ((1L, 1L, false)))
    assert(out(14L) == ((1L, 2L, false)))
    assert(out(12L) == ((1L, 3L, true)))
    // rate edges: 0 keeps everything, 1000 drops everything
    val all = Similarity.prototypePrune(emb, cents, "vec_id", "embedding", 0)
    assert(all.filter(!col("keep")).count() == 0)
    val none = Similarity.prototypePrune(emb, cents, "vec_id", "embedding", 1000)
    assert(none.filter(col("keep")).count() == 0)
  }

  test("prototypePrune: zero-norm vectors rank last, never NaN-first") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f)), // zero norm: cosine undefined -> sentinel -2
      (3L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0f, 0.0f))).toDF("cid", "cvec")
    val out = Similarity.prototypePrune(emb, cents, "vec_id", "embedding", 0)
      .select(col("vec_id"), col("rnk")).as[(Long, Long)].collect().toMap
    assert(out(2L) == 3L, s"zero-norm must rank last: $out")
    assert(out(1L) == 1L && out(3L) == 2L)
  }

  // ───────── chunk-level near-dup ─────────

  /** deterministic high-entropy filler (seeded PRNG, 62-char alphabet) —
    * unrelated regions practically never share a 5-gram, let alone a
    * min-hash; a structured generator here (e.g. arithmetic mod 26) DOES
    * mint cross-doc shingle collisions and breaks the band censuses */
  private def noise(seed: Int, n: Int): String =
    new scala.util.Random(seed).alphanumeric.take(n).mkString

  test("chunkNearDupPairs catches partial overlap that whole-doc LSH misses") {
    // two docs share ONE identical 60-char chunk inside 600 chars of
    // unrelated text each: whole-doc minhash (k=4, 2 bands) dilutes the
    // region (56 shared shingles out of ~650) and must NOT pair them;
    // the chunked form sees two identical chunks and MUST
    val shared = ("an identical shared passage of exactly sixty characters " +
      "in here somewhere").take(60)
    assert(shared.length == 60)
    val corpus = Seq(
      (1L, noise(1, 600) + shared),  // shared at offset 600 = chunk 10
      (2L, shared + noise(2, 600)),  // shared at offset 0   = chunk 0
      (3L, noise(3, 600))
    ).toDF("doc_id", "text")
    val wholeDoc = Dedup.lshCandidatePairs(
      Dedup.minhashSignature(corpus, "text", 4), "doc_id", 4, 2)
    assert(wholeDoc.isEmpty, "whole-doc LSH should dilute the shared region")
    val chunked = Dedup.chunkNearDupPairs(corpus, "text", "doc_id",
      60, 4, 2).as[(Long, Long, Long)].collect()
    assert(chunked.map(r => (r._1, r._2)).contains((1L, 2L)),
      s"chunk level must catch the shared region: ${chunked.mkString(",")}")
    assert(!chunked.exists(r => r._1 == 3L || r._2 == 3L))
  }

  test("chunkNearDupPairs: hot-band cap drops boilerplate bands, tail chunks respect shingleLen") {
    val boiler = ("all rights reserved standard footer boilerplate text " +
      "line of sixty").take(60)
    // 12 docs: 120 distinct noise chars + the same aligned boilerplate
    // chunk; the boilerplate band holds 12 chunks
    val corpus = (1 to 12).map(i => (i.toLong, noise(i, 120) + boiler))
      .toDF("doc_id", "text")
    val uncapped = Dedup.chunkNearDupPairs(corpus, "text", "doc_id", 60, 4, 2)
    assert(uncapped.count() == 66, "all C(12,2) boilerplate pairs expected")
    val capped = Dedup.chunkNearDupPairs(corpus, "text", "doc_id", 60, 4, 2,
      maxBandChunks = 5)
    assert(capped.isEmpty,
      "a band hotter than the cap must not generate pairs")
    // tail chunks shorter than one shingle drop: the 2-char tails can
    // neither crash the shingler nor mint spurious collisions
    val tails = Seq((1L, "a" * 60 + "zz"), (2L, "a" * 60 + "yy"))
      .toDF("doc_id", "text")
    val t = Dedup.chunkNearDupPairs(tails, "text", "doc_id", 60, 4, 2)
      .as[(Long, Long, Long)].collect()
    assert(t.toSeq == Seq((1L, 2L, 1L)),
      s"one shared chunk, dropped tails: ${t.mkString(",")}")
    intercept[IllegalArgumentException](
      Dedup.chunkNearDupPairs(tails, "text", "doc_id", 3, 4, 2))
  }

  test("chunk incremental over a staged corpus ≡ one-shot pairs touching the batch") {
    val sharedA = noise(100, 60) // one chunk shared across the batch line
    val sharedB = noise(200, 60)
    val corpus = Seq(
      (1L, noise(1, 60) + sharedA),            // old
      (2L, sharedB + noise(2, 120)),           // old
      (3L, noise(3, 120)),                     // old, clean
      (10L, sharedA + noise(4, 60)),           // new: overlaps old 1
      (15L, noise(5, 60) + sharedB + sharedA), // new: overlaps 1, 2, 10
      (20L, noise(6, 120))                     // new, clean
    ).toDF("doc_id", "text")
    val isNew = (id: Long) => id >= 10L
    val oneShot = Dedup.chunkNearDupPairs(corpus, "text", "doc_id", 60, 4, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(oneShot.exists(p => !isNew(p._1) && isNew(p._2)),
      "fixture must have cross-batch overlap")
    val stage = Stage.path(Dedup.chunkSignatures(
      corpus.filter(col("doc_id") < 10), "text", "doc_id", 60, 4))
    val inc = Dedup.chunkNearDupPairsIncremental(
      corpus.filter(col("doc_id") >= 10), stage, "text", "doc_id", 60, 4, 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == oneShot.filter(p => isNew(p._1) || isNew(p._2)),
      s"one-shot ∩ batch = $oneShot vs incremental = $inc")
  }

  // ───────── margin mining ─────────

  test("marginMine demotes the hub: mutual fits beat the raw top-1") {
    // h is the raw top-1 for BOTH left rows (dot 1.2 beats 1.0), but h is
    // close to everything, so its backward neighborhood sum is fat and
    // margin hands each left row its mutually-exclusive partner instead —
    // the exact failure mode margin mining exists to fix (raw top-1
    // mining pairs every query with the hub).
    val left = Seq(
      (0L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val right = Seq(
      (1L, Array(1.2f, 1.2f)),  // hub
      (3L, Array(1.0f, 0.1f)),  // partner of 0
      (5L, Array(0.05f, 1.0f))  // partner of 2
    ).toDF("vec_id", "embedding")
    val got = Similarity.marginMine(left, right, "vec_id", "embedding", 2)
      .select(col("q_id"), col("n_id")).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 2L -> 5L), s"hub must lose by margin: $got")
  }

  test("marginMine drops candidates with non-positive neighborhood mass") {
    // every cross dot is negative -> every denominator <= 0 -> no mined
    // pair survives (margin undefined on anti-aligned neighborhoods)
    val left = Seq((0L, Array(-1.0f, 0.0f)), (2L, Array(-0.9f, 0.0f)))
      .toDF("vec_id", "embedding")
    val right = Seq((1L, Array(1.0f, 0.0f)), (3L, Array(0.9f, 0.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.marginMine(left, right, "vec_id", "embedding", 2)
      .isEmpty)
  }

  test("marginMine emits one best-margin row per left id, Q20-positive") {
    val left = Seq((0L, Array(1.0f, 0.2f)), (2L, Array(0.2f, 1.0f)),
      (4L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val right = Seq((1L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)),
      (5L, Array(0.6f, 0.6f))).toDF("vec_id", "embedding")
    val rows = Similarity.marginMine(left, right, "vec_id", "embedding", 3)
      .as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.sameElements(Array(0L, 2L, 4L)))
    assert(rows.forall(_._3 > 0))
  }
  test("kCenterGreedy: farthest-point picks, id tie-break, radius curve, short-frame stop, guards") {
    import spark.implicits._
    // a 1-D line embedded in 2-D: 0, 1, 10, 11, 5. Seed = min id (at 0);
    // farthest is 11 (dist 121); then 5 (min-dist 25 to {0, 11}) — the
    // classic spread. mindist_q30 = exact Q30 squared Euclidean.
    val pts = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(10f, 0f)),
      (4L, Seq(11f, 0f)), (5L, Seq(5f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.kCenterGreedy(pts, "vec_id", "embedding", 3)
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, None),
      (2L, 4L, Some(121L << 30)),
      (3L, 5L, Some(25L << 30))), got.toString)
    // the radius curve is non-increasing
    val ds = got.flatMap(_._3)
    assert(ds == ds.sorted.reverse, ds.toString)
    // equidistant candidates tie to the smaller id
    val tie = Seq((1L, Seq(0f)), (2L, Seq(3f)), (3L, Seq(-3f)))
      .toDF("vec_id", "embedding")
    val t2 = Similarity.kCenterGreedy(tie, "vec_id", "embedding", 2)
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(t2(1)._2 == 2L && t2(1)._3.contains(9L << 30), t2.toString)
    // fewer distinct points than k: returns what exists, no spin
    val short = Seq((1L, Seq(0f)), (2L, Seq(0f)))
      .toDF("vec_id", "embedding")
    val s2 = Similarity.kCenterGreedy(short, "vec_id", "embedding", 5)
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(s2.size == 2 && s2(1)._3.contains(0L), s2.toString)
    intercept[IllegalArgumentException] {
      Similarity.kCenterGreedy(pts, "vec_id", "embedding", 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.kCenterGreedy(pts.filter($"vec_id" < 0), "vec_id",
        "embedding", 2)
    }
  }
  test("kCenterJoin: bit-parity with kCenterGreedy; plan size independent of k") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    // the greedy fixture replays verbatim (picks, ties, radius curve)
    val pts = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(10f, 0f)),
      (4L, Seq(11f, 0f)), (5L, Seq(5f, 0f))).toDF("vec_id", "embedding")
    assert(rows(Similarity.kCenterJoin(pts, "vec_id", "embedding", 3))
      == rows(Similarity.kCenterGreedy(pts, "vec_id", "embedding", 3)))
    // k=16 parity on the parquet embeddings — past the catalog's k=5,
    // deep enough that any draw/tie/radius drift would surface
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    assert(rows(Similarity.kCenterJoin(emb, "vec_id", "embedding", 16))
      == rows(Similarity.kCenterGreedy(emb, "vec_id", "embedding", 16)))
    // exhaustion rule: fewer distinct points than k returns what exists
    val short = Seq((1L, Seq(0f)), (2L, Seq(0f))).toDF("vec_id", "embedding")
    val s2 = rows(Similarity.kCenterJoin(short, "vec_id", "embedding", 5))
    assert(s2.size == 2 && s2(1)._3.contains(0L), s2.toString)
    // plan independence of k: the result is a stage read — no center
    // vector rides the plan as a literal (the literal path's least()
    // chain would put every vector in the expression tree)
    val p = Similarity.kCenterJoin(pts, "vec_id", "embedding", 3)
      .queryExecution.optimizedPlan.toString
    assert(!p.contains("least("), p)
    // and the join form accepts k past the literal path's 64 cap
    intercept[IllegalArgumentException] {
      Similarity.kCenterJoin(pts, "vec_id", "embedding", 1)
    }
    intercept[IllegalArgumentException] {
      Similarity.kCenterJoin(pts.filter($"vec_id" < 0), "vec_id",
        "embedding", 2)
    }
  }

  test("kCenterBatch: bit-parity with kCenterGreedy at k=16; rounds collapse below k-1") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    // hand fixture replays verbatim, whether the batch covers the frame
    // (pure local greedy) or is smaller than it (threshold rounds)
    val pts = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(10f, 0f)),
      (4L, Seq(11f, 0f)), (5L, Seq(5f, 0f))).toDF("vec_id", "embedding")
    val one = rows(Similarity.kCenterGreedy(pts, "vec_id", "embedding", 3))
    assert(rows(Similarity.kCenterBatch(pts, "vec_id", "embedding", 3, 64))
      == one)
    assert(rows(Similarity.kCenterBatch(pts, "vec_id", "embedding", 3, 2))
      == one)
    // k=16 parity on the parquet embeddings at a batch forcing the
    // threshold logic (batch << remaining) — any drift in the local
    // distQ30 replica, the tie-break, or the T-boundary would surface
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val oneEmb = rows(Similarity.kCenterGreedy(emb, "vec_id", "embedding", 16))
    val (sel, rounds) =
      Similarity.kCenterBatchRounds(emb, "vec_id", "embedding", 16, 32)
    assert(rows(sel) == oneEmb)
    // the whole point of the variant: k−1 = 15 sequential rounds in
    // kCenterJoin collapse — the batch must amortize several picks per
    // global round on a real corpus
    assert(rounds < 15, s"rounds = $rounds (kCenterJoin pays 15)")
    // exhaustion rule carries over
    val short = Seq((1L, Seq(0f)), (2L, Seq(0f))).toDF("vec_id", "embedding")
    val s2 = rows(Similarity.kCenterBatch(short, "vec_id", "embedding", 5, 8))
    assert(s2.size == 2 && s2(1)._3.contains(0L), s2.toString)
    intercept[IllegalArgumentException] {
      Similarity.kCenterBatch(pts, "vec_id", "embedding", 3, 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.kCenterBatch(pts.filter($"vec_id" < 0), "vec_id",
        "embedding", 2, 8)
    }
  }

  test("kCenterAssign: nearest-center census, tie to lower rank, guards") {
    import spark.implicits._
    // the kCenterGreedy fixture's selection (0, 11, 5 on the line):
    // 1->c1 (0), 2->c1 (1), 3->c2 (1), 4->c2 (0), 5->c3 (0)
    val pts = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(10f, 0f)),
      (4L, Seq(11f, 0f)), (5L, Seq(5f, 0f))).toDF("vec_id", "embedding")
    val centers = Seq((1L, 1L, Seq(0f, 0f)), (2L, 4L, Seq(11f, 0f)),
      (3L, 5L, Seq(5f, 0f)))
    val got = Similarity.kCenterAssign(pts, "vec_id", "embedding", centers)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 1L, 2L, 1L << 30),
      (2L, 4L, 2L, 1L << 30),
      (3L, 5L, 1L, 0L)), got.toString)
    // equidistant points resolve to the LOWER pick rank
    val tiePts = Seq((9L, Seq(2f))).toDF("vec_id", "embedding")
    val tie = Similarity.kCenterAssign(tiePts, "vec_id", "embedding",
        Seq((1L, 100L, Seq(0f)), (2L, 200L, Seq(4f))))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(tie == Seq((1L, 100L, 1L, 4L << 30)), tie.toString)
    intercept[IllegalArgumentException] {
      Similarity.kCenterAssign(pts, "vec_id", "embedding", Nil)
    }
    intercept[IllegalArgumentException] {
      Similarity.kCenterAssign(pts, "vec_id", "embedding",
        Seq((1L, 1L, Seq(0f)), (1L, 2L, Seq(1f))))
    }
  }
}
