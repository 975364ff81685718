package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Stage

/** Unigram-LM (SentencePiece-style) tokenizer trainer — the other major
  * subword algorithm beside the BPE family ([[TextStats]] x38–x38d, x68):
  * Kudo 2018 ("Subword Regularization", arXiv:1804.10959) trains a
  * unigram language model over a seed vocabulary by EM and prunes it to
  * the target size; segmentation is the Viterbi path under the trained
  * piece probabilities.
  *
  * This is the DETERMINISTIC, oracle-replayable core of that algorithm
  * (the x35/x59 integer-exactness discipline applied to EM):
  *
  *  - **Scores are integer Q8 log₂ probabilities.** True log-probs are
  *    transcendental (libm last-ulp differences across engines — the
  *    zipfQuality problem); here `score(p) = log2q8(cnt(p)) −
  *    log2q8(total)` with [[log2q8]] an EXACT shift-and-square integer
  *    log (floor(log₂(x)·2⁸)): bit length via `bin()`, 8 squaring
  *    refinement steps, all in longs — bit-identical in any engine.
  *  - **Hard (Viterbi) EM.** The E-step segments each distinct word by
  *    the max-score path under the current scores (dp over the word
  *    lattice; ties → smallest split point j, i.e. the longest final
  *    piece) and counts pieces weighted by word frequency; the M-step
  *    rebuilds scores from the counts. Hard EM keeps every statistic an
  *    integer count — no fractional posteriors to drift cross-engine —
  *    and is the standard deterministic reduction of SentencePiece's
  *    full EM (whose final Viterbi segmenter this exactly matches).
  *  - **Required-character floor.** Single-character pieces are never
  *    dropped (SentencePiece's required-chars rule — coverage must stay
  *    total); a char whose Viterbi count falls to zero floors at count
  *    1, so every word stays segmentable in every round.
  *  - **Prune.** After the EM rounds the vocabulary cuts to the target
  *    size: all single chars plus the top multi-char pieces by
  *    (count desc, piece asc) — the TakeOrdered boundary convention.
  *
  * Scale shape: the corpus text is touched ONCE (the word-frequency
  * shuffle); every EM round then works on the DISTINCT-WORD table —
  * segmentation is a zero-exchange projection over it (the trained
  * scores fold in as a bounded map literal, the trainTokenVocab
  * convention, under a loud `maxVocabLiteral` ceiling) and the piece
  * count is one piece-key shuffle with map-side partials. Only (piece,
  * count) pairs — never text, never per-occurrence rows — reach the
  * driver, bounded by the ceiling. This mirrors how SentencePiece itself
  * trains (on a word-frequency table, not raw text).
  *
  * Reference provenance: the reference has no tokenizer; this extends the
  * LLM-pipeline surface beside the BPE family for the same reason
  * (dug_helpers/dug_utils.py tokenizes with simple splits only).
  */
object Unigram {

  /** Unreachable-state sentinel for the Viterbi dp: far below any real
    * score sum, far above long-overflow range when one more (negative)
    * piece score lands on it. */
  private final val NegInf = -(1L << 60)

  /** floor(log₂(x) · 2⁸) for x ≥ 1, in EXACT integer arithmetic:
    * `e = bitlength(x) − 1` (via `bin()` — the zipfQuality move), the
    * mantissa normalizes to Q8 in [256, 512), then 8 shift-and-square
    * refinement steps extract one fractional bit each. Every step is a
    * long multiply ≤ 511² and a shift — deterministic in any engine; the
    * DuckDB oracle unrolls the same 8 steps. Domain: 1 ≤ x < 2⁵⁵ (the
    * ×2⁸ normalization must not overflow; counts at any realistic corpus
    * scale sit far below). */
  def log2q8(x: Column): Column = {
    val xl = x.cast("long")
    val e = (length(bin(xl)) - 1).cast("int")
    val m0 = call_function("shiftright",
      call_function("shiftleft", xl, lit(8)), e)
    val folded = aggregate(
      sequence(lit(1), lit(8)),
      struct(m0.as("m"), lit(0L).as("a")),
      (acc, _) => {
        val md = call_function("shiftright",
          acc.getField("m") * acc.getField("m"), lit(8))
        val hi = md >= 512L
        struct(
          when(hi, call_function("shiftright", md, lit(1))).otherwise(md).as("m"),
          (acc.getField("a") * 2L + when(hi, 1L).otherwise(0L)).as("a"))
      })
    e.cast("long") * 256L + folded.getField("a")
  }

  /** Driver twin of [[log2q8]] — the same integer algorithm in Scala, so
    * score maps built on the driver and score columns built in-plan can
    * only agree (ExtSpec pins the parity over a value sweep). */
  def log2q8Long(x: Long): Long = {
    require(x >= 1 && x < (1L << 55), s"log2q8 domain is [1, 2^55): $x")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    var m = (x << 8) >> e
    var a = 0L
    var i = 0
    while (i < 8) {
      m = (m * m) >> 8
      if (m >= 512L) { m >>= 1; a = a * 2 + 1 } else a = a * 2
      i += 1
    }
    e.toLong * 256L + a
  }

  /** Distinct-word frequency table of a text column: whitespace tokens of
    * the trimmed text, each TRUNCATED to `maxWordLen` characters (the dp
    * below is O(len · maxPieceLen) per word — the truncation is the loud,
    * documented bound that keeps a pathological megabyte "word" from
    * owning a task; 24 covers real vocabulary in space-delimited
    * languages). Returns (word, wcnt) — the corpus' only text pass. */
  def wordCounts(df: DataFrame, textCol: String, maxWordLen: Int): DataFrame = {
    require(maxWordLen >= 1, "maxWordLen must be >= 1")
    df.filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(explode(split(TextStats.wsTrim(col(textCol)), "\\s+")).as("_ug_w"))
      .filter(col("_ug_w") =!= "")
      .select(substring(col("_ug_w"), 1, maxWordLen).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
  }

  /** Occurrence counts of every substring of length 1..maxPieceLen over a
    * (word, wcnt) table, overlaps included, weighted by word frequency —
    * the seed-vocabulary statistic (SentencePiece seeds from frequent
    * substrings; this is the exhaustive bounded-length form). One
    * piece-key shuffle; the explode fan-out is ≤ len·maxPieceLen rows per
    * distinct word. Returns (piece, cnt). */
  def substringCounts(words: DataFrame, maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    words
      .select(col("wcnt"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))),
        i => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + 1)),
          l => substr(col("word"), i, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
  }

  /** Viterbi dp over one word under a LITERAL score map (piece →
    * score_q8, ≤ maxVocabLiteral entries — the trainTokenVocab bounded-
    * literal convention): dp[i] = best score of any segmentation of the
    * first i characters, dp[i] = max over j ∈ [i−maxPieceLen, i−1] of
    * dp[j] + score(word[j+1..i]); ties take the SMALLEST j (the longest
    * final piece) — `array_max` over (s, −j) structs, the exact rule the
    * oracle's `ORDER BY s DESC, j ASC` row_number replays. Returns the
    * dp as an array<struct<s,j>> column of length len+1 (index = prefix
    * length, 1-based array positions; j is the chosen split point). A
    * pure projection — no shuffle, no UDF. */
  def viterbiDp(word: Column, scores: Map[String, Long],
                maxPieceLen: Int): Column = {
    require(scores.nonEmpty, "viterbiDp needs a non-empty score map")
    val mlit = typedlit(scores)
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("s"), lit(-1).as("j"))),
      (acc, i) => {
        val cands = transform(
          sequence(greatest(lit(0), i - maxPieceLen), i - 1),
          j => {
            val sc = try_element_at(mlit, substr(word, j + 1, i - j))
            struct(
              when(sc.isNotNull &&
                   element_at(acc, j + 1).getField("s") > NegInf,
                  element_at(acc, j + 1).getField("s") + sc)
                .otherwise(lit(NegInf)).as("s"),
              (-j).as("nj"))
          })
        val best = array_max(cands)
        concat(acc, array(struct(best.getField("s").as("s"),
          (-best.getField("nj")).as("j"))))
      })
  }

  /** Back-walk a [[viterbiDp]] array into the piece sequence: from
    * pos = len, repeatedly cut at dp[pos].j. The fold runs a fixed
    * `length(word)` iterations (an already-finished walk no-ops), so the
    * expression stays a bounded pure projection. Returns array<string>
    * in reading order. Words whose dp end state is unreachable (can't
    * happen under the required-character floor — every single char
    * scores) return an empty array rather than corrupt pieces. */
  def viterbiPieces(word: Column, dp: Column): Column = {
    val walked = aggregate(
      sequence(lit(1), length(word)),
      struct(length(word).as("pos"), typedlit(Seq.empty[String]).as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val j = element_at(dp, pos + 1).getField("j")
        when(pos > 0,
          struct(j.as("pos"),
            concat(array(substr(word, j + 1, pos - j)),
              acc.getField("ps")).as("ps")))
          .otherwise(acc)
      })
    when(element_at(dp, length(word) + 1).getField("s") > NegInf,
      walked.getField("ps")).otherwise(typedlit(Seq.empty[String]))
  }

  /** One E-step: segment the distinct-word table under `scores` and count
    * pieces weighted by word frequency. The dp materializes into its own
    * column first so the back-walk reads it once per row (not once per
    * fold step). Zero-exchange segmentation + ONE piece-key shuffle.
    * Returns (piece, cnt). */
  def emPieceCounts(words: DataFrame, scores: Map[String, Long],
                    maxPieceLen: Int): DataFrame =
    words
      .withColumn("_ug_dp", viterbiDp(col("word"), scores, maxPieceLen))
      .select(col("wcnt"),
        explode(viterbiPieces(col("word"), col("_ug_dp"))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))

  /** Train: seed → `emRounds` hard-EM rounds → prune to `vocabSize`.
    * Returns the final vocabulary as (piece, n, score_q8) — n the final
    * round's Viterbi count (char floor applied), score_q8 the Q8 log₂
    * probability against the final vocabulary total — computed IN-PLAN
    * from the last E-step aggregation (the returned frame re-derives
    * counts and scores from the corpus; only bounded (piece, count)
    * pairs ever reach the driver, under the loud `maxVocabLiteral`
    * ceiling — the literal-segmenter regime; a 50k-vocab data-driven
    * segmenter would follow the tokenIdsJoin join form).
    *
    * `vocabSize` must cover the single-char inventory (required chars
    * are never pruned); the multi-char budget is `vocabSize − nChars`. */
  def unigramTrain(df: DataFrame, textCol: String, maxPieceLen: Int,
                   maxWordLen: Int, nSeed: Int, emRounds: Int,
                   vocabSize: Int, maxVocabLiteral: Int = 4096): DataFrame = {
    require(nSeed >= 1, "nSeed must be >= 1")
    require(emRounds >= 1, "emRounds must be >= 1")
    require(vocabSize >= 1, "vocabSize must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // stage the word table once (the unigramTrainJoin/wordPieceTrain
    // discipline): the seed collects, every EM round's E-step, and the
    // final count pass all consume it — lazily each would re-run the
    // full-corpus word aggregation (emRounds+3 corpus scans)
    val words = Stage(wordCounts(df, textCol, maxWordLen))
    val subs = substringCounts(words, maxPieceLen)

    def ceilingChecked(m: Map[String, Long], stage: String): Map[String, Long] = {
      require(m.size <= maxVocabLiteral,
        s"unigram $stage vocabulary has ${m.size} pieces " +
          s"(> maxVocabLiteral = $maxVocabLiteral): lower nSeed/maxPieceLen " +
          s"or raise the ceiling explicitly — the Viterbi segmenter folds " +
          s"the vocabulary into the plan as a map literal")
      m
    }
    def scoresOf(counts: Map[String, Long]): Map[String, Long] = {
      var total = 0L
      counts.valuesIterator.foreach(c => total = Math.addExact(total, c))
      val lt = log2q8Long(total)
      counts.map { case (p, c) => p -> (log2q8Long(c) - lt) }
    }

    // seed: top-nSeed substrings by (cnt desc, piece asc) ∪ ALL single
    // chars (required-character coverage); bounded collects
    val seedTop = subs.orderBy(col("cnt").desc, col("piece")).limit(nSeed)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val charCounts = subs.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(charCounts.nonEmpty, "unigram training needs a non-empty corpus")
    val seedCounts = ceilingChecked(charCounts ++ seedTop.toMap, "seed")

    // hard-EM rounds 1..emRounds-1 drive the driver-side score map; the
    // FINAL round's counts stay a DataFrame so the returned plan computes
    // the real output from the corpus
    var scores = scoresOf(seedCounts)
    for (_ <- 1 until emRounds) {
      val cnts = emPieceCounts(words, scores, maxPieceLen)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val floored = charCounts.map { case (c, _) => c -> cnts.getOrElse(c, 1L) }
      scores = scoresOf(ceilingChecked(
        floored ++ cnts.filter(_._1.length > 1), s"EM round"))
    }
    val nChars = charCounts.size
    require(vocabSize >= nChars,
      s"vocabSize = $vocabSize must cover the $nChars required single " +
        "chars (they are never pruned)")
    val last = emPieceCounts(words, scores, maxPieceLen)
    // char floor as a frame op: every inventory char appears with
    // max(count, 1) — the same rule the driver rounds applied
    val charFrame = charCounts.keys.toSeq.sorted.toDF("piece")
    val chars = charFrame
      .join(last, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(1L)).as("n"))
    val multi = last.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(vocabSize - nChars)
      .select(col("piece"), col("cnt").as("n"))
    val fin = chars.unionByName(multi)
    val total = fin.agg(sum(col("n")).cast("decimal(38,0)").as("_ug_t"))
    fin.join(broadcast(total))
      .select(col("piece"), col("n"),
        (log2q8(col("n")) - log2q8(col("_ug_t"))).as("score_q8"))
  }

  /** Deploy path: segment a corpus with a TRAINED vocabulary — (id,
    * pieces). The score map is the bounded literal the trainer's ceiling
    * guarantees; segmentation is a zero-exchange projection (the x38d
    * encode discipline). Words longer than `maxWordLen` truncate exactly
    * as in training. */
  def segment(df: DataFrame, textCol: String, idCol: String,
              scores: Map[String, Long], maxPieceLen: Int,
              maxWordLen: Int): DataFrame = {
    Seq("_ug_w", "_ug_dp", "pieces").foreach { c =>
      require(c != idCol, s"Unigram.segment reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"Unigram.segment reserves column $c")
    }
    df.select(col(idCol),
        explode(split(TextStats.wsTrim(coalesce(col(textCol), lit(""))),
          "\\s+")).as("_ug_w"))
      .filter(col("_ug_w") =!= "")
      .select(col(idCol), substring(col("_ug_w"), 1, maxWordLen).as("_ug_w"))
      .withColumn("_ug_dp", viterbiDp(col("_ug_w"), scores, maxPieceLen))
      .select(col(idCol),
        viterbiPieces(col("_ug_w"), col("_ug_dp")).as("pieces"))
  }

  /** Unigram-LM DOCUMENT scoring — the CCNet-style LM-quality signal
    * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data" — docs rank by LM perplexity) with
    * the TRAINED unigram vocabulary as the LM: each document's words
    * (truncated exactly as in training) segment by Viterbi under
    * `scores`, and the document's total code length is the negated sum
    * of its words' best-path Q8 log₂ probabilities. Returns per doc:
    *
    *  - `n_words` — segmentable words (multiplicity counted)
    *  - `n_oov`   — words NO segmentation covers (possible only when a
    *    doc holds characters outside the training inventory; such words
    *    are excluded from every other statistic — 0 when scoring the
    *    training corpus, which the required-char floor guarantees)
    *  - `n_pieces` — total Viterbi pieces across segmentable words
    *  - `bits_q8` — Σ −pathScore: the document's code length in Q8 bits
    *  - `bpp_q8` — bits_q8 div n_pieces (floor; operands non-negative so
    *    floor = truncate in any engine) — bits-per-piece, the integer
    *    perplexity proxy (perplexity = 2^(bpp_q8/256)); null when the
    *    doc has no segmentable words
    *
    * Docs with no words at all (null/blank text) are absent — no LM
    * evidence either way. All five outputs are exact integers, so the
    * oracle replays the whole pipeline (x74b).
    *
    * Scale shape: ONE (id, word) text pass + count; the Viterbi dp runs
    * once per DISTINCT word (zero-exchange projection over the
    * distinct-word table — document text never carries through the dp)
    * and joins back on the word key; the final agg is id-keyed with
    * map-side partials. */
  def scoreDocs(df: DataFrame, textCol: String, idCol: String,
                scores: Map[String, Long], maxPieceLen: Int,
                maxWordLen: Int): DataFrame = {
    Seq("_ug_w", "_ug_dp", "_ug_dc", "_ug_ws", "_ug_np", "word",
        "n_words", "n_oov", "n_pieces", "bits_q8", "bpp_q8").foreach { c =>
      require(c != idCol, s"Unigram.scoreDocs reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"Unigram.scoreDocs reserves column $c")
    }
    val docWords = df.select(col(idCol),
        explode(split(TextStats.wsTrim(coalesce(col(textCol), lit(""))),
          "\\s+")).as("_ug_w"))
      .filter(col("_ug_w") =!= "")
      .select(col(idCol), substring(col("_ug_w"), 1, maxWordLen).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("_ug_dc"))
    val wordStats = docWords.select(col("word")).distinct()
      .withColumn("_ug_dp", viterbiDp(col("word"), scores, maxPieceLen))
      .select(col("word"),
        element_at(col("_ug_dp"), length(col("word")) + 1)
          .getField("s").as("_ug_ws"),
        size(viterbiPieces(col("word"), col("_ug_dp")))
          .cast("long").as("_ug_np"))
    scoreRollup(docWords, wordStats, idCol)
  }

  /** Shared per-doc roll-up of [[scoreDocs]]/[[scoreDocsJoin]]: join the
    * per-doc word multiset to the per-distinct-word stats and aggregate
    * to the five exact integer outputs. */
  private def scoreRollup(docWords: DataFrame, wordStats: DataFrame,
                          idCol: String): DataFrame = {
    val ok = col("_ug_ws") > NegInf
    docWords.join(wordStats, "word")
      .groupBy(col(idCol))
      .agg(
        coalesce(sum(when(ok, col("_ug_dc"))), lit(0L)).as("n_words"),
        coalesce(sum(when(!ok, col("_ug_dc"))), lit(0L)).as("n_oov"),
        coalesce(sum(when(ok, col("_ug_dc") * col("_ug_np"))), lit(0L))
          .as("n_pieces"),
        coalesce(sum(when(ok, -col("_ug_dc") * col("_ug_ws"))), lit(0L))
          .as("bits_q8"))
      .withColumn("bpp_q8",
        when(col("n_pieces") > 0, expr("bits_q8 div n_pieces")))
  }

  /** Candidate-edge Viterbi dp — [[viterbiDp]] with the vocabulary as
    * DATA instead of a plan literal: `edges` is the word's in-vocabulary
    * substring edges as array<struct<i:int,j:int,s:long>> (piece =
    * word[j+1..i] scored s). dp[i] maximizes over the edges ENDING at i;
    * positions no edge reaches (or reachable only through dead states)
    * hold the NegInf sentinel with a frozen back-pointer. Bit-parity with
    * the literal dp is exact: out-of-vocabulary (j, i) pairs score NegInf
    * in BOTH forms, and dead-state back-pointers are unobservable — the
    * back-walk only runs when the end state is reachable, and a reachable
    * path traverses reachable states only, whose (s, smallest-j) choices
    * the two forms share. */
  private def viterbiDpFromEdges(word: Column, edges: Column): Column =
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("s"), lit(-1).as("j"))),
      (acc, i) => {
        val cands = transform(
          filter(edges, e => e.getField("i") === i),
          e => struct(
            when(element_at(acc, e.getField("j") + 1).getField("s") > NegInf,
                element_at(acc, e.getField("j") + 1).getField("s") +
                  e.getField("s"))
              .otherwise(lit(NegInf)).as("s"),
            (-e.getField("j")).as("nj")))
        val best = coalesce(array_max(cands),
          struct(lit(NegInf).as("s"), lit(1).as("nj")))
        concat(acc, array(struct(best.getField("s").as("s"),
          (-best.getField("nj")).as("j"))))
      })

  /** Substring-edge table of a (word, …) frame under a vocabulary
    * DataFrame: every (start j, end i) window of every word whose piece
    * is IN the vocabulary, as (word, _ug_edges) with the edge list
    * sorted — the input to [[viterbiDpFromEdges]]. One explode
    * (≤ len·maxPieceLen rows per word) + one broadcast equi-join +
    * one word-keyed agg. Words whose every window misses drop out —
    * callers that must see them (oov accounting) LEFT-join back. */
  private def wordEdges(words: DataFrame, vocab: DataFrame,
                        maxPieceLen: Int): DataFrame = {
    val windows = transform(sequence(lit(0), length(col("word")) - 1), j =>
      transform(
        sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - j)),
        l => struct(j.cast("int").as("j"), (j + l).cast("int").as("i"),
          substr(col("word"), j + 1, l).as("piece"))))
    words.select(col("word"))
      .select(col("word"), explode(flatten(windows)).as("_ug_e"))
      .select(col("word"), col("_ug_e.j").as("j"), col("_ug_e.i").as("i"),
        col("_ug_e.piece").as("piece"))
      .join(broadcast(vocab.select(col("piece"),
        col("score_q8").cast("long").as("_ug_s"))), "piece")
      .groupBy(col("word"))
      .agg(array_sort(collect_list(
        struct(col("i"), col("j"), col("_ug_s").as("s")))).as("_ug_edges"))
  }

  /** [[emPieceCounts]] with the vocabulary as DATA — the E-step of the
    * join-form trainer: segment the distinct-word table under a (piece,
    * score_q8) DataFrame via the edge join + edge-list dp and count
    * pieces weighted by word frequency. Words with no in-vocabulary
    * segmentation contribute nothing — exactly the literal E-step's
    * behavior (unreachable dp → empty piece list → no rows), so the two
    * forms' counts are bit-identical. */
  def emPieceCountsJoin(words: DataFrame, vocab: DataFrame,
                        maxPieceLen: Int): DataFrame =
    words.join(wordEdges(words, vocab, maxPieceLen), "word")
      .withColumn("_ug_dp", viterbiDpFromEdges(col("word"), col("_ug_edges")))
      .select(col("wcnt"),
        explode(viterbiPieces(col("word"), col("_ug_dp"))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))

  /** Q8 log-prob scores of a (piece, cnt) vocabulary frame — the M-step,
    * in-plan: score = log2q8(cnt) − log2q8(Σcnt), the total met by a
    * broadcast join (one row). Returns (piece, cnt, score_q8). */
  private def scoresOfDf(counts: DataFrame): DataFrame = {
    val total = counts.agg(sum(col("cnt")).cast("long").as("_ug_t"))
    counts.join(broadcast(total))
      .select(col("piece"), col("cnt"),
        (log2q8(col("cnt")) - log2q8(col("_ug_t"))).as("score_q8"))
  }

  /** [[unigramTrain]] on the fully DATA-DRIVEN path — no `maxVocabLiteral`
    * ceiling, no driver collect of counts or scores: the seed cut is a
    * TakeOrdered frame, every E-step segments via the edge join
    * ([[emPieceCountsJoin]]), every M-step scores in-plan
    * ([[scoresOfDf]]), and each round's vocabulary STAGES to parquet (the
    * kMeansTrain stage-per-iteration move) so lineage stays flat across
    * rounds. The only driver scalar is the required-char census
    * (`chars.count()` — one long, the loud vocabSize-coverage check).
    * Bit-parity with [[unigramTrain]] is exact — same seed tie rule, same
    * Viterbi tie rule (shared dp semantics), same floors and prune — so
    * x74d answers x74's oracle verbatim. This is the production form for
    * 32k–50k vocabularies; the literal trainer remains the small-vocab
    * fast path. Returns (piece, n, score_q8). */
  def unigramTrainJoin(df: DataFrame, textCol: String, maxPieceLen: Int,
                       maxWordLen: Int, nSeed: Int, emRounds: Int,
                       vocabSize: Int): DataFrame = {
    require(nSeed >= 1, "nSeed must be >= 1")
    require(emRounds >= 1, "emRounds must be >= 1")
    require(vocabSize >= 1, "vocabSize must be >= 1")
    val words = Stage(wordCounts(df, textCol, maxWordLen))
    val subs = substringCounts(words, maxPieceLen)
    val chars = subs.filter(length(col("piece")) === 1)
    val nChars = chars.count()
    require(nChars > 0, "unigram training needs a non-empty corpus")
    require(vocabSize >= nChars,
      s"vocabSize = $vocabSize must cover the $nChars required single " +
        "chars (they are never pruned)")
    // seed = top-nSeed substrings by (cnt desc, piece asc) ∪ all single
    // chars — the literal trainer's seed, as a TakeOrdered frame
    val seedTop = subs.orderBy(col("cnt").desc, col("piece")).limit(nSeed)
    val v0 = chars.unionByName(seedTop).groupBy(col("piece"))
      .agg(max(col("cnt")).as("cnt")) // distinct (chars ∩ seedTop agree on cnt)
    var vocab = Stage(scoresOfDf(v0))
    for (_ <- 1 until emRounds) {
      val cnts = emPieceCountsJoin(words, vocab, maxPieceLen)
      val floored = chars.select(col("piece"))
        .join(cnts, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(1L)).as("cnt"))
        .unionByName(cnts.filter(length(col("piece")) > 1))
      vocab = Stage(scoresOfDf(floored))
    }
    val last = emPieceCountsJoin(words, vocab, maxPieceLen)
    val charsFin = chars.select(col("piece"))
      .join(last, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("cnt"), lit(1L)).as("n"))
    val multi = last.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(vocabSize - nChars.toInt)
      .select(col("piece"), col("cnt").as("n"))
    val fin = charsFin.unionByName(multi)
    val total = fin.agg(sum(col("n")).cast("decimal(38,0)").as("_ug_t"))
    fin.join(broadcast(total))
      .select(col("piece"), col("n"),
        (log2q8(col("n")) - log2q8(col("_ug_t"))).as("score_q8"))
  }

  /** [[scoreDocs]] on the DATA-DRIVEN segmentation path — the x38d
    * tokenIdsJoin move applied to the unigram segmenter, for vocabularies
    * past the literal ceiling (a production SentencePiece vocab is
    * 32k–50k pieces; `maxVocabLiteral` exists because the literal dp
    * folds O(vocab) map entries into the plan). The vocabulary arrives as
    * a DataFrame (piece, score_q8): each distinct word explodes into its
    * ≤ len·maxPieceLen candidate substrings ONCE, an equi-join against
    * the vocabulary keeps the in-vocabulary edges (broadcast at any
    * realistic vocab size), and the dp folds over the collected edge
    * list — plan size independent of the vocabulary, no driver collect
    * anywhere (train → deploy stays on the cluster end to end).
    * Output and semantics are [[scoreDocs]]'s, bit for bit (x74c answers
    * x74b's oracle verbatim; ExtSpec pins parity on both paths). */
  def scoreDocsJoin(df: DataFrame, textCol: String, idCol: String,
                    vocab: DataFrame, maxPieceLen: Int,
                    maxWordLen: Int): DataFrame = {
    Seq("_ug_w", "_ug_dp", "_ug_dc", "_ug_ws", "_ug_np", "_ug_e",
        "_ug_edges", "_ug_s", "word",
        "n_words", "n_oov", "n_pieces", "bits_q8", "bpp_q8").foreach { c =>
      require(c != idCol, s"Unigram.scoreDocsJoin reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"Unigram.scoreDocsJoin reserves column $c")
    }
    require(vocab.columns.contains("piece") && vocab.columns.contains("score_q8"),
      s"vocab must carry (piece, score_q8); got ${vocab.columns.mkString(",")}")
    val docWords = df.select(col(idCol),
        explode(split(TextStats.wsTrim(coalesce(col(textCol), lit(""))),
          "\\s+")).as("_ug_w"))
      .filter(col("_ug_w") =!= "")
      .select(col(idCol), substring(col("_ug_w"), 1, maxWordLen).as("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("_ug_dc"))
    val allWords = docWords.select(col("word")).distinct()
    // the SAME edge construction the join-form trainer's E-step uses —
    // one definition, so the trainer and the deploy-path segmenter can
    // never desynchronize on window bounds or score casts
    val edges = wordEdges(allWords, vocab, maxPieceLen)
    // LEFT join back: a word with NO in-vocabulary substring at all (every
    // window missed the join) still needs a dp — an empty edge list drives
    // every position to the NegInf sentinel, so it lands in n_oov exactly
    // like the literal path's all-misses dp
    val wordStats = allWords.join(edges, Seq("word"), "left")
      .withColumn("_ug_edges", coalesce(col("_ug_edges"),
        expr("cast(array() as array<struct<i:int,j:int,s:bigint>>)")))
      .withColumn("_ug_dp", viterbiDpFromEdges(col("word"), col("_ug_edges")))
      .select(col("word"),
        element_at(col("_ug_dp"), length(col("word")) + 1)
          .getField("s").as("_ug_ws"),
        size(viterbiPieces(col("word"), col("_ug_dp")))
          .cast("long").as("_ug_np"))
    scoreRollup(docWords, wordStats, idCol)
  }
}
