package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Stage

/** One row of a BPE merge table: at `merge_rank` the pair (a, b) — the
  * corpus's most frequent adjacent token pair at that round, `n`
  * occurrences — merged into a single token. */
case class BpeMerge(merge_rank: Int, a: String, b: String, n: Long)

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language-ID heuristics, document fingerprinting.
  * All pure column expressions (codegen'd, shuffle-free projections).
  */
object TextStats {

  /** Strip ALL edge whitespace. Spark's `trim()` removes the space
    * character (0x20) only, so tab/newline-edged text would leave
    * `split("\\s+")` with phantom empty edge tokens (`"a b\t"` splits to
    * a third, empty token — split keeps edge empties) — the PropertySpec
    * BPE mass invariant caught exactly this on `\t`-padded generator
    * docs. Every tokenizing operator in this catalog trims with this;
    * the DuckDB oracles replicate it as
    * `regexp_replace(text, '^\s+|\s+$', '', 'g')`. (Pre-existing caveat,
    * unchanged by this helper: Java's `\s` includes `\x0B`, RE2's does
    * not — parity holds for the [ \t\n\f\r] whitespace class.) */
  def wsTrim(text: Column): Column =
    regexp_replace(text, "^\\s+|\\s+$", "")

  /** Per-document character-distribution Shannon entropy in exact Q8
    * bits — the random-bytes / gibberish / base64-blob detector beside
    * the Gopher ratios (x25) and zipf slope (x40): natural text sits
    * near its language's ~4.1-bit character entropy, encoded blobs near
    * 6, single-character runs near 0. All integer: with per-doc char
    * counts c and n = Σc,
    * `ent_q8 = (n·log2q8(n) − Σ c·log2q8(c)) div n` — the exact Q8 form
    * of H = Σ (c/n)·log₂(n/c), floor-divided once at the end, so any
    * engine replays it bit-for-bit ([[graft.ext.Unigram.log2q8]]).
    *
    * Chars split by the zero-width `(?!^)` regex (character-exact for
    * BMP text; the corpus contract is ASCII/BMP — a surrogate pair
    * would split into halves in UTF-16 engines). Docs with NULL or
    * empty text are absent from the result (no distribution to
    * measure). Returns (idCol, n_chars_counted, ent_q8).
    *
    * Scale shape: one explode + ONE (id, char)-keyed map-side-combining
    * count + one id-keyed fold — only (id, char ≤ alphabet, count) rows
    * cross the exchange, the x34 vocab-count shape. */
  def charEntropyQ8(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Seq("_ce_ch", "_ce_c", "n_chars_counted", "ent_q8").foreach(c =>
      require(!df.columns.contains(c) || (c != idCol && c != textCol),
        s"charEntropyQ8 reserves column $c — rename it"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), "(?!^)")).as("_ce_ch"))
      .filter(col("_ce_ch") =!= "") // empty text explodes to one "" row
      .groupBy(col(idCol), col("_ce_ch"))
      .agg(count(lit(1)).as("_ce_c"))
      .groupBy(col(idCol))
      .agg(sum(col("_ce_c")).as("n_chars_counted"),
        sum(col("_ce_c") * Unigram.log2q8(col("_ce_c"))).as("_ce_sc"))
      .withColumn("_ce_ln", Unigram.log2q8(col("n_chars_counted")))
      .select(col(idCol), col("n_chars_counted"),
        expr("(n_chars_counted * _ce_ln - _ce_sc) div n_chars_counted")
          .as("ent_q8"))
  }

  /** Whitespace token count (0 for empty/blank text). */
  def tokenCount(text: Column): Column = {
    val t = wsTrim(text)
    when(t.isNull || t === "", lit(0))
      .otherwise(size(split(t, "\\s+")))
  }

  /** BPE-ish subword count: word chunks + digit runs + punctuation each
    * count as a token (regex approximation of a byte-pair tokenizer's
    * pre-tokenization). */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Punctuation-character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
        .cast("double") / length(text))

  /** Mean token length (chars per whitespace token). */
  def meanTokenLen(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "\\s+", "")).cast("double")
        / tokenCount(text))

  /** Stopword hit count for a given stopword list (distinct-token hits). */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(array_intersect(
      array_distinct(split(lower(wsTrim(text)), "\\s+")),
      array(stopwords.map(lit): _*)))

  /** Heuristic language ID: argmax of stopword-list hits across languages;
    * ties break toward the alphabetically-first language; zero-hit rows
    * fall back to "und" (undetermined). */
  def langIdHeuristic(text: Column, lists: Map[String, Seq[String]]): Column = {
    val toks = array_distinct(split(lower(wsTrim(text)), "\\s+"))
    val ordered = lists.toSeq.sortBy(_._1)
    // max over struct<hits, pref, lang>: hits first, then pref (higher =
    // alphabetically earlier) so ties resolve deterministically
    val scored = array(ordered.zipWithIndex.map { case ((lang, words), idx) =>
      struct(size(array_intersect(toks, array(words.map(lit): _*))).as("hits"),
        lit(ordered.size - idx).as("pref"),
        lit(lang).as("lang"))
    }: _*)
    val best = array_max(filter(scored, s => s("hits") > 0))
    coalesce(best("lang"), lit("und"))
  }

  /** Composite quality score in [0,1]: penalize very short docs, extreme
    * punctuation, and degenerate mean token length. Weights are explicit
    * constants so the score is reproducible in any engine. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 20.0, lit(1.0))
    val punctScore = greatest(lit(1.0) - punctRatio(text) * 4.0, lit(0.0))
    val tokLen = meanTokenLen(text)
    val tokScore = when(tokLen >= 3.0 && tokLen <= 10.0, 1.0).otherwise(0.5)
    round(lenScore * 0.5 + punctScore * 0.3 + tokScore * 0.2, 6)
  }

  /** PII redaction pass (pretrain-curation staple): emails and NANP-style
    * phone numbers replaced with type tags. Pure regexp_replace chain —
    * codegen'd, RE2-compatible (no backreferences), engine-portable. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\(\\d{3}\\)[ .-]?\\d{3}[ .-]?\\d{4}", "<PHONE>")

  /** Multi-keyword topic tagging via a broadcast keyword TABLE — the
    * FlashText/Aho-Corasick use case (tag documents by which of many
    * thousands of keywords they contain) in its Spark-native form:
    * instead of a compiled trie, the keyword set is DATA — a (kw, tag)
    * DataFrame broadcast against the exploded lowercased token stream
    * (plan size independent of dictionary width, the tokenIdsJoin
    * discipline; several keywords may share a tag — synonym lists).
    * Matching is token-exact on lowercase; each doc reports its sorted
    * distinct tags pipe-joined (the P10 convention — engine-portable,
    * no array-compare ambiguity) and the tag count; unmatched docs keep
    * an empty tag string via the left join back. Scale shape: one
    * broadcast hash join on the token, one id-keyed distinct-tag
    * aggregation — the corpus never shuffles on anything but the id.
    * Returns (idCol, tags, n_tags). */
  def keywordTags(df: DataFrame, textCol: String, idCol: String,
                  keywords: DataFrame): DataFrame = {
    require(keywords.columns.toSet == Set("kw", "tag"),
      "keywords must have exactly (kw, tag)")
    Seq("_kt_tok", "_kt_tag", "tags", "n_tags").foreach { c =>
      require(c != idCol, s"keywordTags reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"keywordTags reserves column $c")
    }
    val toks = df
      .filter(col(textCol).isNotNull && wsTrim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(split(lower(wsTrim(col(textCol))), "\\s+")).as("_kt_tok"))
    val tagged = toks
      .join(broadcast(keywords.select(lower(col("kw")).as("_kt_tok"),
        col("tag").as("_kt_tag"))), Seq("_kt_tok"))
      .groupBy(col(idCol))
      .agg(array_join(array_sort(collect_set(col("_kt_tag"))), "|").as("tags"),
        size(collect_set(col("_kt_tag"))).cast("long").as("n_tags"))
    df.select(col(idCol))
      .join(tagged, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("tags"), lit("")).as("tags"),
        coalesce(col("n_tags"), lit(0L)).as("n_tags"))
  }

  /** Luhn checksum validity of a 16-digit card-number candidate (digits
    * possibly separated by spaces/dashes): strip non-digits, double every
    * other digit from the left (16-digit layout), fold >9 back by 9, sum
    * mod 10 == 0. Pure integer column arithmetic — no UDF — and
    * replayable in ANSI SQL, so redaction decisions hash-check. */
  def luhnValid16(cand: Column): Column = {
    val digs = regexp_replace(cand, "[^0-9]", "")
    val s = aggregate(transform(sequence(lit(1), lit(16)), i => {
      val d = ascii(digs.substr(i, lit(1))) - lit(48)
      when(i % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    }), lit(0), (acc, x) => acc + x)
    length(digs) === 16 && s % 10 === 0
  }

  /** Card-number redaction with Luhn VALIDATION — the "check before you
    * scrub" PII discipline: a bare 16-digit regex over-redacts (order
    * numbers, tracking ids, timestamps-run-together), so production
    * passes validate the checksum first and redact only genuine PANs.
    * Candidates are 16 digits in 4 groups (optional space/dash
    * separators, word-bounded); each candidate's Luhn check runs as pure
    * column arithmetic, and the valid ones fold through literal
    * `replace` calls (the bpeApplyMerge move — no regex rewrite of the
    * doc). Zero-exchange projection; invalid candidates are left
    * untouched, which IS the operator's point. */
  def redactCardNumbers(text: Column): Column = {
    val cands = regexp_extract_all(text,
      lit("\\b\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}\\b"), lit(0))
    aggregate(filter(cands, c => luhnValid16(c)), text,
      (acc, c) => replace(acc, c, lit("<CARD>")))
  }

  /** Gopher/C4-style repetition signal: fraction of sentence units that
    * repeat an earlier unit (0 = all distinct). Exact rational arithmetic
    * (int counts, one double division). */
  def duplicateSentenceFraction(text: Column, sepRegex: String = "\\. "): Column = {
    val units = split(wsTrim(text), sepRegex)
    lit(1.0) - size(array_distinct(units)).cast("double") / size(units)
  }

  /** Longest whitespace token (C4 drops docs with absurd max word len). */
  def maxTokenLen(text: Column): Column =
    array_max(transform(split(wsTrim(text), "\\s+"), t => length(t)))

  /** Unicode NFC normalization (native expression; see
    * graft.functions.NfcNormalize) — the first step of text canonicalization
    * for mixed-source corpora. */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.NfcNormalize(
        org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** Content-defined fingerprint: md5 of whitespace-normalized lowercase
    * text — the canonical-form digest used for near-exact dedup. The
    * normalization collapses whitespace runs FIRST and trims second
    * (the [[bpeNormalize]] composition), so tab/newline-edged text
    * fingerprints identically to its clean form. */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Hashed-feature linear quality model (the fastText-shaped scorer a
    * corpus-quality pass runs at scale): each token feature-hashes to one
    * of `weightsQ30.size` weight buckets via an md5 prefix (the engine-
    * portable hash this catalog standardizes on), and the document score
    * is the token-weight sum. Weights are Q30 fixed-point LONGS, so the
    * per-token lookups sum exactly in any order — the returned raw Q30
    * sum is bit-identical across engines (divide by 2³⁰ once for the
    * real-valued score). A pure per-row projection: tokenize → hash →
    * lookup → fold, zero shuffle, one codegen stage over the corpus.
    * Real deployments learn the weights offline (logistic regression over
    * hashed n-grams); the operator is agnostic to their origin — see
    * [[seededWeightsQ30]] for the deterministic test/oracle weights. */
  def hashedLinearScoreQ30(text: Column, weightsQ30: Seq[Long]): Column = {
    val n = weightsQ30.size
    require(n > 0 && n <= 256, "bucket count must fit the 2-hex-digit hash")
    val w = typedlit(weightsQ30)
    val terms = transform(split(wsTrim(text), "\\s+"), t =>
      element_at(w,
        (conv(substring(md5(t), 1, 2), 16, 10).cast("long") % n).cast("int") + 1))
    aggregate(terms, lit(0L), (acc, x) => acc + x)
  }

  /** Fused native form of [[hashedLinearScoreQ30]]: IDENTICAL results
    * (same md5-bucket hash, same exact long sums — the one DuckDB oracle
    * checks both), but one codegen'd call per row with a reused digest
    * and no per-token hex/array allocation
    * ([[graft.functions.HashedLinearScore]]). The form for the hot path;
    * the column composition above documents the portable semantics. */
  def hashedLinearScoreQ30Fast(text: Column, weightsQ30: Seq[Long]): Column =
    graft.functions.GraftFunctions.hashedScore(text, weightsQ30)

  /** Deterministic seeded Q30 weight vector (splitmix64 mix of seed+i,
    * top 30 bits recentred to [−2²⁹, 2²⁹)): the SINGLE source for both
    * the Spark plan literal and the oracle's VALUES table, like
    * Similarity.rhpPlanes. */
  def seededWeightsQ30(n: Int, seed: Long = 2026L): Seq[Long] =
    (0 until n).map { i =>
      var z = seed + i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      ((z ^ (z >>> 31)) >>> 34) - (1L << 29)
    }

  /** Zipf log-frequency quality score — the frequency-based document
    * scorer (the CCNet-style "LM" signal: common-token prose scores high,
    * gibberish and rare-token soup score low) in an INTEGER-EXACT
    * cross-engine form: each token contributes floor(log₂ corpus-count) =
    * length(bin(count))−1 bits (bit length is exact in any engine — no
    * transcendental log whose last ulp differs across libms), and the doc
    * score is bits/n_tok, a single IEEE division of two exact integers.
    *
    * Scale shape: the vocabulary is ONE token-key shuffle with a
    * TakeOrdered top-`vocabSize` cut (deterministic boundary: count desc,
    * token asc), then BROADCASTS against the exploded token stream —
    * out-of-vocabulary tokens floor to count 1 (0 bits), so the stream
    * never shuffles on the token key. Returns (id, n_tok, bits,
    * zipf_score); docs with no tokens are absent. */
  def zipfQuality(df: DataFrame, textCol: String, idCol: String,
                  vocabSize: Int = 1000): DataFrame = {
    val toks = df.select(col(idCol), explode(split(col(textCol), "\\s+")).as("_zq_tok"))
      .filter(col("_zq_tok") =!= "")
    val vocab = toks.groupBy(col("_zq_tok")).agg(count(lit(1)).as("_zq_cnt"))
      .orderBy(col("_zq_cnt").desc, col("_zq_tok")).limit(vocabSize)
    toks.join(broadcast(vocab), Seq("_zq_tok"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(length(bin(coalesce(col("_zq_cnt"), lit(1L)))) - 1)
          .cast("long").as("bits"))
      .withColumn("zipf_score", col("bits").cast("double") / col("n_tok"))
  }

  /** Gopher's remaining repetition rule (Rae et al. 2021 §A1.1): the
    * fraction of a document's characters covered by its MOST FREQUENT
    * word n-gram — boilerplate-looped and template-generated pages score
    * high where [[duplicateSentenceFraction]] (line-level) misses
    * sub-sentence repetition. Definition (the standard reimplementation
    * form): `frac = n_occ(top gram) · len(top gram) / len(text)`, with
    * occurrences counted over ALL sliding windows — overlaps included,
    * so the per-mille can exceed 1000 on degenerate token loops, which
    * is exactly the signal (a cap would erase it). Exact integer
    * cross-multiplied per-mille; ties break to the lexicographically
    * smallest gram; docs shorter than `n` tokens carry no windows and
    * are absent.
    *
    * Scale shape: one explode of full n-gram windows (the codegen'd
    * slice/zip form — no index lambda), ONE (id, gram)-keyed aggregation
    * with map-side partials, then a doc-partitioned top-1 window over
    * the per-doc distinct-gram frame. Text leaves the exchange only as
    * single grams. Returns (idCol, top_gram, n_occ, frac_permille). */
  def topNgramCharFraction(df: DataFrame, textCol: String, idCol: String,
                           n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, "n must be >= 1")
    Seq("_tg_len", "_tg_gram", "_tg_rn", "top_gram", "n_occ", "frac_permille")
      .foreach { c =>
        require(c != idCol, s"topNgramCharFraction reserves column $c — rename the id column")
        require(!df.columns.contains(c), s"topNgramCharFraction reserves column $c")
      }
    val t = wsTrim(col(textCol))
    val toks = split(t, "\\s+")
    // full windows only: slice length = size - n + 1 once size >= n
    val zipped = arrays_zip((0 until n).map(o =>
      slice(toks, lit(o + 1), size(toks) - (n - 1))): _*)
    val grams = transform(zipped, s =>
      concat_ws(" ", (0 until n).map(o => s.getField(o.toString)): _*))
    df.filter(col(textCol).isNotNull && size(split(wsTrim(col(textCol)), "\\s+")) >= n
        && wsTrim(col(textCol)) =!= "")
      .select(col(idCol), length(t).as("_tg_len"), explode(grams).as("_tg_gram"))
      .groupBy(col(idCol), col("_tg_len"), col("_tg_gram"))
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("_tg_rn", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("n_occ").desc, col("_tg_gram").asc)))
      .filter(col("_tg_rn") === 1)
      .select(col(idCol), col("_tg_gram").as("top_gram"),
        col("n_occ").cast("long").as("n_occ"),
        expr("cast((1000 * n_occ * length(_tg_gram)) div _tg_len as bigint)")
          .as("frac_permille"))
  }

  // ───────────────────────── BPE merge training ─────────────────────────

  /** Canonical whitespace form for the BPE rounds: runs of whitespace
    * collapse to ONE space, ends trimmed — so tokens are exactly the
    * space-separated fields and the literal-replace merge step (see
    * [[bpeApplyMerge]]) can reason about boundaries. */
  def bpeNormalize(text: Column): Column =
    trim(regexp_replace(text, "\\s+", " "))

  /** Character-level tokenization for char BPE (x68): [[bpeNormalize]],
    * mark word boundaries with '¤' (the SentencePiece '▁' move — merges
    * may absorb the boundary, which is how word-initial subwords form),
    * then put one space after every CHARACTER so the char stream feeds
    * the word-level trainer unchanged. The '(.)' split is PER CODE
    * POINT: java.util.regex and RE2 are both code-point automata, so
    * astral-plane text — emoji, CJK extensions, musical symbols —
    * charifies to whole characters and NEVER to lone UTF-16 surrogates
    * (PropertySpec pins the invariant against a driver-side code-point
    * replay; bpeNormalize has already collapsed the line terminators
    * that '.' would skip). */
  def charify(text: Column): Column =
    trim(regexp_replace(regexp_replace(bpeNormalize(text), " ", "¤"),
      "(.)", "$1 "))

  /** One BPE-training round's statistic: adjacent-token pair counts over a
    * [[bpeNormalize]]d text column, as (a, b, n) rows. Same scale shape as
    * the x34/x38 vocabulary passes: the pair stream is built with
    * slice/arrays_zip/explode (stays inside whole-stage codegen — a
    * transform() lambda would drop the stage to interpreted HOF eval), and
    * the count is ONE shuffle on the pair key whose map-side partials
    * absorb the Zipf head; a top-1 with orderBy(n desc, a, b).limit(1)
    * runs as TakeOrdered (per-partition heap + driver merge), never a
    * global sort — PlanSpec pins both. */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col("_bpe_toks")
    df.filter(col(textCol).isNotNull && col(textCol) =!= "")
      .select(split(col(textCol), " ").as("_bpe_toks"))
      .select(explode(arrays_zip(
        slice(t0, lit(1), size(t0) - 1),
        slice(t0, lit(2), size(t0) - 1))).as("_bpe_pq"))
      .select(col("_bpe_pq.0").as("a"), col("_bpe_pq.1").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
  }

  /** Apply ONE merge (a, b) → a+sep+b to a [[bpeNormalize]]d text column:
    * greedy LEFTMOST NON-OVERLAPPING occurrences, the standard BPE
    * application rule ("b b b" under merge (b,b) → "b·b b"). A pure
    * projection — zero shuffle — built from literal replace() only, so the
    * identical steps replay in ANSI SQL (no regex, no lookarounds, which
    * RE2-based engines lack):
    *  1. double every inter-token space and pad the ends — each token is
    *     now flanked by its OWN space on both sides;
    *  2. replace " a  b " with " a·b " — the literal scan is
    *     left-to-right non-overlapping, and the doubled boundaries make
    *     token identity exact (no partial-token matches) while adjacent
    *     occurrences keep a space to match on;
    *  3. collapse the double spaces back and trim.
    * `sep` must not occur inside corpus tokens (tie-breaks and later
    * rounds would conflate pre-existing text with merged tokens). */
  def bpeApplyMerge(text: Column, a: String, b: String, sep: String): Column = {
    val doubled = concat(lit(" "), replace(text, lit(" "), lit("  ")), lit(" "))
    val merged = replace(doubled,
      lit(" " + a + "  " + b + " "), lit(" " + a + sep + b + " "))
    trim(replace(merged, lit("  "), lit(" ")))
  }

  /** Iterative BPE merge trainer — the loop that turns the x38 pair-count
    * step into an actual tokenizer-training capability (the same way
    * Similarity.kMeansTrain closes the Lloyd loop over the assignment
    * step). Per round: count adjacent pairs ([[bpePairCounts]] — one
    * pair-key shuffle), take the most frequent pair with the DETERMINISTIC
    * tie-break (count desc, a asc, b asc — a TakeOrdered top-1, one bounded
    * row to the driver), apply it everywhere ([[bpeApplyMerge]] — a pure
    * projection), and re-count. Exact counts, no sampling; every round
    * replays bit-for-bit in ANSI SQL (the x38b oracle unrolls the rounds),
    * so even the training loop is hash-checked cross-engine.
    *
    * Returns the merge table — rank, pair, count at merge time — which IS
    * the trained artifact a BPE tokenizer ships. `n` is the ADJACENT-PAIR
    * count (overlapping occurrences included — the statistic BPE ranks
    * by); the greedy application replaces the non-overlapping subset, so
    * per-round token reduction is ≤ n. Rounds after the corpus
    * runs out of adjacent pairs stop early (short table).
    *
    * Scale: each round is one job over a lazy plan that re-derives the
    * current corpus from `nMerges`-deep replace chains; plans grow
    * linearly with the round count, so for deep runs (real tokenizers do
    * tens of thousands of merges) pass `stagePerIteration = true` to stage
    * each round's corpus to a unique temp parquet (JVM-exit cleanup, the
    * kMeansTrain/[[graft.ops.Stage]] contract) — constant plan size, one
    * text pass per round. */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
               sep: String = "\u0001",
               stagePerIteration: Boolean = false): Seq[BpeMerge] = {
    require(nMerges >= 1, "nMerges must be >= 1")
    val spark = df.sparkSession
    var cur = df.select(bpeNormalize(col(textCol)).as("_bpe_t"))
      .filter(col("_bpe_t") =!= "")
    val merges = Seq.newBuilder[BpeMerge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val top = bpePairCounts(cur, "_bpe_t")
        .orderBy(col("n").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += BpeMerge(rank, a, b, n)
        cur = cur.select(bpeApplyMerge(col("_bpe_t"), a, b, sep).as("_bpe_t"))
        if (stagePerIteration)
          cur = Stage(cur)
        rank += 1
      }
    }
    merges.result()
  }

  /** Apply a TRAINED merge table in rank order — the inference half of
    * the tokenizer ([[bpeTrain]] is the training half): normalized text
    * goes through each merge's greedy [[bpeApplyMerge]], rank by rank,
    * exactly the transformation training applied — so encoding the
    * training corpus reproduces training's final state (x38c pins this
    * through the oracle gate). Pure projection: a chain of |merges|
    * literal replaces, zero shuffle, one codegen stage. */
  def bpeEncode(text: Column, merges: Seq[BpeMerge],
                sep: String = "\u0001"): Column =
    merges.sortBy(_.merge_rank).foldLeft(bpeNormalize(text))(
      (t, m) => bpeApplyMerge(t, m.a, m.b, sep))

  /** The BPE-segmented token array: [[bpeEncode]] split on the single
    * (normalized) space. */
  def bpeSegment(text: Column, merges: Seq[BpeMerge],
                 sep: String = "\u0001"): Column =
    split(bpeEncode(text, merges, sep), " ")

  /** Trained token-id vocabulary over the BPE-SEGMENTED corpus: the top-n
    * tokens by (count desc, token asc), returned in rank order so ids are
    * 1..n (0 is reserved for OOV). One token-key shuffle + TakeOrdered
    * top-n; the returned Seq is the bounded trained artifact a tokenizer
    * ships (the PQ-codebook collect contract — n is the vocab-size knob,
    * never corpus-sized). */
  def trainTokenVocab(df: DataFrame, textCol: String, merges: Seq[BpeMerge],
                      n: Int, sep: String = "\u0001"): Seq[String] = {
    require(n >= 1 && n <= (1 << 20), s"vocab size $n outside [1, 2^20]")
    df.filter(col(textCol).isNotNull && bpeNormalize(col(textCol)) =!= "")
      .select(explode(bpeSegment(col(textCol), merges, sep)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(n)
      .select("tok").collect().map(_.getString(0)).toSeq
  }

  /** Token-id encoding — the tokenizer's FINAL stage (merges from
    * [[bpeTrain]], vocab from [[trainTokenVocab]]): BPE-segment and map
    * each token to its 1-based vocab rank, 0 for OOV. The vocab rides the
    * plan as a map literal (bounded trained artifact), so encoding is a
    * pure zero-exchange projection; `try_element_at` keeps the lookup
    * ANSI-safe. The lambda touches only its argument and the literal map
    * (no captured expression re-evaluation — the wordNgrams lesson). */
  def tokenIds(text: Column, merges: Seq[BpeMerge], vocab: Seq[String],
               sep: String = "\u0001"): Column = {
    val m = typedlit(vocab.zipWithIndex.map { case (t, i) => (t, i + 1) }.toMap)
    transform(bpeSegment(text, merges, sep),
      t => coalesce(try_element_at(m, t), lit(0)))
  }

  /** Token-id DECODING — the inference inverse every shipped tokenizer
    * pairs with [[tokenIds]]: map each id back to its vocab token
    * (1-based rank; 0/out-of-range ids decode to `oov`), join on the
    * normalized space, and undo the merge separators — so
    * `decodeTokenIds(tokenIds(t))` reproduces `bpeNormalize(t)` EXACTLY
    * whenever every token is in-vocab (ExtSpec pins the md5-equal
    * round-trip; OOV positions surface as a visible `oov` marker instead
    * of silently vanishing). Pure zero-exchange
    * projection; the vocab rides as an array literal (the bounded trained
    * artifact, [[tokenIds]]'s contract); the explicit range guard keeps
    * the lookup ANSI-safe (id 0 is an INVALID array index to Spark, not
    * merely out-of-bounds — even try_element_at throws on it). */
  def decodeTokenIds(ids: Column, vocab: Seq[String],
                     sep: String = "\u0001", oov: String = "�"): Column = {
    val arr = typedlit(vocab)
    replace(
      concat_ws(" ", transform(ids,
        id => when(id.between(1, vocab.size),
          element_at(arr, id.cast("int"))).otherwise(lit(oov)))),
      lit(sep), lit(" "))
  }

  /** Trained vocabulary as a DATAFRAME (tok, vid) — the input to
    * [[tokenIdsJoin]]. Same statistic and tie-break as
    * [[trainTokenVocab]]; the rank window runs over the already-LIMITed
    * top-n (bounded by the vocab-size knob), so the single-partition
    * window is metadata-scale by contract. */
  def trainTokenVocabDf(df: DataFrame, textCol: String, merges: Seq[BpeMerge],
                        n: Int, sep: String = "\u0001"): DataFrame = {
    require(n >= 1 && n <= (1 << 20), s"vocab size $n outside [1, 2^20]")
    import org.apache.spark.sql.expressions.Window
    df.filter(col(textCol).isNotNull && bpeNormalize(col(textCol)) =!= "")
      .select(explode(bpeSegment(col(textCol), merges, sep)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("_tv_n"))
      .orderBy(col("_tv_n").desc, col("tok")).limit(n)
      // the rank window covers only the ALREADY-LIMITED vocab frame
      // (≤ n ≤ 2^20 rows after TakeOrdered), never the corpus — the same
      // bounded-seed convention as pqCodebookTrained. It partitions on a
      // NON-FOLDABLE always-zero key — pmod(x, 1), which the optimizer
      // keeps (x * 0 over a non-nullable column simplifies away and the
      // spec would go empty again): execution is the same single
      // partition the bounded frame needs, but WindowExec's global-window
      // WARN stays reserved for REAL unbounded windows instead of
      // flooding the logs.
      .withColumn("vid", row_number()
        .over(Window.partitionBy(pmod(col("_tv_n"), lit(1L)))
          .orderBy(col("_tv_n").desc, col("tok"))).cast("int"))
      .select("tok", "vid")
  }

  /** Data-driven form of [[tokenIds]] for production-scale vocabularies:
    * the vocab is a DataFrame (tok, vid) instead of a plan literal, so
    * PLAN SIZE IS INDEPENDENT OF VOCAB SIZE (the ivfAssignJoin lesson —
    * a real 50k-100k-entry tokenizer vocab as a map literal would bloat
    * the plan and defeat codegen). Tokens posexplode and meet the
    * BROADCAST vocab; token STRINGS are projected away before the
    * per-doc reassembly exchange, which carries (id, pos, vid) only and
    * rebuilds the id array ordered by position. Returns (idCol, ids) —
    * bit-identical to [[tokenIds]] on the same trained artifacts
    * (ExtSpec pins the parity). */
  def tokenIdsJoin(df: DataFrame, textCol: String, idCol: String,
                   merges: Seq[BpeMerge], vocab: DataFrame,
                   sep: String = "\u0001"): DataFrame = {
    Seq("_ti_pos", "_ti_tok", "_ti_vid", "ids").foreach { c =>
      require(c != idCol, s"tokenIdsJoin reserves column $c — rename the id column")
      require(!df.columns.contains(c), s"tokenIdsJoin reserves column $c")
    }
    require(vocab.columns.toSet == Set("tok", "vid"),
      "vocab must have exactly (tok, vid) — trainTokenVocabDf's shape")
    val seg = df
      .filter(col(textCol).isNotNull && bpeNormalize(col(textCol)) =!= "")
      .select(col(idCol),
        posexplode(bpeSegment(col(textCol), merges, sep)))
      .withColumnRenamed("pos", "_ti_pos").withColumnRenamed("col", "_ti_tok")
    seg.join(broadcast(vocab), seg("_ti_tok") === vocab("tok"), "left")
      .select(col(idCol), col("_ti_pos"),
        coalesce(col("vid"), lit(0)).cast("int").as("_ti_vid"))
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("_ti_pos"), col("_ti_vid")))),
        s => s.getField("_ti_vid")).as("ids"))
  }

  /** Bigram language-model quality score — the CCNet-style "train a small
    * LM on a trusted corpus, score candidate documents by how predictable
    * their text is" filter, in exact cross-engine arithmetic. True LM
    * perplexity sums ln-probabilities (not bit-stable across engines), so
    * the score is the MEAN CONDITIONAL TOKEN PROBABILITY in Q30 fixed
    * point: for each adjacent pair (w1, w2) of a document,
    *
    *   p_q30 = floor(2^30 · C2(w1,w2) / C1(w1))          seen bigram
    *         = floor(2^30 · α · C1(w2) / T)               backoff (α = 4/10)
    *
    * (stupid-backoff shape; unseen w2 scores 0), and the document score is
    * `lm_q30 = floor(Σ p_q30 / nPairs)` — higher = more in-distribution.
    * Monotone in the same counts perplexity uses, deterministic, and
    * replayable in SQL. Products run in decimal(38,0) (2^30·C2 overflows a
    * long once a bigram tops ~8.5e9 occurrences — the Zipf head at 100 TB
    * crosses that); each floor-div lands back in a long ≤ 2^30.
    *
    * Scale: training is two token-key shuffles (bigram + unigram counts)
    * with map-side partials absorbing the Zipf head; T rides as ONE
    * broadcast row. Scoring explodes the candidate's pairs, equi-joins
    * the count tables on token keys, and reduces on the doc id — all
    * shuffles carry token/id keys with long payloads. Candidate docs with
    * fewer than two tokens return n_pairs = 0, lm_q30 null.
    *
    * Returns (doc_id, n_pairs, sum_p_q30, lm_q30). */
  def bigramLmScoreQ30(score: DataFrame, textCol: String, idCol: String,
                       train: DataFrame, trainTextCol: String): DataFrame = {
    // "doc_id" is the OUTPUT id name, so idCol == "doc_id" is the one
    // legal overlap; any other reserved name as the id column would
    // yield duplicate/mis-bound output columns — fail loudly
    val reserved = Seq("doc_id", "_w1", "_w2", "_c2", "_c1w1", "_c1w2", "_t",
      "n_pairs", "sum_p_q30", "lm_q30")
    reserved.foreach { c =>
      require(c == "doc_id" || c != idCol,
        s"bigramLmScoreQ30 reserves column $c — rename the id column")
      require((c == idCol && c == "doc_id") || !score.columns.contains(c),
        s"bigramLmScoreQ30 reserves column $c on the score side")
    }

    def toks(tc: String): Column = split(wsTrim(col(tc)), "\\s+")
    def pairs(df: DataFrame, tc: String, keep: Seq[Column]): DataFrame =
      df.filter(col(tc).isNotNull && wsTrim(col(tc)) =!= "")
        .select((keep :+ toks(tc).as("_tk")): _*)
        .filter(size(col("_tk")) >= 2)
        .select((keep :+ explode(arrays_zip(
          slice(col("_tk"), lit(1), size(col("_tk")) - 1).as("a"),
          slice(col("_tk"), lit(2), size(col("_tk")) - 1).as("b"))).as("_p")): _*)
        .select((keep :+ col("_p.a").as("_w1") :+ col("_p.b").as("_w2")): _*)

    val trainTok = train
      .filter(col(trainTextCol).isNotNull && wsTrim(col(trainTextCol)) =!= "")
      .select(explode(toks(trainTextCol)).as("_w"))
    val c1 = trainTok.groupBy("_w").agg(count(lit(1)).as("_c1"))
    val c2 = pairs(train, trainTextCol, Nil)
      .groupBy("_w1", "_w2").agg(count(lit(1)).as("_c2"))
    val tTotal = trainTok.agg(count(lit(1)).as("_t"))

    val scored = pairs(score, textCol, Seq(col(idCol).as("doc_id")))
      .join(c2, Seq("_w1", "_w2"), "left")
      .join(c1.select(col("_w").as("_w1"), col("_c1").as("_c1w1")),
        Seq("_w1"), "left")
      .join(c1.select(col("_w").as("_w2"), col("_c1").as("_c1w2")),
        Seq("_w2"), "left")
      .join(broadcast(tTotal))
      .withColumn("_p_q30", expr(
        // _t = 0 (empty train corpus) must not ANSI-throw on the backoff
        // div: every pair is then unseen and scores 0
        """CASE WHEN _c2 IS NOT NULL
             THEN (1073741824 * cast(_c2 as decimal(38,0))) div _c1w1
             WHEN _t = 0 THEN 0L
             ELSE (4L * 1073741824L * cast(coalesce(_c1w2, 0) as decimal(38,0)))
                  div (10L * _t) END"""))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum("_p_q30").as("sum_p_q30"))
      .withColumn("lm_q30", expr("sum_p_q30 div n_pairs"))

    score.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
  }

  /** Interpolated KNESER–NEY bigram LM scoring — the standard smoothing
    * real LM-quality filters ship (KenLM's default; [[bigramLmScoreQ30]]
    * is the stupid-backoff baseline beside it), in EXACT integer
    * arithmetic: with discount D = 3/4,
    *
    *   P(w₂|w₁) = (c(w₁w₂) − D)⁺ / c(w₁·)
    *            + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)
    *
    * — the discounted bigram estimate interpolated with the CONTINUATION
    * probability (how many distinct contexts w₂ follows, over the
    * distinct-bigram-type total), the fix for stupid backoff's burstiness
    * blindness: a word seen often in ONE context ("Francisco") stops
    * inheriting high backoff mass. c(w₁·) is w₁'s count as a bigram
    * CONTEXT (= Σ_w c(w₁w)), so the discount mass identity is exact.
    * Everything evaluates over one common denominator 4·c(w₁·)·N₁₊(··):
    *
    *   p_q30 = ⌊2³⁰·((4c₁₂−3)⁺·N₁₊(··) + 3·N₁₊(w₁·)·N₁₊(·w₂))
    *            / (4·c(w₁·)·N₁₊(··))⌋
    *
    * — ONE floor division of exact integers (products fold in
    * decimal(38,0)), bit-identical in any engine. Unseen context w₁ →
    * pure continuation ⌊2³⁰·N₁₊(·w₂)/N₁₊(··)⌋; unseen w₂ everywhere → 0;
    * empty train → 0. Returns (doc_id, n_pairs, sum_p_q30, lm_q30 =
    * mean) — the [[bigramLmScoreQ30]] output shape. Scale: training is
    * two token/pair-key shuffles whose model tables are vocabulary-
    * bounded; scoring equi-joins them onto the score side's pair stream
    * and reduces on doc_id; the type total rides as one broadcast row. */
  def kneserNeyBigramScoreQ30(score: DataFrame, textCol: String,
                              idCol: String, train: DataFrame,
                              trainTextCol: String): DataFrame = {
    val reserved = Seq("doc_id", "_w1", "_w2", "_c2", "_c1x", "_n1l", "_n1r",
      "_nbt", "n_pairs", "sum_p_q30", "lm_q30")
    reserved.foreach { c =>
      require(c == "doc_id" || c != idCol,
        s"kneserNeyBigramScoreQ30 reserves column $c — rename the id column")
      require((c == idCol && c == "doc_id") || !score.columns.contains(c),
        s"kneserNeyBigramScoreQ30 reserves column $c on the score side")
    }
    def toks(tc: String): Column = split(wsTrim(col(tc)), "\\s+")
    def pairs(df: DataFrame, tc: String, keep: Seq[Column]): DataFrame =
      df.filter(col(tc).isNotNull && wsTrim(col(tc)) =!= "")
        .select((keep :+ toks(tc).as("_tk")): _*)
        .filter(size(col("_tk")) >= 2)
        .select((keep :+ explode(arrays_zip(
          slice(col("_tk"), lit(1), size(col("_tk")) - 1).as("a"),
          slice(col("_tk"), lit(2), size(col("_tk")) - 1).as("b"))).as("_p")): _*)
        .select((keep :+ col("_p.a").as("_w1") :+ col("_p.b").as("_w2")): _*)
    val c2 = pairs(train, trainTextCol, Nil)
      .groupBy("_w1", "_w2").agg(count(lit(1)).as("_c2"))
    // context counts + left-diversity in ONE pass over the (small) bigram
    // count table; right-diversity and the type total likewise
    val ctx = c2.groupBy("_w1")
      .agg(sum(col("_c2")).as("_c1x"), count(lit(1)).as("_n1l"))
    val contRight = c2.groupBy("_w2").agg(count(lit(1)).as("_n1r"))
    val types = c2.agg(count(lit(1)).as("_nbt"))
    val scored = pairs(score, textCol, Seq(col(idCol).as("doc_id")))
      .join(c2, Seq("_w1", "_w2"), "left")
      .join(ctx, Seq("_w1"), "left")
      .join(contRight, Seq("_w2"), "left")
      .join(broadcast(types))
      .withColumn("_p_q30", expr(
        """CASE WHEN _c1x IS NOT NULL THEN
             (1073741824 * (CASE WHEN _c2 IS NOT NULL
                  THEN (4 * cast(_c2 as decimal(38,0)) - 3) * _nbt
                  ELSE cast(0 as decimal(38,0)) END
                + 3 * cast(coalesce(_n1l, 0) as decimal(38,0))
                    * coalesce(_n1r, 0)))
             div (4 * cast(_c1x as decimal(38,0)) * _nbt)
           WHEN _nbt > 0
             THEN (1073741824 * cast(coalesce(_n1r, 0) as decimal(38,0)))
                  div _nbt
           ELSE 0L END"""))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"), sum("_p_q30").as("sum_p_q30"))
      .withColumn("lm_q30", expr("sum_p_q30 div n_pairs"))
    score.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
  }

  /** CCNet-style SCORE BUCKETING — split a scored corpus into
    * equal-mass quantile buckets (CCNet's head/middle/tail perplexity
    * terciles) by the score DISTRIBUTION, deterministically: scores
    * floor-quantize to multiples of `quantStep`, the quantized BINS are
    * counted, and each bin takes the bucket of its FIRST document in
    * (score desc) order — `bucket = ⌊nLabels · cumBefore / total⌋` —
    * so equal scores can never straddle a cut (the whole bin lands in
    * one bucket, which is what makes the split replayable: no
    * within-bin ordering is ever consulted). Higher score = earlier
    * label (labels = head, middle, tail by default: for an lm_q30 mean
    * token probability, head = most in-domain, exactly CCNet's use).
    * NULL scores (e.g. docs with no bigram pairs) label `unscored`.
    *
    * Returns (doc_id, score, bucket). All arithmetic is exact integer —
    * floor-quantization, cumulative bin counts, one `div` per bin — so
    * an oracle replays the split bit-for-bit.
    *
    * Scale shape (the thresholdSweep discipline): the corpus reduces to
    * the quantized-bin table in ONE map-side-combining aggregation; a
    * LOUD census fails past `maxBins` (with the quantStep that brings
    * it back under) BEFORE the single-partition cumulative window ever
    * sees the frame — the window ranks censused bins, never the corpus
    * (partitioned on a non-foldable constant key, so a REAL global
    * window stays visible in the logs); the bin→bucket table then
    * BROADCASTS back onto the corpus. Only two longs (census) reach the
    * driver. For a Q30 score domain the bin count is structurally
    * ≤ 2³⁰/quantStep at ANY corpus size. */
  def scoreBuckets(scored: DataFrame, idCol: String, scoreCol: String,
                   quantStep: Long = 1L << 20,
                   labels: Seq[String] = Seq("head", "middle", "tail"),
                   maxBins: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(quantStep >= 1, s"quantStep must be >= 1: $quantStep")
    require(labels.nonEmpty && labels.size == labels.distinct.size,
      s"labels must be non-empty and distinct: $labels")
    require(!labels.contains("unscored"),
      "label 'unscored' is reserved for NULL scores")
    require(maxBins >= 1, s"maxBins must be >= 1: $maxBins")
    val reserved = Seq("doc_id", "score", "bucket", "_sb_q", "_sb_c", "_sb_cb")
    reserved.foreach { c =>
      require(c == "doc_id" || c != idCol,
        s"scoreBuckets reserves column $c — rename the id column")
      require((c == "doc_id" && c == idCol) || (c == "score" && c == scoreCol)
        || !scored.columns.contains(c),
        s"scoreBuckets reserves column $c on the score side")
    }
    // floor division from Spark's truncating `div` (exact long
    // arithmetic, ANSI-safe; an oracle replaying negative
    // scores must apply the same correction — duckdb's `//` truncates
    // toward zero on integers)
    val qExpr = expr(s"(score div ${quantStep}L) - (CASE WHEN score < 0 " +
      s"AND pmod(score, ${quantStep}L) != 0 THEN 1L ELSE 0L END)")
    // scores must already be integers (the Q-fixed-point contract of
    // every scorer in this library): a fractional score would truncate
    // toward zero BEFORE the floor-quantize correction and diverge from
    // an oracle flooring the original value — raise PER ROW instead.
    // NULL scores stay allowed (→ the reserved "unscored" bucket).
    val sChecked = when(
        col(scoreCol).isNull || col(scoreCol).cast("long") === col(scoreCol),
        col(scoreCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"scoreBuckets needs integer (Q-fixed-point) scores; " +
          s"$scoreCol = "), col(scoreCol).cast("string"))))
    val s = scored
      .select(col(idCol).as("doc_id"), sChecked.as("score"))
    val bins = s.filter(col("score").isNotNull)
      .withColumn("_sb_q", qExpr)
      .groupBy(col("_sb_q")).agg(count(lit(1)).as("_sb_c"))
    val cen = bins.agg(count(lit(1)).as("n"),
      coalesce(sum(col("_sb_c")), lit(0L)).as("t")).collect().head
    val (nBins, total) = (cen.getLong(0), cen.getLong(1))
    require(nBins <= maxBins,
      s"scoreBuckets has $nBins quantized score bins (> maxBins = " +
        s"$maxBins): the cumulative window would rank an unbounded " +
        s"frame — raise quantStep (>= ~${quantStep * (nBins / maxBins + 1)}) " +
        "or raise maxBins explicitly")
    if (total == 0)
      return s.select(col("doc_id"), col("score"),
        lit("unscored").as("bucket"))
    // cumulative count BEFORE each bin in (score desc) order, over the
    // censused bin frame only; constant-key partition (see scaladoc)
    val winB = Window.partitionBy(pmod(col("_sb_c"), lit(1L)))
      .orderBy(col("_sb_q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val nL = labels.size
    val labeled = bins
      .withColumn("_sb_cb", coalesce(sum(col("_sb_c")).over(winB), lit(0L)))
      .withColumn("bucket", element_at(typedlit(labels),
        expr(s"cast(($nL * _sb_cb) div ${total}L as int) + 1")))
      .select(col("_sb_q"), col("bucket"))
    s.withColumn("_sb_q", qExpr)
      .join(broadcast(labeled), Seq("_sb_q"), "left")
      .select(col("doc_id"), col("score"),
        coalesce(col("bucket"), lit("unscored")).as("bucket"))
  }

  /** PMI COLLOCATION MINING (Church & Hanks 1990, "Word association
    * norms, mutual information, and lexicography"): the top-k adjacent
    * token pairs by pointwise mutual information — THE classic
    * collocation measure, ranking rare-but-exclusive pairs ("Hong
    * Kong") above merely-frequent ones, the exact inverse emphasis of
    * the raw-count pair ranking (x38's BPE merge order).
    *
    * Determinism: PMI = log(p(ab) / (p(a)·p(b))) with p(ab) = c_ab/P
    * (P = adjacent-pair instances) and p(w) = c_w/N (N = token
    * instances); log is monotone, so ranking by the RATIO ranks by PMI
    * — and the ratio stays integer: score_q20 = 2²⁰·c_ab·N² div
    * (P·c_a·c_b), one decimal(38,0) floor division (exact to N ≈ 4·10¹⁰
    * tokens; past that the decimal overflows LOUDLY, never silently).
    * `minCount` (the standard c_ab floor) kills the hapax pairs PMI is
    * notorious for promoting. Ties break (score desc, w1, w2) — a total
    * order, so the top-k boundary is engine-portable (x88).
    *
    * Scale shape: one unigram and one pair token-key aggregation (both
    * map-side combining; adjacency is the zip-of-slices projection —
    * no index lambda, no per-element regex re-evaluation), N and P ride
    * as one-row broadcasts, the pair scoring joins count tables keyed
    * on tokens, and the cut is a TakeOrdered. Nothing but tokens and
    * longs ever shuffles. Returns (w1, w2, n_pair, score_q20). */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Int, k: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(k >= 1, s"k must be >= 1: $k")
    val base = df.filter(col(textCol).isNotNull && wsTrim(col(textCol)) =!= "")
    val tk = base.select(explode(split(wsTrim(col(textCol)), "\\s+")).as("_w"))
    val c1 = tk.groupBy(col("_w")).agg(count(lit(1)).as("_c1"))
    val n = tk.agg(count(lit(1)).as("_n"))
    val pairs = base
      .select(split(wsTrim(col(textCol)), "\\s+").as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("_tk"), lit(1), size(col("_tk")) - 1).as("a"),
        slice(col("_tk"), lit(2), size(col("_tk")) - 1).as("b"))).as("_p"))
      .select(col("_p.a").as("w1"), col("_p.b").as("w2"))
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val p = c2.agg(sum(col("n_pair")).as("_p"))
    // the unigram table is vocabulary-sized (unbounded at 100 TB) — a
    // token-keyed equi-join, NOT a pinned broadcast; AQE may still
    // broadcast it when it measures small
    c2.filter(col("n_pair") >= minCount)
      .join(c1.select(col("_w").as("w1"), col("_c1").as("_c1a")), "w1")
      .join(c1.select(col("_w").as("w2"), col("_c1").as("_c1b")), "w2")
      .crossJoin(broadcast(n)).crossJoin(broadcast(p))
      .withColumn("score_q20", expr(
        "cast((1048576L * cast(n_pair as decimal(38,0)) * _n * _n)" +
          " div (cast(_p as decimal(38,0)) * _c1a * _c1b) as bigint)"))
      .select(col("w1"), col("w2"), col("n_pair"), col("score_q20"))
      .orderBy(col("score_q20").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Rolling (polynomial) hash over tokens, base-31 mod 2^61-1. The fold
    * runs in decimal(38,0) so `acc*31 + h` never overflows (ANSI-safe:
    * Spark 4 would throw on long overflow), then casts back to long —
    * deterministic and engine-portable. */
  def rollingTokenHash(text: Column): Column = {
    val m = lit(2305843009213693951L).cast("decimal(38,0)") // 2^61 - 1
    aggregate(
      split(wsTrim(text), "\\s+"),
      lit(0).cast("decimal(38,0)"),
      (acc, tok) => pmod(
        acc * 31 + conv(substring(md5(tok), 1, 15), 16, 10).cast("decimal(38,0)"),
        m)).cast("long")
  }
  /** Merge per-release token-count tables (shards, batches, streaming
    * micro-batches) by key re-sum — counts are sums, so the merged
    * table is EXACTLY the one-shot count table of the concatenated
    * corpora (the cmsMerge property). This is what makes the
    * [[distributionDriftQ8]] monitor a continuous-ingest citizen: each
    * release's distribution maintains under ingest and the base corpus
    * is never rescanned. */
  def mergeTokenCounts(tables: Seq[DataFrame], keyCols: Seq[String],
                       tokenCol: String, cntCol: String): DataFrame = {
    require(tables.nonEmpty, "mergeTokenCounts needs at least one table")
    tables.reduce(_ unionByName _)
      .groupBy((keyCols :+ tokenCol).map(col): _*)
      .agg(sum(col(cntCol)).as(cntCol))
  }

  /** Shared x97-family plumbing: the (keys, token)-keyed full-outer
    * count merge with per-key totals broadcast back and both Q20
    * probability floors attached — (keys..., _dd_t, _dd_a, _dd_b, n_a,
    * n_b, vocab_a, vocab_b, _dd_pq, _dd_qq). */
  private def driftQuantized(a: DataFrame, b: DataFrame,
                             keyCols: Seq[String], tokenCol: String,
                             cntCol: String, op: String): DataFrame = {
    require(keyCols.nonEmpty, s"$op needs >= 1 group key")
    val q20 = 1L << 20
    val reserved = Seq("_dd_t", "_dd_a", "_dd_b", "_dd_pq", "_dd_qq",
      "n_a", "n_b", "vocab_a", "vocab_b")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"$op reserves column $c — rename the key column"))
    def cChecked(src: DataFrame) = when(
        col(cntCol).cast("long") === col(cntCol) && col(cntCol) > 0,
        col(cntCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$op needs positive integer counts; $cntCol = "),
        coalesce(col(cntCol).cast("string"), lit("null")))))
    def side(src: DataFrame, as: String) = src.select(
      (keyCols.map(col) :+ col(tokenCol).as("_dd_t") :+
        cChecked(src).as(as)): _*)
    val j = side(a, "_dd_a").join(side(b, "_dd_b"),
        keyCols :+ "_dd_t", "full")
      .select((keyCols.map(col) :+ col("_dd_t") :+
        coalesce(col("_dd_a"), lit(0L)).as("_dd_a") :+
        coalesce(col("_dd_b"), lit(0L)).as("_dd_b")): _*)
    val tot = j.groupBy(keyCols.map(col): _*).agg(
      sum(col("_dd_a")).as("n_a"), sum(col("_dd_b")).as("n_b"),
      sum(when(col("_dd_a") > 0, 1L).otherwise(0L)).as("vocab_a"),
      sum(when(col("_dd_b") > 0, 1L).otherwise(0L)).as("vocab_b"))
    // Q20 floors; 2^20 * count folds in decimal(38,0) (a long wraps past
    // ~8.8e12-count tokens); pq/qq <= 2^20 so the cast back is safe.
    // n_a/n_b >= 1 whenever any row exists on that side; a token present
    // only on the other side divides by a possibly-zero total -> guard
    // with the pq=0 branch (empty releases carry no drift terms).
    def quant(cnt: String, n: String) = expr(
      s"""CASE WHEN $n > 0 THEN cast((cast(${q20}L as decimal(38,0)) * $cnt)
            div $n as bigint) ELSE 0L END""")
    j.join(broadcast(tot), keyCols)
      .withColumn("_dd_pq", quant("_dd_a", "n_a"))
      .withColumn("_dd_qq", quant("_dd_b", "n_b"))
  }

  /** TOKEN-DISTRIBUTION DRIFT between two corpus releases — the
    * Jensen–Shannon divergence (Lin, IEEE Trans. IT 1991), the standard
    * bounded/symmetric corpus-drift metric (KL itself is infinite the
    * moment a release coins one new token): per group key,
    * JSD(A, B) = ½·KL(P‖M) + ½·KL(Q‖M) with M = ½(P+Q), over the two
    * releases' token distributions. The id-keyed x63 release delta says
    * WHICH documents changed; this says whether the LANGUAGE ITSELF
    * moved — vocabulary/topic shift that survives doc-level matching.
    *
    * Integer-exact definition (the oracle replays it bit-for-bit):
    * probabilities quantize to Q20 floors pq = ⌊2²⁰·a/N_A⌋,
    * qq = ⌊2²⁰·b/N_B⌋; tokens whose quantized mass floors to 0 on a
    * side are excluded from THAT side's sum (quantization-floor
    * truncation — documented, deterministic; the metric's resolution is
    * 2⁻²⁰ of a release's mass, so the regime is vocab ≪ 2²⁰ tokens
    * carrying it, which the Zipf head always satisfies). Each side's
    * per-token term is pq·(lq(2·pq) − lq(pq+qq)) in the exact Q8 log of
    * [[graft.ext.Unigram.log2q8]] (arguments ≤ 2²¹, deep inside the
    * 2⁵⁵ domain regardless of corpus size — the quantization is also
    * what makes the log chain scale-safe), summed in decimal(38,0);
    * kl_*_q8 and jsd_q8 read in Q8 bits after floor division (the
    * positive-mod idiom — sums can be slightly negative under
    * quantization). A qq = 0 token contributes exactly pq·256
    * (lq(2x) − lq(x) ≡ 256 by construction — e increments, mantissa
    * chain identical), the log-of-2 bit.
    *
    * Inputs are (keys..., tokenCol, cntCol) count tables (build them
    * with one tokenize+groupBy pass per release; counts must be
    * positive integers — raise per row). 100 TB shape: ONE
    * (keys, token)-keyed full-outer join of the two count tables (the
    * x63 m1/m2 merge discipline on distributions), per-key totals
    * broadcast back, one map-side-combining per-key aggregation;
    * tokens never leave their hash partition after the join. Returns
    * (keys..., n_a, n_b, vocab_a, vocab_b, kl_am_q8, kl_bm_q8,
    * jsd_q8). */
  def distributionDriftQ8(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                          tokenCol: String, cntCol: String): DataFrame = {
    val q20 = 1L << 20
    val lq = (c: Column) => Unigram.log2q8(c)
    val terms = driftQuantized(a, b, keyCols, tokenCol, cntCol,
        "distributionDriftQ8")
      .select((keyCols.map(col) :+ col("n_a") :+ col("n_b") :+
        col("vocab_a") :+ col("vocab_b") :+
        when(col("_dd_pq") >= 1L,
          col("_dd_pq").cast("decimal(38,0)") *
            (lq(col("_dd_pq") * 2L) - lq(col("_dd_pq") + col("_dd_qq"))))
          .otherwise(lit(0L).cast("decimal(38,0)")).as("_dd_kp") :+
        when(col("_dd_qq") >= 1L,
          col("_dd_qq").cast("decimal(38,0)") *
            (lq(col("_dd_qq") * 2L) - lq(col("_dd_pq") + col("_dd_qq"))))
          .otherwise(lit(0L).cast("decimal(38,0)")).as("_dd_kq")): _*)
    // floor division via the positive-mod idiom: the decimal sums can be
    // slightly negative under quantization, and BOTH Spark's div and
    // duckdb's // truncate toward zero — the oracle applies the same
    // explicit correction (the sf0.1 zh slice caught a bare // here)
    def floorDiv(num: String, den: Long) = expr(
      s"""cast(($num - ((pmod($num, ${den}L) + ${den}L) % ${den}L))
           div ${den}L as bigint)""")
    terms.groupBy((keyCols :+ "n_a" :+ "n_b" :+ "vocab_a" :+ "vocab_b")
        .map(col): _*)
      .agg(sum(col("_dd_kp")).as("_dd_sp"), sum(col("_dd_kq")).as("_dd_sq"))
      .select((keyCols.map(col) :+ col("n_a") :+ col("n_b") :+
        col("vocab_a") :+ col("vocab_b") :+
        floorDiv("_dd_sp", q20).as("kl_am_q8") :+
        floorDiv("_dd_sq", q20).as("kl_bm_q8") :+
        floorDiv("(_dd_sp + _dd_sq)", 2L * q20).as("jsd_q8")): _*)
  }
  /** PER-KEY POPULATION STABILITY INDEX with a thresholded ALERT —
    * the x97 family's pager wire. PSI (Kullback's J divergence over
    * binned distributions; the standard credit-risk/production-ML
    * drift trigger) is Σ_t (p_t − q_t)·log(p_t/q_t) — symmetric and,
    * unlike [[distributionDriftQ8]]'s bounded JSD, UNBOUNDED: it grows
    * without limit as mass concentrates, which is exactly what makes
    * it the alerting statistic (JSD saturates at 1 bit; PSI keeps
    * resolving "how bad").
    *
    * Integer-exact definition: over the same Q20 probability floors as
    * the JSD monitor, restricted to tokens with pq ≥ 1 AND qq ≥ 1
    * (PSI's log blows up at zero — the classical fix is an arbitrary
    * epsilon clip; this engine instead EXCLUDES one-sided tokens and
    * REPORTS the excluded mass per side, so the alert never depends on
    * an epsilon choice): each term is (pq − qq)·(lq(pq) − lq(qq)) in
    * the exact Q8 log of [[graft.ext.Unigram.log2q8]] — lq is monotone,
    * so every term is ≥ 0 and the decimal(38,0) sum needs no negative
    * floor correction; psi_q8 reads in Q8 bits after dividing out the
    * Q20 mass scale. alert = (psi_q8 ≥ alertThresholdQ8), an integer
    * 0/1 column (≈ 26 Q8 ≈ the conventional PSI 0.1-nat "investigate"
    * line; 64 Q8 ≈ the 0.25-nat "act" line).
    *
    * 100 TB shape: identical to the JSD monitor — ONE (keys, token)-
    * keyed full-outer join, totals broadcast back, one map-side-
    * combining per-key aggregation; the alert is a projection on the
    * per-key frame. Returns (keys..., n_a, n_b, common_tokens,
    * onesided_mass_a_q20, onesided_mass_b_q20, psi_q8, alert). */
  def psiDriftQ8(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                 tokenCol: String, cntCol: String,
                 alertThresholdQ8: Long): DataFrame = {
    require(alertThresholdQ8 >= 0,
      s"alertThresholdQ8 must be >= 0: $alertThresholdQ8")
    val q20 = 1L << 20
    val lq = (c: Column) => Unigram.log2q8(c)
    val both = col("_dd_pq") >= 1L && col("_dd_qq") >= 1L
    val terms = driftQuantized(a, b, keyCols, tokenCol, cntCol,
        "psiDriftQ8")
      .select((keyCols.map(col) :+ col("n_a") :+ col("n_b") :+
        when(both, (col("_dd_pq") - col("_dd_qq")).cast("decimal(38,0)") *
          (lq(col("_dd_pq")) - lq(col("_dd_qq"))))
          .otherwise(lit(0L).cast("decimal(38,0)")).as("_dd_ps") :+
        when(both, 1L).otherwise(0L).as("_dd_cm") :+
        when(!both, col("_dd_pq")).otherwise(0L).as("_dd_xa") :+
        when(!both, col("_dd_qq")).otherwise(0L).as("_dd_xb")): _*)
    terms.groupBy((keyCols :+ "n_a" :+ "n_b").map(col): _*)
      .agg(sum(col("_dd_ps")).as("_dd_s"),
        sum(col("_dd_cm")).as("common_tokens"),
        sum(col("_dd_xa")).as("onesided_mass_a_q20"),
        sum(col("_dd_xb")).as("onesided_mass_b_q20"))
      // every PSI term is >= 0 (lq monotone), so trunc == floor here
      .withColumn("psi_q8", expr(s"cast(_dd_s div ${q20}L as bigint)"))
      .select((keyCols.map(col) :+ col("n_a") :+ col("n_b") :+
        col("common_tokens") :+ col("onesided_mass_a_q20") :+
        col("onesided_mass_b_q20") :+ col("psi_q8") :+
        when(col("psi_q8") >= alertThresholdQ8, 1L).otherwise(0L)
          .as("alert")): _*)
  }

  /** PSI over a NUMERIC column — the [[psiDriftQ8]] machinery pointed
    * at feature drift (document length, quality score, any integer
    * metric): each release's values floor-bin to ⌊v/binWidth⌋ (the
    * x96 positive-mod floor, exact for negatives) and the bin ids play
    * the token role in the same epsilon-free PSI with the same alert
    * contract. Classical production PSI IS this (binned numeric
    * feature, ~10-20 bins); the token form is the corpus-language
    * specialization. Values must be integers (raise per row — quantize
    * floats via the documented Q-scale first); NULLs carry no mass and
    * are excluded. Returns the psiDriftQ8 frame with bins as tokens. */
  def psiNumericQ8(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                   valCol: String, binWidth: Long,
                   alertThresholdQ8: Long): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    def binned(df: DataFrame): DataFrame = {
      val vChecked = when(col(valCol).cast("long") === col(valCol),
          col(valCol).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"psiNumericQ8 needs integer values; $valCol = "),
          col(valCol).cast("string"))))
      df.filter(col(valCol).isNotNull)
        .select((keyCols.map(col) :+ vChecked.as("_pn_v")): _*)
        .withColumn("_pn_bin", expr(s"(_pn_v div ${binWidth}L) - " +
          s"(CASE WHEN _pn_v < 0 AND pmod(_pn_v, ${binWidth}L) != 0 " +
          s"THEN 1L ELSE 0L END)"))
        .groupBy((keyCols :+ "_pn_bin").map(col): _*)
        .agg(count(lit(1)).as("_pn_c"))
    }
    psiDriftQ8(binned(a), binned(b), keyCols, "_pn_bin", "_pn_c",
      alertThresholdQ8)
  }

  /** TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT over a binned numeric column —
    * the CDF-shaped sibling of [[psiNumericQ8]]: KS = max_b |F_a(b) −
    * F_b(b)| over the floor-binned empirical CDFs. PSI and JSD weigh
    * per-bin DENSITY ratios, so a small uniform location shift smeared
    * across many bins can stay under their alert line; the KS supremum
    * accumulates it in the CDF gap — the classical pairing (density test
    * + distribution test) a production drift monitor runs together.
    *
    * Unlike the log-based monitors this is EXACT with no quantization
    * at all: with cumulative counts A_b, B_b and totals n_a, n_b, the
    * gap at bin b is |A_b·n_b − B_b·n_a| / (n_a·n_b), and the single
    * Q20 floor happens once at the end: ks_q20 = ⌊2²⁰·max_b|A_b·n_b −
    * B_b·n_a| / (n_a·n_b)⌋ (every factor non-negative, so trunc =
    * floor). A key present on only one side has an undefined statistic
    * → NULL (never a fake 2²⁰), alert 0. NULL values carry no mass.
    * alert = ks_q20 ≥ alertThresholdQ20 (the conventional 0.1 line is
    * ⌊0.1·2²⁰⌋ = 104857).
    *
    * 100 TB shape: each side reduces in one (keys, bin)-keyed map-side-
    * combining aggregation to a bin frame bounded by the value range
    * over `binWidth` (a numeric-FEATURE contract — tens of bins, like
    * psiNumericQ8's; do NOT point it at an unbounded id-like column);
    * the full-outer bin merge, the per-key cumulative window, and the
    * max all run on that censused frame. Returns (keys..., n_a, n_b,
    * n_bins, ks_q20 [nullable], alert). */
  def ksDriftQ20(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                 valCol: String, binWidth: Long,
                 alertThresholdQ20: Long): DataFrame = {
    // structural guards BEFORE binning builds any plan, so a bad call
    // fails here and not with an analysis error inside the bin step
    require(keyCols.nonEmpty, "ksDriftQ20 needs >= 1 group key")
    Seq("_ks_bin", "_ks_ca", "_ks_cb", "_ks_cma", "_ks_cmb", "_ks_gap",
      "n_a", "n_b", "n_bins", "ks_q20", "alert").foreach(c =>
      require(!keyCols.contains(c),
        s"ksDriftQ20 reserves column $c — rename the key column"))
    ksDriftFromBins(
      floorBinCounts(a, keyCols, valCol, binWidth, "_ks_c", "ksDriftQ20"),
      floorBinCounts(b, keyCols, valCol, binWidth, "_ks_c", "ksDriftQ20"),
      keyCols, "_ks_bin", "_ks_c", alertThresholdQ20)
  }

  /** The psiNumericQ8 floor-bin (positive-mod, exact for negatives)
    * reduced to (keys, binCol, cntCol) — the MERGEABLE summary the KS
    * and Cliff's-delta monitors run on: bin counts are SUMS, so
    * per-shard/micro-batch tables re-sum to the one-shot table and the
    * statistics are continuous-ingest citizens (the mergeTokenCounts
    * property; merge by groupBy(keys, bin).sum). */
  def floorBinCounts(df: DataFrame, keyCols: Seq[String], valCol: String,
                     binWidth: Long, cntName: String,
                     caller: String): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    val vChecked = when(col(valCol).cast("long") === col(valCol),
        col(valCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$caller needs integer values; $valCol = "),
        col(valCol).cast("string"))))
    df.filter(col(valCol).isNotNull)
      .select((keyCols.map(col) :+ vChecked.as("_ks_v")): _*)
      .withColumn("_ks_bin", expr(s"(_ks_v div ${binWidth}L) - " +
        s"(CASE WHEN _ks_v < 0 AND pmod(_ks_v, ${binWidth}L) != 0 " +
        s"THEN 1L ELSE 0L END)"))
      .groupBy((keyCols :+ "_ks_bin").map(col): _*)
      .agg(count(lit(1)).as(cntName))
  }

  /** [[ksDriftQ20]] over pre-binned count tables — the entry point for
    * ingest/streaming (bin counts merge by re-sum; see
    * [[floorBinCounts]]). Counts must be positive (raise per row) and
    * (keys, bin) rows unique — merge shards first, or the full-outer
    * bin join fans out. */
  def ksDriftFromBins(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                      binCol: String, cntCol: String,
                      alertThresholdQ20: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "ksDriftFromBins needs >= 1 group key")
    require(alertThresholdQ20 >= 0,
      s"alertThresholdQ20 must be >= 0: $alertThresholdQ20")
    val reserved = Seq("_ks_bin", "_ks_ca", "_ks_cb", "_ks_cma", "_ks_cmb",
      "_ks_gap", "n_a", "n_b", "n_bins", "ks_q20", "alert")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"ksDriftFromBins reserves column $c — rename the key column"))
    def side(df: DataFrame, cName: String): DataFrame = {
      val cChecked = when(col(cntCol) >= 1L, col(cntCol).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"ksDriftFromBins needs positive counts; $cntCol = "),
          col(cntCol).cast("string"))))
      df.select((keyCols.map(col) :+ col(binCol).as("_ks_bin") :+
        cChecked.as(cName)): _*)
    }
    val merged = side(a, "_ks_ca")
      .join(side(b, "_ks_cb"), keyCols :+ "_ks_bin", "full")
      .select((keyCols.map(col) :+ col("_ks_bin") :+
        coalesce(col("_ks_ca"), lit(0L)).as("_ks_ca") :+
        coalesce(col("_ks_cb"), lit(0L)).as("_ks_cb")): _*)
    // one exchange serves both windows (same partition keys): the
    // cumulative CDF counts and the per-key totals
    val wCum = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_ks_bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    val gaps = merged
      .withColumn("_ks_cma", sum(col("_ks_ca")).over(wCum))
      .withColumn("_ks_cmb", sum(col("_ks_cb")).over(wCum))
      .withColumn("n_a", sum(col("_ks_ca")).over(wAll))
      .withColumn("n_b", sum(col("_ks_cb")).over(wAll))
      .withColumn("_ks_gap", abs(
        col("_ks_cma").cast("decimal(38,0)") * col("n_b") -
          col("_ks_cmb").cast("decimal(38,0)") * col("n_a")))
    gaps.groupBy((keyCols :+ "n_a" :+ "n_b").map(col): _*)
      .agg(max(col("_ks_gap")).as("_ks_gap"),
        count(lit(1)).as("n_bins"))
      .withColumn("ks_q20",
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("long"))
          // non-negative operands: trunc == floor, the bare div is safe
          .otherwise(expr("cast((cast(1048576 as decimal(38,0)) * _ks_gap)" +
            " div (cast(n_a as decimal(38,0)) * n_b) as bigint)")))
      .select((keyCols.map(col) :+ col("n_a") :+ col("n_b") :+
        col("n_bins") :+ col("ks_q20") :+
        when(col("ks_q20").isNotNull &&
          col("ks_q20") >= alertThresholdQ20, 1L).otherwise(0L)
          .as("alert")): _*)
  }

  /** CLIFF'S DELTA — the SIGNED ordinal effect size the drift pair
    * (density PSI + CDF KS) still lacks: δ = (#[x_a > x_b] −
    * #[x_a < x_b]) / (n_a·n_b) over all cross pairs, +1 when release A
    * stochastically dominates, −1 when B does (Cliff, Psychol. Bull.
    * 1993). KS says "how far apart", δ says "which way and how hard" —
    * the number a curator reads to learn documents got LONGER, not just
    * different. Computed at bin granularity (within-bin pairs are
    * ties): greater = Σ_b ca_b·cumB_{<b}, less = Σ_b ca_b·(n_b −
    * cumB_{≤b}) — exact integers off the same cumulative frame as the
    * KS, one positive-mod Q20 floor at the end (δ is signed). A
    * one-sided key is NULL. Same mergeable-bin ingest contract as
    * [[ksDriftFromBins]]. Returns (keys..., n_a, n_b, n_gt, n_lt,
    * delta_q20 [nullable]); the REPORT columns n_gt/n_lt are pair
    * counts computed in decimal and cast to long — beyond 2⁶³ pairs
    * (n_a·n_b at ~3·10⁹ a side) the cast raises loudly under ANSI
    * (delta_q20 itself is computed on the decimals and never
    * overflows). */
  def cliffsDeltaQ20(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                     valCol: String, binWidth: Long): DataFrame = {
    require(keyCols.nonEmpty, "cliffsDeltaQ20 needs >= 1 group key")
    Seq("_ks_bin", "_ks_ca", "_ks_cb", "_ks_cmb", "_ks_gt", "_ks_lt",
      "n_a", "n_b", "n_gt", "n_lt", "delta_q20").foreach(c =>
      require(!keyCols.contains(c),
        s"cliffsDeltaQ20 reserves column $c — rename the key column"))
    cliffsDeltaFromBins(
      floorBinCounts(a, keyCols, valCol, binWidth, "_ks_c",
        "cliffsDeltaQ20"),
      floorBinCounts(b, keyCols, valCol, binWidth, "_ks_c",
        "cliffsDeltaQ20"),
      keyCols, "_ks_bin", "_ks_c")
  }

  /** [[cliffsDeltaQ20]] over pre-binned count tables (unique
    * (keys, bin) rows, positive counts — the [[ksDriftFromBins]]
    * contract). */
  def cliffsDeltaFromBins(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                          binCol: String, cntCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "cliffsDeltaFromBins needs >= 1 group key")
    val reserved = Seq("_ks_bin", "_ks_ca", "_ks_cb", "_ks_cmb", "_ks_gt",
      "_ks_lt", "n_a", "n_b", "n_gt", "n_lt", "delta_q20")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"cliffsDeltaFromBins reserves column $c — rename the key column"))
    def side(df: DataFrame, cName: String): DataFrame = {
      val cChecked = when(col(cntCol) >= 1L, col(cntCol).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"cliffsDeltaFromBins needs positive counts; $cntCol = "),
          col(cntCol).cast("string"))))
      df.select((keyCols.map(col) :+ col(binCol).as("_ks_bin") :+
        cChecked.as(cName)): _*)
    }
    val merged = side(a, "_ks_ca")
      .join(side(b, "_ks_cb"), keyCols :+ "_ks_bin", "full")
      .select((keyCols.map(col) :+ col("_ks_bin") :+
        coalesce(col("_ks_ca"), lit(0L)).as("_ks_ca") :+
        coalesce(col("_ks_cb"), lit(0L)).as("_ks_cb")): _*)
    val wCum = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_ks_bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    merged
      .withColumn("_ks_cmb", sum(col("_ks_cb")).over(wCum))
      .withColumn("n_a", sum(col("_ks_ca")).over(wAll))
      .withColumn("n_b", sum(col("_ks_cb")).over(wAll))
      // a-mass in bin b beats the B-mass in strictly lower bins and
      // loses to the B-mass in strictly higher ones; within-bin = tie
      .withColumn("_ks_gt", col("_ks_ca").cast("decimal(38,0)") *
        (col("_ks_cmb") - col("_ks_cb")))
      .withColumn("_ks_lt", col("_ks_ca").cast("decimal(38,0)") *
        (col("n_b") - col("_ks_cmb")))
      .groupBy((keyCols :+ "n_a" :+ "n_b").map(col): _*)
      .agg(sum(col("_ks_gt")).as("_ks_gt"), sum(col("_ks_lt")).as("_ks_lt"))
      .select((keyCols.map(col) :+ col("n_a") :+ col("n_b") :+
        col("_ks_gt").cast("long").as("n_gt") :+
        col("_ks_lt").cast("long").as("n_lt") :+
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("long"))
          // signed dividend: the positive-mod floor correction
          .otherwise(expr(
            """cast(((cast(1048576 as decimal(38,0)) * (_ks_gt - _ks_lt))
                 - pmod(cast(1048576 as decimal(38,0)) * (_ks_gt - _ks_lt),
                        cast(n_a as decimal(38,0)) * n_b))
               div (cast(n_a as decimal(38,0)) * n_b) as bigint)"""))
          .as("delta_q20")): _*)
  }

  /** WASSERSTEIN-1 (earth-mover) DRIFT over the same floor bins — the
    * MAGNITUDE member of the drift family: PSI scores density ratios,
    * KS takes the worst single CDF gap, Cliff's delta gives direction;
    * W₁ = ∫|F_a − F_b| dv is the total mass-transport cost in VALUE
    * units ("documents got ~37 characters longer"), the number a
    * curator can act on. On integer bins the integral is exact: the
    * CDF gap is constant between observed bins, so
    * W₁ = binWidth·Σ_b |A_b·n_b − B_b·n_a|·(next_bin − bin) / (n_a·n_b)
    * with one Q20 floor at the end (all factors ≥ 0; the last bin
    * contributes 0 — both CDFs have converged). One-sided keys are
    * NULL. Same mergeable-bin ingest contract as [[ksDriftFromBins]].
    *
    * Bounds: the segment sum ≤ n_a·n_b·binSpan must fit decimal(38,0)
    * after the 2²⁰·binWidth scale — comfortable for feature-shaped
    * values (spans of thousands of bins at corpus row counts), the
    * same numeric-feature contract as the siblings. Returns
    * (keys..., n_a, n_b, w1_q20 [nullable], in VALUE units). */
  def wassersteinDriftQ20(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                          valCol: String, binWidth: Long): DataFrame = {
    require(keyCols.nonEmpty, "wassersteinDriftQ20 needs >= 1 group key")
    Seq("_ks_bin", "_ks_ca", "_ks_cb", "_ks_cma", "_ks_cmb", "_ks_nx",
      "_ks_seg", "n_a", "n_b", "w1_q20").foreach(c =>
      require(!keyCols.contains(c),
        s"wassersteinDriftQ20 reserves column $c — rename the key column"))
    wassersteinFromBins(
      floorBinCounts(a, keyCols, valCol, binWidth, "_ks_c",
        "wassersteinDriftQ20"),
      floorBinCounts(b, keyCols, valCol, binWidth, "_ks_c",
        "wassersteinDriftQ20"),
      keyCols, "_ks_bin", "_ks_c", unitsPerBin = binWidth)
  }

  /** [[wassersteinDriftQ20]] over pre-binned count tables (unique
    * (keys, bin) rows, positive counts — the [[ksDriftFromBins]]
    * contract); `unitsPerBin` converts bin distance back to value
    * units inside the single floor. */
  def wassersteinFromBins(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                          binCol: String, cntCol: String,
                          unitsPerBin: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "wassersteinFromBins needs >= 1 group key")
    require(unitsPerBin >= 1, s"unitsPerBin must be >= 1: $unitsPerBin")
    def side(df: DataFrame, cName: String): DataFrame = {
      val cChecked = when(col(cntCol) >= 1L, col(cntCol).cast("long"))
        .otherwise(raise_error(concat(
          lit(s"wassersteinFromBins needs positive counts; $cntCol = "),
          col(cntCol).cast("string"))))
      df.select((keyCols.map(col) :+ col(binCol).as("_ks_bin") :+
        cChecked.as(cName)): _*)
    }
    val merged = side(a, "_ks_ca")
      .join(side(b, "_ks_cb"), keyCols :+ "_ks_bin", "full")
      .select((keyCols.map(col) :+ col("_ks_bin") :+
        coalesce(col("_ks_ca"), lit(0L)).as("_ks_ca") :+
        coalesce(col("_ks_cb"), lit(0L)).as("_ks_cb")): _*)
    val wCum = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_ks_bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_ks_bin"))
    val wAll = Window.partitionBy(keyCols.map(col): _*)
    merged
      .withColumn("_ks_cma", sum(col("_ks_ca")).over(wCum))
      .withColumn("_ks_cmb", sum(col("_ks_cb")).over(wCum))
      .withColumn("n_a", sum(col("_ks_ca")).over(wAll))
      .withColumn("n_b", sum(col("_ks_cb")).over(wAll))
      .withColumn("_ks_nx", lead(col("_ks_bin"), 1).over(wLead))
      // gap is constant on [bin, next_bin); the final bin has no
      // segment (both CDFs are complete there)
      .withColumn("_ks_seg", when(col("_ks_nx").isNull,
        lit(0).cast("decimal(38,0)"))
        .otherwise(abs(
          col("_ks_cma").cast("decimal(38,0)") * col("n_b") -
            col("_ks_cmb").cast("decimal(38,0)") * col("n_a")) *
          (col("_ks_nx") - col("_ks_bin"))))
      .groupBy((keyCols :+ "n_a" :+ "n_b").map(col): _*)
      .agg(sum(col("_ks_seg")).as("_ks_seg"))
      .select((keyCols.map(col) :+ col("n_a") :+ col("n_b") :+
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("long"))
          // non-negative operands: trunc == floor
          .otherwise(expr(
            s"""cast((cast(1048576 as decimal(38,0)) * $unitsPerBin
                  * _ks_seg)
                div (cast(n_a as decimal(38,0)) * n_b) as bigint)"""))
          .as("w1_q20")): _*)
  }

  /** DRIFT ATTRIBUTION — the x97 family's "what moved" diagnostic: per
    * group key, the k tokens with the largest absolute quantized mass
    * shift |pq − qq| (Q20), ties token-ascending — the report a curator
    * reads after [[distributionDriftQ8]] flags a slice. Same quantized
    * distribution as the monitor (identical joins/floors), so the
    * attribution is consistent with the score it explains.
    *
    * Scale: the shift projection rides the same one full-outer join;
    * the top-k is the W2 bounded per-key window (partitioned by the
    * group keys over (shift, token) pairs — never global). Returns
    * (keys..., token, cnt_a, cnt_b, p_q20, q_q20, shift_q20, rnk). */
  def driftTopTokens(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                     tokenCol: String, cntCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= (1 << 16), s"k must be in [1, 2^16]: $k")
    val win = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("shift_q20").desc, col("_dd_t"))
    driftQuantized(a, b, keyCols, tokenCol, cntCol, "driftTopTokens")
      .withColumn("shift_q20", abs(col("_dd_pq") - col("_dd_qq")))
      .withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= k)
      .select((keyCols.map(col) :+ col("_dd_t").as("token") :+
        col("_dd_a").as("cnt_a") :+ col("_dd_b").as("cnt_b") :+
        col("_dd_pq").as("p_q20") :+ col("_dd_qq").as("q_q20") :+
        col("shift_q20") :+ col("rnk").cast("long").as("rnk")): _*)
  }
}
