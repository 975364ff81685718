package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.TextStats
import graft.ops.Stage
import Common._

/** Per-document text statistics and their release-level comparisons:
  * language, quality, PII, n-gram and LM statistics, drift tests
  * ([[graft.ext.TextStats]]). */
object TextStatsQueries {

  /** Stopword lists for the x36 lang-ID heuristic — the SINGLE SOURCE for
    * both the Spark classifier and the oracle SQL (same pattern as
    * TextStats.seededWeightsQ30 / the x15 plane matrix). */
  private val langIdLists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ich", "ein"),
    "es" -> Seq("el", "la", "que", "los", "se", "por", "con", "una"),
    "fr" -> Seq("le", "les", "des", "est", "pas", "pour", "qui", "dans"))

  /** x36 oracle body: per-language hit counts via list_intersect over the
    * same distinct-token set, then a CASE chain in alphabetical order —
    * lang L fires when its hits beat every LATER language and exceed 0,
    * which is exactly argmax-with-alphabetical-tie-break (the first
    * language in alphabetical order attaining the global max fires; any
    * earlier language would need >= L's hits to fire first, i.e. would
    * itself be the max). */
  private def langIdSql: String = {
    val ordered = langIdLists.toSeq.sortBy(_._1)
    val hitCols = ordered.map { case (l, ws) =>
      s"len(list_intersect(toks, [${ws.map(w => s"'$w'").mkString(", ")}])) AS h_$l"
    }.mkString(",\n               ")
    val langs = ordered.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"h_$l >= h_$o") :+ s"h_$l > 0"
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }.mkString("\n                ")
    "WITH toksed AS (SELECT doc_id,\n" +
      "        list_distinct(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+')) AS toks\n" +
      "        FROM documents),\n" +
      s"      hits AS (SELECT doc_id,\n               $hitCols FROM toksed)\n" +
      s"      SELECT doc_id, CASE $cases\n                ELSE 'und' END AS lang_pred FROM hits"
  }

  /** The x77/x77b Kneser–Ney model chain: bigram counts, context count +
    * left diversity, right diversity, type total, and the one-floor-div
    * interpolated score per pair rolled up per doc (doc_id, n_pairs,
    * sum_p_q30) over HUGEINT — shared verbatim by the score query and
    * the perplexity-bucket query so the two oracles can't drift. */
  private val knBigramCtes: String =
    """toks AS (
           SELECT doc_id, string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2),
         bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM w0),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, SUM(c2) AS c1x, COUNT(*) AS n1l
                 FROM c2 GROUP BY 1),
         cr AS (SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY 1),
         nb AS (SELECT COUNT(*) AS nbt FROM c2),
         sc AS (
           SELECT bg.doc_id, COUNT(*) AS n_pairs,
                  CAST(SUM(CASE WHEN x.c1x IS NOT NULL THEN
                         CAST((1073741824::HUGEINT *
                               (CASE WHEN c2.c2 IS NOT NULL
                                  THEN (4::HUGEINT * c2.c2 - 3) * nb.nbt
                                  ELSE 0::HUGEINT END
                                + 3::HUGEINT * COALESCE(x.n1l, 0)
                                             * COALESCE(r.n1r, 0)))
                              // (4::HUGEINT * x.c1x * nb.nbt) AS BIGINT)
                       WHEN nb.nbt > 0 THEN
                         CAST((1073741824::HUGEINT * COALESCE(r.n1r, 0))
                              // nb.nbt AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sum_p_q30
           FROM bg
           LEFT JOIN c2 USING (w1, w2)
           LEFT JOIN ctx x ON bg.w1 = x.w1
           LEFT JOIN cr r ON bg.w2 = r.w2
           CROSS JOIN nb
           GROUP BY 1)"""

  /** x95: distinct-n diversity replayed — the wordNgrams slice-zip
    * semantics per n (short docs truncate, concat_ws skips the null
    * tail), per-doc multiplicity kept, Q20 unique/total ratio. */
  /** x97: quantized-JSD release drift replayed — per-release (lang, tok)
    * counts, full-outer merge, Q20 probability floors, the shared Q8
    * integer-log chain on 2·pq / 2·qq / pq+qq (arguments ≤ 2²¹), HUGEINT
    * term sums, explicit positive-mod floor divisions (duckdb's //
    * truncates toward zero on integers; trunc == floor only for the
    * non-negative intermediates, and the final sums can be negative). */
  /** x97-family shared CTEs: per-release (lang, tok) counts, full-outer
    * merge, per-lang totals, Q20 probability floors — ends at `q`. */
  private val x97BaseCtes: Seq[String] = Seq(
      s"""base AS MATERIALIZED (SELECT doc_id, lang,
           string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'),
             '\\s+') AS tk
         FROM documents WHERE text IS NOT NULL
           AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> '')""",
      """ca AS MATERIALIZED (SELECT lang, tok, COUNT(*) AS a FROM (
           SELECT lang, unnest(tk) AS tok FROM base WHERE doc_id % 2 = 0)
         GROUP BY 1, 2)""",
      """cb AS MATERIALIZED (SELECT lang, tok, COUNT(*) AS b FROM (
           SELECT lang, unnest(tk) AS tok FROM base WHERE doc_id % 2 = 1)
         GROUP BY 1, 2)""",
      """j AS MATERIALIZED (SELECT COALESCE(ca.lang, cb.lang) AS lang,
              COALESCE(ca.tok, cb.tok) AS tok,
              COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
         FROM ca FULL OUTER JOIN cb
           ON ca.lang = cb.lang AND ca.tok = cb.tok)""",
      """tt AS MATERIALIZED (SELECT lang, SUM(a) AS na, SUM(b) AS nb,
              SUM(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS va,
              SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS vb
         FROM j GROUP BY 1)""",
      """q AS MATERIALIZED (SELECT j.lang, j.tok, j.a, j.b,
              CASE WHEN t.na > 0 THEN (1048576 * j.a) // t.na ELSE 0 END AS pq,
              CASE WHEN t.nb > 0 THEN (1048576 * j.b) // t.nb ELSE 0 END AS qq
         FROM j JOIN tt t ON t.lang = j.lang)""")

  /** CTE chain replaying [[graft.ext.Unigram.log2q8]] in DuckDB over a
    * (lang, tok, v) source: exponent from the bit length, 8 squaring
    * rounds for the mantissa bits — ends at `<src>_lq (lang, tok, lq)`.
    * Shared by every x97-family oracle that needs the exact Q8 log. */
  private def oracleLog2q8Ctes(src: String): Seq[String] = {
    val l0 = s"""${src}_l0 AS MATERIALIZED (SELECT lang, tok, v,
      length(bin(v)) - 1 AS e,
      (v * 256) // (1::BIGINT << (length(bin(v)) - 1)) AS m,
      0::BIGINT AS acc FROM $src)"""
    val steps = (1 to 8).map { i =>
      s"""${src}_l$i AS MATERIALIZED (SELECT lang, tok, v, e,
        CASE WHEN (m*m)//256 >= 512 THEN ((m*m)//256)//2 ELSE (m*m)//256 END AS m,
        acc*2 + CASE WHEN (m*m)//256 >= 512 THEN 1 ELSE 0 END AS acc
        FROM ${src}_l${i - 1})"""
    }
    (l0 +: steps) :+
      s"${src}_lq AS MATERIALIZED (SELECT lang, tok, e*256 + acc AS lq FROM ${src}_l8)"
  }

  /** The PSI oracle tail over ANY CTE prefix ending at
    * `q (lang, tok, a, b, pq, qq)` + `tt (lang, na, nb, …)`: two-sided
    * tokens only (the engine's epsilon-free convention; excluded mass
    * reported per side), exact Q8 log chains, thresholded alert at 32
    * Q8. Every term is non-negative (the quantized log is monotone),
    * so the bare `//` is floor here. Shared by the token form (x97d)
    * and the numeric-bin form (x97e). */
  private def psiOracleSql(prefix: Seq[String]): String = {
    val parts = prefix ++ Seq(
      "pp AS MATERIALIZED (SELECT lang, tok, pq AS v FROM q WHERE pq >= 1 AND qq >= 1)",
      "qp AS MATERIALIZED (SELECT lang, tok, qq AS v FROM q WHERE pq >= 1 AND qq >= 1)") ++
      oracleLog2q8Ctes("pp") ++ oracleLog2q8Ctes("qp") ++ Seq(
      """ps AS (SELECT q.lang,
              SUM(CAST(q.pq - q.qq AS HUGEINT) * (p.lq - s.lq)) AS s,
              COUNT(*) AS cm
         FROM q
         JOIN pp_lq p ON p.lang = q.lang AND p.tok = q.tok
         JOIN qp_lq s ON s.lang = q.lang AND s.tok = q.tok
         GROUP BY 1)""",
      """xm AS (SELECT lang,
              SUM(CASE WHEN NOT (pq >= 1 AND qq >= 1) THEN pq ELSE 0 END) AS xa,
              SUM(CASE WHEN NOT (pq >= 1 AND qq >= 1) THEN qq ELSE 0 END) AS xb
         FROM q GROUP BY 1)""")
    "WITH " + parts.mkString(",\n  ") + """
      SELECT t.lang, CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
             CAST(COALESCE(ps.cm, 0) AS BIGINT) AS common_tokens,
             CAST(COALESCE(xm.xa, 0) AS BIGINT) AS onesided_mass_a_q20,
             CAST(COALESCE(xm.xb, 0) AS BIGINT) AS onesided_mass_b_q20,
             CAST(COALESCE(ps.s, 0) // 1048576 AS BIGINT) AS psi_q8,
             CAST(CASE WHEN COALESCE(ps.s, 0) // 1048576 >= 32
                  THEN 1 ELSE 0 END AS BIGINT) AS alert
      FROM tt t
      LEFT JOIN ps ON ps.lang = t.lang
      LEFT JOIN xm ON xm.lang = t.lang"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x20_nfc_normalize", (s, dir) => {
      // unicode canonicalization: a decomposed combining acute is appended
      // so real composition happens on every row (md5 proves both engines
      // produced identical normalized BYTES, not just lengths)
      val decomposed = concat(col("text"), lit("é"))
      t(s, dir, "documents").select(col("doc_id"),
        md5(TextStats.nfcNormalize(decomposed)).as("norm_md5"),
        length(TextStats.nfcNormalize(decomposed)).cast("long").as("n_chars_norm"))
    },
      Sql("""SELECT doc_id,
         md5(nfc_normalize(text || 'e' || chr(769))) AS norm_md5,
         CAST(length(nfc_normalize(text || 'e' || chr(769))) AS BIGINT) AS n_chars_norm
         FROM documents""")),
    Entry("x21_url_host", (s, dir) => {
      // web-curation shape: URL host extraction + per-domain doc counts
      // (domain blocklists/quotas are core pretrain curation)
      val url = concat(lit("https://"), col("source"),
        lit(".example.org/doc/"), col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(parse_url(url, lit("HOST")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
    },
      Sql("""SELECT regexp_extract('https://' || source || '.example.org/doc/'
             || CAST(doc_id AS VARCHAR), '^[a-z]+://([^/]+)', 1) AS host,
           COUNT(*) AS n_docs
         FROM documents GROUP BY 1""")),
    Entry("x24_pii_redaction", (s, dir) => {
      // PII scrub: synthetic email+phone appended per row so the redaction
      // regexes genuinely fire on every document
      val withPii = concat(col("text"), lit(" contact u"),
        col("doc_id").cast("string"), lit("@mail.example.org or (555) 010-2368"))
      t(s, dir, "documents").select(col("doc_id"),
        md5(TextStats.redactPii(withPii)).as("redacted_md5"),
        (length(withPii) - length(TextStats.redactPii(withPii)))
          .cast("long").as("n_removed_chars"))
    },
      Sql("""WITH w AS (
           SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.org or (555) 010-2368' AS t
           FROM documents)
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\(\d{3}\)[ .-]?\d{3}[ .-]?\d{4}', '<PHONE>', 'g')) AS redacted_md5,
           CAST(length(t) - length(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\(\d{3}\)[ .-]?\d{3}[ .-]?\d{4}', '<PHONE>', 'g')) AS BIGINT)
             AS n_removed_chars
         FROM w""")),
    Entry("x24b_luhn_redaction", (s, dir) => {
      // checksum-VALIDATED card redaction: every doc carries one genuine
      // PAN (the classic 4111... test number, separator varies by doc
      // parity) and one Luhn-INVALID 16-digit decoy — the pass must
      // redact exactly the valid one and leave the decoy, which a bare
      // 16-digit regex cannot do. The oracle replays candidate
      // extraction, the full Luhn fold per candidate, and the literal
      // replacement chain.
      val card = when(col("doc_id") % 2 === 0,
        lit("4111-1111-1111-1111")).otherwise(lit("4111 1111 1111 1111"))
      val withPan = concat(col("text"), lit(" pay "), card,
        lit(" order 1234 5678 9012 3456 end"))
      // one redaction pass per row: the Luhn chain is interpreted HOF
      // work, so materialize it in a named column instead of evaluating
      // it once for the md5 and again for the length (the x66
      // parse-once lesson)
      t(s, dir, "documents")
        .select(col("doc_id"), withPan.as("_t"),
          TextStats.redactCardNumbers(withPan).as("_red"))
        .select(col("doc_id"), md5(col("_red")).as("redacted_md5"),
          (length(col("_t")) - length(col("_red")))
            .cast("long").as("n_removed_chars"))
    },
      // x24b: candidate extraction, the 16-digit Luhn fold per candidate
      // (double odd 1-based positions, fold >9 back by 9, sum mod 10), and
      // the literal replace chain over the VALID candidates only
      Sql("""WITH w AS (
           SELECT doc_id,
             text || ' pay '
                  || CASE WHEN doc_id % 2 = 0 THEN '4111-1111-1111-1111'
                          ELSE '4111 1111 1111 1111' END
                  || ' order 1234 5678 9012 3456 end' AS t
           FROM documents),
         red AS (
           SELECT doc_id, t,
             list_reduce(
               list_prepend(t,
                 list_filter(
                   regexp_extract_all(t,
                     '\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b'),
                   c -> list_sum(list_transform(generate_series(1, 16), i ->
                          CASE WHEN i % 2 = 1
                            THEN CASE WHEN 2 * (ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48) > 9
                                      THEN 2 * (ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48) - 9
                                      ELSE 2 * (ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48) END
                            ELSE ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48 END))
                        % 10 = 0)),
               (acc, c) -> replace(acc, c, '<CARD>')) AS r
           FROM w)
         SELECT doc_id, md5(r) AS redacted_md5,
                CAST(length(t) - length(r) AS BIGINT) AS n_removed_chars
         FROM red""")),
    Entry("x25_gopher_quality", (s, dir) =>
      // Gopher/C4 repetition + degenerate-token signals
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.duplicateSentenceFraction(col("text")).as("dup_sent_frac"),
        TextStats.maxTokenLen(col("text")).cast("long").as("max_tok_len")),
      Sql("""SELECT doc_id,
         1.0 - CAST(len(list_distinct(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\. ')))
                    AS DOUBLE)
             / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\. ')) AS dup_sent_frac,
         CAST(list_max(list_transform(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                                      t -> length(t))) AS BIGINT) AS max_tok_len
         FROM documents""")),
    Entry("x73_keyword_tags", (s, dir) => {
      // multi-keyword topic tagging (the FlashText use case, Spark-
      // native): the keyword dictionary is DATA — (kw, tag) rows with
      // synonym groups sharing a tag — broadcast onto the token stream;
      // each doc gets its sorted distinct tags pipe-joined (P10
      // convention) and a count, unmatched/empty docs an empty tag
      // string. One broadcast join + one id-keyed agg.
      import s.implicits._
      val kws = Seq(("join", "exec"), ("merge", "exec"), ("sort", "exec"),
        ("stream", "runtime"), ("batch", "runtime"),
        ("spark", "engine"), ("quantum", "absent")).toDF("kw", "tag")
      TextStats.keywordTags(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", kws)
    },
      // x73: the keyword table, token-exact lowercase matching, distinct
      // tags sorted + pipe-joined, and the all-docs left join replayed
      Sql("""WITH kw AS (SELECT * FROM (VALUES
             ('join','exec'), ('merge','exec'), ('sort','exec'),
             ('stream','runtime'), ('batch','runtime'),
             ('spark','engine'), ('quantum','absent')) v(kw, tag)),
         d AS (SELECT doc_id,
                      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')) AS t
               FROM documents
               WHERE text IS NOT NULL
                 AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         toks AS (SELECT doc_id, unnest(string_split_regex(t, '\s+')) AS tok
                  FROM d),
         m AS (SELECT DISTINCT doc_id, tag
               FROM toks JOIN kw ON kw.kw = toks.tok),
         agg AS (SELECT doc_id,
                        array_to_string(list_sort(list(tag)), '|') AS tags,
                        COUNT(*) AS n_tags
                 FROM m GROUP BY doc_id)
         SELECT doc.doc_id, COALESCE(a.tags, '') AS tags,
                CAST(COALESCE(a.n_tags, 0) AS BIGINT) AS n_tags
         FROM documents doc LEFT JOIN agg a USING (doc_id)""")),
    Entry("x25b_topngram_fraction", (s, dir) =>
      // Gopher's remaining repetition rule: characters covered by the
      // most frequent word bigram (all sliding windows, overlaps
      // included — degenerate token loops can exceed 1000‰, which IS the
      // signal), exact cross-multiplied per-mille, ties to the
      // lexicographically smallest gram. One (id, gram) aggregation +
      // a doc-partitioned top-1 window; the oracle replays every window,
      // the tie rule, and the floor-div.
      TextStats.topNgramCharFraction(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 2),
      // x25b: every sliding bigram window, the (count desc, gram asc) tie
      // rule, and the cross-multiplied per-mille floor-div replayed
      Sql("""WITH d AS (
           SELECT doc_id, regexp_replace(text, '^\s+|\s+$', '', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         tok AS (SELECT doc_id, length(t) AS n_chars,
                        string_split_regex(t, '\s+') AS ts
                 FROM d),
         g AS (SELECT doc_id, n_chars,
                      unnest(list_transform(generate_series(1, len(ts) - 1),
                        i -> concat_ws(' ', ts[i], ts[i+1]))) AS gram
               FROM tok WHERE len(ts) >= 2),
         c AS (SELECT doc_id, n_chars, gram, COUNT(*) AS n_occ
               FROM g GROUP BY 1, 2, 3),
         r AS (SELECT doc_id, n_chars, gram, n_occ,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY n_occ DESC, gram ASC) AS rn
               FROM c)
         SELECT doc_id, gram AS top_gram, CAST(n_occ AS BIGINT) AS n_occ,
                CAST((1000 * n_occ * length(gram)) // n_chars AS BIGINT)
                  AS frac_permille
         FROM r WHERE rn = 1""")),
    Entry("x40_zipf_quality", (s, dir) =>
      // frequency-based quality scoring against the trained top-1000
      // vocabulary (x34's consumer): per doc, mean floor(log2 corpus
      // count) of its tokens — integer-exact via bit length (no
      // transcendental log), OOV floors to count 1, vocab broadcast so
      // the token stream never re-shuffles. One vocab shuffle +
      // TakeOrdered + per-doc agg.
      graft.ext.TextStats.zipfQuality(t(s, dir, "documents"), "text", "doc_id"),
      Sql("""WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         tok2 AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
         vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok2
                   GROUP BY tok ORDER BY cnt DESC, tok LIMIT 1000)
         SELECT doc_id, COUNT(*) AS n_tok,
                CAST(SUM(length(bin(COALESCE(v.cnt, 1))) - 1) AS BIGINT) AS bits,
                CAST(SUM(length(bin(COALESCE(v.cnt, 1))) - 1) AS DOUBLE) / COUNT(*)
                  AS zipf_score
         FROM tok2 LEFT JOIN vocab v USING (tok)
         GROUP BY doc_id""")),
    Entry("x12_subword_count", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.subwordCount(col("text")).cast("long").as("n_subwords")),
      Sql("""SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
           AS n_subwords
         FROM documents""")),
    Entry("x8_lang_stats", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.meanTokenLen(col("text")).as("mean_tok_len")),
      Sql("""SELECT doc_id,
         CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tokens,
         CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
              ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                   / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tok_len
         FROM documents""")),
    Entry("x36_lang_id", (s, dir) =>
      // heuristic language ID: per-language stopword-list hits over the
      // distinct lowercased tokens, argmax with alphabetical tie-break,
      // "und" when nothing hits. Zero-shuffle codegen projection; the
      // stopword table single-sources into the oracle's list_intersect
      // CASE chain (langIdListsSql), so the classifier is hash-checked.
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.langIdHeuristic(col("text"), langIdLists).as("lang_pred")),
      Sql(langIdSql)),
    Entry("x9_quality", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.punctRatio(col("text")).as("punct_ratio"),
        TextStats.stopwordHits(col("text"),
          Seq("the", "a", "of", "and", "or")).cast("long").as("stop_hits")),
      Sql("""SELECT doc_id,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                   AS DOUBLE) / length(text) END AS punct_ratio,
         CAST(len(list_intersect(list_distinct(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')),
              ['the','a','of','and','or'])) AS BIGINT) AS stop_hits
         FROM documents""")),
    Entry("x31_quality_model", (s, dir) => {
      // hashed-feature linear quality scorer (fastText-shaped): tokens
      // feature-hash (md5 prefix) into 64 Q30 weight buckets, the doc
      // score is the exact long sum — a zero-shuffle projection whose
      // oracle replays the same hash against the same literal weight
      // table (single source: TextStats.seededWeightsQ30). Runs the
      // fused native expression; the column composition is
      // property-tested identical (ExtSpec), so one oracle checks both.
      val s30 = TextStats.hashedLinearScoreQ30Fast(col("text"),
        TextStats.seededWeightsQ30(64))
      t(s, dir, "documents").select(col("doc_id"),
        (s30.cast("double") / lit(1073741824.0)).as("score"),
        (s30 > 0).cast("long").as("quality_pass"))
    },
      Sql(s"""WITH w AS (SELECT * FROM (VALUES ${qualityWeightsSql(64)}) AS t(b, wq)),
           toks AS (SELECT doc_id,
                    unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                    FROM documents),
           bt AS (SELECT doc_id,
                  (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) * 16
                   + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS b
                  FROM toks),
           sc AS (SELECT doc_id, CAST(SUM(w.wq) AS BIGINT) AS s
                  FROM bt JOIN w ON w.b = bt.b GROUP BY doc_id)
         SELECT doc_id, CAST(s AS DOUBLE)/1073741824 AS score,
                CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT) AS quality_pass
         FROM sc""")),
    Entry("x10_fingerprint", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp")),
      Sql("""SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents""")),
    Entry("x11_token_total", (s, dir) =>
      t(s, dir, "documents")
        .agg(sum(TextStats.tokenCount(col("text"))).cast("long").as("total_tokens"),
          count(lit(1)).as("n_docs")),
      Sql("""SELECT CAST(SUM(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_docs FROM documents""")),
    Entry("x45_bigram_lm", (s, dir) => {
      // CCNet-style LM quality filter in exact arithmetic: self-trained
      // bigram counts, score = mean conditional token probability in Q30
      // (stupid backoff α=0.4 for unseen pairs). Training is two
      // token-key shuffles; scoring equi-joins the count tables and
      // reduces on doc_id; T rides as one broadcast row. The oracle
      // retrains and rescores the identical integers over HUGEINT.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.bigramLmScoreQ30(d, "text", "doc_id", d, "text")
    },
      Sql("""WITH toks AS (
           SELECT doc_id, string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
         c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY 1),
         tt AS (SELECT COUNT(*) AS t FROM tok),
         w0 AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2),
         bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM w0),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         sc AS (
           SELECT bg.doc_id, COUNT(*) AS n_pairs,
                  CAST(SUM(CASE WHEN c2.c2 IS NOT NULL
                    THEN CAST((1073741824::HUGEINT * c2.c2) // u1.c1 AS BIGINT)
                    ELSE CAST((4::HUGEINT * 1073741824 * COALESCE(u2.c1, 0))
                              // (10::HUGEINT * t) AS BIGINT)
                  END) AS BIGINT) AS sum_p_q30
           FROM bg
           LEFT JOIN c2 USING (w1, w2)
           LEFT JOIN c1 u1 ON bg.w1 = u1.w
           LEFT JOIN c1 u2 ON bg.w2 = u2.w
           CROSS JOIN tt
           GROUP BY 1)
         SELECT d.doc_id, COALESCE(sc.n_pairs, 0) AS n_pairs, sc.sum_p_q30,
                CAST(sc.sum_p_q30 // sc.n_pairs AS BIGINT) AS lm_q30
         FROM documents d LEFT JOIN sc USING (doc_id)""")),
    Entry("x77_kn_bigram", (s, dir) => {
      // interpolated KNESER–NEY bigram LM — the standard smoothing
      // (KenLM's default) beside x45's stupid backoff: discounted bigram
      // estimate + continuation-probability interpolation, evaluated over
      // one common denominator with ONE exact floor division per pair
      // (D = 3/4 stays rational). Self-trained like x45; the oracle
      // retrains and rescores the identical integers over HUGEINT.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.kneserNeyBigramScoreQ30(d, "text", "doc_id",
        d, "text")
    },
      // x77: the KN model tables (bigram counts, context count + left
      // diversity, right diversity, type total) and the one-floor-div
      // score replayed over HUGEINT; unseen context falls to pure
      // continuation, empty train to 0
      Sql(s"""WITH $knBigramCtes
         SELECT d.doc_id, COALESCE(sc.n_pairs, 0) AS n_pairs, sc.sum_p_q30,
                CAST(sc.sum_p_q30 // sc.n_pairs AS BIGINT) AS lm_q30
         FROM documents d LEFT JOIN sc USING (doc_id)""")),
    Entry("x77b_perplexity_buckets", (s, dir) => {
      // CCNet's head/middle/tail perplexity split over the x77 KN
      // scores: the corpus reduces to ≤ 2³⁰/2²² = 256 quantized score
      // bins (census-guarded), a cumulative window ranks the BINS only,
      // and the bin→bucket table broadcasts back — whole bins share a
      // bucket, so the split never consults within-bin order. Docs with
      // no bigram pair score NULL → 'unscored'.
      val d = t(s, dir, "documents")
      val kn = graft.ext.TextStats.kneserNeyBigramScoreQ30(
        d, "text", "doc_id", d, "text")
      graft.ext.TextStats.scoreBuckets(kn, "doc_id", "lm_q30",
          quantStep = 1L << 22)
        .select(col("doc_id"), col("score").as("lm_q30"), col("bucket"))
    },
      // x77b: the bin census, the desc cumulative window over bins, and
      // the floor-div bucket pick replayed exactly; docs outside sc (no
      // bigram pair) fall through both LEFT joins to 'unscored'
      Sql(s"""WITH $knBigramCtes,
         scr AS (SELECT doc_id,
                        CAST(sum_p_q30 // n_pairs AS BIGINT) AS lm FROM sc),
         bins AS (SELECT lm // 4194304 AS qb, COUNT(*) AS c
                  FROM scr GROUP BY 1),
         tot AS (SELECT SUM(c) AS t FROM bins),
         lab AS (SELECT qb,
                   CASE CAST((3 * COALESCE(SUM(c) OVER (ORDER BY qb DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0)) // t AS INT)
                     WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                     ELSE 'tail' END AS bucket
                 FROM bins CROSS JOIN tot)
         SELECT d.doc_id, scr.lm AS lm_q30,
                COALESCE(lab.bucket, 'unscored') AS bucket
         FROM documents d
         LEFT JOIN scr USING (doc_id)
         LEFT JOIN lab ON scr.lm // 4194304 = lab.qb""")),
    Entry("x94_char_entropy", (s, dir) =>
      // character-distribution Shannon entropy per doc in exact Q8 bits
      // — the random-bytes/base64-blob quality signal beside Gopher
      // ratios and zipf slope; only (doc, char, count) rows cross the
      // exchange, and the Q8 log chain replays bit-for-bit in SQL.
      graft.ext.TextStats.charEntropyQ8(
        t(s, dir, "documents"), "doc_id", "text"),
      // x94: per-doc char-entropy replayed — per-char substr expansion,
      // (doc, char) counts, TWO Q8 log chains (counts and totals — the
      // unigram-oracle arithmetic), and the exact
      // (n·lq(n) − Σ k·lq(k)) // n fold.
      Sql {
    def lq(src: String, keys: String, v: String): Seq[String] = {
      val l0 = s"${src}_l0 AS MATERIALIZED (SELECT $keys, $v AS vv, " +
        s"length(bin($v)) - 1 AS e, " +
        s"($v * 256) // (1::BIGINT << (length(bin($v)) - 1)) AS m, " +
        "0::BIGINT AS a FROM " + src + ")"
      val steps = (1 to 8).map { i =>
        s"""${src}_l$i AS MATERIALIZED (SELECT $keys, vv, e,
          CASE WHEN (m*m)//256 >= 512 THEN ((m*m)//256)//2 ELSE (m*m)//256 END AS m,
          a*2 + CASE WHEN (m*m)//256 >= 512 THEN 1 ELSE 0 END AS a
          FROM ${src}_l${i - 1})"""
      }
      (l0 +: steps) :+
        s"${src}_lq AS MATERIALIZED (SELECT $keys, vv, e*256 + a AS lq FROM ${src}_l8)"
    }
    val parts = Seq(
      """ch AS MATERIALIZED (SELECT doc_id, substr(text, i, 1) AS c
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, length(text))) AS i
               FROM documents WHERE text IS NOT NULL))""",
      "cc AS MATERIALIZED (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2)") ++
      lq("cc", "doc_id, c", "k") ++
      Seq("nn AS MATERIALIZED (SELECT doc_id, SUM(k) AS n FROM cc GROUP BY 1)") ++
      lq("nn", "doc_id", "n")
    "WITH " + parts.mkString(",\n  ") + """
      SELECT s.doc_id, CAST(n.vv AS BIGINT) AS n_chars_counted,
             CAST((n.vv * n.lq - s.sc) // n.vv AS BIGINT) AS ent_q8
      FROM (SELECT doc_id, SUM(vv * lq) AS sc FROM cc_lq GROUP BY 1) s
      JOIN nn_lq n USING (doc_id)"""
  }),
    Entry("x95_ngram_diversity", (s, dir) => {
      // distinct-n corpus diversity (the Li et al. generation-diversity
      // metric applied to corpus slices): per language and n ∈ {1,2,3},
      // unique n-grams over total n-grams as an exact Q20 ratio —
      // repetitive/templated slices score low before any model sees
      // them. Grams keep per-doc multiplicity (that repetition IS the
      // signal); only (lang, n, gram) rows cross the exchange and the
      // distinct count is the standard two-phase partial aggregation.
      val d = t(s, dir, "documents").filter(col("text").isNotNull &&
        graft.ext.TextStats.wsTrim(col("text")) =!= "")
      (1 to 3).map { n =>
        d.select(col("lang"), lit(n.toLong).as("n"),
          explode(graft.ext.Dedup.wordNgrams(col("text"), n,
            distinct = false)).as("g"))
      }.reduce(_ unionByName _)
        .groupBy(col("lang"), col("n"))
        .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("uniq"))
        .select(col("lang"), col("n"), col("total"), col("uniq"),
          expr("(1048576L * uniq) div total").as("distinct_q20"))
    },
      Sql {
    def gN(n: Int): String = {
      val cat = (0 until n).map(o => s"t[i+$o]").mkString("concat_ws(' ', ", ", ", ")")
      s"""g$n AS (SELECT lang, $n AS n, $cat AS g
         FROM (SELECT lang, t,
                 unnest(generate_series(1, greatest(len(t) - ${n - 1}, 1))) AS i
               FROM tk))"""
    }
    s"""WITH tk AS (SELECT lang, string_split_regex(
             regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
           FROM documents WHERE text IS NOT NULL
             AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''),
         ${gN(1)},
         ${gN(2)},
         ${gN(3)},
         gg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
                UNION ALL SELECT * FROM g3)
         SELECT lang, CAST(n AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS total,
                CAST(COUNT(DISTINCT g) AS BIGINT) AS uniq,
                CAST((1048576::HUGEINT * COUNT(DISTINCT g)) // COUNT(*)
                     AS BIGINT) AS distinct_q20
         FROM gg GROUP BY 1, 2"""
  }),
    Entry("x88_pmi_collocations", (s, dir) =>
      // collocation mining: top-50 adjacent token pairs by pointwise
      // mutual information (Church & Hanks) at min pair count 5 — the
      // rare-but-exclusive ranking that inverts x38's raw-count merge
      // order; the Q20 probability ratio is integer-exact so the oracle
      // replays the scores AND the top-k boundary.
      graft.ext.TextStats.pmiCollocations(
        t(s, dir, "documents"), "text", 5, 50),
      // The x88 PMI oracle: unigram and adjacent-pair counts over the
      // trimmed split, the 2²⁰·c_ab·N² // (P·c_a·c_b) ratio over HUGEINT,
      // the minCount floor, and the (score desc, w1, w2) top-50 cut.
      Sql("""WITH toks AS (SELECT string_split_regex(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
         FROM documents
         WHERE text IS NOT NULL
           AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
       un AS (SELECT unnest(t) AS w FROM toks),
       c1 AS (SELECT w, COUNT(*) AS c FROM un GROUP BY 1),
       nn AS (SELECT COUNT(*) AS n FROM un),
       bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
              FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2)),
       c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       pp AS (SELECT SUM(c) AS p FROM c2)
       SELECT w1, w2, CAST(c2.c AS BIGINT) AS n_pair,
              CAST((1048576::HUGEINT * c2.c * nn.n * nn.n)
                   // (pp.p * a.c * b.c) AS BIGINT) AS score_q20
       FROM c2 JOIN c1 a ON a.w = c2.w1 JOIN c1 b ON b.w = c2.w2
       CROSS JOIN nn CROSS JOIN pp
       WHERE c2.c >= 5
       ORDER BY score_q20 DESC, w1, w2 LIMIT 50""")),
    Entry("x34_vocab_freq", (s, dir) =>
      // vocabulary building: corpus-wide token frequency + document
      // frequency, deterministic top-100 by (count desc, token asc).
      // Scale shape: explode → ONE shuffle on the token key with map-side
      // partial counts absorbing hot tokens (the Zipf head never reaches
      // the exchange as raw rows); the top-100 runs as TakeOrdered (per-
      // partition heap + driver merge, PlanSpec-pinned), never a global
      // sort. The df (doc-frequency) column is the IDF input quality
      // filters and dedup weighting draw on.
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("tok")).limit(100),
      // x34: same \s+ split (Java and RE2 agree on ASCII \s), empty tokens
      // dropped, total order (n desc, tok asc) makes the LIMIT boundary
      // engine-portable
      Sql("""SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
         FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
               FROM documents)
         WHERE tok <> ''
         GROUP BY tok
         ORDER BY n DESC, tok LIMIT 100""")),
    Entry("x97_release_drift", (s, dir) => {
      // corpus-level drift between the two releases (the x63 even/odd
      // release-pair convention): per language, the quantized
      // Jensen-Shannon divergence of the releases' token distributions
      // — the x63 id-keyed delta says WHICH docs changed; this says
      // whether the language itself moved. One tokenize+groupBy pass
      // per release, one token-keyed full-outer join, Q8-bit outputs.
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      graft.ext.TextStats.distributionDriftQ8(
        counts(col("doc_id") % 2 === 0), counts(col("doc_id") % 2 === 1),
        Seq("lang"), "tok", "c")
    },
      Sql {
    def lq(src: String): Seq[String] = oracleLog2q8Ctes(src)
    val parts = x97BaseCtes ++ Seq(
      "p2 AS MATERIALIZED (SELECT lang, tok, 2 * pq AS v FROM q WHERE pq >= 1)",
      "q2 AS MATERIALIZED (SELECT lang, tok, 2 * qq AS v FROM q WHERE qq >= 1)",
      "mm AS MATERIALIZED (SELECT lang, tok, pq + qq AS v FROM q WHERE pq >= 1 OR qq >= 1)") ++
      lq("p2") ++ lq("q2") ++ lq("mm") ++ Seq(
      """sp AS (SELECT q.lang,
              SUM(CAST(q.pq AS HUGEINT) * (p.lq - m.lq)) AS s
         FROM q
         JOIN p2_lq p ON p.lang = q.lang AND p.tok = q.tok
         JOIN mm_lq m ON m.lang = q.lang AND m.tok = q.tok
         GROUP BY 1)""",
      """sq AS (SELECT q.lang,
              SUM(CAST(q.qq AS HUGEINT) * (p.lq - m.lq)) AS s
         FROM q
         JOIN q2_lq p ON p.lang = q.lang AND p.tok = q.tok
         JOIN mm_lq m ON m.lang = q.lang AND m.tok = q.tok
         GROUP BY 1)""")
    "WITH " + parts.mkString(",\n  ") + """
      -- FLOOR division, spelled out: duckdb's // TRUNCATES toward zero
      -- on integers (-5 // 2^20 = 0, not -1), so the slightly-negative
      -- quantization-residue sums need the positive-mod correction the
      -- engine uses (subtract the positive mod, then divide the exact
      -- multiple — trunc == floor on multiples)
      SELECT t.lang, CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
             CAST(t.va AS BIGINT) AS vocab_a, CAST(t.vb AS BIGINT) AS vocab_b,
             CAST((COALESCE(s1.s, 0)
                   - ((COALESCE(s1.s, 0) % 1048576 + 1048576) % 1048576))
                  // 1048576 AS BIGINT) AS kl_am_q8,
             CAST((COALESCE(s2.s, 0)
                   - ((COALESCE(s2.s, 0) % 1048576 + 1048576) % 1048576))
                  // 1048576 AS BIGINT) AS kl_bm_q8,
             CAST((COALESCE(s1.s, 0) + COALESCE(s2.s, 0)
                   - (((COALESCE(s1.s, 0) + COALESCE(s2.s, 0)) % 2097152
                       + 2097152) % 2097152))
                  // 2097152 AS BIGINT) AS jsd_q8
      FROM tt t
      LEFT JOIN sp s1 ON s1.lang = t.lang
      LEFT JOIN sq s2 ON s2.lang = t.lang"""
  }),
    Entry("x97c_drift_tokens", (s, dir) => {
      // drift ATTRIBUTION: per language the 8 tokens with the largest
      // quantized mass shift between the releases — the report a
      // curator reads after x97 flags a slice; same quantized
      // distribution as the monitor, so the attribution is consistent
      // with the score it explains.
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      graft.ext.TextStats.driftTopTokens(
        counts(col("doc_id") % 2 === 0), counts(col("doc_id") % 2 === 1),
        Seq("lang"), "tok", "c", 8)
    },
      // x97c: the same quantized distribution, ranked by absolute mass
      // shift (ties token-ascending) and cut at k=8 per language
      Sql(("WITH " + x97BaseCtes.mkString(",\n  ") + """,
         r AS (SELECT lang, tok, a, b, pq, qq, abs(pq - qq) AS shift,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY abs(pq - qq) DESC, tok) AS rnk
               FROM q)
         SELECT lang, tok AS token,
                CAST(a AS BIGINT) AS cnt_a, CAST(b AS BIGINT) AS cnt_b,
                CAST(pq AS BIGINT) AS p_q20, CAST(qq AS BIGINT) AS q_q20,
                CAST(shift AS BIGINT) AS shift_q20, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 8"""))),
    Entry("x97d_psi_alert", (s, dir) => {
      // the drift monitor's PAGER WIRE: per-language Population
      // Stability Index over the same quantized release distributions
      // as x97's JSD, with a thresholded 0/1 alert column (32 Q8 ≈ the
      // conventional PSI 0.1 "investigate" line). PSI is unbounded
      // where JSD saturates at 1 bit, so it keeps resolving "how bad"
      // after the alarm fires; one-sided token mass is reported, not
      // epsilon-clipped.
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      graft.ext.TextStats.psiDriftQ8(
        counts(col("doc_id") % 2 === 0), counts(col("doc_id") % 2 === 1),
        Seq("lang"), "tok", "c", 32L)
    },
      Sql(psiOracleSql(x97BaseCtes))),
    Entry("x97b_drift_incremental", (s, dir) => {
      // continuous-ingest drift monitor: release B's base counts stage
      // ONCE; a new batch folds in by key re-sum (counts are sums:
      // merge ≡ one-shot bit-for-bit) and the drift re-evaluates from
      // the merged distribution — answers x97's oracle VERBATIM
      // without rescanning either corpus (the x93b/x92b twin).
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      val odd = col("doc_id") % 2 === 1
      val bMerged = graft.ext.TextStats.mergeTokenCounts(Seq(
        Stage(counts(odd && pmod(col("doc_id"), lit(4L)) === 1L)),
        counts(odd && pmod(col("doc_id"), lit(4L)) === 3L)),
        Seq("lang"), "tok", "c")
      graft.ext.TextStats.distributionDriftQ8(
        counts(col("doc_id") % 2 === 0), bMerged, Seq("lang"), "tok", "c")
    },
      // x97b answers the SAME oracle verbatim: counts are sums, so the
      // staged-base + batch merge IS the one-shot count table (the
      // x93b/x35c same-oracle convention; LmSpec pins the merge identity)
      SameAs("x97_release_drift")),
    Entry("x97h_wasserstein", (s, dir) => {
      // the MAGNITUDE member of the drift family: earth-mover distance
      // of n_chars between the releases in VALUE units ("documents got
      // ~N characters longer") — exact on the shared ⌊v/64⌋ bins (the
      // CDF gap is constant between observed bins, so the integral is
      // a lead-width sum), one Q20 floor at the end.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.wassersteinDriftQ20(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L)
    },
      // x97h: Wasserstein-1 replayed — the shared bin/cumulative frame
      // plus a LEAD(bin) segment width; the gap is constant between
      // observed bins, the last bin contributes 0, one Q20·binWidth
      // floor (all operands ≥ 0 → bare `//`).
      // x97h: Wasserstein-1 — transport cost in value units, lead-width
      // CDF-gap integral on the shared bins
      Sql("""WITH ha AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS ca
           FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         hb AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS cb
           FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         m AS (SELECT COALESCE(ha.lang, hb.lang) AS lang,
                      COALESCE(ha.bin, hb.bin) AS bin,
                      COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
               FROM ha FULL JOIN hb
                 ON ha.lang = hb.lang AND ha.bin = hb.bin),
         c AS (SELECT lang, bin, ca, cb,
                 SUM(ca) OVER (PARTITION BY lang ORDER BY bin) AS cma,
                 SUM(cb) OVER (PARTITION BY lang ORDER BY bin) AS cmb,
                 SUM(ca) OVER (PARTITION BY lang) AS na,
                 SUM(cb) OVER (PARTITION BY lang) AS nb,
                 LEAD(bin) OVER (PARTITION BY lang ORDER BY bin) AS nx
               FROM m),
         g AS (SELECT lang, na, nb,
                 SUM(CASE WHEN nx IS NULL THEN 0
                     ELSE ABS(CAST(cma AS HUGEINT) * nb
                              - CAST(cmb AS HUGEINT) * na) * (nx - bin)
                     END) AS s
               FROM c GROUP BY 1, 2, 3)
         SELECT lang, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CASE WHEN na = 0 OR nb = 0 THEN NULL
                     ELSE CAST((1048576::HUGEINT * 64 * s)
                               // (CAST(na AS HUGEINT) * nb) AS BIGINT)
                END AS w1_q20
         FROM g""")),
    Entry("x97g_cliffs_delta", (s, dir) => {
      // the SIGNED ordinal effect size completing the drift triple
      // (PSI density, KS distance, δ direction): Cliff's delta of
      // n_chars between the releases over the same ⌊v/64⌋ bins —
      // which release runs LONGER, and by how much dominance, exact
      // pair counts with one positive-mod Q20 floor.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.cliffsDeltaQ20(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L)
    },
      // x97g: Cliff's delta replayed — the same ⌊n_chars/64⌋ bins and
      // cumulative window as the KS, pair counts from (a-mass × strictly
      // lower / strictly higher B-mass), the signed positive-mod Q20
      // floor over n_a·n_b; one-sided → NULL.
      // x97g: Cliff's delta — signed dominance off the same bins
      Sql("""WITH ha AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS ca
           FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         hb AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS cb
           FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         m AS (SELECT COALESCE(ha.lang, hb.lang) AS lang,
                      COALESCE(ha.bin, hb.bin) AS bin,
                      COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
               FROM ha FULL JOIN hb
                 ON ha.lang = hb.lang AND ha.bin = hb.bin),
         c AS (SELECT lang, ca, cb,
                 SUM(cb) OVER (PARTITION BY lang ORDER BY bin) AS cmb,
                 SUM(ca) OVER (PARTITION BY lang) AS na,
                 SUM(cb) OVER (PARTITION BY lang) AS nb
               FROM m),
         g AS (SELECT lang, na, nb,
                 SUM(CAST(ca AS HUGEINT) * (cmb - cb)) AS gt,
                 SUM(CAST(ca AS HUGEINT) * (nb - cmb)) AS lt
               FROM c GROUP BY 1, 2, 3),
         k AS (SELECT lang, na, nb, gt, lt,
                 1048576::HUGEINT * (gt - lt) AS x,
                 CAST(na AS HUGEINT) * nb AS dn
               FROM g)
         SELECT lang, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CAST(gt AS BIGINT) AS n_gt, CAST(lt AS BIGINT) AS n_lt,
                CASE WHEN na = 0 OR nb = 0 THEN NULL
                     ELSE CAST((x - ((x % dn + dn) % dn)) // dn AS BIGINT)
                END AS delta_q20
         FROM k""")),
    Entry("x97f_ks_drift", (s, dir) => {
      // the CDF-shaped drift test beside x97e's density-shaped PSI:
      // two-sample Kolmogorov–Smirnov over the same ⌊n_chars/64⌋ bins
      // per language — exact integers end to end (cumulative counts
      // cross-multiplied by the totals; ONE Q20 floor at the very end),
      // alert at the conventional 0.1 line (⌊0.1·2²⁰⌋ = 104857).
      val d = t(s, dir, "documents")
      graft.ext.TextStats.ksDriftQ20(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L, 104857L)
    },
      // x97f: the two-sample KS replayed — the same ⌊n_chars/64⌋ bins as
      // x97e (n_chars ≥ 0, bare `//` is floor), cumulative counts per
      // language via a window sum, the gap cross-multiplied by the totals
      // in HUGEINT, and ONE Q20 floor at the end (all factors ≥ 0, so the
      // bare `//` is floor there too); a one-sided language is NULL.
      // x97f: two-sample KS over the x97e bins — cumulative window sums,
      // HUGEINT cross-multiplied gap, one Q20 floor at the end
      Sql("""WITH ha AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS ca
           FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         hb AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS cb
           FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         m AS (SELECT COALESCE(ha.lang, hb.lang) AS lang,
                      COALESCE(ha.bin, hb.bin) AS bin,
                      COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
               FROM ha FULL JOIN hb
                 ON ha.lang = hb.lang AND ha.bin = hb.bin),
         c AS (SELECT lang,
                 SUM(ca) OVER (PARTITION BY lang ORDER BY bin) AS cma,
                 SUM(cb) OVER (PARTITION BY lang ORDER BY bin) AS cmb,
                 SUM(ca) OVER (PARTITION BY lang) AS na,
                 SUM(cb) OVER (PARTITION BY lang) AS nb
               FROM m),
         g AS (SELECT lang, na, nb, COUNT(*) AS n_bins,
                 MAX(ABS(CAST(cma AS HUGEINT) * nb
                         - CAST(cmb AS HUGEINT) * na)) AS gap
               FROM c GROUP BY 1, 2, 3),
         k AS (SELECT lang, na, nb, n_bins,
                 CASE WHEN na = 0 OR nb = 0 THEN NULL
                      ELSE CAST((1048576::HUGEINT * gap)
                                // (CAST(na AS HUGEINT) * nb) AS BIGINT)
                 END AS ks_q20
               FROM g)
         SELECT lang, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CAST(n_bins AS BIGINT) AS n_bins, ks_q20,
                CAST(CASE WHEN ks_q20 IS NOT NULL AND ks_q20 >= 104857
                     THEN 1 ELSE 0 END AS BIGINT) AS alert
         FROM k""")),
    Entry("x97e_psi_numeric", (s, dir) => {
      // FEATURE drift beside x97d's language drift: per-language PSI of
      // the n_chars distribution between the releases, ⌊v/64⌋ bins
      // playing the token role on the identical epsilon-free machinery
      // — the classical production-PSI shape (binned numeric feature).
      val d = t(s, dir, "documents")
      graft.ext.TextStats.psiNumericQ8(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L, 32L)
    },
      // x97e: the same PSI over NUMERIC bins — per-language ⌊n_chars/64⌋
      // histogram counts per release play the token role (n_chars ≥ 0, so
      // the bare `//` is floor).
      Sql(psiOracleSql(Seq(
    """ca AS MATERIALIZED (SELECT lang, (n_chars // 64) AS tok, COUNT(*) AS a
         FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
         GROUP BY 1, 2)""",
    """cb AS MATERIALIZED (SELECT lang, (n_chars // 64) AS tok, COUNT(*) AS b
         FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
         GROUP BY 1, 2)""") ++ x97BaseCtes.drop(3))))
  )
}
