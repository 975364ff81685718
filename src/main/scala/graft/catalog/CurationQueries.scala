package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup, TextStats}
import graft.ops.Stage
import Common._

/** Curation: filtering, sampling and mixing, packing, shard and release
  * builds, dataset cards, HTML extraction, privacy releases
  * ([[graft.ext.Curation]]). */
object CurationQueries {

  /** Shared audited frame of the privacy-release triple's diversity side
    * (x100b/c one-shots and their x100e/f ingest twins): per document,
    * the (lang) key, (source, n_chars-bucket) quasi-identifiers, and the
    * token-count bucket as the ordinal sensitive surrogate. ONE
    * definition so the twins and one-shots can only drift together. */
  private def x100bFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        graft.ext.TextStats.wsTrim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 256").as("len_bucket"),
        size(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
          .cast("long").as("_sv"))
      .withColumn("sv", expr("_sv div 8")).drop("_sv")

  /** x66/x66b shared extraction replay: the synthetic page build (the
    * `pageExpr` SQL differs per query) + the whole extraction —
    * script/style excision, block segmentation at block-tag boundaries,
    * and the two keep rules (≥3 words; cross-multiplied ≤300‰ anchor
    * density — integer compare, no division) inside list lambdas. Ends
    * with `ext` = the x66 output shape. */
  private def htmlExtractCtes(pageExpr: String): String =
    s"""WITH pages AS (
         SELECT doc_id, $pageExpr AS html
         FROM documents),
       blocked AS (
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '(?i)</?(p|div|br|h1|h2|h3|h4|h5|h6|li|ul|ol|table|tr|td|th|section|article|header|footer|nav|blockquote|pre|title|body|html|head)\\b[^>]*>',
             e'\\n', 'g') AS b
         FROM pages),
       blocks AS (SELECT doc_id, string_split(b, e'\\n') AS bl FROM blocked),
       scored AS (
         SELECT doc_id, bl,
           list_filter(bl, x ->
             (CASE WHEN trim(regexp_replace(x, '<[^>]*>', '', 'g')) = '' THEN 0
                   ELSE len(string_split_regex(trim(regexp_replace(x, '<[^>]*>', '', 'g')), '\\s+')) END) >= 3
             AND (len(regexp_replace(x, '<[^>]*>', '', 'g'))
                  - len(regexp_replace(regexp_replace(x, '(?is)<a\\b[^>]*>.*?</a>', '', 'g'), '<[^>]*>', '', 'g'))) * 1000
                 <= 300 * len(regexp_replace(x, '<[^>]*>', '', 'g'))) AS kept
         FROM blocks),
       ext AS (
         SELECT doc_id,
              array_to_string(list_transform(kept,
                x -> trim(regexp_replace(x, '<[^>]*>', '', 'g'))), e'\\n') AS text_main,
              CAST(len(list_filter(bl,
                x -> trim(regexp_replace(x, '<[^>]*>', '', 'g')) <> '')) AS BIGINT) AS n_blocks,
              CAST(len(kept) AS BIGINT) AS n_kept
         FROM scored)"""

  /** the x66 page: link-only nav/footer, the text as one paragraph, a
    * link-dense sponsored unit on every 3rd doc. */
  private val x66PageSql: String =
    """'<html><head><title>Doc</title><style>.x{color:red}</style>' ||
           '<script type="text/javascript">var a=1;</script></head><body>' ||
           '<div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>' ||
           '<p>' || COALESCE(text, '') || '</p>' ||
           CASE WHEN doc_id % 3 = 0
                THEN '<div>sponsored <a href="/ad">click here now</a> <a href="/ad2">buy today</a></div>'
                ELSE '' END ||
           '<div><a href="/p">Privacy</a> <a href="/t">Terms</a></div></body></html>'"""

  /** the x66b page: same chrome, but the boilerplate is a cookie-notice
    * PARAGRAPH — prose-shaped and link-free, so HTML extraction keeps it
    * and only the line rules can drop it. */
  private val x66bPageSql: String =
    """'<html><head><title>Doc</title><style>.x{color:red}</style>' ||
           '<script type="text/javascript">var a=1;</script></head><body>' ||
           '<div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>' ||
           '<p>' || COALESCE(text, '') || '</p>' ||
           '<p>this site uses cookie tracking please accept our cookie policy</p>' ||
           '<div><a href="/p">Privacy</a> <a href="/t">Terms</a></div></body></html>'"""

  val entries: Seq[Entry] = Seq(
    Entry("x16_curation", (s, dir) =>
      graft.ext.Curation.curate(t(s, dir, "documents"), "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh")))
        .select(col("doc_id"), col("status")),
      Sql("""WITH stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents)
         SELECT doc_id,
           CASE WHEN dup_rank > 1 THEN 'dup'
                WHEN n_tok < 20 THEN 'too_short'
                WHEN lang NOT IN ('de','en','es','zh') THEN 'bad_lang'
                WHEN punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0 THEN 'low_quality'
                ELSE 'ok' END AS status
         FROM stats""")),
    Entry("x37_pretrain_build", (s, dir) => {
      // CAPSTONE: the full pretrain data build as ONE lazy plan — curate
      // (quality/lang/exact-dup) → near-dup dedup (staged LSH + CC) on
      // the survivors → benchmark decontamination → domain-mixture
      // sampling → token-budget packing. Every stage is the operator its
      // own query already oracle-proves (x16/x28/x23/x32/x19); THIS row
      // proves the COMPOSITION: the oracle replays all five stages as one
      // CTE chain, so stage wiring (who feeds whom, which ids survive)
      // is hash-checked end-to-end, not just each stage in isolation.
      val d = t(s, dir, "documents")
      val ok = graft.ext.Curation.curate(d, "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh")))
        .filter(col("status") === "ok").select("doc_id")
      // STAGE the two survivor sets each consumed by 2+ downstream heads
      // (guide §1.2 don't recompute / §6): lazily, `curated` (curation
      // pass + join) re-executed once inside the staged LSH and once per
      // `train` branch, and `train` (the dedup-apply join) re-executed
      // for both the contamination probe and the clean anti-join — the
      // corpus-scale curation regexes ran 3× per run. Each stages ONCE
      // to a temp parquet (same rows, same columns — the oracle hash
      // pins identity) and every head reads the flat stage.
      val curated = Stage(d.join(ok, "doc_id"))
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Stage(Dedup.minhashSignature(curated, "text", 4)), "doc_id", 4, 2))
      val train = Stage(
        Dedup.applyDedup(curated, clusters, "doc_id")
          .filter(col("doc_id") >= 10)) // ids < 10 are the benchmark split
      val contaminated = Dedup.contaminatedDocs(train,
        d.filter(col("doc_id") < 10), "text", "doc_id", 5).select("doc_id")
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      val mixed = graft.ext.Curation.mixtureSample(clean, "doc_id", "source",
        Map("src0" -> 1000, "src1" -> 900, "src2" -> 750, "src3" -> 500,
          "src4" -> 250, "src5" -> 100, "src6" -> 0), 600)
      graft.ext.Curation.packByTokenBudget(
        mixed.select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok")),
        Seq("lang"), "doc_id", "n_tok", 500L)
    },
      // x37: the five oracle-proven stage bodies (x16 curation CASE, x28
      // sig/cand/CC, x23 gram split, x32 draw, x19 packing window) chained
      // into one CTE pipeline — checks the stage WIRING end-to-end
      Sql("""WITH RECURSIVE
         stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents),
         cur AS (SELECT doc_id FROM stats
                 WHERE dup_rank = 1 AND n_tok >= 20 AND lang IN ('de','en','es','zh')
                   AND NOT (punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0)),
         curdocs AS (SELECT d.* FROM documents d JOIN cur USING (doc_id)),
         sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM curdocs, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         edges AS (SELECT a_id AS src, b_id AS dst FROM cand
                   UNION SELECT b_id, a_id FROM cand),
         reach AS (
           SELECT src AS id, dst AS peer FROM edges
           UNION
           SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
         clusters AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                      FROM reach GROUP BY id),
         train AS (SELECT * FROM curdocs
                   WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
                     AND doc_id >= 10),
         tgrams AS (SELECT doc_id, list_distinct(list_transform(
                      generate_series(1, greatest(len(t) - 4, 1)),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS gs
                    FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                          FROM train)),
         bgrams AS (SELECT DISTINCT unnest(gs) AS g FROM (
                      SELECT list_distinct(list_transform(
                        generate_series(1, greatest(len(t) - 4, 1)),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS gs
                      FROM (SELECT string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                            FROM documents WHERE doc_id < 10))),
         contam AS (SELECT DISTINCT tg.doc_id
                    FROM (SELECT doc_id, unnest(gs) AS g FROM tgrams) tg
                    JOIN bgrams ON tg.g = bgrams.g),
         clean AS (SELECT * FROM train
                   WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         mixed AS (SELECT doc_id, lang, text FROM (
             SELECT doc_id, lang, text, source,
               (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 268435456
                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
                + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
                + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
                + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) % 1000 AS draw
             FROM (SELECT doc_id, lang, text, source,
                   md5(CAST(doc_id AS VARCHAR) || ':mix') AS h FROM clean))
           WHERE draw < CASE source
             WHEN 'src0' THEN 1000 WHEN 'src1' THEN 900 WHEN 'src2' THEN 750
             WHEN 'src3' THEN 500 WHEN 'src4' THEN 250 WHEN 'src5' THEN 100
             WHEN 'src6' THEN 0 ELSE 600 END)
         SELECT doc_id, lang, n_tok,
           CAST(floor(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500) AS BIGINT) AS bin
         FROM (
           SELECT doc_id, lang,
             CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
           FROM mixed)""")),
    Entry("x16b_curation_report", (s, dir) =>
      graft.ext.Curation.report(
        graft.ext.Curation.curate(t(s, dir, "documents"), "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh")))),
      Sql("""WITH stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents),
           curated AS (
             SELECT CASE WHEN dup_rank > 1 THEN 'dup'
                  WHEN n_tok < 20 THEN 'too_short'
                  WHEN lang NOT IN ('de','en','es','zh') THEN 'bad_lang'
                  WHEN punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0 THEN 'low_quality'
                  ELSE 'ok' END AS status
             FROM stats)
         SELECT status, COUNT(*) AS n FROM curated GROUP BY status""")),
    Entry("x18_stratified_sample", (s, dir) =>
      // deterministic eval-set carving: 5 docs per (lang, source) stratum
      // picked by id-hash — stable across runs and engines
      graft.ext.Curation.hashStratifiedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
        Seq("lang", "source"), "doc_id", 5),
      Sql("""SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 5""")),
    Entry("x32_mixture_sample", (s, dir) =>
      // corpus mixing to target per-domain rates: salted id-hash Bernoulli
      // draw per row — deterministic across runs/engines/partitionings; a
      // pure filter, no shuffle. Rates cover full/partial/zero/default.
      graft.ext.Curation.mixtureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src0" -> 1000, "src1" -> 900, "src2" -> 750, "src3" -> 500,
          "src4" -> 250, "src5" -> 100, "src6" -> 0),
        600),
      Sql("""SELECT doc_id, source FROM (
           SELECT doc_id, source,
             (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 268435456
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
              + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) % 1000 AS draw
           FROM (SELECT doc_id, source,
                 md5(CAST(doc_id AS VARCHAR) || ':mix') AS h FROM documents))
         WHERE draw < CASE source
           WHEN 'src0' THEN 1000 WHEN 'src1' THEN 900 WHEN 'src2' THEN 750
           WHEN 'src3' THEN 500 WHEN 'src4' THEN 250 WHEN 'src5' THEN 100
           WHEN 'src6' THEN 0 ELSE 600 END""")),
    Entry("x39_token_budget_mix", (s, dir) =>
      // token-budget mixture — the complement of x32's rate mixture: each
      // source contributes its BUDGETED TOKEN MASS (how pretrain mixes
      // are actually specified), taken in salted-hash order with an
      // exclusive running-total cut; src2's zero budget drops the domain,
      // unlisted sources take the default. One window shuffle; fully
      // deterministic, so the oracle replays the same window + CASE cut.
      graft.ext.Curation.sampleByTokenBudget(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok")),
        "doc_id", "source", "n_tok",
        Map("src0" -> 20000L, "src1" -> 5000L, "src2" -> 0L), 1000L),
      Sql("""SELECT doc_id, source, n_tok FROM (
           SELECT doc_id, source, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':budget'), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM (SELECT doc_id, source,
                 CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                      ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
                 FROM documents))
         WHERE cum < CASE source WHEN 'src0' THEN 20000 WHEN 'src1' THEN 5000
                     WHEN 'src2' THEN 0 ELSE 1000 END""")),
    Entry("x19_token_packing", (s, dir) =>
      // training-batch packing: per-lang bins of ~500 whitespace tokens,
      // greedy one-pass assignment by exclusive prefix sum
      graft.ext.Curation.packByTokenBudget(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok")),
        Seq("lang"), "doc_id", "n_tok", 500L),
      Sql("""SELECT doc_id, lang, n_tok,
           CAST(floor(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500) AS BIGINT) AS bin
         FROM (
           SELECT doc_id, lang,
             CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
           FROM documents)""")),
    Entry("x47_c4_clean", (s, dir) => {
      // C4-style LINE-RULE cleaning over synthesized 3-token lines (the
      // x27 move — fixture text has no newlines): keep a line iff ≥3
      // words AND no boilerplate marker ('dup' / 'slow' play the
      // 'javascript' / 'cookie' role on this vocabulary); a doc survives
      // with ≥2 kept lines. Pure zero-exchange projection — the line
      // array never leaves its row; md5 proves byte-identical reassembly.
      val d = t(s, dir, "documents")
      val toks = col("_toks")
      val lined = d.withColumn("_toks", split(TextStats.wsTrim(col("text")), "\\s+"))
        .withColumn("text",
          concat_ws("\n", transform(
            sequence(lit(0), ((size(toks) - 1) / 3).cast("int")),
            i => concat_ws(" ", slice(toks, i * 3 + 1, lit(3))))))
        .drop("_toks")
      Curation.c4LineClean(lined, "text", "doc_id",
          minWordsPerLine = 3, banned = Seq("dup", "slow"), minKeptLines = 2)
        .select(col("doc_id"), md5(col("text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
    },
      Sql("""WITH t AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
                    FROM documents),
           lined AS (SELECT doc_id,
             list_transform(generate_series(0, CAST((len(toks) - 1) // 3 AS BIGINT)),
               i -> array_to_string(toks[(i*3+1):(i*3+3)], ' ')) AS ls
             FROM t),
           kept AS (SELECT doc_id, len(ls) AS n_all,
             list_filter(ls, l ->
               (CASE WHEN trim(l) = '' THEN 0
                     ELSE len(string_split_regex(trim(l), '\s+')) END) >= 3
               AND NOT contains(lower(l), 'dup')
               AND NOT contains(lower(l), 'slow')) AS ks
             FROM lined)
         SELECT doc_id, md5(array_to_string(ks, chr(10))) AS clean_md5,
                CAST(len(ks) AS BIGINT) AS n_kept,
                CAST(n_all - len(ks) AS BIGINT) AS n_dropped
         FROM kept WHERE len(ks) >= 2""")),
    Entry("x46_curriculum", (s, dir) => {
      // COMPOSITION row (x37 discipline): the x45 LM score feeds a
      // quality-curriculum training order — absolute Q30 score bands
      // (zero-exchange projection; no global rank sort) with an x44-style
      // reproducible shuffle inside each band. Consuming (band desc,
      // batch, pos) anneals training clean→noisy. The oracle replays the
      // x45 CTE chain, the band arithmetic, and both window orders.
      val d = t(s, dir, "documents")
      val scored = graft.ext.TextStats.bigramLmScoreQ30(
        d, "text", "doc_id", d, "text")
      graft.ext.Curation.curriculumOrder(
          scored.select(col("doc_id"), col("lm_q30")),
          Seq("doc_id"), "lm_q30", 4, 0L, 2)
        .select(col("band"), col("batch"), col("pos"), col("doc_id"),
          col("lm_q30"))
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
           GROUP BY 1),
         lm AS (
           SELECT d.doc_id,
                  CAST(sc.sum_p_q30 // sc.n_pairs AS BIGINT) AS lm_q30
           FROM documents d LEFT JOIN sc USING (doc_id)),
         cu AS (
           SELECT doc_id, lm_q30,
                  least(3, greatest(0, (COALESCE(lm_q30, 0) * 4) // 1073741824))
                    AS band,
                  md5(concat_ws(':', 0, doc_id)) AS h
           FROM lm)
         SELECT band, substr(h, 1, 2) AS batch,
                CAST(ROW_NUMBER() OVER (
                       PARTITION BY band, substr(h, 1, 2)
                       ORDER BY h, doc_id) AS BIGINT) AS pos,
                doc_id, lm_q30
         FROM cu""")),
    Entry("x50_shard_export", (s, dir) => {
      // the DELIVERY lifecycle through the driver gate (s8/x43b
      // precedent): token-balanced shard assignment — banded round-robin,
      // NO global sort, a 16-way salt bounding any hot band's window task
      // — written partitionBy(shard) to a session temp dir, then answered
      // FROM the layout: per-shard doc/token mass + an id-sum membership
      // fingerprint. The layout hop must be invisible to the RESULT, and
      // the assignment exactly replayable: the oracle recomputes
      // band/salt/rn/shard from (doc_id, text) alone, never seeing the
      // files.
      val d = t(s, dir, "documents")
      val weighted = d.select(col("doc_id"), col("lang"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      val assigned = graft.ext.Curation.assignShards(
        weighted, "doc_id", "n_tok", 8, 64L)
      val ldir = Stage.dir("graft_shards_")
      assigned.write.partitionBy("shard").mode("overwrite").parquet(ldir)
      // explicit schema: a zero-survivor layout has no data files to
      // infer from, and must read back as empty, not throw
      s.read.schema(assigned.schema).parquet(ldir)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tok_total"),
          sum(col("doc_id")).as("id_sum"))
    },
      // x50: the assignment replays from (doc_id, text) alone — band by
      // 64-token width, salt = the draw's leading hex digit, round-robin
      // within (band, salt) ordered by (draw, doc_id), shard staggered by
      // band + salt. The layout write/read hop on the Spark side must not
      // change a single total.
      Sql("""WITH w AS (
           SELECT doc_id,
             CASE WHEN text IS NULL
                    OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
               AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || ':shard') AS h
           FROM documents),
         a AS (
           SELECT doc_id, n_tok, h, n_tok // 64 AS band,
             CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT)
               AS salt
           FROM w),
         r AS (
           SELECT doc_id, n_tok, band, salt,
             CAST(ROW_NUMBER() OVER (PARTITION BY band, salt
               ORDER BY h, doc_id) AS BIGINT) AS rn
           FROM a)
         SELECT CAST((band + salt + rn - 1) % 8 AS BIGINT) AS shard,
                COUNT(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tok_total,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM r GROUP BY 1""")),
    Entry("x51_dataset_card", (s, dir) =>
      // the corpus datasheet a release ships with: ROLLUP over
      // (source, lang) of exact-integer metrics — doc/token/char mass,
      // exact-dup counts, length extremes. Floats never appear (consumers
      // derive means from the sums), so the whole card hash-verifies.
      // One content-digest window + one rollup agg with map-side partials.
      graft.ext.Curation.datasetCard(t(s, dir, "documents"), "text",
          Seq("source", "lang"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_dup_docs"), col("min_tok"), col("max_tok")),
      Sql("""WITH b AS (
           SELECT source, lang,
             CASE WHEN text IS NULL
                    OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
               AS n_tok,
             COALESCE(LENGTH(text), 0) AS nch,
             CASE WHEN text IS NOT NULL
                    AND COUNT(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS dup
           FROM documents)
         SELECT source, lang, COUNT(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(nch) AS BIGINT) AS n_chars,
                CAST(SUM(dup) AS BIGINT) AS n_dup_docs,
                CAST(MIN(n_tok) AS BIGINT) AS min_tok,
                CAST(MAX(n_tok) AS BIGINT) AS max_tok
         FROM b GROUP BY ROLLUP (source, lang)""")),
    Entry("x56_dsir_select", (s, dir) =>
      // DSIR-style targeted selection (Xie et al. 2023): score every doc
      // by how much its hashed-token distribution resembles the English
      // subset (the "target"), exact Q20 probability ratios over 64 md5
      // buckets, keep the deterministic top-100. One explode + one
      // bucket-key exchange (both count columns in a single conditional
      // agg), ratio table + totals broadcast, per-doc reduce, TakeOrdered
      // top-k. The oracle replays the same integers over HUGEINT.
      graft.ext.Curation.dsirTopK(
        t(s, dir, "documents"), "text", "doc_id",
        col("lang") === "en", 64, 100),
      // x55: the x17 closure labels paired docs, singletons label as
      // themselves, and the split draw reads the LABEL (2-hex md5 value %
      // 100) — so a cluster can never straddle the split
      Sql("""WITH toks AS (SELECT doc_id,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
                unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
              FROM documents),
         tk AS (SELECT doc_id, is_t,
                (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) * 16
                 + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS b
                FROM toks WHERE tok <> ''),
         cnt AS (SELECT b, COUNT(*) AS cr, SUM(is_t) AS ct FROM tk GROUP BY b),
         tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM cnt),
         ratio AS (SELECT b,
                   (CAST(ct + 1 AS HUGEINT) * (tr + 64) * 1048576)
                   // (CAST(cr + 1 AS HUGEINT) * (tt + 64)) AS rq20
                   FROM cnt CROSS JOIN tot),
         sc AS (SELECT t.doc_id, CAST(SUM(r.rq20) // COUNT(*) AS BIGINT) AS score_q20
                FROM tk t JOIN ratio r ON r.b = t.b GROUP BY t.doc_id)
         SELECT doc_id, score_q20 FROM sc
         ORDER BY score_q20 DESC, doc_id LIMIT 100""")),
    Entry("x58_temperature_mix", (s, dir) =>
      // temperature-flattened domain mixing at α = 1/2 (the mT5/XLM-R
      // head-vs-tail rebalance): per-source rates recomputed from the
      // LIVE counts — 1000·isqrt(n_min·n_d) div n_d per-mille, exact
      // integer sqrt — then the salted id-hash Bernoulli. One small
      // domain agg + broadcast rate join; the corpus side never shuffles.
      graft.ext.Curation.sqrtTemperatureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source"),
      Sql("""WITH cnt AS (SELECT source AS d, COUNT(*) AS n FROM documents GROUP BY source),
           mn AS (SELECT MIN(n) AS nmin FROM cnt),
           r0 AS (SELECT d, n, n * nmin AS p,
                  CAST(floor(sqrt(CAST(n * nmin AS DOUBLE))) AS BIGINT) AS c0
                  FROM cnt CROSS JOIN mn),
           r1 AS (SELECT d, n, p, CASE WHEN c0 * c0 > p THEN c0 - 1 ELSE c0 END AS c1 FROM r0),
           r2 AS (SELECT d, n, CASE WHEN (c1 + 1) * (c1 + 1) <= p THEN c1 + 1 ELSE c1 END AS c2 FROM r1),
           rates AS (SELECT d, (1000 * c2) // n AS rate FROM r2)
         SELECT doc_id, source FROM (
           SELECT dd.doc_id, dd.source, r.rate,
             (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 268435456
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
              + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) % 1000 AS draw
           FROM (SELECT doc_id, source,
                 md5(CAST(doc_id AS VARCHAR) || ':tmix') AS h FROM documents) dd
           JOIN rates r ON dd.source IS NOT DISTINCT FROM r.d)
         WHERE draw < rate""")),
    Entry("x54_release_build", (s, dir) => {
      // DELIVERY CAPSTONE (the x37 discipline on the OUTPUT side): curate
      // → survivors → token-balanced shard assignment → physical
      // partitionBy(shard) layout → per-(shard, lang) release card read
      // FROM the layout. Every stage is an op its own row already proves
      // (x16/x50/x51); THIS row hash-checks the delivery WIRING — who
      // survives, which shard they land in, what mass each shard attests.
      val d = t(s, dir, "documents")
      val ok = graft.ext.Curation.curate(d, "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh")))
        .filter(col("status") === "ok").select("doc_id")
      val survivors = d.join(ok, "doc_id")
        .select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      val assigned = graft.ext.Curation.assignShards(
        survivors, "doc_id", "n_tok", 8, 64L)
      val ldir = Stage.dir("graft_release_")
      assigned.write.partitionBy("shard").mode("overwrite").parquet(ldir)
      s.read.schema(assigned.schema).parquet(ldir)
        .groupBy(col("shard").cast("long").as("shard"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(col("doc_id")).as("id_sum"))
    },
      // x54: the x16 status chain picks survivors, the x50 assignment
      // chain (band/salt/rn/shard, replayed over SURVIVORS only — the rn
      // is curation-dependent) shards them, and the card groups by
      // (shard, lang). The Spark side's physical layout hop must be
      // invisible to every total.
      Sql("""WITH stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents),
         surv AS (
           -- the same first-failing-rule CASE as x16's oracle (NOT a WHERE
           -- chain: `lang IN` would drop NULL langs that Spark's curate
           -- passes through as 'ok' — its !isin condition is NULL there)
           SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
                  md5(CAST(doc_id AS VARCHAR) || ':shard') AS h
           FROM stats
           WHERE CASE WHEN dup_rank > 1 THEN 'dup'
                      WHEN n_tok < 20 THEN 'too_short'
                      WHEN lang NOT IN ('de','en','es','zh') THEN 'bad_lang'
                      WHEN punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0 THEN 'low_quality'
                      ELSE 'ok' END = 'ok'),
         a AS (
           SELECT doc_id, lang, n_tok, h, n_tok // 64 AS band,
             CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT)
               AS salt
           FROM surv),
         r AS (
           SELECT doc_id, lang, n_tok, band, salt,
             CAST(ROW_NUMBER() OVER (PARTITION BY band, salt
               ORDER BY h, doc_id) AS BIGINT) AS rn
           FROM a)
         SELECT CAST((band + salt + rn - 1) % 8 AS BIGINT) AS shard, lang,
                COUNT(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM r GROUP BY 1, 2""")),
    Entry("x52_span_corrupt", (s, dir) =>
      // T5-style denoising pairs: 3-token chunks masked at 15% by a
      // deterministic salted draw; k-th masked chunk → <extra_id_k> in
      // the input, sentinel-delimited spans in the target. A pure
      // zero-exchange projection (PlanSpec); the oracle replays draw,
      // sentinel ranks, and both reassemblies from (doc_id, text) alone.
      graft.ext.Curation.spanCorrupt(
          t(s, dir, "documents"), "text", "doc_id", 3, 15)
        .select(col("doc_id"), col("input"), col("target"), col("n_masked")),
      // x52: the draw ((2-hex-digit value of md5(id:span:chunk)) % 100),
      // sentinel ranks (1-based list_position - 1), and both reassemblies
      // replay exactly; range(0, 0) and the blank-text guard keep
      // degenerate docs at empty input/target
      Sql("""WITH base AS (
           SELECT doc_id,
             CASE WHEN text IS NULL
                    OR regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS t
           FROM documents),
         ch AS (
           SELECT doc_id, t,
             range(0, CAST((len(t) + 2) // 3 AS BIGINT)) AS idxs,
             list_filter(range(0, CAST((len(t) + 2) // 3 AS BIGINT)),
               c -> ((strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || ':span:'
                                  || CAST(c AS VARCHAR)), 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || ':span:'
                                  || CAST(c AS VARCHAR)), 2, 1)) - 1) % 100
                    < 15) AS masked
           FROM base)
         SELECT doc_id,
           -- flatten([]) is NULL in DuckDB (Spark's is []) — coalesce both
           -- reassemblies so unmasked/degenerate docs emit '' like Spark
           COALESCE(array_to_string(flatten(list_transform(idxs,
             c -> CASE WHEN list_contains(masked, c)
                    THEN ['<extra_id_'
                          || CAST(list_position(masked, c) - 1 AS VARCHAR)
                          || '>']
                    ELSE t[c*3+1 : least((c+1)*3, len(t))] END)), ' '), '')
             AS input,
           COALESCE(array_to_string(flatten(list_transform(masked,
             c -> list_prepend('<extra_id_'
                    || CAST(list_position(masked, c) - 1 AS VARCHAR) || '>',
                  t[c*3+1 : least((c+1)*3, len(t))]))), ' '), '') AS target,
           CAST(len(masked) AS BIGINT) AS n_masked
         FROM ch""")),
    Entry("x51b_card_incremental", (s, dir) => {
      // the GROWING-corpus datasheet (x26/x43c append-only staging
      // applied to reporting): the corpus arrives as two batches (doc_id
      // parity), each appending O(distinct-texts) card state; the card
      // reads ONLY the stage — old batches never rescan — and must be
      // bit-identical to the one-shot x51: the oracle is x51's, verbatim.
      // Cross-batch duplicate texts still mark exactly (they collide on
      // the content digest whichever batch they arrived in).
      val d = t(s, dir, "documents")
      val ldir = Stage.dir("graft_card_inc_")
      Seq(0, 1).foreach { par =>
        graft.ext.Curation.appendCardBatch(
          d.filter(pmod(col("doc_id"), lit(2)) === par), "text",
          Seq("source", "lang"), ldir)
      }
      graft.ext.Curation.datasetCardFromStaged(s, ldir, Seq("source", "lang"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_dup_docs"), col("min_tok"), col("max_tok"))
    },
      SameAs("x51_dataset_card")),
    Entry("x84_priority_sample", (s, dir) =>
      // weight-proportional coreset: 100 docs sampled ∝ n_chars WITHOUT
      // replacement, each carrying the Duffield–Lund–Thorup Horvitz–
      // Thompson adjusted weight ŵ = max(w, τ), so char totals (or any
      // subset's) estimate unbiasedly from the sample alone — "measure
      // the 100 TB corpus from m rows". Priorities q = w·2⁴⁸ div
      // (md5₄₈(id:pri)+1) are integers, so the top-100 boundary and τ
      // (the 101st priority) replay verbatim in the oracle; the cut is
      // a TakeOrdered, never a global sort.
      graft.ext.Curation.prioritySample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", 100),
      // The x84 priority-sampling oracle: the 48-bit ":pri"-salted md5
      // priorities, the (q desc, id) top-101 cut, τ = min q of a FULL
      // top-101 (0 otherwise — the take-all regime), and ŵ = max(w, τ),
      // every integer replayed over HUGEINT.
      Sql {
    val h12 = (1 to 12).map(i =>
      s"(CAST(strpos('0123456789abcdef', " +
        s"substr(md5(CAST(doc_id AS VARCHAR) || ':pri'), $i, 1)) " +
        s"- 1 AS BIGINT) * ${BigInt(16).pow(12 - i)})")
      .mkString("(", "\n                + ", ")")
    s"""WITH k AS (SELECT doc_id, n_chars,
             CAST((n_chars::HUGEINT * 281474976710656)
                  // ($h12 + 1) AS BIGINT) AS q
           FROM documents),
         top AS (SELECT * FROM k ORDER BY q DESC, doc_id LIMIT 101),
         tau AS (SELECT CASE WHEN COUNT(*) = 101 THEN MIN(q) ELSE 0 END AS t
                 FROM top),
         smp AS (SELECT * FROM top ORDER BY q DESC, doc_id LIMIT 100)
         SELECT smp.doc_id, smp.n_chars,
                GREATEST(smp.n_chars, tau.t) AS w_adj
         FROM smp CROSS JOIN tau"""
  }),
    Entry("x84b_priority_stratified", (s, dir) =>
      // the balanced weighted coreset: an independent 20-row priority
      // sample per language with per-stratum Horvitz–Thompson weights —
      // the per-domain draw a mixture designer uses where the flat x84
      // would let one giant domain crowd out the rest. Same md5 draw as
      // x84 (a row's priority is stratification-independent), W2
      // bounded window for the per-stratum cut.
      graft.ext.Curation.prioritySampleStratified(
        t(s, dir, "documents").select(col("lang"), col("doc_id"),
          col("n_chars")),
        Seq("lang"), "doc_id", "n_chars", 20),
      // The x84b stratified-priority oracle: the same 48-bit priorities,
      // per-language rank window, per-stratum τ from the kept rank-21 row
      // (0 when the stratum fits in 20 — exact regime), ŵ = max(w, τ).
      Sql {
    val h12 = (1 to 12).map(i =>
      s"(CAST(strpos('0123456789abcdef', " +
        s"substr(md5(CAST(doc_id AS VARCHAR) || ':pri'), $i, 1)) " +
        s"- 1 AS BIGINT) * ${BigInt(16).pow(12 - i)})")
      .mkString("(", "\n                + ", ")")
    s"""WITH k AS (SELECT lang, doc_id, n_chars,
             CAST((n_chars::HUGEINT * 281474976710656)
                  // ($h12 + 1) AS BIGINT) AS q
           FROM documents),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY q DESC, doc_id) AS rn FROM k),
         kept AS (SELECT * FROM r WHERE rn <= 21),
         tau AS (SELECT lang, COALESCE(MAX(CASE WHEN rn = 21 THEN q END), 0)
                          AS t
                 FROM kept GROUP BY 1)
         SELECT kept.lang, kept.doc_id, kept.n_chars,
                GREATEST(kept.n_chars, tau.t) AS w_adj
         FROM kept JOIN tau USING (lang) WHERE kept.rn <= 20"""
  }),
    Entry("x44_epoch_shuffle", (s, dir) => {
      // deterministic training-order shuffle: two epochs (seed = epoch
      // number) of the documents corpus, each a reproducible uniform
      // permutation delivered as (batch, pos) — batch by the md5 digest's
      // leading hex pair, pos by the digest within the batch. One
      // batch-key exchange per epoch, no global sort, no RNG state; the
      // oracle replays both permutations from (seed, doc_id) alone.
      val d = t(s, dir, "documents").select(col("doc_id"))
      Seq(0L, 1L).map { ep =>
        graft.ext.Curation.epochShuffle(d, Seq("doc_id"), ep, 2)
          .withColumn("epoch", lit(ep))
      }.reduce(_ unionAll _)
        .select(col("epoch"), col("batch"), col("pos"), col("doc_id"))
    },
      Sql("""WITH e AS (SELECT epoch, doc_id,
                           md5(concat_ws(':', epoch, doc_id)) AS h
                    FROM (SELECT unnest([0, 1]::BIGINT[]) AS epoch)
                    CROSS JOIN documents)
         SELECT epoch, substr(h, 1, 2) AS batch,
                CAST(ROW_NUMBER() OVER (
                       PARTITION BY epoch, substr(h, 1, 2)
                       ORDER BY h, doc_id) AS BIGINT) AS pos,
                doc_id
         FROM e""")),
    Entry("x42_sequence_pack", (s, dir) => {
      // fixed-length sequence packing — the pretraining input shape: each
      // lang's token-id stream (docs in doc_id order, ids from the raw
      // top-50 vocab with OOV=0 so the oracle skips the BPE CTEs) chunks
      // into length-64 sequences crossing doc boundaries; the tail per
      // lang stays short (collator owns padding). Exploded stream carries
      // ints only; one lang-window + one (lang, seq_id) agg.
      val d = t(s, dir, "documents")
      val vocab = graft.ext.TextStats.trainTokenVocabDf(
        d.select(col("text")), "text", Nil, 50)
      val ids = graft.ext.TextStats.tokenIdsJoin(
        d.select(col("doc_id"), col("text")), "text", "doc_id", Nil, vocab)
      val withLang = d.select(col("doc_id"), col("lang"))
        .join(ids, Seq("doc_id")) // id-keyed equi-join, lang back onto ids
      graft.ext.Curation.packSequences(
        withLang, Seq("lang"), "doc_id", "ids", 64)
        // stringify for the gate comparator (j3 precedent) — the packed
        // array form is the operator's real output
        .withColumn("seq_ids",
          concat_ws(" ", transform(col("seq_ids"), _.cast("string"))))
    },
      Sql("""WITH toks AS (
           SELECT doc_id, lang, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS tk
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         vocab AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS INTEGER) AS vid
                   FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok
                   ORDER BY COUNT(*) DESC, tok LIMIT 50),
         off AS (SELECT doc_id, lang, tk,
                        COALESCE(SUM(len(tk)) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
                 FROM toks),
         flat AS (SELECT lang, o + i - 1 AS idx, tk[i] AS tok
                  FROM (SELECT lang, tk, o, unnest(generate_series(1, len(tk))) AS i FROM off)),
         mapped AS (SELECT f.lang, f.idx, CAST(COALESCE(v.vid, 0) AS INTEGER) AS vid
                    FROM flat f LEFT JOIN vocab v ON f.tok = v.tok)
         SELECT lang, CAST(idx // 64 AS BIGINT) AS seq_id,
                array_to_string(list(vid ORDER BY idx), ' ') AS seq_ids,
                CAST(COUNT(*) AS BIGINT) AS n_ids
         FROM mapped GROUP BY lang, idx // 64""")),
    Entry("x61_host_filter", (s, dir) =>
      // host-level curation (RefinedWeb's judge-the-site-first move):
      // per-source exact-dup and short-doc per-mille rates, computed over
      // digests (the corpus never shuffles), hosts over 450‰ short docs
      // (< 50 words) or any dup mass dropped WHOLESALE. Survivors carry
      // the host verdict columns for audit.
      graft.ext.Curation.hostFilter(t(s, dir, "documents"),
          "text", "source", 100, 450, 50)
        .select(col("doc_id"), col("source"), col("dup_pm"), col("short_pm")),
      // x61: host verdicts replayed — same md5 digests, same \s+ word
      // count, same per-mille floor-divisions and thresholds
      Sql("""WITH s AS (SELECT doc_id, source, md5(text) AS d,
              length(list_filter(string_split_regex(
                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                x -> x <> '')) AS wc
            FROM documents),
         v AS (SELECT source,
              (1000 * (COUNT(*) - COUNT(DISTINCT d))) // COUNT(*) AS dup_pm,
              (1000 * SUM(CASE WHEN wc < 50 THEN 1 ELSE 0 END)) // COUNT(*)
                AS short_pm
            FROM s GROUP BY source)
         SELECT s.doc_id, s.source, CAST(v.dup_pm AS BIGINT) AS dup_pm,
                CAST(v.short_pm AS BIGINT) AS short_pm
         FROM s JOIN v ON s.source = v.source
         WHERE v.dup_pm <= 100 AND v.short_pm <= 450""")),
    Entry("x63_release_delta", (s, dir) => {
      // release-to-release corpus diff: v1 lacks every 7th doc, v2 drops
      // every 13th and revises every 11th (text + ' rev2') — the delta
      // card reports per-source added/removed/changed/unchanged counts
      // and the exact token-mass swing. One id-keyed full-outer join of
      // digest projections; the oracle replays both versions and the
      // rollup.
      val d = t(s, dir, "documents")
      val oldV = d.filter(col("doc_id") % 7 =!= 0)
      val newV = d.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      graft.ext.Curation.releaseDelta(oldV, newV, "text", "doc_id",
        Seq("source"))
    },
      // x63: both corpus versions rebuilt, digests compared null-safely
      // (IS DISTINCT FROM ⇔ Spark's <=> negated), same \s+ word counts,
      // same rollup — all integers
      Sql("""WITH oldv AS (SELECT doc_id, source, md5(text) AS d,
              CAST(length(list_filter(string_split_regex(
                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                x -> x <> '')) AS BIGINT) AS wc
            FROM documents WHERE doc_id % 7 <> 0),
         newt AS (SELECT doc_id, source,
              CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END
                AS text
            FROM documents WHERE doc_id % 13 <> 0),
         newv AS (SELECT doc_id, source, md5(text) AS d,
              CAST(length(list_filter(string_split_regex(
                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                x -> x <> '')) AS BIGINT) AS wc
            FROM newt),
         j AS (SELECT COALESCE(n.source, o.source) AS source,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN o.d IS DISTINCT FROM n.d THEN 'changed'
                      ELSE 'unchanged' END AS st,
                 COALESCE(n.wc, 0) - COALESCE(o.wc, 0) AS dn
               FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
         SELECT source,
                CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
                CAST(SUM(dn) AS BIGINT) AS tok_delta
         FROM j GROUP BY source""")),
    Entry("x66_html_extract", (s, dir) => {
      // HTML main-content extraction — the crawl pipeline's FIRST stage,
      // upstream of x47's line rules: each doc wraps into a synthetic
      // page (title/style/script head, link-only nav, the text as a
      // paragraph, a link-dense sponsored unit on every 3rd doc, a
      // link-only footer — the x14b built-blob discipline), and
      // htmlMainContent must recover exactly the prose: script/style
      // content never leaks, the nav/footer/ad blocks fall to the
      // anchor-density rule, short fragments to the word rule. Exact
      // integer rules (cross-multiplied per-mille, no division), so the
      // oracle replays page construction AND extraction bit-for-bit.
      // Pure zero-exchange projection (PlanSpec).
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc</title><style>.x{color:red}</style>"),
        lit("<script type=\"text/javascript\">var a=1;</script></head><body>"),
        lit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></div>"),
        lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<div>sponsored <a href=\"/ad\">click here now</a> " +
            "<a href=\"/ad2\">buy today</a></div>")).otherwise(lit("")),
        lit("<div><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms</a>" +
          "</div></body></html>"))
      graft.ext.Curation.htmlMainContent(
        d.select(col("doc_id"), html.as("html")), "html", "doc_id", 3, 300)
    },
      Sql(htmlExtractCtes(x66PageSql) +
      """
       SELECT doc_id, text_main, n_blocks, n_kept FROM ext""")),
    Entry("x66b_crawl_clean", (s, dir) => {
      // the two-stage crawl front end COMPOSED: extraction then line
      // rules. The page plants a cookie-notice PARAGRAPH — prose-shaped
      // and link-free, so the anchor-density/word rules must keep it and
      // only x47's banned-marker line rule can drop it; conversely the
      // link-only nav dies in extraction before the line stage ever sees
      // it. One zero-exchange projection chain; the oracle replays both
      // stages in one statement.
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc</title><style>.x{color:red}</style>"),
        lit("<script type=\"text/javascript\">var a=1;</script></head><body>"),
        lit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></div>"),
        lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
        lit("<p>this site uses cookie tracking please accept our cookie " +
          "policy</p>"),
        lit("<div><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms</a>" +
          "</div></body></html>"))
      val extracted = graft.ext.Curation.htmlMainContent(
        d.select(col("doc_id"), html.as("html")), "html", "doc_id", 3, 300)
        .select(col("doc_id"), col("text_main").as("text"))
      graft.ext.Curation.c4LineClean(extracted, "text", "doc_id",
          minWordsPerLine = 3, banned = Seq("cookie"), minKeptLines = 1)
        .select(col("doc_id"), col("text").as("text_clean"),
          col("n_kept"), col("n_dropped"))
    },
      // x66b: extraction (which KEEPS the prose-shaped cookie notice) then
      // the C4 line rules (min 3 words, banned marker 'cookie', ≥1 kept
      // line) over the extracted text — the two-stage crawl front end.
      Sql(htmlExtractCtes(x66bPageSql) +
      """,
       lined AS (SELECT doc_id, string_split(text_main, e'\n') AS ls FROM ext),
       cleaned AS (
         SELECT doc_id, ls,
           list_filter(ls, x ->
             (CASE WHEN trim(x) = '' THEN 0
                   ELSE len(string_split_regex(trim(x), '\s+')) END) >= 3
             AND NOT contains(lower(x), 'cookie')) AS ks
         FROM lined)
       SELECT doc_id, array_to_string(ks, e'\n') AS text_clean,
              CAST(len(ks) AS BIGINT) AS n_kept,
              CAST(len(ls) - len(ks) AS BIGINT) AS n_dropped
       FROM cleaned
       WHERE len(ks) >= 1""")),
    Entry("x100_k_anonymity", (s, dir) => {
      // RELEASE GATE beside the PII redaction family: per language,
      // how re-identifiable is the corpus under the (source,
      // length-bucket) quasi-identifier at k = 5 — group census, the
      // smallest group, and the exact Q20 row-exposure fraction.
      // (`div` and duckdb `//` both truncate toward zero, so the
      // bucket replays exactly for any sign.)
      val d = t(s, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 256"))
      graft.ext.Curation.kAnonymityAudit(d, Seq("lang"),
        Seq("source", "len_bucket"), 5L)
    },
      // x100: the k-anonymity audit — QI-group census and exact Q20
      // row exposure (all operands ≥ 0; `div` and `//` agree on the
      // bucket for any sign since both truncate toward zero)
      Sql("""WITH g AS (SELECT lang, source, n_chars // 256 AS lb,
                      COUNT(*) AS c
                    FROM documents GROUP BY 1, 2, 3)
         SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS n_groups,
                CAST(MIN(c) AS BIGINT) AS min_group,
                CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS groups_below_k,
                CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
                  AS rows_at_risk,
                CAST((1048576 * SUM(CASE WHEN c < 5 THEN c ELSE 0 END))
                     // SUM(c) AS BIGINT) AS risk_q20
         FROM g GROUP BY 1""")),
    Entry("x100d_kanon_incremental", (s, dir) => {
      // the release gate under ingest: the base split's QI-group counts
      // stage ONCE; a new batch's counts fold in by re-sum (counts are
      // sums over ROW shards — merge ≡ one-shot bit-for-bit) and the
      // audit re-evaluates from the merged table — answers x100's
      // oracle VERBATIM without rescanning the base (x98b convention).
      val d = t(s, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 256"))
      val staged = Stage(
        graft.ext.Curation.qiGroupCounts(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), Seq("source", "len_bucket")))
      val batch = graft.ext.Curation.qiGroupCounts(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), Seq("source", "len_bucket"))
      graft.ext.Curation.kAnonymityFromCounts(
        graft.ext.Curation.mergeQiGroupCounts(Seq(staged, batch),
          Seq("lang"), Seq("source", "len_bucket")), Seq("lang"), 5L)
    },
      SameAs("x100_k_anonymity")),
    Entry("x100b_l_diversity", (s, dir) => {
      // the attribute-disclosure gate k-anonymity misses: per language,
      // does every (source, length-bucket) QI group carry >= 3 distinct
      // token-count buckets (the ordinal "sensitive" surrogate the
      // corpus has)? Same report shape as x100, one audit column over.
      graft.ext.Curation.lDiversityAudit(x100bFrame(s, dir), Seq("lang"),
        Seq("source", "len_bucket"), "sv", 3L)
    },
      // x100b: distinct-sensitive census per QI group, l = 3
      Sql("""WITH lab AS (
           SELECT lang, source, n_chars // 256 AS lb,
                  len(string_split_regex(regexp_replace(text,
                    '^\s+|\s+$', '', 'g'), '\s+')) // 8 AS sv
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         g AS (SELECT lang, source, lb, COUNT(*) AS c,
                      COUNT(DISTINCT sv) AS d
               FROM lab GROUP BY 1, 2, 3)
         SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS n_groups,
                CAST(MIN(d) AS BIGINT) AS min_sv_distinct,
                CAST(SUM(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
                  AS groups_below_l,
                CAST(SUM(CASE WHEN d < 3 THEN c ELSE 0 END) AS BIGINT)
                  AS rows_at_risk,
                CAST((1048576 * SUM(CASE WHEN d < 3 THEN c ELSE 0 END))
                     // SUM(c) AS BIGINT) AS risk_q20
         FROM g GROUP BY 1""")),
    Entry("x100c_t_closeness", (s, dir) => {
      // the distribution-disclosure gate l-diversity misses: per
      // language, the ordered-EMD (the t-closeness paper's distance for
      // ordinal attributes) between each QI group's token-count-bucket
      // distribution and the whole language's — exact rational CDF gaps
      // summed in decimal, ONE Q20 floor per group, alert at t = 0.25.
      // The dense (group × domain) frame is census-gated in-plan.
      graft.ext.Curation.tClosenessAudit(x100bFrame(s, dir), Seq("lang"),
        Seq("source", "len_bucket"), "sv")
    },
      // x100c: ordered-EMD per QI group vs the key's distribution —
      // dense CDF windows, exact HUGEINT cross-multiplied gaps, one Q20
      // floor per group (non-negative, so // = floor)
      Sql("""WITH lab AS (
           SELECT lang, source, n_chars // 256 AS lb,
                  len(string_split_regex(regexp_replace(text,
                    '^\s+|\s+$', '', 'g'), '\s+')) // 8 AS sv
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         cells AS (SELECT lang, source, lb, sv, COUNT(*) AS c
                   FROM lab GROUP BY 1, 2, 3, 4),
         gdist AS (SELECT lang, sv, SUM(c) AS g FROM cells GROUP BY 1, 2),
         gtot AS (SELECT lang, SUM(g) AS n, COUNT(*) AS m
                  FROM gdist GROUP BY 1),
         grps AS (SELECT lang, source, lb, SUM(c) AS ng
                  FROM cells GROUP BY 1, 2, 3),
         dense AS (SELECT gr.lang, gr.source, gr.lb, gr.ng, gl.sv, gl.g,
                     COALESCE(ce.c, 0) AS c, gt.n, gt.m
                   FROM grps gr
                   JOIN gdist gl ON gl.lang = gr.lang
                   LEFT JOIN cells ce ON ce.lang = gr.lang
                     AND ce.source = gr.source AND ce.lb = gr.lb
                     AND ce.sv = gl.sv
                   JOIN gtot gt ON gt.lang = gr.lang),
         cum AS (SELECT lang, source, lb, ng, n, m,
                   SUM(c) OVER (PARTITION BY lang, source, lb
                                ORDER BY sv) AS cp,
                   SUM(g) OVER (PARTITION BY lang, source, lb
                                ORDER BY sv) AS cq
                 FROM dense),
         pg AS (SELECT lang, source, lb, ng, n, m,
                  SUM(ABS(CAST(cp AS HUGEINT) * n
                          - CAST(cq AS HUGEINT) * ng)) AS s
                FROM cum GROUP BY 1, 2, 3, 4, 5, 6),
         tt AS (SELECT lang, n, m,
                  CASE WHEN m <= 1 THEN 0
                       ELSE CAST((1048576::HUGEINT * s)
                            // (CAST(ng AS HUGEINT) * n * (m - 1))
                            AS BIGINT) END AS t
                FROM pg)
         SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
                CAST(MAX(m) AS BIGINT) AS m,
                CAST(COUNT(*) AS BIGINT) AS n_groups,
                CAST(MAX(t) AS BIGINT) AS max_t_q20,
                CAST(SUM(CASE WHEN t > 262144 THEN 1 ELSE 0 END) AS BIGINT)
                  AS groups_above_t
         FROM tt GROUP BY 1""")),
    Entry("x100e_ldiv_incremental", (s, dir) => {
      // l-diversity under ingest: sensitive cells are counts over row
      // shards, so the base split's cell table stages ONCE and a batch
      // folds in by re-sum — the distinct-sensitive census per group is
      // the merged table's cell count, so merge ≡ one-shot bit-for-bit
      // and this answers x100b's oracle VERBATIM (x100d convention).
      val d = x100bFrame(s, dir)
      val keys = Seq("lang"); val qis = Seq("source", "len_bucket")
      val staged = Stage(
        graft.ext.Curation.lDiversityCells(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0), keys, qis, "sv"))
      val batch = graft.ext.Curation.lDiversityCells(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0), keys, qis, "sv")
      graft.ext.Curation.lDiversityFromCells(
        graft.ext.Curation.mergeLDiversityCells(Seq(staged, batch),
          keys, qis, "sv"), keys, qis, 3L)
    },
      SameAs("x100b_l_diversity")),
    Entry("x100f_tclose_incremental", (s, dir) => {
      // t-closeness under ingest: same cell re-sum — the key's global
      // distribution and every group's CDF re-derive from merged cells,
      // so the ordered-EMD audit replays x100c's oracle VERBATIM without
      // rescanning the base split.
      val d = x100bFrame(s, dir)
      val keys = Seq("lang"); val qis = Seq("source", "len_bucket")
      val staged = Stage(
        graft.ext.Curation.tClosenessCells(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0), keys, qis, "sv"))
      val batch = graft.ext.Curation.tClosenessCells(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0), keys, qis, "sv")
      graft.ext.Curation.tClosenessFromCells(
        graft.ext.Curation.mergeTClosenessCells(Seq(staged, batch),
          keys, qis), keys, qis)
    },
      SameAs("x100c_t_closeness")),
    Entry("x67_token_chunks", (s, dir) =>
      // sliding token-window chunking (window 64, stride 48 → 16-token
      // overlap): the retrieval/embedding input shape, a pure projection
      // whose chunk ids are text-determined — the oracle replays every
      // window boundary and the reassembled chunk text
      graft.ext.Curation.chunkByTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 64, 48),
      // x67: every window start from generate_series(0, n-1, stride), the
      // slice clamped at the tail — chunk ids and text replayed exactly
      Sql("""WITH docs AS (
           SELECT doc_id,
                  string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         st AS (SELECT doc_id, t,
                       unnest(generate_series(0, len(t) - 1, 48)) AS s
                FROM docs)
         SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_id,
                CAST(LEAST(64, len(t) - s) AS BIGINT) AS n_tokens,
                array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
         FROM st""")),
    Entry("x71_bootstrap_ci", (s, dir) =>
      // deterministic Poisson bootstrap on the mean tokens-per-doc: 8
      // resamples as extra COLUMNS of one aggregation (no second pass,
      // no RNG state — weights are salted-md5 draws against fixed
      // Poisson(1) thresholds), each mean an exact Q6 floor-div. Row
      // b = -1 is the point estimate; rows 0..7 are the uncertainty
      // band the dataset card ships beside it. The oracle replays every
      // weight draw and every division.
      graft.ext.Curation.bootstrapMean(
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.ext.TextStats.tokenCount(col("text")).cast("long")
              .as("n_tok")),
        "n_tok", "doc_id", 8)
        // totals fit longs at gate scale; the operator's decimal(38,0)
        // internals are the 100 TB headroom
        .withColumn("w_total", col("w_total").cast("long"))
        .withColumn("v_total", col("v_total").cast("long")),
      // x71: every Poisson weight draw (4-hex-digit md5 value against the
      // fixed 24109/48218/60273 thresholds), both totals, and the Q6
      // floor-div replayed; b = -1 is the unweighted point estimate
      Sql("""WITH vals AS (
           SELECT doc_id,
                  CASE WHEN text IS NULL
                         OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                       ELSE len(string_split_regex(
                              regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS v
           FROM documents),
         draws AS (
           SELECT doc_id, v, b,
                  (((CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 16
                     + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
                     + strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                     + strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS h4
           FROM (SELECT doc_id, v, b,
                        md5(CAST(doc_id AS VARCHAR) || ':bs:' || CAST(b AS VARCHAR)) AS h
                 FROM vals, (SELECT unnest(generate_series(0, 7)) AS b))),
         wts AS (SELECT doc_id, v, b,
                        CASE WHEN h4 < 24109 THEN 0 WHEN h4 < 48218 THEN 1
                             WHEN h4 < 60273 THEN 2 ELSE 3 END AS w
                 FROM draws),
         agg AS (SELECT b, SUM(w)::HUGEINT AS wt, SUM(w * v)::HUGEINT AS vt
                 FROM wts GROUP BY b
                 UNION ALL
                 SELECT -1, COUNT(*)::HUGEINT, COALESCE(SUM(v), 0)::HUGEINT
                 FROM vals)
         SELECT CAST(b AS BIGINT) AS b, CAST(wt AS BIGINT) AS w_total,
                CAST(vt AS BIGINT) AS v_total,
                CASE WHEN wt > 0
                     THEN CAST((1000000 * vt) // wt AS BIGINT) END AS mean_q6
         FROM agg"""))
  )
}
