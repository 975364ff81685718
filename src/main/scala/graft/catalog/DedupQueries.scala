package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextStats}
import graft.ops.Stage
import Common._

/** Deduplication: exact, MinHash/LSH, SimHash, n-gram and containment
  * pairs, duplicate clusters, repeated spans, decontamination, chunked
  * near-dups, all-pairs joins and connected components ([[graft.ext.Dedup]]). */
object DedupQueries {

  /** x17/x17b shared duplicate-closure replay: minhash signatures →
    * banded candidates → symmetric edges → recursive reachability →
    * min-label `labels (id, cluster_id)`. */
  private def dupClosureCtes: String =
    """WITH RECURSIVE sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
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
         labels AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                    FROM reach GROUP BY id)"""

  /** x5/x5c: the md5-bit SimHash replayed — the 60-bit token hash is the
    * first 15 md5 hex digits (matching Spark's conv(substring(md5,1,15)))
    * assembled digit-by-digit, bit sums per position, sign → bit. The
    * whitespace-only doc keeps its single empty token, exactly as the
    * Spark side's unfiltered explode does. */
  private def simhashSigCte(nBits: Int): String = {
    val v = (1 to 15).map(i =>
      s"(CAST(strpos('0123456789abcdef', substr(md5(tok), $i, 1)) - 1 AS BIGINT) * ${BigInt(16).pow(15 - i)})")
      .mkString("(", " + ", ")")
    val sums = (0 until nBits).map(i =>
      s"SUM(CASE WHEN (v >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n                  ")
    val sig = (0 until nBits).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""tk AS (
          SELECT doc_id, unnest(string_split_regex(
                   regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
          FROM documents WHERE text IS NOT NULL),
        tv AS (SELECT doc_id, $v AS v FROM tk),
        bs AS (SELECT doc_id,
                  $sums
               FROM tv GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bs)"""
  }

  /** Shared CTE prefix of the x13b/x13d oracles: the 5-char-shingle
    * minhash signatures (k=4) and the 2-band LSH candidate pairs they
    * imply — one definition so the two verifies provably run over the
    * same candidate set. */
  private val lshCandCtes: String =
    """sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4)))"""

  /** Shared x41d/x41e CTE chain: md5 5-token windows, occ-capped
    * digest pairs, per-diagonal gaps-and-islands run merging, and the
    * token-slice verification — ends at
    * `ver (a_id, b_id, a_start, b_start, n_tokens, verified)` with a
    * `toks (doc_id, t)` CTE still in scope for rebuilds. */
  private val sharedSpansCtes: String =
    """WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, i, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, i, h, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM w),
         sp AS (SELECT doc_id, i, h FROM occ WHERE n_occ BETWEEN 2 AND 64),
         m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.i AS ap,
                      a.i - b.i AS diag
               FROM sp a JOIN sp b ON a.h = b.h AND a.doc_id < b.doc_id),
         r AS (SELECT a_id, b_id, diag, ap,
                 ap - row_number() OVER (PARTITION BY a_id, b_id, diag
                                         ORDER BY ap) AS isl
               FROM m),
         runs AS (SELECT a_id, b_id, diag, MIN(ap) AS a_start,
                    MAX(ap) - MIN(ap) + 5 AS n_tokens
                  FROM r GROUP BY a_id, b_id, diag, isl),
         ver AS (SELECT r.a_id, r.b_id, r.a_start,
                   r.a_start - r.diag AS b_start, r.n_tokens,
                   CASE WHEN ta.t[r.a_start+1:r.a_start+r.n_tokens]
                          = tb.t[(r.a_start-r.diag)+1:(r.a_start-r.diag)+r.n_tokens]
                        THEN 1 ELSE 0 END AS verified
                 FROM runs r JOIN toks ta ON ta.doc_id = r.a_id
                             JOIN toks tb ON tb.doc_id = r.b_id)"""

  /** The x86 all-pairs oracle: the 3-shingle sets (the x82 truncated-
    * short-doc gram rule), global rarest-first order (count asc, g asc),
    * per-doc prefix p ≤ n − ceil(6n/10) + 1, the prefix equi-join with
    * the tDen·min ≥ tNum·max size bound, and the exact-intersection
    * verify with the 16·i ≥ 6·(n_a+n_b) threshold — all integers. */
  private val x86OracleSql: String =
    """WITH tk0 AS (SELECT doc_id, string_split_regex(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
         FROM documents WHERE text IS NOT NULL),
       gr AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
              FROM (SELECT doc_id, t,
                      unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
                    FROM tk0)),
       cnt AS (SELECT g, COUNT(*) AS c FROM gr GROUP BY 1),
       sz AS (SELECT doc_id, COUNT(*) AS n FROM gr GROUP BY 1),
       pos AS (SELECT gr.doc_id, gr.g, sz.n,
                 ROW_NUMBER() OVER (PARTITION BY gr.doc_id
                                    ORDER BY cnt.c, gr.g) AS p
               FROM gr JOIN cnt USING (g) JOIN sz USING (doc_id)),
       pref AS (SELECT doc_id, g, n FROM pos
                WHERE p <= n - ((6 * n + 9) // 10) + 1),
       cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM pref a JOIN pref b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                WHERE 10 * LEAST(a.n, b.n) >= 6 * GREATEST(a.n, b.n)),
       iv AS (SELECT c.a_id, c.b_id, COUNT(*) AS i
              FROM cand c
              JOIN gr ta ON ta.doc_id = c.a_id
              JOIN gr tb ON tb.doc_id = c.b_id AND tb.g = ta.g
              GROUP BY 1, 2)
       SELECT c.a_id, c.b_id,
              CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
              CAST(iv.i AS BIGINT) AS n_inter
       FROM cand c
       JOIN sz sa ON sa.doc_id = c.a_id
       JOIN sz sb ON sb.doc_id = c.b_id
       JOIN iv ON iv.a_id = c.a_id AND iv.b_id = c.b_id
       WHERE 16 * iv.i >= 6 * (sa.n + sb.n)"""

  val entries: Seq[Entry] = Seq(
    Entry("x1_exact_dedup", (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id"),
      Sql("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1""")),
    Entry("x2_minhash_sig", (s, dir) =>
      Dedup.minhashSignature(t(s, dir, "documents"), "text", 4)
        .select(col("doc_id"), col("h1"), col("h2"), col("h3"), col("h4")),
      Sql("""SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
         FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
               FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
               WHERE i <= greatest(length(text) - 4, 1))
         GROUP BY doc_id""")),
    Entry("x3_lsh_pairs", (s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", 4), "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id")),
      Sql("""WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id)
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))""")),
    Entry("x3c_lsh_staged", (s, dir) => {
      // 100 TB form of x3: signature table staged to parquet once, bands
      // and self-join read the staged table — the text corpus is scanned
      // exactly once (spec asserts no signature recompute in the plan).
      // NOTE the stage write is a CONSTRUCTION-TIME side effect, into a
      // unique per-invocation temp dir (no cross-session overwrite races).
      Dedup.lshCandidatePairs(
        Stage(Dedup.minhashSignature(t(s, dir, "documents"), "text", 4)),
        "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"))
    },
      Sql("""WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id)
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))""")),
    Entry("x28_dedup_apply", (s, dir) => {
      // the dedup lifecycle end-to-end: signatures (staged once — the
      // 100 TB form, one text pass) → LSH candidates → CC clusters → DROP
      // non-keepers — the surviving corpus is the pipeline's actual
      // artifact (md5 proves surviving text bytes)
      val d = t(s, dir, "documents")
      // CC feed rides star candidates (connectivity-identical, hot-
      // bucket-linear — see x17)
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Stage(Dedup.minhashSignature(d, "text", 4)), "doc_id", 4, 2))
      Dedup.applyDedup(d, clusters, "doc_id")
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    },
      Sql("""WITH RECURSIVE sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
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
                      FROM reach GROUP BY id)
         SELECT d.doc_id, md5(d.text) AS text_md5
         FROM documents d
         WHERE d.doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""")),
    Entry("x27_line_dedup", (s, dir) => {
      // C4-style corpus-wide line dedup over synthesized 3-token lines
      // (fixture text has no newlines — the same synthesis move as f10's
      // log lines): any line appearing more than twice across the corpus
      // is dropped, docs reassembled in original line order (md5 proves
      // byte-identical reassembly across engines)
      val d = t(s, dir, "documents")
      // tokens land in their OWN column first: the chunking lambda then
      // captures a bare attribute (O(1) read per element) instead of the
      // split tree, which an interpreted HOF would re-run per line (the
      // wordNgrams lesson — see Dedup.wordNgrams)
      val toks = col("_toks")
      val lined = d.withColumn("_toks", split(TextStats.wsTrim(col("text")), "\\s+"))
        .withColumn("text",
          concat_ws("\n", transform(
            sequence(lit(0), ((size(toks) - 1) / 3).cast("int")),
            i => concat_ws(" ", slice(toks, i * 3 + 1, lit(3))))))
        .drop("_toks")
      Dedup.dedupLinesAcrossCorpus(lined, "text", "doc_id", 2)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_lines_kept").cast("long").as("n_kept"))
    },
      Sql("""WITH t AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
                    FROM documents),
           lines AS (
             SELECT doc_id, i AS pos,
                    array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS line
             FROM t, (SELECT unnest(generate_series(0,
                  (SELECT CAST(MAX(len(toks)) AS BIGINT) FROM t))) AS i) g
             WHERE i <= (len(toks) - 1) // 3),
           counts AS (SELECT line, COUNT(*) AS n FROM lines GROUP BY line),
           kept AS (SELECT l.doc_id, l.pos, l.line
                    FROM lines l JOIN counts c USING (line) WHERE c.n <= 2)
         SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5,
                COUNT(*) AS n_kept
         FROM kept GROUP BY doc_id""")),
    Entry("x26_incremental_dedup", (s, dir) => {
      // incremental batch dedup: the existing corpus's signatures staged
      // to parquet (construction-time side effect, unique temp dir,
      // JVM-exit cleaned), then the NEW batch (20% of docs) computes only
      // its own signatures and band-joins against the stage — corpus text
      // never rescanned, new-side bands broadcast (PlanSpec pins it).
      val d = t(s, dir, "documents")
      val stage = Stage.path(
        Dedup.minhashSignature(d.filter(col("doc_id") % 5 =!= 0), "text", 4))
      Dedup.lshCandidatePairsIncremental(
        Dedup.minhashSignature(d.filter(col("doc_id") % 5 === 0), "text", 4),
        stage, "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"))
    },
      Sql("""WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id)
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))
           AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)""")),
    // native codegen minhash (graft.functions.MinHashSignature, the
    // engine-internal 64-bit hash family) as a COMPLETE pre-filter for
    // exact duplicates: identical text ⟹ identical signature, so
    // grouping the cheap 4-long signatures finds every candidate bucket
    // and ONLY collided buckets pay the full-content hash — at 100 TB
    // the verify pass re-reads a few percent of the corpus instead of
    // md5-ing all of it. False signature collisions fall out of the md5
    // regroup, so the answer is exact and the oracle replays it from
    // md5 alone without ever seeing an engine hash value (this row was
    // rows-only while it returned the raw signatures).
    Entry("x2b_minhash_fast", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val sig = Dedup.minhashSignatureFast(d, "text", 4)
      val sigKeys = Seq("h1", "h2", "h3", "h4")
      val collided = sig.groupBy(sigKeys.map(col): _*)
        .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).drop("_n")
      val dupIds = sig.join(collided, sigKeys, "left_semi").select(col("doc_id"))
      d.join(dupIds, "doc_id")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
    },
      // x2b: signature-gated exact dedup — the answer is exactly the
      // multi-member content groups; the signature pre-filter is invisible
      Sql("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
                COUNT(*) AS n_dups
         FROM documents WHERE text IS NOT NULL
         GROUP BY 1 HAVING COUNT(*) > 1""")),
    // fast-signature LSH banding as a complete candidate source for
    // byte-identical PAIRS (identical text shares every band), verified
    // by content-hash equality — the banded candidate machinery under
    // the engine hash family, answered by an oracle that never sees a
    // hash value (was rows-only as raw candidate pairs).
    Entry("x3b_lsh_pairs_fast", (s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignatureFast(d, "text", 4), "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"))
      val h = d.select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("_ch"))
      cands
        .join(h.toDF("a_id", "_ha"), "a_id")
        .join(h.toDF("b_id", "_hb"), "b_id")
        .filter(col("_ha") === col("_hb"))
        .select(col("a_id"), col("b_id"))
    },
      // x3b: LSH-fed exact-dup pairs — complete because identical text
      // shares every band; the oracle needs only content equality
      Sql("""SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM documents a JOIN documents b
           ON a.text IS NOT NULL AND b.text IS NOT NULL
          AND md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id""")),
    Entry("x4b_jaccard_lsh", (s, dir) => {
      // SCALE PATH: exact Jaccard verification of x3's LSH candidates —
      // candidates are (a_id, b_id) only; token sets join back by id, so
      // no join key fans out quadratically (PlanSpec-pinned)
      val d = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2)
      Dedup.jaccardVerify(cands, Dedup.tokenSets(d, "text", "doc_id"), "doc_id")
    },
      Sql("""WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         sets AS (SELECT doc_id,
             list_distinct(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS toks FROM documents)
         SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(sa.toks, sb.toks)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.toks, sb.toks))) AS jaccard
         FROM cand c JOIN sets sa ON c.a_id = sa.doc_id
                     JOIN sets sb ON c.b_id = sb.doc_id""")),
    Entry("x13b_ngram_lsh", (s, dir) => {
      // SCALE PATH: word-bigram Jaccard over the same LSH candidates
      val d = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2)
      Dedup.jaccardVerify(cands,
        d.select(col("doc_id"), Dedup.wordNgrams(col("text"), 2).as("gs")),
        "doc_id", "gs")
    },
      Sql(s"""WITH $lshCandCtes,
         sets AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 1, 1)),
                    i -> concat_ws(' ', t[i], t[i+1]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
                 FROM documents))
         SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(sa.gs, sb.gs)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.gs, sb.gs))) AS jaccard
         FROM cand c JOIN sets sa ON c.a_id = sa.doc_id
                     JOIN sets sb ON c.b_id = sb.doc_id""")),
    Entry("x13c_containment", (s, dir) => {
      // doc-in-doc detection — the signal symmetric Jaccard misses: every
      // 7th doc also ships a boilerplate-WRAPPED copy (id + 100000;
      // nav-header/footer chrome around the same text — the
      // scraped-with-chrome shape). The pair's Jaccard decays with the
      // wrap ratio; containment = |∩| / min(|A|,|B|) stays ≈ 1 and
      // catches it. Candidates here are the known wrap relation (the
      // candidate SOURCE is pluggable — x13b's LSH supplies them at
      // scale); the verify is the id-keyed asymmetric containmentVerify
      // over word-bigram sets, O(|candidates|).
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), col("text"))
      // the +100000 wrap offset assumes doc_id < 100000 — a corpus id at
      // or past it would COLLIDE a wrapped id with a real id (engine and
      // oracle replay the same collision, so the gate would stay green
      // while the fixture's wrap relation silently degrades). Make the
      // assumption loud per row, the packedId bound discipline; the
      // oracle needs no twin because a passing run proves it never fired.
      val wrapId = when(col("doc_id") < 100000, col("doc_id") + 100000)
        .otherwise(raise_error(concat(
          lit("x13c wrap offset collision: doc_id "),
          col("doc_id").cast("string"), lit(" >= 100000"))).cast("long"))
      val wrapped = d.filter(col("doc_id") % 7 === 0)
        .select(wrapId.as("doc_id"),
          concat(lit("site navigation header menu about contact "),
            col("text"),
            lit(" footer privacy terms copyright notice legal")).as("text"))
      val sets = d.unionByName(wrapped)
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 2).as("gs"))
      val cands = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("a_id"), wrapId.as("b_id"))
      Dedup.containmentVerify(cands, sets, "doc_id", "gs")
    },
      // x13c: the wrapped-copy construction, bigram sets for originals AND
      // wraps, and both ratios replayed — containment's min-side divisor
      // against Jaccard's union divisor, IEEE divisions of exact ints
      Sql("""WITH d AS (
           SELECT doc_id, regexp_replace(text, '^\s+|\s+$', '', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         corpus AS (SELECT doc_id, t FROM d
                    UNION ALL
                    SELECT doc_id + 100000,
                           'site navigation header menu about contact ' || t
                             || ' footer privacy terms copyright notice legal'
                    FROM d WHERE doc_id % 7 = 0),
         sets AS (SELECT doc_id,
                         list_distinct(list_transform(
                           generate_series(1, greatest(len(ts) - 1, 1)),
                           i -> concat_ws(' ', ts[i], ts[i+1]))) AS gs
                  FROM (SELECT doc_id, string_split_regex(t, '\s+') AS ts
                        FROM corpus)),
         cands AS (SELECT doc_id AS a_id, doc_id + 100000 AS b_id
                   FROM d WHERE doc_id % 7 = 0)
         SELECT c.a_id, c.b_id,
                CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_common,
                CAST(len(a.gs) AS BIGINT) AS n_a,
                CAST(len(b.gs) AS BIGINT) AS n_b,
                CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / least(len(a.gs), len(b.gs)) AS containment,
                CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
         FROM cands c
         JOIN sets a ON a.doc_id = c.a_id
         JOIN sets b ON b.doc_id = c.b_id""")),
    Entry("x13d_edit_verify", (s, dir) => {
      // CHARACTER-exact verify over the same LSH candidates as x13b —
      // the edit-distance tail of the verify family (set statistics
      // can't see reorderings or typo families; Levenshtein can).
      // O(|candidates|) pairs, each O(maxLen²) after the loud 128-char
      // truncation both engines replay.
      val d = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2)
      Dedup.editVerify(cands, d, "doc_id", "text", 128)
    },
      // x13d: DuckDB's levenshtein counts BYTE edits where Spark counts
      // code points — equivalent on the ASCII test corpus; see the
      // editVerify scaladoc's unicode contract
      Sql(s"""WITH $lshCandCtes,
         txt AS (SELECT doc_id, substr(coalesce(text, ''), 1, 128) AS t
                 FROM documents)
         SELECT c.a_id, c.b_id,
           CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS dist,
           CASE WHEN greatest(length(ta.t), length(tb.t)) = 0 THEN 1.0
                ELSE 1.0 - CAST(levenshtein(ta.t, tb.t) AS DOUBLE)
                     / greatest(length(ta.t), length(tb.t)) END AS sim
         FROM cand c JOIN txt ta ON c.a_id = ta.doc_id
                     JOIN txt tb ON c.b_id = tb.doc_id""")),
    Entry("x4_jaccard_pairs", (s, dir) => {
      // SMALL-BLOCK FIXTURE (oracle-comparison only): all-pairs within a
      // (lang, source) block is quadratic in the block — fine at sf0.1,
      // wrong at 100 TB. The scale path is x4b (LSH candidates → verify).
      val d = t(s, dir, "documents")
      val sets = Dedup.tokenSets(d, "text", "doc_id")
        .join(d.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      val a = sets.select(col("doc_id").as("a_id"), col("toks").as("a_toks"),
        col("lang"), col("source"))
      val b = sets.select(col("doc_id").as("b_id"), col("toks").as("b_toks"),
        col("lang").as("lang_b"), col("source").as("source_b"))
      a.join(b, col("lang") === col("lang_b") && col("source") === col("source_b")
          && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("a_toks"), col("b_toks"))).cast("long").as("n_common"),
          Dedup.jaccard(col("a_toks"), col("b_toks")).as("jaccard"))
    },
      Sql("""WITH sets AS (SELECT doc_id, lang, source,
             list_distinct(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS toks FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
         FROM sets a JOIN sets b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id""")),
    Entry("x13_ngram_jaccard", (s, dir) => {
      // SMALL-BLOCK FIXTURE (oracle-comparison only) — scale path: x13b
      val d = t(s, dir, "documents")
      val sets = d.select(col("doc_id"), col("lang"), col("source"),
        Dedup.wordNgrams(col("text"), 2).as("gs"))
      val a = sets.select(col("doc_id").as("a_id"), col("lang"), col("source"),
        col("gs").as("a_gs"))
      val b = sets.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
        col("source").as("source_b"), col("gs").as("b_gs"))
      a.join(b, col("lang") === col("lang_b") && col("source") === col("source_b")
          && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("a_gs"), col("b_gs"))).cast("long").as("n_common"),
          Dedup.jaccard(col("a_gs"), col("b_gs")).as("jaccard"))
    },
      Sql("""WITH sets AS (
           SELECT doc_id, lang, source,
                  list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 1, 1)),
                    i -> concat_ws(' ', t[i], t[i+1]))) AS gs
           FROM (SELECT doc_id, lang, source,
                 string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t FROM documents))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
         FROM sets a JOIN sets b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id""")),
    Entry("x5_simhash", (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", 16),
      // x5: the signature itself; x5c: the brute-force hamming-≤3 pair
      // definition (the banded Spark path must equal it — pigeonhole)
      Sql((s"WITH ${simhashSigCte(16)}\n" +
      "         SELECT doc_id, simhash FROM sig"))),
    Entry("x5c_simhash_pairs", (s, dir) => {
      // banded hamming LSH over 32-bit simhash signatures: candidates
      // from ANY equal 8-bit band, exact bit_count verify ≤ 3. Pigeonhole
      // (3 < 4 bands) makes the banded stage lossless, so the ORACLE is
      // the brute-force definition itself — the algorithm is pinned
      // against the math, not against a replay of its own steps.
      val sig = Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", 32)
      Dedup.simhashNearDupPairs(sig, "doc_id", "simhash", 32, 4, 3)
    },
      Sql((s"WITH ${simhashSigCte(32)}\n" +
      """
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""))),
    Entry("x17_dup_clusters", (s, dir) =>
      // dedup tail: LSH candidates → connected components → cluster
      // label = min id (the A8 keeper); oracle = recursive-CTE closure.
      // Candidates feed CC as per-bucket STARS (bucket-min ↔ member) —
      // connectivity-identical to the clique join (same closure, same
      // clusters, so the oracle is unchanged) but linear in hot-bucket
      // size where the clique is quadratic (a 10⁵-doc boilerplate
      // group is 10⁵ star edges vs 5·10⁹ clique pairs).
      Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", 4), "doc_id", 4, 2))
        .select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id")),
      Sql((dupClosureCtes +
      """
         SELECT id, cluster_id FROM labels"""))),
    Entry("x17b_quality_keeper", (s, dir) => {
      // keeper selection the way production does it: each dup cluster
      // keeps its BEST-QUALITY member (x31's hashed score, ties to the
      // lower id), not x17's arbitrary min-id. Cluster labels join the
      // zero-exchange score projection BY ID; one cluster-keyed window
      // picks the keeper. The oracle chains the x17 recursive closure
      // with the x31 score replay, so the composed policy hash-checks.
      val d = t(s, dir, "documents")
      // same star-candidate CC feed as x17 (connectivity-identical)
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2))
      val scored = d.select(col("doc_id"),
        graft.ext.TextStats.hashedLinearScoreQ30Fast(col("text"),
          graft.ext.TextStats.seededWeightsQ30(64)).as("q30"))
      Dedup.clusterKeepers(clusters, scored, "doc_id", "q30")
        .select(col("cluster_id").cast("long").as("cluster_id"),
          col("keeper_id").cast("long").as("keeper_id"),
          col("keeper_score").as("keeper_q30"))
    },
      // x17b: the cluster labels join the x31 quality scores and the
      // KEEPER is the best-quality member (score desc, id asc) — the
      // production refinement of x17's arbitrary min-id representative
      Sql((dupClosureCtes +
      s""",
         w AS (SELECT * FROM (VALUES ${qualityWeightsSql(64)}) AS t(b, wq)),
         toksq AS (SELECT doc_id,
                   unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                   FROM documents),
         btq AS (SELECT doc_id,
                 (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) * 16
                  + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS b
                 FROM toksq),
         scq AS (SELECT doc_id, CAST(SUM(w.wq) AS BIGINT) AS s
                 FROM btq JOIN w ON w.b = btq.b GROUP BY doc_id)
         SELECT cluster_id, id AS keeper_id, s AS keeper_q30
         FROM (SELECT l.cluster_id, l.id, scq.s,
                      ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                        ORDER BY scq.s DESC, l.id) AS rn
               FROM labels l JOIN scq ON scq.doc_id = l.id)
         WHERE rn = 1"""))),
    Entry("x23_decontamination", (s, dir) => {
      // benchmark-decontamination: train docs sharing any word-3-gram
      // with the (small) benchmark split, plus shared-gram counts
      val d = t(s, dir, "documents")
      Dedup.contaminatedDocs(d.filter(col("doc_id") >= 10),
        d.filter(col("doc_id") < 10), "text", "doc_id", 3)
    },
      Sql("""WITH grams AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents)),
         bg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id < 10),
         tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id >= 10)
         SELECT tg.doc_id, CAST(COUNT(DISTINCT tg.g) AS BIGINT) AS n_shared
         FROM tg JOIN bg ON tg.g = bg.g
         GROUP BY tg.doc_id""")),
    Entry("x23b_contamination_frac", (s, dir) => {
      // thresholded decontamination: share of each doc's distinct 3-grams
      // that appear in the benchmark split, kept when >= 0.05 — the form
      // real pipelines drop on (any-overlap x23 is the conservative
      // variant). Both counts ride one left-join aggregation; the frac
      // is a single IEEE division, identical across engines.
      val d = t(s, dir, "documents")
      Dedup.contaminationFraction(d.filter(col("doc_id") >= 10),
          d.filter(col("doc_id") < 10), "text", "doc_id", 3)
        .filter(col("frac") >= 0.05)
    },
      // x23b: tg is distinct per (doc, gram), bg distinct — COUNT(*) is the
      // doc's gram total, COUNT(_hit-side col) the shared count (COUNT
      // skips the left-join NULLs); one division for the fraction
      Sql("""WITH tg AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS g
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents WHERE doc_id >= 10)),
         bg AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS g
           FROM (SELECT string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents WHERE doc_id < 10))
         SELECT doc_id, COUNT(*) AS n_grams,
                CAST(COUNT(b.g) AS BIGINT) AS n_shared,
                CAST(COUNT(b.g) AS DOUBLE) / COUNT(*) AS frac
         FROM tg LEFT JOIN bg b ON tg.g = b.g
         GROUP BY doc_id
         HAVING CAST(COUNT(b.g) AS DOUBLE) / COUNT(*) >= 0.05""")),
    Entry("x23c_contamination_pairs", (s, dir) => {
      // pair-level attribution: WHICH benchmark doc contaminated which
      // train doc (+ shared-gram evidence count) — the auditable report
      // behind x23's aggregate. Same broadcast-eval-grams posture.
      val d = t(s, dir, "documents")
      Dedup.contaminationPairs(d.filter(col("doc_id") >= 10),
        d.filter(col("doc_id") < 10), "text", "doc_id", 3)
    },
      // x23c: both gram lists are per-doc distinct, so each
      // (train, gram, bench) triple appears once and COUNT(*) is the
      // distinct shared-gram count per pair
      Sql("""WITH grams AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents)),
         bg AS (SELECT doc_id AS bench_doc_id, unnest(gs) AS g
                FROM grams WHERE doc_id < 10),
         tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id >= 10)
         SELECT tg.doc_id, bg.bench_doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM tg JOIN bg USING (g)
         GROUP BY 1, 2""")),
    Entry("x23d_bloom_decontam", (s, dir) => {
      // BLOOM decontamination — x23's regime flip: when the eval side is
      // itself corpus-scale (decontaminating a new crawl against the
      // entire trained corpus), its grams can't broadcast exactly; a
      // FIXED 131072-bit bitmap (4096 32-bit words, built by one bit_or
      // aggregation) broadcasts instead. k=3 md5 positions per gram; no
      // false negatives, and the false positives are md5-DETERMINISTIC,
      // so the oracle verifies the exact flagged set including them.
      val d = t(s, dir, "documents")
      val bits = Dedup.bloomGramBits(d.filter(col("doc_id") < 10),
        "text", 3, 131072, 3)
      Dedup.contaminatedDocsBloom(d.filter(col("doc_id") >= 10), bits,
        "text", "doc_id", 3, 131072, 3)
    },
      // x23d: the bloom bitmap replayed exactly — positions from the shared
      // 5-nibble md5 chain, 32-bit words built by bit_or, the probe's
      // LEFT-join + bit test; a gram flags iff all 3 positions are set, so
      // the oracle checks the deterministic false positives too
      Sql(s"""WITH grams AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
                 FROM documents)),
         bg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id < 10),
         hs AS (SELECT h FROM generate_series(1, 3) t(h)),
         bpos AS (SELECT ${md5Hex5("bg.g || ':bloom:' || h")} % 131072 AS p
                  FROM bg, hs),
         bits AS (SELECT p // 32 AS widx,
                         bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
                  FROM bpos GROUP BY 1),
         tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id >= 10),
         tp AS (SELECT doc_id, g,
                       ${md5Hex5("tg.g || ':bloom:' || h")} % 131072 AS p
                FROM tg, hs),
         hit AS (SELECT tp.doc_id, tp.g,
                   SUM(CASE WHEN b.bits IS NOT NULL
                             AND ((b.bits >> CAST(tp.p % 32 AS INT)) & 1) = 1
                            THEN 1 ELSE 0 END) AS nh
                 FROM tp LEFT JOIN bits b ON tp.p // 32 = b.widx
                 GROUP BY 1, 2)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
         FROM hit WHERE nh = 3
         GROUP BY doc_id""")),
    Entry("x41c_span_incremental", (s, dir) => {
      // incremental repeated-span stats: the corpus's span digests staged
      // to parquet (construction-time side effect, unique temp dir,
      // JVM-exit cleaned), then the NEW batch (20% of docs) counts its
      // windows across corpus ∪ batch — corpus text never rescanned, the
      // stage filtered map-side by broadcast batch digests (PlanSpec).
      // The oracle is the PARITY CONTRACT itself: one-shot stats over all
      // docs restricted to the batch ids must be bit-identical.
      val d = t(s, dir, "documents")
      val stage = Stage.path(
        Dedup.spanHashes(d.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", 5))
      Dedup.repeatedSpanStatsIncremental(
        d.filter(col("doc_id") % 5 === 0), stage, "text", "doc_id", 5)
    },
      Sql("""WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM w)
         SELECT doc_id, COUNT(*) AS n_spans,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                  AS repeated_frac
         FROM occ WHERE doc_id % 5 = 0 GROUP BY doc_id""")),
    Entry("x41b_span_excise", (s, dir) =>
      // the APPLY half of x41: remove every repeated 5-token span
      // occurrence except the corpus-wide first (min (id,pos) keeper via
      // row_number on the same digest window as the count — one exchange)
      // and reassemble surviving tokens from each doc's own array (no
      // collect_list). The oracle replays keeper + mask + rebuild.
      graft.ext.Dedup.exciseRepeatedSpans(
        t(s, dir, "documents"), "text", "doc_id", 5),
      Sql("""WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, i, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, i, h,
                        COUNT(*) OVER (PARTITION BY h) AS n_occ,
                        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
                 FROM w),
         exc AS (SELECT doc_id, unnest(generate_series(i, i + 4)) AS p
                 FROM occ WHERE n_occ >= 2 AND rn > 1),
         mask AS (SELECT doc_id AS m_id, list_distinct(list(p)) AS ps FROM exc GROUP BY doc_id)
         SELECT k.doc_id,
                COALESCE(array_to_string(list_filter(k.t,
                  (x, j) -> NOT list_contains(COALESCE(m.ps, []), j - 1)), ' '), '') AS text_clean,
                CAST(len(COALESCE(m.ps, [])) AS BIGINT) AS n_removed
         FROM toks k LEFT JOIN mask m ON k.doc_id = m.m_id""")),
    Entry("x41d_shared_spans_exact", (s, dir) =>
      // the span family's EXACTNESS stage: maximal shared substrings
      // between digest-collided doc pairs, boundaries token-exact via
      // per-diagonal gaps-and-islands run merging (a maximal shared
      // span matches all its interior 5-windows and none beyond), each
      // span re-verified against the actual token slices. Digest-keyed
      // self-join bounded by the occ<=64 hot-span cap; token arrays
      // join back by id only.
      graft.ext.Dedup.sharedSpansExact(
        t(s, dir, "documents"), "text", "doc_id", 5),
      // x41d: maximal shared substrings replayed — same md5 5-windows,
      // same occ-cap, pairs on digest equality, runs merged per diagonal
      // by the gaps-and-islands idiom, then re-sliced from the token
      // arrays for the verified bit
      Sql((sharedSpansCtes +
      """
         SELECT a_id, b_id,
                CAST(a_start AS BIGINT) AS a_start,
                CAST(b_start AS BIGINT) AS b_start,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(verified AS BIGINT) AS verified
         FROM ver"""))),
    Entry("x41f_shared_spans_incremental", (s, dir) => {
      // continuous-ingest twin of x41d: the 80% base stages its span
      // digests ONCE; the 20% batch finds every maximal shared span
      // touching it (batch×base + batch×batch) while only the batch
      // pays a window pass — occurrence caps count across base ∪
      // batch, so the output answers the ONE-SHOT oracle restricted to
      // batch-touching pairs verbatim (the x86b convention).
      val d = t(s, dir, "documents")
      val batch = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val stage = Stage.path(
        graft.ext.Dedup.spanHashes(corpus, "text", "doc_id", 5))
      graft.ext.Dedup.sharedSpansExactIncremental(batch, corpus, stage,
        "text", "doc_id", 5)
    },
      // x41f: the incremental form answers the ONE-SHOT chain restricted
      // to pairs touching the doc_id % 5 = 0 batch (the x86b convention)
      Sql((sharedSpansCtes +
      """
         SELECT a_id, b_id,
                CAST(a_start AS BIGINT) AS a_start,
                CAST(b_start AS BIGINT) AS b_start,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(verified AS BIGINT) AS verified
         FROM ver WHERE a_id % 5 = 0 OR b_id % 5 = 0"""))),
    Entry("x41e_span_excise_exact", (s, dir) =>
      // x41d's APPLY: every verified maximal shared span excised from
      // the higher-id side with token-exact boundaries (lower id
      // keeps), masks unioned per doc, survivors reassembled in order
      // — the pairwise exact-boundary completion of the x41b
      // window-granular excision.
      graft.ext.Dedup.exciseSharedSpans(
        t(s, dir, "documents"), "text", "doc_id", 5),
      // x41e: the apply — verified spans mask their b-side token ranges
      // (lower id keeps), masks union per doc, survivors string_agg back
      // in position order; unmasked docs pass through normalized
      Sql((sharedSpansCtes +
      """,
         mask AS (SELECT DISTINCT doc_id, p FROM (
                    SELECT b_id AS doc_id,
                           unnest(generate_series(b_start,
                             b_start + n_tokens - 1)) AS p
                    FROM ver WHERE verified = 1)),
         tokpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
                    FROM (SELECT doc_id, t,
                            unnest(generate_series(1, len(t))) AS i
                          FROM toks)),
         kept AS (SELECT tp.doc_id, tp.p, tp.tok
                  FROM tokpos tp LEFT JOIN mask m
                    ON m.doc_id = tp.doc_id AND m.p = tp.p
                  WHERE m.doc_id IS NULL),
         rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt
                     FROM kept GROUP BY 1),
         mn AS (SELECT doc_id, COUNT(*) AS nrem FROM mask GROUP BY 1)
         SELECT t.doc_id,
                COALESCE(rb.txt, '') AS text_clean,
                CAST(COALESCE(mn.nrem, 0) AS BIGINT) AS n_removed
         FROM toks t
         LEFT JOIN rebuilt rb ON rb.doc_id = t.doc_id
         LEFT JOIN mn ON mn.doc_id = t.doc_id"""))),
    Entry("x41_repeated_spans", (s, dir) =>
      // ExactSubstr-style span-level dedup signal (Lee et al. 2022): per
      // doc, how many of its 5-token windows repeat ANYWHERE in the
      // corpus (within- or cross-doc). Window hashes are a strict
      // zip-of-slices codegen projection; the occurrence count rides ONE
      // digest-keyed window exchange (no self-join, no second text pass)
      // then one id-keyed agg. Digests + longs only on the wire.
      graft.ext.Dedup.repeatedSpanStats(
        t(s, dir, "documents"), "text", "doc_id", 5),
      Sql("""WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM w)
         SELECT doc_id, COUNT(*) AS n_spans,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                  AS repeated_frac
         FROM occ GROUP BY doc_id""")),
    Entry("x55_leakage_split", (s, dir) => {
      // leakage-free train/eval split: a whole near-dup CLUSTER goes to
      // one side (splitting by doc would leak eval near-dups into train
      // — the failure mode cluster-aware splits exist to prevent).
      // Cluster label = CC min-id (x17) for paired docs, own id for
      // singletons; the split is a deterministic salted draw on the
      // LABEL, so cluster members can never disagree. 10% eval.
      val d = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2))
      val labeled = d.select(col("doc_id"))
        .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val draw = conv(substring(md5(concat(col("cluster_id").cast("string"),
        lit(":split"))), 1, 2), 16, 10).cast("int") % 100
      labeled.withColumn("split",
        when(draw < 10, "eval").otherwise("train"))
    },
      Sql("""WITH RECURSIVE sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
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
         cl AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                FROM reach GROUP BY id),
         lab AS (
           SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN cl ON d.doc_id = cl.id)
         SELECT doc_id, cluster_id,
           CASE WHEN ((strpos('0123456789abcdef',
                        substr(md5(CAST(cluster_id AS VARCHAR) || ':split'), 1, 1)) - 1) * 16
                      + strpos('0123456789abcdef',
                        substr(md5(CAST(cluster_id AS VARCHAR) || ':split'), 2, 1)) - 1) % 100
                     < 10
                THEN 'eval' ELSE 'train' END AS split
         FROM lab""")),
    Entry("x86_allpairs_join", (s, dir) => {
      // EXACT near-dup pair mining with NO false negatives — the
      // guarantee the x2/x3 LSH stack trades away: prefix-filtered
      // all-pairs join (Bayardo et al. WWW'07) over 3-word-shingle sets
      // at Jaccard ≥ 6/10. Rarest-first prefixes make the candidate
      // join sparse; every arithmetic step is an integer comparison, so
      // the oracle replays the prefix boundary and the final
      // (tNum+tDen)·i ≥ tNum·(n_a+n_b) test verbatim.
      val sets = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      graft.ext.Dedup.allPairsJoin(sets, "doc_id", "gs", 6, 10)
    },
      Sql(x86OracleSql)),
    Entry("x86b_allpairs_incremental", (s, dir) => {
      // continuous-ingest exact near-dup mining: the base corpus (80%)
      // stages its prefix index ONCE (prefixes + sets + FROZEN frequency
      // order); the new batch (20%) prefixes itself under the frozen
      // order (never-seen elements sort as count-0 rarest — still a
      // total order, so the no-false-negative guarantee holds) and
      // joins batch×base + batch×batch. The base corpus is never
      // rescanned; the oracle is the FULL x86 chain restricted to
      // batch-touching pairs — the lifecycle is invisible to results.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      val idx = graft.ext.Dedup.allPairsIndex(
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "gs", 6, 10)
      graft.ext.Dedup.allPairsJoinIncremental(
        d.filter(pmod(col("doc_id"), lit(5)) === 0), idx, "doc_id", "gs",
        6, 10)
    },
      // x86b: the full x86 chain restricted to pairs touching the 20%
      // batch (doc_id % 5 = 0) — the incremental path must return exactly
      // the batch-touching slice of the one-shot join
      Sql(s"""WITH res AS ($x86OracleSql)
         SELECT * FROM res WHERE a_id % 5 = 0 OR b_id % 5 = 0""")),
    Entry("x86c_allpairs_ingest", (s, dir) => {
      // the multi-batch ingest lifecycle of the exact join: base (60%)
      // indexes once; batch₁ (doc_id%5=0) joins against it and APPENDS
      // (prefixes + sets under the frozen order; counts never move);
      // batch₂ (doc_id%5=1) then joins against base+batch₁. The union
      // of the two runs is EXACTLY the one-shot join restricted to
      // batch-touching pairs — each cross-batch pair found once, in the
      // later batch's run; the base corpus is scanned only at indexing.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      val b1 = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val b2 = d.filter(pmod(col("doc_id"), lit(5)) === 1)
      val idx0 = graft.ext.Dedup.allPairsIndex(
        d.filter(pmod(col("doc_id"), lit(5)) >= 2), "doc_id", "gs", 6, 10)
      val p1 = graft.ext.Dedup.allPairsJoinIncremental(
        b1, idx0, "doc_id", "gs", 6, 10)
      val idx1 = graft.ext.Dedup.allPairsIndexAppend(
        idx0, b1, "doc_id", "gs", 6, 10)
      val p2 = graft.ext.Dedup.allPairsJoinIncremental(
        b2, idx1, "doc_id", "gs", 6, 10)
      p1.unionByName(p2)
    },
      // x86c: the slice touching EITHER ingest batch — the two-batch
      // lifecycle must accumulate exactly this, each pair once
      Sql(s"""WITH res AS ($x86OracleSql)
         SELECT * FROM res
         WHERE a_id % 5 <= 1 OR b_id % 5 <= 1""")),
    Entry("x86d_allpairs_scan", (s, dir) => {
      // the PREFIX-SCAN gate form of x86b (censusInIndex = false): the
      // ingest gate censuses batch ∪ staged-base-prefix rows instead of
      // joining the narrow staged census — the measured winner on
      // provably DISJOINT-vocabulary shards (PERF.md r17 A/B; the
      // census form is the shared-vocab default). Same oracle as x86b:
      // the two gate forms must be result-invisible.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      val idx = graft.ext.Dedup.allPairsIndex(
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "gs", 6, 10,
        censusInIndex = false)
      graft.ext.Dedup.allPairsJoinIncremental(
        d.filter(pmod(col("doc_id"), lit(5)) === 0), idx, "doc_id", "gs",
        6, 10)
    },
      // x86d: the prefix-scan gate form answers x86b's oracle verbatim —
      // gate layout must be result-invisible
      Sql(s"""WITH res AS ($x86OracleSql)
         SELECT * FROM res WHERE a_id % 5 = 0 OR b_id % 5 = 0""")),
    Entry("x91_components", (s, dir) => {
      // generic connected components over an ARBITRARY edge list — the
      // CC engine every dedup family composes (min-label propagation,
      // fused steps, lineage-truncating materialized rounds, loud
      // non-convergence flag), exposed standalone on the sparse
      // co-purchase graph. Oracle = recursive reachability closure with
      // min-peer labels, the x17 convention.
      val li = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 48)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sp"))
      val pairs = li.join(li.select(col("o"), col("sp").as("sp2")), "o")
        .filter(col("sp") < col("sp2"))
        .select(col("sp").as("a_id"), col("sp2").as("b_id")).distinct()
      graft.ext.Dedup.dupClusters(pairs)
        .select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))
    },
      // x91: recursive reachability closure + min-peer labels over the
      // same sparse co-purchase edges (every node here has >= 1 edge, so
      // the closure covers all of them)
      Sql("""WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_suppkey AS sp
             FROM lineitem WHERE l_quantity > 48),
         e0 AS (SELECT DISTINCT a.sp AS u, b.sp AS v
                FROM li a JOIN li b ON a.o = b.o AND a.sp < b.sp),
         edges AS (SELECT u AS src, v AS dst FROM e0
                   UNION SELECT v, u FROM e0),
         reach AS (SELECT src AS id, dst AS peer FROM edges
                   UNION
                   SELECT r.id, e.dst FROM reach r
                   JOIN edges e ON r.peer = e.src)
         SELECT id, LEAST(id, MIN(peer)) AS cluster_id
         FROM reach GROUP BY id""")),
    Entry("x62_chunk_neardup", (s, dir) =>
      // partial-overlap near-dup: whole-doc MinHash (x3) dilutes a shared
      // region below the banding threshold once the docs differ
      // elsewhere; chunk-level signatures restore locality. 120-char
      // chunks, k=4 hashes in 2 bands, hot bands capped at 50 chunks
      // (the boilerplate guard), doc pairs scored by distinct chunk
      // collisions. The oracle replays chunking, every min-md5 window,
      // the cap, and the hit count.
      Dedup.chunkNearDupPairs(t(s, dir, "documents"), "text", "doc_id",
          120, 4, 2, maxBandChunks = 50)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"), col("n_chunk_hits")),
      // x62: chunking, every min-md5 window, the hot-band cap, and the
      // distinct-chunk-collision count replayed; band equality compares the
      // hash pair directly (sha1(h1|h2) equality ⇔ (h1,h2) equality — the
      // x3 precedent)
      Sql(s"""$chunkDedupCtes
         SELECT a_id, b_id, COUNT(*) AS n_chunk_hits
         FROM hits GROUP BY a_id, b_id""")),
    Entry("x62b_chunk_incremental", (s, dir) => {
      // continuous-ingest partial-overlap dedup: the corpus's CHUNK
      // signatures staged to parquet (x26's append-only discipline), the
      // new batch (every 5th doc) band-joins against stage ∪ batch —
      // corpus text never rescanned, cross-batch hit counts exact, the
      // hot-band cap censuses the combined corpus. Oracle = the one-shot
      // x62 replay restricted to pairs touching the batch.
      val d = t(s, dir, "documents")
      val stage = Stage.path(Dedup.chunkSignatures(
        d.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", 120, 4))
      Dedup.chunkNearDupPairsIncremental(d.filter(col("doc_id") % 5 === 0),
          stage, "text", "doc_id", 120, 4, 2, maxBandChunks = 50)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"), col("n_chunk_hits"))
    },
      // x62b: the incremental form answers the SAME question for pairs
      // touching the batch — the oracle is the one-shot replay filtered to
      // them (cap census = whole corpus = stage ∪ batch, exactly what the
      // incremental op censuses)
      Sql(s"""$chunkDedupCtes
         SELECT a_id, b_id, COUNT(*) AS n_chunk_hits
         FROM hits WHERE a_id % 5 = 0 OR b_id % 5 = 0
         GROUP BY a_id, b_id""")),
    Entry("x70_cdc_chunks", (s, dir) =>
      // content-defined chunking (Rabin-boundary discipline on tokens):
      // boundaries fall where the local 4-token window hashes into the
      // 1/16 cut class, so an insertion shifts only the chunk it lands
      // in — downstream boundaries re-synchronize and dedup keeps
      // matching (x67's fixed windows all shift; DedupSpec pins the
      // contrast). Window hashes ride the codegen'd spanHashes explode;
      // cut positions reduce in ONE id-keyed agg; the oracle replays
      // every window hash, the cut class, and chunk reassembly.
      graft.ext.Dedup.cdcChunks(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 4, 16),
      // x70: every 4-token window hash, the 1/16 cut class (first two md5
      // hex digits mod 16), and chunk reassembly between consecutive cuts
      // replayed; docs shorter than the window form one chunk
      Sql("""WITH docs AS (
           SELECT doc_id,
                  string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         cutl AS (
           SELECT doc_id, t, len(t) AS n,
                  list_filter(generate_series(1, len(t) - 4), i ->
                    (CAST(strpos('0123456789abcdef',
                         substr(md5(array_to_string(t[i+1:i+4], ' ')), 1, 1)) - 1
                       AS BIGINT) * 16
                     + strpos('0123456789abcdef',
                         substr(md5(array_to_string(t[i+1:i+4], ' ')), 2, 1)) - 1)
                    % 16 = 0) AS cuts
           FROM docs),
         cp AS (SELECT doc_id, t,
                       list_concat(list_concat([0], cuts), [n]) AS ks
                FROM cutl),
         ch AS (SELECT doc_id, t, ks,
                       unnest(generate_series(1, len(ks) - 1)) AS j
                FROM cp)
         SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_id,
                CAST(ks[j+1] - ks[j] AS BIGINT) AS n_tokens,
                array_to_string(t[ks[j]+1 : ks[j+1]], ' ') AS chunk_text
         FROM ch"""))
  )
}
