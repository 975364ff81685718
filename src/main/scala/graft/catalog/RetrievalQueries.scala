package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.ops.Stage
import Common._

/** Retrieval: BM25 (one-shot, indexed, incremental, compacted), hybrid
  * fusion, hard negatives, PRF, passage retrieval and ranking evaluation
  * ([[graft.ext.Retrieval]]). */
object RetrievalQueries {

  /** The retrieval-family query batch (x43/x48/x49 share it; the oracle
    * inlines the same three rows as a VALUES table). qids 1–3 double as
    * the dense side's query vec_ids. */
  private val hybridQueries: Seq[(Long, String)] = Seq(
    1L -> "customer filter join", 2L -> "window merge sort",
    3L -> "vector stream batch")

  /** One BM25 scoring CTE over a (qid, tok) term table — the exact
    * integer formula shared by x43's one-pass and both of x69's passes
    * (single-sourced so the engines can only drift together). */
  private def bm25ScoredCte(qt: String, out: String): String =
    s"""$out AS (
           SELECT $qt.qid, p.doc_id,
                  SUM(CAST((1048576::HUGEINT * (n - tdf + 1) * tf * 22000 * a)
                      // ((tdf + 1)::HUGEINT
                          * (tf * 10000 * a + 120 * (25 * a + 7500 * dl)))
                      AS BIGINT)) AS score_q20
           FROM post p JOIN $qt ON p.tok = $qt.tok
           JOIN dl USING (doc_id)
           JOIN tdf ON p.tok = tdf.tok
           CROSS JOIN stats
           GROUP BY 1, 2)"""

  /** Shared x43/x69 prefix: postings/lengths/dfs/corpus scalars, the
    * hybrid query batch, its distinct terms, and the pass-1 scores. */
  private def bm25BaseCtes: String =
    s"""WITH tk0 AS (
           SELECT doc_id, unnest(string_split_regex(
                    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
           FROM documents),
         tk AS (SELECT doc_id, tok FROM tk0 WHERE tok <> ''),
         post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         dl AS (SELECT d.doc_id, COALESCE(x.dl, 0) AS dl
                FROM documents d
                LEFT JOIN (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1) x
                USING (doc_id)),
         tdf AS (SELECT tok, COUNT(*) AS tdf FROM post GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n,
                          (100::HUGEINT * COALESCE(SUM(dl), 0)) // COUNT(*) AS a
                   FROM dl),
         q AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                     (2, 'window merge sort'),
                                     (3, 'vector stream batch')) v(qid, qtext)),
         qt AS (SELECT DISTINCT qid, tok FROM (
                  SELECT qid, unnest(string_split_regex(
                           regexp_replace(qtext, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                  FROM q)
                WHERE tok <> ''),
         ${bm25ScoredCte("qt", "scored")}"""

  /** Shared oracle CTE prefix for the hybrid-retrieval family (x48/x49):
    * the x43 lexical chain at k=10 — with the self-hit dropped AFTER
    * ranking, mirroring the Spark side's post-rank filter — plus the x6
    * dense chain at k=10 for query vec_ids 1–3. Kept as ONE string so the
    * two consumers can only drift together. */
  private val hybridOracleCtes: String =
    """WITH tk0 AS (
           SELECT doc_id, unnest(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
           FROM documents),
         tk AS (SELECT doc_id, tok FROM tk0 WHERE tok <> ''),
         post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         dl AS (SELECT d.doc_id, COALESCE(x.dl, 0) AS dl
                FROM documents d
                LEFT JOIN (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1) x
                USING (doc_id)),
         tdf AS (SELECT tok, COUNT(*) AS tdf FROM post GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n,
                          (100::HUGEINT * COALESCE(SUM(dl), 0)) // COUNT(*) AS a
                   FROM dl),
         q AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                     (2, 'window merge sort'),
                                     (3, 'vector stream batch')) v(qid, qtext)),
         qt AS (SELECT DISTINCT qid, tok FROM (
                  SELECT qid, unnest(string_split_regex(
                           regexp_replace(qtext, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
                  FROM q)
                WHERE tok <> ''),
         lexscore AS (
           SELECT qt.qid, p.doc_id,
                  SUM(CAST((1048576::HUGEINT * (n - tdf + 1) * tf * 22000 * a)
                      // ((tdf + 1)::HUGEINT
                          * (tf * 10000 * a + 120 * (25 * a + 7500 * dl)))
                      AS BIGINT)) AS score_q20
           FROM post p JOIN qt ON p.tok = qt.tok
           JOIN dl USING (doc_id)
           JOIN tdf ON p.tok = tdf.tok
           CROSS JOIN stats
           GROUP BY 1, 2),
         lexr AS (SELECT qid, doc_id, rank FROM (
                    SELECT qid, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY score_q20 DESC, doc_id) AS rank
                    FROM lexscore)
                  WHERE rank <= 10),
         lexf AS (SELECT * FROM lexr WHERE doc_id <> qid),
         dq AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
                WHERE vec_id IN (1, 2, 3)),
         dprod AS (SELECT dq.q_id, e.vec_id AS n_id,
                   unnest(dq.q_vec) AS qx, unnest(e.embedding) AS ex
                   FROM dq, embeddings e WHERE e.vec_id <> dq.q_id),
         ddp AS (SELECT q_id, n_id,
                 SUM(CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE) * 1073741824) AS BIGINT)) AS s
                 FROM dprod GROUP BY q_id, n_id),
         denser AS (SELECT q_id, n_id, rnk FROM (
                      SELECT q_id, n_id,
                             ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY s DESC, n_id) AS rnk
                      FROM ddp)
                    WHERE rnk <= 10)"""

  /** The x105 capstone oracle: x72's full passage-ranking replay as a
    * nested CTE (the x86b wrapping convention), then x89b's graded-
    * metric tail at k = 3 over doc-level containment qrels — the
    * composition is what this row hash-checks. */
  private def x105OracleSql(x72Sql: String): String = {
    val d = graft.ext.Retrieval.ndcgDiscountsQ20(3)
    val cum = d.scanLeft(0L)(_ + _).tail
    val vals = (1 to 3).map(r => s"($r, ${d(r - 1)}, ${cum(r - 1)})")
      .mkString(", ")
    s"""WITH res AS ($x72Sql),
         runq AS (SELECT qid, doc_id, rnk AS rank FROM res),
         q2 AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                      (2, 'window merge sort'),
                                      (3, 'vector stream batch'))
                v(qid, qtext)),
         qt2 AS (SELECT DISTINCT qid, tok FROM (
                   SELECT qid, unnest(string_split_regex(
                     regexp_replace(qtext, '^\\s+|\\s+$$', '', 'g'),
                     '\\s+')) AS tok
                   FROM q2) WHERE tok <> ''),
         dtk AS (SELECT DISTINCT doc_id, tok FROM (
                   SELECT doc_id, unnest(string_split_regex(
                     regexp_replace(text, '^\\s+|\\s+$$', '', 'g'),
                     '\\s+')) AS tok
                   FROM documents WHERE text IS NOT NULL)
                 WHERE tok <> ''),
         qn2 AS (SELECT qid, COUNT(*) AS nq FROM qt2 GROUP BY 1),
         qr AS (SELECT qt2.qid, dtk.doc_id
                FROM qt2 JOIN dtk USING (tok)
                JOIN qn2 ON qn2.qid = qt2.qid
                GROUP BY qt2.qid, dtk.doc_id, qn2.nq
                HAVING COUNT(*) = qn2.nq),
         nr AS (SELECT qid, COUNT(*) AS n_rel FROM qr GROUP BY 1),
         disc AS (SELECT * FROM (VALUES $vals) v(r, d, cum)),
         per AS (SELECT r.qid,
                   COALESCE(SUM(CASE WHEN qr.doc_id IS NOT NULL
                                THEN disc.d END), 0) AS dcg
                 FROM runq r
                 JOIN disc ON disc.r = r.rank
                 LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
                 GROUP BY 1)
         SELECT CAST(per.qid AS BIGINT) AS qid,
                CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
                CAST(per.dcg AS BIGINT) AS dcg_q20,
                CAST(COALESCE(di.cum, 0) AS BIGINT) AS idcg_q20,
                CASE WHEN COALESCE(di.cum, 0) > 0
                  THEN CAST((1048576 * per.dcg) // di.cum AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS ndcg_q20
         FROM per LEFT JOIN nr ON nr.qid = per.qid
         LEFT JOIN disc di ON di.r = LEAST(COALESCE(nr.n_rel, 0), 3)"""
  }

  /** x72's passage-ranking oracle; x105 derives its own from it. */
  private val x72OracleSql: String =
      (s"""WITH docs AS (
           SELECT doc_id,
                  string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''),
         st AS (SELECT doc_id, t,
                       unnest(generate_series(0, len(t) - 1, 48)) AS s
                FROM docs),
         chunks AS (SELECT doc_id * 100000 + (s // 48) AS doc_id,
                           t[s + 1 : s + 64] AS ct
                    FROM st),
         tk AS (SELECT doc_id, unnest(ct) AS tok FROM chunks),
         post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         dl AS (SELECT doc_id, len(ct) AS dl FROM chunks),
         tdf AS (SELECT tok, COUNT(*) AS tdf FROM post GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n,
                          (100::HUGEINT * COALESCE(SUM(dl), 0)) // COUNT(*) AS a
                   FROM dl),
         q AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                     (2, 'window merge sort'),
                                     (3, 'vector stream batch')) v(qid, qtext)),
         qt AS (SELECT DISTINCT qid, tok FROM (
                  SELECT qid, unnest(string_split_regex(
                           regexp_replace(qtext, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                  FROM q)
                WHERE tok <> ''),
         ${bm25ScoredCte("qt", "scored")},
         best AS (SELECT qid, doc_id // 100000 AS rd, doc_id % 100000 AS cid,
                         score_q20,
                         ROW_NUMBER() OVER (PARTITION BY qid, doc_id // 100000
                           ORDER BY score_q20 DESC, doc_id) AS cr
                  FROM scored)
         SELECT CAST(qid AS BIGINT) AS qid, rd AS doc_id,
                CAST(cid AS BIGINT) AS chunk_id,
                CAST(score_q20 AS BIGINT) AS score_q20,
                CAST(rnk AS BIGINT) AS rnk
         FROM (SELECT qid, rd, cid, score_q20,
                      ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY score_q20 DESC, rd) AS rnk
               FROM best WHERE cr = 1)
         WHERE rnk <= 3""")

  val entries: Seq[Entry] = Seq(
    Entry("x43c_bm25_incremental", (s, dir) => {
      // the GROWING-corpus index (x26/x41c append-only staging applied to
      // retrieval): the corpus arrives as two batches (doc_id parity),
      // each appending bucket-partitioned postings + one stats row;
      // nothing global rewrites. The probe prunes to the query terms'
      // buckets, recovers term df from the pruned rows themselves (a
      // term's postings all live in its one bucket) and (N, avgdl) from
      // the per-batch stats rows — and must be bit-identical to the
      // one-shot x43 over the full corpus: the oracle is x43's, verbatim.
      val d = t(s, dir, "documents")
      val ldir = Stage.dir("graft_bm25_inc_")
      Seq(0, 1).foreach { par =>
        graft.ext.Retrieval.appendIndexBatch(
          d.filter(pmod(col("doc_id"), lit(2)) === par), "text", "doc_id", ldir)
      }
      graft.ext.Retrieval.bm25TopKStaged(ldir,
        hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      SameAs("x43_bm25_topk")),
    Entry("x43d_bm25_compacted", (s, dir) => {
      // the postings-layout MAINTENANCE lifecycle (the s10b IVF move
      // applied to retrieval): three append batches accrete ~1 file per
      // touched md5(tok) bucket, compactIndexBuckets rewrites every hot
      // bucket back toward one file (one pruned read + one partitionBy
      // write, rename-first commit), and the staged probe then answers
      // x43's oracle VERBATIM — compaction must be invisible to results,
      // and the ScaleSpec pins the file counts.
      val d = t(s, dir, "documents")
      val ldir = Stage.dir("graft_bm25_cmp_")
      Seq(0, 1, 2).foreach { par =>
        graft.ext.Retrieval.appendIndexBatch(
          d.filter(pmod(col("doc_id"), lit(3)) === par), "text", "doc_id", ldir)
      }
      graft.ext.Retrieval.compactIndexBuckets(s, ldir, 1L << 20)
      graft.ext.Retrieval.bm25TopKStaged(ldir, hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      SameAs("x43_bm25_topk")),
    Entry("x43b_bm25_indexed", (s, dir) => {
      // the retrieval LAYOUT lifecycle through the driver gate (s8/s9
      // precedent): write the md5-bucketed, dl/tdf-denormalized postings
      // index to a session temp dir (construction-time side effect,
      // JVM-exit cleanup), then answer x43's queries FROM the layout —
      // the probe scan statically prunes to the query terms' buckets
      // (PlanSpec pins the partition filter + count) and needs no
      // corpus-side join at all. Pruning must be invisible to the
      // RESULT: the oracle is x43's, verbatim.
      val d = t(s, dir, "documents")
      val ldir = Stage.dir("graft_bm25_index_")
      graft.ext.Retrieval.writeIndex(d, "text", "doc_id", ldir)
      graft.ext.Retrieval.bm25TopKIndexed(ldir,
        hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long"))
    },
      SameAs("x43_bm25_topk")),
    Entry("x48_hybrid_rrf", (s, dir) => {
      // HYBRID retrieval: the lexical (x43 BM25) and dense (x6 brute
      // cosine) top-10 lists for the same three queries, fused by
      // reciprocal-rank fusion in Q30 fixed point — exact integer
      // arithmetic end to end. The lexical list drops n_id = qid so both
      // lists exclude self identically. Fusion touches candidates only
      // (one union + one (qid,n_id) reduce + one window); the oracle
      // replays both ranker CTEs and the same floor-divs.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.ext.Retrieval.bm25TopK(docs, "text", "doc_id",
          hybridQueries, 10)
        .filter(col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("n_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), "vec_id", "embedding",
          10, (a, b) => Similarity.quantizedDot(a, b))
        .select(col("q_id").as("qid"), col("n_id"), col("rank"))
      graft.ext.Retrieval.rrfFuse(Seq(lex, dense), "qid", "n_id", "rank",
        rrfK = 60, kOut = 5)
    },
      Sql((hybridOracleCtes + """,
         contrib AS (SELECT qid, doc_id AS n_id,
                            1073741824 // (60 + rank) AS c FROM lexf
                     UNION ALL
                     SELECT q_id AS qid, n_id, 1073741824 // (60 + rnk) AS c
                     FROM denser),
         fused AS (SELECT qid, n_id, SUM(c) AS s FROM contrib GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, CAST(n_id AS BIGINT) AS n_id,
                CAST(s AS BIGINT) AS rrf_q30,
                CAST(ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY s DESC, n_id) AS BIGINT) AS rank
         FROM fused QUALIFY rank <= 5"""))),
    Entry("x49_hard_negatives", (s, dir) => {
      // hard-negative mining (DPR discipline): docs the LEXICAL ranker
      // puts in its top-10 that the DENSE ranker does not — lexically
      // plausible, semantically distant, i.e. exactly the contrastive
      // negatives a retriever trains on. Per-query anti-join of two
      // candidate-scale lists; keeps the lexical rank as the mining
      // order.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.ext.Retrieval.bm25TopK(docs, "text", "doc_id",
          hybridQueries, 10)
        .filter(col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("n_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), "vec_id", "embedding",
          10, (a, b) => Similarity.quantizedDot(a, b))
        .select(col("q_id").as("qid"), col("n_id"))
      graft.ext.Retrieval.hardNegatives(lex, dense, "qid", "n_id")
        .select(col("qid"), col("n_id"), col("rank").cast("long").as("rank"))
    },
      Sql((hybridOracleCtes + """
         SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS n_id,
                CAST(rank AS BIGINT) AS rank
         FROM lexf
         WHERE NOT EXISTS (SELECT 1 FROM denser d
                           WHERE d.q_id = lexf.qid AND d.n_id = lexf.doc_id)"""))),
    Entry("x89b_ndcg", (s, dir) => {
      // the trec_eval surface's LAST metric: NDCG@5 of the x43 BM25 run
      // against the containment qrels. The log discount is evaluated
      // once driver-side into a Q20 constant table shared verbatim with
      // the oracle (the langIdLists single-source pattern), so the
      // graded metric replays engine-exact — the reason x89 originally
      // stopped at reciprocal rank is dissolved, not worked around.
      val d = t(s, dir, "documents")
      graft.ext.Retrieval.evalNdcg(
        graft.ext.Retrieval.bm25TopK(d, "text", "doc_id", hybridQueries, 5),
        graft.ext.Retrieval.containmentQrels(d, "text", "doc_id",
          hybridQueries), 5, graft.ext.Retrieval.ndcgDiscountsQ20(5))
    },
      // x89b: NDCG@5 replayed — the run/qrels CTEs of x89 plus the SHARED
      // Q20 discount table: the (rank, d, cum) literals below are the SAME
      // Scala-computed integers the engine's plan carries
      // ([[graft.ext.Retrieval.ndcgDiscountsQ20]]), so no log is ever
      // evaluated inside either engine. All operands ≥ 0 → bare `//`.
      // x89b: NDCG@5 with the shared Q20 discount literals
      Sql {
    val d = graft.ext.Retrieval.ndcgDiscountsQ20(5)
    val cum = d.scanLeft(0L)(_ + _).tail
    val vals = (1 to 5).map(r => s"($r, ${d(r - 1)}, ${cum(r - 1)})")
      .mkString(", ")
    bm25BaseCtes +
      s""",
         run AS (SELECT qid, doc_id, rank FROM (
                   SELECT qid, doc_id,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score_q20 DESC, doc_id) AS rank
                   FROM scored)
                 WHERE rank <= 5),
         qn AS (SELECT qid, COUNT(*) AS nq FROM qt GROUP BY 1),
         qr AS (SELECT qt.qid, p.doc_id
                FROM qt JOIN post p USING (tok)
                JOIN qn ON qn.qid = qt.qid
                GROUP BY qt.qid, p.doc_id, qn.nq
                HAVING COUNT(*) = qn.nq),
         nr AS (SELECT qid, COUNT(*) AS n_rel FROM qr GROUP BY 1),
         disc AS (SELECT * FROM (VALUES $vals) v(r, d, cum)),
         per AS (SELECT r.qid,
                   COALESCE(SUM(CASE WHEN qr.doc_id IS NOT NULL
                                THEN disc.d END), 0) AS dcg
                 FROM run r
                 JOIN disc ON disc.r = r.rank
                 LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
                 GROUP BY 1)
         SELECT CAST(per.qid AS BIGINT) AS qid,
                CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
                CAST(per.dcg AS BIGINT) AS dcg_q20,
                CAST(COALESCE(di.cum, 0) AS BIGINT) AS idcg_q20,
                CASE WHEN COALESCE(di.cum, 0) > 0
                  THEN CAST((1048576 * per.dcg) // di.cum AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS ndcg_q20
         FROM per LEFT JOIN nr ON nr.qid = per.qid
         LEFT JOIN disc di ON di.r = LEAST(COALESCE(nr.n_rel, 0), 5)"""
  }),
    Entry("x89_retrieval_eval", (s, dir) => {
      // offline ranker evaluation (the trec_eval surface) with a
      // corpus-derivable ground truth: qrels = boolean-AND containment
      // (doc holds every query token), run = the x43 BM25 top-5; per
      // query n_rel / hits / precision@5 / recall@5 / reciprocal rank,
      // all exact integers (1/rank is rational — unlike log-discounted
      // NDCG this stays engine-exact).
      val d = t(s, dir, "documents")
      graft.ext.Retrieval.evalRun(
        graft.ext.Retrieval.bm25TopK(d, "text", "doc_id", hybridQueries, 5),
        graft.ext.Retrieval.containmentQrels(d, "text", "doc_id",
          hybridQueries), 5)
    },
      // x89: the x43 ranking chain + the boolean-AND containment qrels +
      // the exact-integer metric roll-up
      Sql((bm25BaseCtes +
      """,
         run AS (SELECT qid, doc_id, rank FROM (
                   SELECT qid, doc_id,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score_q20 DESC, doc_id) AS rank
                   FROM scored)
                 WHERE rank <= 5),
         qn AS (SELECT qid, COUNT(*) AS nq FROM qt GROUP BY 1),
         qr AS (SELECT qt.qid, p.doc_id
                FROM qt JOIN post p USING (tok)
                JOIN qn ON qn.qid = qt.qid
                GROUP BY qt.qid, p.doc_id, qn.nq
                HAVING COUNT(*) = qn.nq),
         nr AS (SELECT qid, COUNT(*) AS n_rel FROM qr GROUP BY 1),
         per AS (SELECT r.qid,
                   COALESCE(SUM(CASE WHEN qr.doc_id IS NOT NULL
                                THEN 1 END), 0) AS hits,
                   MIN(CASE WHEN qr.doc_id IS NOT NULL
                       THEN r.rank END) AS fr
                 FROM run r
                 LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
                 GROUP BY 1)
         SELECT CAST(per.qid AS BIGINT) AS qid,
                CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
                CAST(per.hits AS BIGINT) AS hits,
                CAST((1048576 * per.hits) // 5 AS BIGINT) AS prec_q20,
                CASE WHEN COALESCE(nr.n_rel, 0) > 0
                  THEN CAST((1048576 * per.hits) // nr.n_rel AS BIGINT)
                  ELSE 0 END AS recall_q20,
                CASE WHEN per.fr IS NOT NULL
                  THEN CAST(1048576 // per.fr AS BIGINT)
                  ELSE 0 END AS rr_q20
         FROM per LEFT JOIN nr ON nr.qid = per.qid"""))),
    Entry("x43_bm25_topk", (s, dir) =>
      // sparse retrieval: exact rational-idf BM25 (k1=1.2, b=0.75 as the
      // integer pair 120/75 over scale 100, idf = (N-df+1)/(df+1), all
      // products in decimal(38,0), one floor-div to a Q20 long) — top-5
      // docs per query, ties to the lower doc_id. Plan: ONE (tok, doc)
      // postings shuffle; the query batch is broadcast so the postings
      // never reshuffle for the probe; scoring reduces on (qid, doc)
      // over candidates only; top-k is a per-query window on that
      // candidate frame. The oracle replays the identical integers over
      // HUGEINT.
      graft.ext.Retrieval.bm25TopK(
        t(s, dir, "documents"), "text", "doc_id",
        hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long")),
      Sql((bm25BaseCtes +
      """
         SELECT CAST(qid AS BIGINT) AS qid, doc_id,
                CAST(score_q20 AS BIGINT) AS score_q20,
                CAST(rank AS BIGINT) AS rank
         FROM (SELECT qid, doc_id, score_q20,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY score_q20 DESC, doc_id) AS rank
               FROM scored)
         WHERE rank <= 5"""))),
    Entry("x72_passage_retrieval", (s, dir) => {
      // the canonical RAG query: BM25 over PASSAGES (x67's 64/48 token
      // windows), each doc answered by its best passage, top-3 docs per
      // query. Passage id = doc_id·100000 + chunk_id (chunk counts are
      // tokens/48 — the multiplier holds to 4.8M-token docs); scoring
      // normalizes by PASSAGE length, which is the point of passage
      // retrieval. Two windows: best chunk per (query, doc), then the
      // doc ranking. The oracle rebuilds chunks, the passage index, and
      // both windows from the shared BM25 scoring CTE.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val chunks = graft.ext.Curation.chunkByTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 64, 48)
        // loud pack: a >= 4.8M-token doc (chunk_id >= 100000) raises
        // instead of silently colliding into a neighboring doc's pids
        .select(graft.ext.Retrieval.packedId(col("doc_id"), col("chunk_id"),
            100000L).as("pid"),
          col("chunk_text"))
      val perDoc = graft.ext.Retrieval.bm25TopKJoin(chunks, "chunk_text", "pid",
          hybridQueries.toDF("qid", "qtext"), "qid", "qtext", 1 << 30)
        .select(col("qid"), col("doc_id").as("pid"), col("score_q20"))
        .withColumn("doc_id", expr("pid div 100000"))
        .withColumn("chunk_id", expr("pid % 100000"))
        .withColumn("_cr", row_number().over(
          Window.partitionBy(col("qid"), col("doc_id"))
            .orderBy(col("score_q20").desc, col("pid"))))
        .filter(col("_cr") === 1).drop("_cr")
      // web-scale ranking form (r15 verdict #5): the doc-ranking window
      // partitions by qid ALONE, so its input per query is every doc the
      // postings touched — unbounded at corpus scale. The salted two-
      // phase top-k bounds it: phase 1 keeps ≤3 per (qid, salt bucket),
      // so the qid-global window ranks ≤ 3·buckets survivor rows per
      // query; the order is total (score desc, doc_id), so the result is
      // row-identical to the plain window and x72's oracle replays it
      // verbatim (PlanSpec pins the bounded shape).
      graft.ops.Scale.saltedTopK(perDoc, "qid",
          Seq(col("score_q20").desc, col("doc_id")), 3, 16)
        .withColumn("rnk", col("rnk").cast("long"))
        .select(col("qid"), col("doc_id"), col("chunk_id"),
          col("score_q20"), col("rnk"))
    },
      // x72: chunks rebuilt (x67's windows), the passage inverted index
      // and scalars over CHUNKS, the shared scoring CTE, then both
      // windows — best chunk per (query, doc), doc ranking top-3
      Sql(x72OracleSql)),
    Entry("x105_passage_eval", (s, dir) => {
      // RETRIEVAL CAPSTONE (the x37 convention for the RAG side): the
      // offline passage-retrieval QA lifecycle as ONE lazy plan —
      // chunk (x67) → passage BM25 index + scoring (x43/x72) →
      // best-passage-per-doc ranking (x72's two windows) → graded
      // NDCG@3 against doc-level containment qrels (x89b's metric).
      // Each stage is oracle-proven by its own row; THIS row
      // hash-checks the COMPOSITION — chunk boundaries through passage
      // scores through doc dedup into the graded metric — end to end.
      val run = SparkEntry.queries("x72_passage_retrieval")(s, dir)
        .select(col("qid"), col("doc_id"), col("rnk").as("rank"))
      val d = t(s, dir, "documents")
      graft.ext.Retrieval.evalNdcg(run,
        graft.ext.Retrieval.containmentQrels(d, "text", "doc_id",
          hybridQueries),
        3, graft.ext.Retrieval.ndcgDiscountsQ20(3))
    },
      Sql(x105OracleSql(x72OracleSql))),
    Entry("x69_bm25_prf", (s, dir) => {
      // BM25 with RM3-style pseudo-relevance feedback: pass 1's top-3
      // docs per query donate their 2 heaviest non-query terms, pass 2
      // rescores with the expanded set — the classic recall lever over
      // x43's one-pass search, in the same exact Q20 integers so BOTH
      // passes (feedback pick, expansion mining, rescoring) hash-check
      // against the oracle's replay. Plan: two broadcast probes of ONE
      // postings frame; the corpus never reshuffles for either pass.
      import s.implicits._
      graft.ext.Retrieval.bm25PrfTopK(
        t(s, dir, "documents"), "text", "doc_id",
        hybridQueries.toDF("qid", "qtext"), "qid", "qtext", 5, 3, 2)
        .withColumn("rank", col("rank").cast("long"))
    },
      // x69: pass 1's top-3 per query are the FEEDBACK docs; their 2
      // heaviest terms (summed tf, ties token-asc, original terms
      // excluded) expand the query; pass 2 rescores with the same exact
      // integers. UNION (distinct) mirrors Spark's unionByName+distinct.
      Sql((bm25BaseCtes +
      s""",
         ranked1 AS (SELECT qid, doc_id,
                            ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY score_q20 DESC, doc_id) AS r
                     FROM scored),
         fb AS (SELECT qid, doc_id FROM ranked1 WHERE r <= 3),
         expc AS (SELECT f.qid, p.tok, SUM(p.tf) AS fm
                  FROM post p JOIN fb f USING (doc_id)
                  GROUP BY 1, 2),
         expx AS (SELECT e.qid, e.tok, e.fm FROM expc e
                  LEFT JOIN qt ON qt.qid = e.qid AND qt.tok = e.tok
                  WHERE qt.tok IS NULL),
         expt AS (SELECT qid, tok FROM (
                    SELECT qid, tok, ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY fm DESC, tok) AS fr
                    FROM expx) WHERE fr <= 2),
         qt2 AS (SELECT qid, tok FROM qt UNION SELECT qid, tok FROM expt),
         ${bm25ScoredCte("qt2", "scored2")}
         SELECT CAST(qid AS BIGINT) AS qid, doc_id,
                CAST(score_q20 AS BIGINT) AS score_q20,
                CAST(rank AS BIGINT) AS rank
         FROM (SELECT qid, doc_id, score_q20,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY score_q20 DESC, doc_id) AS rank
               FROM scored2)
         WHERE rank <= 5""")))
  )
}
