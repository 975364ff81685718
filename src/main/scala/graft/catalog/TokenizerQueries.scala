package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ext.{TextStats, Unigram}
import graft.ops.Stage
import Common._

/** Tokenizer training and encoding: BPE (word and char level), unigram-LM
  * and WordPiece, and the tokenizer evaluation. */
object TokenizerQueries {

  /** The three BPE training rounds as a shared DuckDB CTE chain: t0 is
    * the normalized corpus (doc_id carried), p_r/m_r each round's pair
    * counts and (n DESC, a, b) top pair, t_r the corpus after applying
    * merge r with the same double-space literal-replace trick the Spark
    * side uses (replace() is leftmost-non-overlapping in both engines, so
    * greedy BPE application agrees byte-for-byte; chr(1) is
    * TextStats.bpeTrain's default sep). */
  private def bpeRoundsCtes: String =
    bpeRoundsCtesFrom("trim(regexp_replace(text, '\\s+', ' ', 'g'))")

  /** x68's char-level variant reuses the same round chain over a
    * different t0 tokenization — `t0Expr` is the SQL producing the
    * space-separated token stream from `documents.text`. */
  private def bpeRoundsCtesFrom(t0Expr: String): String = {
    def pairs(src: String) =
      s"""SELECT u.a AS a, u.b AS b, COUNT(*) AS n FROM (
            SELECT unnest(list_transform(generate_series(1, len(s) - 1),
              i -> {'a': s[i], 'b': s[i+1]})) AS u
            FROM (SELECT string_split(t, ' ') AS s FROM $src))
          GROUP BY 1, 2"""
    def merged(src: String, m: String) =
      s"""SELECT doc_id, trim(replace(replace(
            ' ' || replace(t, ' ', '  ') || ' ',
            (SELECT ' ' || a || '  ' || b || ' ' FROM $m),
            (SELECT ' ' || a || chr(1) || b || ' ' FROM $m)),
          '  ', ' ')) AS t FROM $src"""
    s"""t0 AS (
          SELECT doc_id, $t0Expr AS t
          FROM documents
          WHERE text IS NOT NULL
            AND trim(regexp_replace(text, '\\s+', ' ', 'g')) <> ''),
        p1 AS (${pairs("t0")}),
        m1 AS (SELECT a, b, n FROM p1 ORDER BY n DESC, a, b LIMIT 1),
        t1 AS (${merged("t0", "m1")}),
        p2 AS (${pairs("t1")}),
        m2 AS (SELECT a, b, n FROM p2 ORDER BY n DESC, a, b LIMIT 1),
        t2 AS (${merged("t1", "m2")}),
        p3 AS (${pairs("t2")}),
        m3 AS (SELECT a, b, n FROM p3 ORDER BY n DESC, a, b LIMIT 1),
        t3 AS (${merged("t2", "m3")})"""
  }

  /** The x76/x76b WordPiece oracles: the three training rounds unrolled
    * (unit + pair counts over the distinct-word unit stream, TWO Q8
    * integer-log chains per round — pairs and units — the likelihood-gain
    * score join, the (s desc, a, b) top-1, the doubled-space literal
    * merge apply), and for the encode form the minFreq-2 vocabulary cut,
    * the greedy longest-match-first walk as a recursive CTE (the same
    * whole-word-[UNK] rule), and the word-order roll-up. */
  private val (wpTrainOracleSql: String, wpEncodeOracleSql: String) = {
    val (maxW, maxP, minFreq) = (16, 8, 2)
    // Q8 log chain over a counts CTE exposing {keys}, v — the log2q8
    // arithmetic shared with the unigram oracles
    def lq(src: String, keys: String): Seq[String] = {
      // accumulator named fr8 — the pair chain's key columns include 'a'
      val l0 = s"""${src}_l0 AS MATERIALIZED (SELECT $keys, v, length(bin(v)) - 1 AS e,
        (v * 256) // (1::BIGINT << (length(bin(v)) - 1)) AS m,
        0::BIGINT AS fr8 FROM $src)"""
      val steps = (1 to 8).map { i =>
        s"""${src}_l$i AS MATERIALIZED (SELECT $keys, v, e,
          CASE WHEN (m*m)//256 >= 512 THEN ((m*m)//256)//2 ELSE (m*m)//256 END AS m,
          fr8*2 + CASE WHEN (m*m)//256 >= 512 THEN 1 ELSE 0 END AS fr8
          FROM ${src}_l${i - 1})"""
      }
      (l0 +: steps) :+
        s"${src}_lq AS MATERIALIZED (SELECT $keys, v, e*256 + fr8 AS lq FROM ${src}_l8)"
    }
    def round(r: Int): Seq[String] = {
      val prev = s"t${r - 1}"
      Seq(
        s"""uc$r AS MATERIALIZED (SELECT u, SUM(wcnt) AS v FROM (
              SELECT unnest(string_split(t, ' ')) AS u, wcnt FROM $prev)
            GROUP BY 1)""",
        s"""pc$r AS MATERIALIZED (SELECT a, b, SUM(wcnt) AS v FROM (
              SELECT s[i] AS a, s[i+1] AS b, wcnt
              FROM (SELECT string_split(t, ' ') AS s, wcnt FROM $prev), js
              WHERE i <= len(s) - 1)
            GROUP BY 1, 2)""") ++
        lq(s"uc$r", "u") ++ lq(s"pc$r", "a, b") ++ Seq(
        s"""m$r AS MATERIALIZED (SELECT p.a, p.b,
              p.a || CASE WHEN p.b LIKE '##%' THEN substr(p.b, 3) ELSE p.b END AS mg,
              p.v AS pn, p.lq - ua.lq - ub.lq AS s
            FROM pc${r}_lq p JOIN uc${r}_lq ua ON p.a = ua.u
                             JOIN uc${r}_lq ub ON p.b = ub.u
            ORDER BY s DESC, p.a, p.b LIMIT 1)""",
        // an exhausted round (empty m$r) must pass the stream through
        // unchanged — the engine stops applying merges on exhaustion;
        // replace(t, NULL, NULL) would instead NULL-poison every word
        // and wipe the encode oracle's vocabulary
        s"""t$r AS MATERIALIZED (SELECT CASE WHEN (SELECT COUNT(*) FROM m$r) = 0 THEN t
              ELSE trim(replace(replace(
                ' ' || replace(t, ' ', '  ') || ' ',
                (SELECT ' ' || a || '  ' || b || ' ' FROM m$r),
                (SELECT ' ' || mg || ' ' FROM m$r)),
              '  ', ' ')) END AS t, wcnt FROM $prev)""")
    }
    val base = Seq(
      s"""w0 AS MATERIALIZED (SELECT unnest(string_split_regex(
           regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS ww
         FROM documents WHERE text IS NOT NULL
           AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> '')""",
      s"""w AS MATERIALIZED (SELECT substr(ww, 1, $maxW) AS word, COUNT(*) AS wcnt
         FROM w0 WHERE ww <> '' GROUP BY 1)""",
      s"js AS MATERIALIZED (SELECT i FROM generate_series(1, $maxW) t(i))",
      s"""t0 AS MATERIALIZED (SELECT substr(word, 1, 1) ||
           regexp_replace(substr(word, 2), '(.)', ' ##\\1', 'g') AS t, wcnt
         FROM w)""")
    val trainParts = base ++ round(1) ++ round(2) ++ round(3)
    // every branch casts pn/s: DuckDB resolves a UNION ALL column's type
    // as the WIDEST branch type, so one uncast SUM-typed branch widens
    // the whole column back to HUGEINT -> pandas float64 -> the driver
    // hashes 871.0 against Spark's 871 (the r12 red row)
    val trainSql = "WITH " + trainParts.mkString(",\n  ") + """
      SELECT CAST(1 AS BIGINT) AS merge_rank, a, b, mg AS merged,
             CAST(pn AS BIGINT) AS pn, CAST(s AS BIGINT) AS score_q8 FROM m1
      UNION ALL SELECT CAST(2 AS BIGINT), a, b, mg,
             CAST(pn AS BIGINT), CAST(s AS BIGINT) FROM m2
      UNION ALL SELECT CAST(3 AS BIGINT), a, b, mg,
             CAST(pn AS BIGINT), CAST(s AS BIGINT) FROM m3"""
    // encode: vocabulary = units of the final stream with cnt >= minFreq;
    // the greedy walk advances each live word by its longest in-vocab
    // piece ('##'-prefixed past position 0); no match at any position =>
    // the whole word is one [UNK] (pos jumps to the end so the walk
    // terminates); the roll-up orders pieces by in-doc word position
    val encodeParts = trainParts ++ Seq(
      s"""vc AS MATERIALIZED (SELECT u, SUM(wcnt) AS cnt FROM (
            SELECT unnest(string_split(t, ' ')) AS u, wcnt FROM t3)
          GROUP BY 1)""",
      s"voc AS MATERIALIZED (SELECT u FROM vc WHERE cnt >= $minFreq)",
      s"ls AS MATERIALIZED (SELECT l FROM generate_series(1, $maxP) t(l))",
      // the longest-match argmax is SET-BASED (candidate lengths expand
      // through one hash join against voc, MAX(l) picks the winner, the
      // piece re-derives from (word, pos, l)) — the correlated
      // `ORDER BY l DESC LIMIT 1` scalar subquery it replaces
      // re-executed per live word per step and measured 74-94 s per
      // encode oracle at sf0.01; this form is < 2 s, same walk exactly
      s"""seg AS (
        SELECT word, 0 AS pos, 0::BIGINT AS np, FALSE AS unk, '' AS acc
        FROM w
        UNION ALL
        SELECT word,
          CASE WHEN ml IS NULL THEN length(word) ELSE pos + ml END,
          CASE WHEN ml IS NULL THEN 1::BIGINT ELSE np + 1 END,
          ml IS NULL,
          CASE WHEN ml IS NULL THEN '[UNK]'
               ELSE acc || CASE WHEN acc = '' THEN '' ELSE ' ' END ||
                 CASE WHEN pos = 0 THEN substr(word, 1, ml)
                      ELSE '##' || substr(word, pos + 1, ml) END END
        FROM (
          SELECT z.word, z.pos, z.np, z.acc,
            MAX(CASE WHEN v.u IS NOT NULL THEN ls.l END) AS ml
          FROM seg z
          JOIN ls ON ls.l <= length(z.word) - z.pos
          LEFT JOIN voc v
            ON v.u = CASE WHEN z.pos = 0 THEN substr(z.word, 1, ls.l)
                          ELSE '##' || substr(z.word, z.pos + 1, ls.l) END
          WHERE z.pos < length(z.word)
          GROUP BY z.word, z.pos, z.np, z.acc))""",
      "wseg AS MATERIALIZED (SELECT word, np, unk, acc FROM seg WHERE pos = length(word))",
      // generate_subscripts + unnest expand the word list IN LOCKSTEP —
      // the generate_series(1, MAX(length(text))) cross join this
      // replaces copied every doc's whole word LIST once per character
      // index (O(docs·max_chars·words) list copies, the dominant cost
      // of the encode oracle at sf0.01)
      s"""docw AS MATERIALIZED (SELECT doc_id, pos, substr(ww, 1, $maxW) AS word
         FROM (SELECT doc_id, generate_subscripts(t, 1) AS pos,
                      unnest(t) AS ww
               FROM (SELECT doc_id, string_split_regex(
                       regexp_replace(text, '^\\s+|\\s+$$', '', 'g'),
                       '\\s+') AS t
                     FROM documents WHERE text IS NOT NULL
                       AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''))
         WHERE ww <> '')""")
    val encodeSql = "WITH RECURSIVE " + encodeParts.mkString(",\n  ") + """
      SELECT d.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_words,
        CAST(SUM(CASE WHEN s.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        CAST(SUM(s.np) AS BIGINT) AS n_pieces,
        md5(string_agg(s.acc, ' ' ORDER BY d.pos)) AS seg_md5
      FROM docw d JOIN wseg s USING (word)
      GROUP BY 1"""
    (trainSql, encodeSql)
  }

  /** The x74 unigram-LM trainer oracle: replays the WHOLE training run —
    * substring seed counts + top-k cut, the exact Q8 integer log₂ (8
    * unrolled shift-and-square CTE steps — the same arithmetic as
    * [[graft.ext.Unigram.log2q8]]), BOTH Viterbi hard-EM rounds as
    * recursive CTEs (dp carried as a LIST<STRUCT(s,j)> per word; the
    * (score desc, split asc) tie rule via the packed-MAX argmax — see
    * the viterbi builder), required-char floors, the prune cut, and the
    * final scores. */
  /** Shared builder of the x74/x74b oracles: the training replay (seed →
    * two hard-EM Viterbi rounds → prune → final Q8 scores) is common; the
    * score form appends a THIRD Viterbi pass under the final scores plus
    * the per-document roll-up (the corpus scored IS the training corpus,
    * so the distinct-word table `w` is shared and the required-char floor
    * guarantees n_oov = 0 — the CASE arm still replays the engine's oov
    * rule so a segmentation bug breaks the hash instead of hiding). */
  private val (unigramOracleSql: String, unigramScoreOracleSql: String) = {
    val (maxP, maxW, nSeed, vocab) = (4, 16, 40, 40)
    def logChain(src: String): (Seq[String], String) = {
      val l0 = s"""${src}_l0 AS MATERIALIZED (SELECT piece, cnt, length(bin(cnt)) - 1 AS e,
        (cnt * 256) // (1::BIGINT << (length(bin(cnt)) - 1)) AS m,
        0::BIGINT AS a FROM $src)"""
      val steps = (1 to 8).map { i =>
        s"""${src}_l$i AS MATERIALIZED (SELECT piece, cnt, e,
          CASE WHEN (m*m)//256 >= 512 THEN ((m*m)//256)//2 ELSE (m*m)//256 END AS m,
          a*2 + CASE WHEN (m*m)//256 >= 512 THEN 1 ELSE 0 END AS a
          FROM ${src}_l${i - 1})"""
      }
      val fin = s"${src}_lq"
      ((l0 +: steps) :+ s"$fin AS MATERIALIZED (SELECT piece, cnt, e*256 + a AS lq FROM ${src}_l8)",
        fin)
    }
    // vocabCte(piece, cnt) -> vs_tag(piece, s): Q8 log-prob scores
    // against the vocabulary total (the total rides as the '' row)
    def scores(vocabCte: String, tag: String): Seq[String] = {
      val wt = s"wt_$tag"
      val (chain, fin) = logChain(wt)
      (s"""$wt AS MATERIALIZED (SELECT piece, cnt FROM $vocabCte
         UNION ALL SELECT '', SUM(cnt) FROM $vocabCte)""" +: chain) :+
        s"""vs_$tag AS MATERIALIZED (SELECT piece,
           lq - (SELECT lq FROM $fin WHERE piece = '') AS s
           FROM $fin WHERE piece <> '')"""
    }
    // Viterbi counts under vs(piece, s) over w(word, wcnt) -> cnt_tag.
    // The per-step argmax is SET-BASED: every (word, j, piece) candidate
    // expands through one vectorized hash join and folds with MAX over
    // the packed key (cs + 2^30)*32 + (16 - j) — exactly the
    // (cs DESC, j ASC) tie order (|cs| < 2^30 by the Q8 score bounds;
    // 16 - j < 32). A correlated `ORDER BY ... LIMIT 1` scalar subquery
    // here re-executes per row per step and measured 562 s at sf0.01 —
    // 40% of the whole 229-oracle gate; this form is < 2 s. The LEFT
    // join keeps a no-candidate word alive with a NULL step (the
    // engine's oov sentinel path), though the char floor makes that arm
    // structurally dead on any corpus whose chars seed the vocab.
    def viterbi(vs: String, tag: String): Seq[String] = Seq(
      s"""dp_$tag AS (
        SELECT word, 0 AS pos, [{'s': 0::BIGINT, 'j': -1}] AS d FROM w
        UNION ALL
        SELECT word, pos + 1,
          list_append(d, {'s': mx // 32 - (1::BIGINT << 30),
                          'j': 16 - (mx % 32)})
        FROM (
          SELECT dp.word, dp.pos, dp.d,
            MAX((dp.d[js.j + 1].s + v.s + (1::BIGINT << 30)) * 32
                + (16 - js.j)) AS mx
          FROM dp_$tag dp
          LEFT JOIN js ON js.j BETWEEN GREATEST(0, dp.pos + 1 - $maxP)
                            AND dp.pos
          LEFT JOIN $vs v
            ON v.piece = substr(dp.word, js.j + 1, dp.pos + 1 - js.j)
          WHERE dp.pos < length(dp.word)
          GROUP BY dp.word, dp.pos, dp.d))""",
      s"fin_$tag AS MATERIALIZED (SELECT word, d FROM dp_$tag WHERE pos = length(word))",
      s"""path_$tag AS (
        SELECT word, length(word) AS pos, d FROM fin_$tag
        UNION ALL
        SELECT word, d[pos + 1].j, d FROM path_$tag WHERE pos > 0)""",
      s"""cnt_$tag AS MATERIALIZED (
        SELECT substr(p.word, p.d[p.pos + 1].j + 1, p.pos - p.d[p.pos + 1].j) AS piece,
               SUM(w.wcnt) AS cnt
        FROM path_$tag p JOIN w USING (word) WHERE p.pos > 0
        GROUP BY 1)""")
    val base = Seq(
      """w0 AS MATERIALIZED (SELECT unnest(string_split_regex(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS ww
         FROM documents WHERE text IS NOT NULL
           AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> '')""",
      s"""w AS MATERIALIZED (SELECT substr(ww, 1, $maxW) AS word, COUNT(*) AS wcnt
         FROM w0 WHERE ww <> '' GROUP BY 1)""",
      s"js AS MATERIALIZED (SELECT j FROM generate_series(0, $maxW) t(j))",
      s"ls AS MATERIALIZED (SELECT l FROM generate_series(1, $maxP) t(l))",
      s"""sub AS MATERIALIZED (SELECT substr(word, js.j + 1, ls.l) AS piece, SUM(wcnt) AS cnt
         FROM w, js, ls
         WHERE js.j < length(word) AND ls.l <= length(word) - js.j
         GROUP BY 1)""",
      s"seedtop AS MATERIALIZED (SELECT piece, cnt FROM sub ORDER BY cnt DESC, piece LIMIT $nSeed)",
      "chars AS MATERIALIZED (SELECT piece, cnt FROM sub WHERE length(piece) = 1)",
      """v0 AS MATERIALIZED (SELECT DISTINCT piece, cnt FROM
         (SELECT * FROM seedtop UNION ALL SELECT * FROM chars))""")
    val round1Vocab = Seq(
      """v1 AS MATERIALIZED (
        SELECT c.piece, COALESCE(k.cnt, 1) AS cnt
        FROM chars c LEFT JOIN cnt_r1 k USING (piece)
        UNION ALL
        SELECT piece, cnt FROM cnt_r1 WHERE length(piece) > 1)""")
    val prune = Seq(
      """charsf AS MATERIALIZED (
        SELECT c.piece, COALESCE(k.cnt, 1) AS n
        FROM chars c LEFT JOIN cnt_r2 k USING (piece))""",
      s"""multif AS MATERIALIZED (
        SELECT piece, cnt AS n FROM cnt_r2 WHERE length(piece) > 1
        QUALIFY row_number() OVER (ORDER BY cnt DESC, piece)
                <= $vocab - (SELECT COUNT(*) FROM chars))""",
      """finv AS MATERIALIZED (SELECT piece, n AS cnt FROM charsf
         UNION ALL SELECT piece, n FROM multif)""")
    val parts = base ++ scores("v0", "0") ++ viterbi("vs_0", "r1") ++
      round1Vocab ++ scores("v1", "1") ++ viterbi("vs_1", "r2") ++
      prune ++ scores("finv", "f")
    val trainSql =
      "WITH RECURSIVE\n  " + parts.mkString(",\n  ") + """
      SELECT f.piece, CAST(f.cnt AS BIGINT) AS n, CAST(v.s AS BIGINT) AS score_q8
      FROM finv f JOIN vs_f v USING (piece)"""
    // x74b: a third Viterbi pass (dp_sc/path_sc) under the FINAL scores
    // gives each distinct word its best-path score and piece count; the
    // per-doc word multiset then rolls up to the exact integer outputs
    val scoreParts = parts ++ viterbi("vs_f", "sc") ++ Seq(
      "wnp AS MATERIALIZED (SELECT word, COUNT(*) AS np FROM path_sc WHERE pos > 0 GROUP BY 1)",
      // an OOV word's dp appends NULL steps (the empty scalar subquery),
      // so its end-state score reads NULL and it may be absent from wnp
      // — COALESCE both to the engine's NegInf-sentinel semantics (ws =
      // exactly -(1<<60) makes the ok comparison FALSE, not NULL, so the
      // n_oov arm is genuinely live) and LEFT-join so the word still
      // reaches the roll-up
      """wstat AS MATERIALIZED (SELECT f.word,
           COALESCE(f.d[length(f.word) + 1].s, -(1::BIGINT << 60)) AS ws,
           COALESCE(n.np, 0) AS np
         FROM fin_sc f LEFT JOIN wnp n USING (word))""",
      s"""docw AS MATERIALIZED (SELECT doc_id, substr(ww, 1, $maxW) AS word, COUNT(*) AS dc
         FROM (SELECT doc_id, unnest(string_split_regex(""" +
        """regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS ww
              FROM documents WHERE text IS NOT NULL
                AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> '')
         WHERE ww <> '' GROUP BY 1, 2)""",
      """sel AS MATERIALIZED (SELECT d.doc_id, d.dc, s.ws, s.np,
           (s.ws > -(1::BIGINT << 60)) AS ok
         FROM docw d JOIN wstat s USING (word))""")
    val scoreSql =
      "WITH RECURSIVE\n  " + scoreParts.mkString(",\n  ") + """
      SELECT doc_id,
        CAST(COALESCE(SUM(CASE WHEN ok THEN dc END), 0) AS BIGINT) AS n_words,
        CAST(COALESCE(SUM(CASE WHEN NOT ok THEN dc END), 0) AS BIGINT) AS n_oov,
        CAST(COALESCE(SUM(CASE WHEN ok THEN dc * np END), 0) AS BIGINT) AS n_pieces,
        CAST(COALESCE(-SUM(CASE WHEN ok THEN dc * ws END), 0) AS BIGINT) AS bits_q8,
        CASE WHEN COALESCE(SUM(CASE WHEN ok THEN dc * np END), 0) > 0
             THEN CAST((-SUM(CASE WHEN ok THEN dc * ws END))
                       // SUM(CASE WHEN ok THEN dc * np END) AS BIGINT)
        END AS bpp_q8
      FROM sel GROUP BY doc_id"""
    (trainSql, scoreSql)
  }

  val entries: Seq[Entry] = Seq(
    Entry("x74_unigram_train", (s, dir) =>
      // Unigram-LM (SentencePiece-style) tokenizer trainer — the other
      // major subword algorithm beside the complete BPE family
      // (x38–x38d, x68): seed vocabulary from bounded-length substring
      // counts, TWO hard-EM (Viterbi) rounds, required-char floor, prune
      // to the target size. Every statistic is an integer count and
      // every score the exact Q8 integer log₂ (shift-and-square — no
      // libm), so the oracle replays the ENTIRE training run: seed top-k,
      // both Viterbi rounds (recursive-CTE dp with the same
      // (score desc, split asc) tie rule), char floors, the prune cut,
      // and the final Q8 scores — bit for bit.
      Unigram.unigramTrain(t(s, dir, "documents"), "text",
        maxPieceLen = 4, maxWordLen = 16, nSeed = 40, emRounds = 2,
        vocabSize = 40),
      Sql(unigramOracleSql)),
    Entry("x74b_unigram_score", (s, dir) => {
      // the trained LM put to its pipeline USE — CCNet-style document
      // quality scoring (Wenzek et al. 2020 rank docs by LM perplexity):
      // train the x74 unigram LM (same params — the oracle replays the
      // training verbatim), then score every document by its Viterbi
      // code length under the trained vocabulary. The trained scores are
      // a bounded driver artifact (≤ vocabSize pairs, the
      // literal-segmenter regime); bits_q8/bpp_q8 are exact integers, so
      // the oracle replays train → segment → roll-up end to end.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val trained = Unigram.unigramTrain(docs, "text",
          maxPieceLen = 4, maxWordLen = 16, nSeed = 40, emRounds = 2,
          vocabSize = 40)
        .select(col("piece"), col("score_q8"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Unigram.scoreDocs(docs, "text", "doc_id", trained,
        maxPieceLen = 4, maxWordLen = 16)
    },
      Sql(unigramScoreOracleSql)),
    Entry("x74d_unigram_train_join", (s, dir) =>
      // the fully DATA-DRIVEN trainer — the production form for 32k–50k
      // vocabularies: no maxVocabLiteral ceiling, no driver collect of
      // counts or scores; E-steps segment via the substring-edge
      // broadcast join, M-steps score in-plan, rounds stage to parquet
      // (the kMeansTrain stage-per-iteration move). Bit-parity with the
      // literal trainer is the contract: answers x74's oracle VERBATIM.
      Unigram.unigramTrainJoin(t(s, dir, "documents"), "text",
        maxPieceLen = 4, maxWordLen = 16, nSeed = 40, emRounds = 2,
        vocabSize = 40),
      SameAs("x74_unigram_train")),
    Entry("x74c_unigram_score_join", (s, dir) => {
      // the DATA-DRIVEN twin of x74b — train → deploy stays on the
      // cluster end to end: the trained vocabulary feeds the segmenter
      // as a DataFrame (substring-edge broadcast join; plan size and
      // driver traffic independent of vocabulary width — the path a
      // production 32k–50k SentencePiece vocab needs, past x74b's
      // literal-segmenter ceiling). No collect anywhere. Answers x74b's
      // oracle VERBATIM — bit-parity with the literal segmenter is the
      // contract (ExtSpec pins it on fixture and corpus).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val trained = Unigram.unigramTrain(docs, "text",
        maxPieceLen = 4, maxWordLen = 16, nSeed = 40, emRounds = 2,
        vocabSize = 40)
      Unigram.scoreDocsJoin(docs, "text", "doc_id",
        trained.select(col("piece"), col("score_q8")),
        maxPieceLen = 4, maxWordLen = 16)
    },
      SameAs("x74b_unigram_score")),
    Entry("x38_bpe_pairs", (s, dir) => {
      // first BPE-training step: adjacent-token pair frequencies,
      // deterministic top-100 (count desc, pair asc) — with x34's unigram
      // vocab this is the tokenizer-training data path. Same scale shape
      // as x34: one pair-key shuffle, map-side partials, TakeOrdered.
      // pairs as zip(t[1..n-1], t[2..n]) — slice/arrays_zip/explode stay
      // inside codegen where a transform() lambda would drop the whole
      // stage to interpreted HOF eval (measured 5.4 s → ~1 s at sf0.1);
      // a 1-token doc slices to [] and explodes to nothing, so no guard.
      // The tokenization gets its OWN projection: referenced three
      // times, an inlined split would re-run the regex per reference
      // (CollapseProject keeps non-cheap multi-referenced aliases apart)
      val t0 = col("t")
      t(s, dir, "documents")
        .filter(col("text").isNotNull && TextStats.wsTrim(col("text")) =!= "")
        .select(split(TextStats.wsTrim(col("text")), "\\s+").as("t"))
        .select(explode(arrays_zip(
          slice(t0, lit(1), size(t0) - 1),
          slice(t0, lit(2), size(t0) - 1))).as("pq"))
        .select(concat_ws(" ", col("pq.0"), col("pq.1")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(100)
    },
      Sql("""SELECT pair, COUNT(*) AS n
         FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> concat_ws(' ', t[i], t[i+1]))) AS pair
               FROM (SELECT string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                     FROM documents
                     WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''))
         GROUP BY pair
         ORDER BY n DESC, pair LIMIT 100""")),
    Entry("x38b_bpe_train", (s, dir) => {
      // the BPE merge LOOP (x38 is one pair-count step; this is the
      // trainer): three rounds of count-top-pair → apply-merge → re-count
      // with the deterministic (n desc, a, b) tie-break. Round r's counts
      // run over the corpus AFTER round r-1's merge — merged tokens appear
      // as pair members — so the three-row merge table hash-checks the
      // whole loop, application step included (the oracle unrolls the
      // rounds with the same double-space literal-replace). Construction
      // runs one TakeOrdered top-1 job per round (bounded: one row each);
      // the returned frame is the trained artifact a tokenizer ships.
      val merges = graft.ext.TextStats.bpeTrain(
        t(s, dir, "documents").select(col("text")), "text", 3)
      s.createDataFrame(merges)
        .select(col("merge_rank").cast("long").as("merge_rank"),
          col("a"), col("b"), col("n"))
    },
      // x38b/x38c: the three BPE rounds unrolled through the shared CTE
      // chain (bpeRoundsCtes) — x38b reads the merge table off m1..m3,
      // x38c the final encoded corpus off t3
      Sql(s"""WITH $bpeRoundsCtes
          SELECT CAST(1 AS BIGINT) AS merge_rank, a, b, CAST(n AS BIGINT) AS n FROM m1
          UNION ALL SELECT 2, a, b, n FROM m2
          UNION ALL SELECT 3, a, b, n FROM m3""")),
    Entry("x38c_bpe_encode", (s, dir) => {
      // the tokenizer's INFERENCE path: apply the x38b-trained merge
      // table back over the corpus (bpeEncode — a pure 3-replace codegen
      // projection) and hash the segmented text. Encoding the training
      // corpus reproduces training's final state, so the oracle reads the
      // unrolled rounds' t3 directly — train and encode must agree
      // byte-for-byte on every document.
      val d = t(s, dir, "documents")
      val merges = graft.ext.TextStats.bpeTrain(d.select(col("text")), "text", 3)
      d.filter(col("text").isNotNull &&
          trim(regexp_replace(col("text"), "\\s+", " ")) =!= "")
        .select(col("doc_id"),
          graft.ext.TextStats.bpeEncode(col("text"), merges).as("_enc"))
        .select(col("doc_id"), md5(col("_enc")).as("seg_md5"),
          size(split(col("_enc"), " ")).cast("long").as("n_tokens"))
    },
      Sql(s"""WITH $bpeRoundsCtes
          SELECT doc_id, md5(t) AS seg_md5,
                 CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
          FROM t3""")),
    Entry("x76_wordpiece_train", (s, dir) => {
      // the THIRD major subword trainer beside BPE (x38b) and unigram-LM
      // (x74): WordPiece ranks each round's merge by LIKELIHOOD GAIN —
      // score_q8 = lg(c_pair) − lg(c_a) − lg(c_b) in exact Q8 integer
      // logs — not raw pair count, so a rarer-but-tighter pair can win
      // (ExtSpec pins a fixture where it does). Three rounds over the
      // distinct-word unit stream; the oracle unrolls them with the same
      // doubled-space literal replace and two Q8 log chains per round.
      val merges = graft.ext.WordPiece.wordPieceTrain(
        t(s, dir, "documents"), "text", 3, 16)
      s.createDataFrame(merges)
        .select(col("merge_rank").cast("long").as("merge_rank"),
          col("a"), col("b"), col("merged"), col("pn"), col("score_q8"))
    },
      Sql(wpTrainOracleSql)),
    Entry("x76b_wordpiece_encode", (s, dir) => {
      // the WordPiece INFERENCE path: greedy longest-match-first (BERT's
      // MaxMatch) under the x76-trained vocabulary (minFreq 2 — rare
      // chars prune, so [UNK]s are possible and the rule is exercised);
      // per doc the word/unk/piece counts and the md5 of the piece
      // stream in document word order. The oracle replays training, the
      // vocabulary cut, the greedy walk (recursive CTE with the same
      // longest-first rule), and the ordered roll-up.
      val d = t(s, dir, "documents")
      val merges = graft.ext.WordPiece.wordPieceTrain(d, "text", 3, 16)
      val vocab = graft.ext.WordPiece.wordPieceVocab(d, "text", merges, 16, 2L)
      graft.ext.WordPiece.segmentDocs(d, "text", "doc_id", vocab, 8, 16)
    },
      Sql(wpEncodeOracleSql)),
    Entry("x76c_wordpiece_encode_join", (s, dir) => {
      // the DATA-DRIVEN WordPiece segmenter — x76b with the vocabulary as
      // a DataFrame met by broadcast edge join (the x74c move), the path
      // a production ~30k-piece BERT vocabulary needs past the literal
      // ceiling: no driver collect anywhere, plan size vocab-independent.
      // Bit-parity with the literal fold is the contract — this answers
      // x76b's oracle VERBATIM.
      val d = t(s, dir, "documents")
      val merges = graft.ext.WordPiece.wordPieceTrain(d, "text", 3, 16)
      val vocabDf = graft.ext.WordPiece.wordPieceVocabDf(d, "text", merges,
        16, 2L)
      graft.ext.WordPiece.segmentDocsJoin(d, "text", "doc_id", vocabDf, 8, 16)
    },
      // x76c: the data-driven segmenter answers the literal form's oracle
      // VERBATIM — bit-parity is the contract
      SameAs("x76b_wordpiece_encode")),
    Entry("x53_tokenizer_eval", (s, dir) => {
      // tokenizer-efficiency eval — the bytes-per-token fairness metric a
      // tokenizer release reports per language: segment with the TRAINED
      // merges (x38b artifact), then per lang the exact byte and token
      // mass (consumers derive bytes/token from the sums — no floats in
      // the gate). Training is construction-time; the scored pass is a
      // projection + ONE lang-key agg.
      val d = t(s, dir, "documents")
      val merges = graft.ext.TextStats.bpeTrain(d.select(col("text")), "text", 3)
      val norm = graft.ext.TextStats.bpeNormalize(col("text"))
      d.filter(col("text").isNotNull && norm =!= "")
        .select(col("lang"), octet_length(norm).cast("long").as("_b"),
          size(graft.ext.TextStats.bpeSegment(col("text"), merges))
            .cast("long").as("_t"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_b")).as("n_bytes"),
          sum(col("_t")).as("n_tokens"))
    },
      // x53: byte mass reads the NORMALIZED text (t0 — merging only swaps
      // 1-byte spaces for the 1-byte sep, so t3 bytes would equal t0's, but
      // t0 is the metric's definition); token mass reads the trained
      // segmentation (t3). strlen = DuckDB's byte length (Spark octet_length)
      Sql(s"""WITH $bpeRoundsCtes
          SELECT d.lang, COUNT(*) AS n_docs,
                 CAST(SUM(strlen(t0.t)) AS BIGINT) AS n_bytes,
                 CAST(SUM(len(string_split(t3.t, ' '))) AS BIGINT) AS n_tokens
          FROM t3 JOIN t0 USING (doc_id) JOIN documents d USING (doc_id)
          GROUP BY 1""")),
    Entry("x38d_token_ids", (s, dir) => {
      // the tokenizer's FINAL stage: trained merges (x38b) + trained
      // top-50 vocab over the SEGMENTED corpus → each doc as an array of
      // 1-based vocab ids, 0 = OOV. Both artifacts are bounded and ride
      // the plan (merge table as replace chain, vocab as a map literal),
      // so encoding is a zero-exchange projection; the oracle retrains
      // both from the shared round CTEs and must agree id-for-id.
      val d = t(s, dir, "documents")
      val merges = graft.ext.TextStats.bpeTrain(d.select(col("text")), "text", 3)
      val vocab = graft.ext.TextStats.trainTokenVocab(d, "text", merges, 50)
      // the id stream goes to the gate as a space-joined string — the
      // driver's comparator sorts rows by every column and can't order
      // raw arrays (j3 precedent); the array form stays the library API
      d.filter(col("text").isNotNull &&
          trim(regexp_replace(col("text"), "\\s+", " ")) =!= "")
        .select(col("doc_id"),
          concat_ws(" ", transform(
            graft.ext.TextStats.tokenIds(col("text"), merges, vocab),
            _.cast("string"))).as("ids"))
    },
      Sql(s"""WITH $bpeRoundsCtes,
          seg AS (SELECT doc_id, string_split(t, ' ') AS tk FROM t3),
          vocab AS (SELECT tok,
                      CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS INTEGER) AS vid
                    FROM (SELECT unnest(tk) AS tok FROM seg)
                    GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 50),
          pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM seg),
          mapped AS (SELECT p.doc_id, p.i, CAST(COALESCE(v.vid, 0) AS INTEGER) AS vid
                     FROM pos p LEFT JOIN vocab v ON p.tk[p.i] = v.tok)
          SELECT doc_id, array_to_string(list(vid ORDER BY i), ' ') AS ids
          FROM mapped GROUP BY doc_id""")),
    Entry("x68_char_bpe", (s, dir) => {
      // CHARACTER-level BPE — the granularity real tokenizers train at
      // (x38b merges word pairs; this merges characters): the corpus
      // re-tokenizes to one char per token with '¤' marking word
      // boundaries (the SentencePiece '▁' move — merges may absorb the
      // boundary, which is how word-initial subwords form), and the SAME
      // three-round trainer runs over that stream. One projection turns
      // the word problem into the char problem; the trainer, its
      // tie-break, its apply step, and the oracle's round chain are
      // x38b's verbatim — composition, not reimplementation. The '.'
      // char-split is per CODE POINT in both engines, so non-BMP text
      // charifies whole (TextStats.charify; PropertySpec pins it).
      // stage the charified corpus ONCE: charify explodes every code
      // point into a spaced token (the expensive projection here), and
      // the lazy trainer re-derives its input per round — round r was
      // re-running charify + (r−1) merge replaces over the raw text
      // (measured: rounds 2-3 cost 2.2/2.0 s vs round 1's 1.35 s at
      // sf0.1). With the charified text staged, every round reads the
      // narrow parquet and pays only its own merge chain. Same move as
      // the r16 WordPiece/Unigram staged-word-table fix; merges are
      // bit-identical (the staged frame IS the round-0 corpus).
      val charified = Stage(
        t(s, dir, "documents").select(
          graft.ext.TextStats.charify(col("text")).as("ctext")))
      val merges = graft.ext.TextStats.bpeTrain(charified, "ctext", 3)
      s.createDataFrame(merges)
        .select(col("merge_rank").cast("long").as("merge_rank"),
          col("a"), col("b"), col("n"))
    },
      // x68: the same round chain over the CHAR-tokenized stream — word
      // boundaries become '¤' tokens, every char a token ('\1 ' is RE2's
      // replacement backreference; Spark spells it '$1 ')
      Sql(s"""WITH ${bpeRoundsCtesFrom(
        "trim(regexp_replace(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', '¤'), '(.)', '\\1 ', 'g'))")}
          SELECT CAST(1 AS BIGINT) AS merge_rank, a, b, CAST(n AS BIGINT) AS n FROM m1
          UNION ALL SELECT 2, a, b, n FROM m2
          UNION ALL SELECT 3, a, b, n FROM m3"""))
  )
}
