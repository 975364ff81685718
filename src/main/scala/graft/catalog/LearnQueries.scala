package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.Stage
import Common._

/** Learned quality models and their evaluation: centroid classifiers,
  * calibration, agreement and association statistics ([[graft.ext.Learn]]). */
object LearnQueries {

  /** Shared PAV-fit CTE block (reads a `cf (bin, n_cal, pos_cal)` CTE,
    * ends at `pv (bin, pav_q20)`) — the DuckDB replay of
    * [[graft.ext.Learn]]'s minimax isotonic fit, used by the x96c audit
    * and the x96d deploy oracles. */
  private val pavFitCtes: String =
    """pre AS (SELECT t.bin AS bin,
                   SUM(u.n_cal) AS cn_in, SUM(u.pos_cal) AS cp_in,
                   SUM(CASE WHEN u.bin < t.bin THEN u.n_cal ELSE 0 END) AS cn_ex,
                   SUM(CASE WHEN u.bin < t.bin THEN u.pos_cal ELSE 0 END) AS cp_ex
                 FROM cf t JOIN cf u ON u.bin <= t.bin GROUP BY 1),
         iv AS (SELECT l.bin AS i, h.bin AS j,
                  CAST((1048576 * CAST(h.cp_in - l.cp_ex AS HUGEINT))
                       // (h.cn_in - l.cn_ex) AS BIGINT) AS rate
                FROM pre l JOIN pre h ON l.bin <= h.bin),
         mn AS (SELECT k.bin AS bin, iv.i AS i, MIN(iv.rate) AS m
                FROM cf k JOIN iv ON iv.i <= k.bin AND iv.j >= k.bin
                GROUP BY 1, 2),
         pv AS (SELECT bin, MAX(m) AS pav_q20 FROM mn GROUP BY 1)"""

  /** x65/x65b/x65c shared centroid-trainer replay: Q20 mean-difference
    * weights from the docs satisfying `trainPred`, the exact threshold
    * sweep over the TRAINING scores, deployment scores (`sc`) over ALL
    * nonempty docs. `docs` keeps lang for downstream rollups; the label
    * is the length rule y = +1 iff the doc has ≥ 40 tokens. The bucket
    * hash is the first `hexDigits` md5 hex digits mod `nBuckets` —
    * x65/x65b replay the 2-digit/64-bucket literal model, x65c the
    * 4-digit/4096-bucket production-width one (same CTE, wider knobs —
    * the engine's literal and data-driven trainers share ONE replay). */
  private def centroidCtes(trainPred: String, nBuckets: Int = 64,
                           hexDigits: Int = 2): String = {
    val digit = (i: Int) => s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
    val bexpr = (2 to hexDigits).foldLeft(s"CAST(${digit(1)} AS BIGINT)")(
      (a, i) => s"($a * 16 + ${digit(i)})")
    s"""WITH docs AS (
           SELECT doc_id, lang,
                  CASE WHEN len(string_split_regex(t, '\\s+')) >= 40
                       THEN 1 ELSE -1 END AS y, t
           FROM (SELECT doc_id, lang,
                        regexp_replace(text, '^\\s+|\\s+$$', '', 'g') AS t
                 FROM documents
                 WHERE text IS NOT NULL
                   AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> '')),
         toks AS (SELECT doc_id, y, unnest(string_split_regex(t, '\\s+')) AS tok
                  FROM docs),
         feat AS (
           SELECT doc_id, y, ($bexpr) % $nBuckets AS b, COUNT(*) AS cnt
           FROM (SELECT doc_id, y, md5(tok) AS h FROM toks)
           GROUP BY 1, 2, 3),
         tfeat AS (SELECT * FROM feat WHERE $trainPred),
         cls AS (SELECT COUNT(DISTINCT CASE WHEN y = 1 THEN doc_id END) AS np,
                        COUNT(DISTINCT CASE WHEN y = -1 THEN doc_id END) AS nn
                 FROM tfeat),
         w AS (SELECT b,
                      (CAST(SUM(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS HUGEINT)
                         * 1048576) // (SELECT np FROM cls)
                      - (CAST(SUM(CASE WHEN y = -1 THEN cnt ELSE 0 END) AS HUGEINT)
                         * 1048576) // (SELECT nn FROM cls) AS w
               FROM tfeat GROUP BY b),
         sc AS (SELECT f.doc_id, f.y,
                       SUM(CAST(COALESCE(w.w, 0) AS HUGEINT) * f.cnt) AS s
                FROM feat f LEFT JOIN w ON w.b = f.b GROUP BY 1, 2),
         tsc AS (SELECT * FROM sc WHERE $trainPred),
         g AS (SELECT s AS q,
                      SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS gp,
                      SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS gn
               FROM tsc GROUP BY s),
         sw AS (SELECT q,
                       SUM(gn) OVER (ORDER BY q
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       + (SELECT np FROM cls)
                       - SUM(gp) OVER (ORDER BY q
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS acc
                FROM g),
         cand AS (SELECT q, acc FROM sw
                  UNION ALL
                  SELECT (SELECT MIN(q) - 1 FROM g), (SELECT np FROM cls)),
         best AS (SELECT q AS t FROM cand ORDER BY acc DESC, q ASC LIMIT 1)"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x65_trained_quality", (s, dir) => {
      // TRAIN the hashed-feature quality model x31 scores with (its doc
      // says "real deployments learn the weights" — this is that
      // learning, in-engine): the centroid-threshold trainer learns a
      // Gopher-style length rule (y = +1 iff ≥ 40 tokens) from labels
      // alone — Q20 mean-difference weights over 64 md5 buckets + an
      // exact accuracy-maximizing threshold sweep, all integer floor
      // arithmetic, replayed sum-for-sum in the oracle (the x35/x38b
      // trainer discipline). Measured 0.97+ training accuracy against a
      // 0.69 majority — the artifact genuinely learns, where a
      // full-batch perceptron on this dense shared vocabulary collapses
      // to majority (Learn scaladoc). Output is the DEPLOYED form: raw
      // integer score + prediction, a zero-exchange projection.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, thr) = graft.ext.Learn.centroidThresholdTrain(
        d.withColumn("_y", lenLabel), "text", "doc_id", "_y", 64)
      d.filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"),
          graft.ext.Learn.centroidScore(col("text"), w)
            .cast("long").as("score"))
        .withColumn("pred",
          when(col("score") > thr, 1L).otherwise(-1L))
    },
      // x65: the centroid-threshold trainer replayed sum-for-sum — Q20
      // mean-difference weights from the class bucket sums, every doc
      // rescored, the threshold swept over the TRAINING scores (plus the
      // all-positive sentinel below them, ties to the smallest T), the
      // final SELECT the deployed predictions. All integer floors;
      // HUGEINT headroom on the products.
      Sql((centroidCtes("TRUE") +
      """
         SELECT doc_id, CAST(s AS BIGINT) AS score,
                CAST(CASE WHEN s > (SELECT t FROM best) THEN 1 ELSE -1 END
                  AS BIGINT) AS pred
         FROM sc"""))),
    Entry("x65b_learned_curation", (s, dir) => {
      // the learned filter DEPLOYED as curation (x46's composition move,
      // on x65's trainer): train the length rule on the even-id HALF of
      // the corpus, score every doc with the trained weights+threshold,
      // and report predicted-keep mass per language — generalization
      // over the unseen half included, the whole train→deploy→curate
      // wiring hash-checked against the oracle's split-trained replay.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, thr) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      d.filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .withColumn("_s", graft.ext.Learn.centroidScore(col("text"), w))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("_s") > thr, 1L).otherwise(0L)).as("n_pred_keep"))
    },
      // x65b: same trainer restricted to the even-id split, deployed on
      // every doc — the rollup counts predicted-keep per language, so the
      // train→deploy→curate WIRING is hash-checked
      Sql((centroidCtes("doc_id % 2 = 0") +
      """
         SELECT d.lang, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN f.s > (SELECT t FROM best) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pred_keep
         FROM sc f JOIN docs d USING (doc_id)
         GROUP BY d.lang"""))),
    Entry("x65c_wide_quality", (s, dir) => {
      // x65's trainer at PRODUCTION WIDTH: 4096 hash buckets via the
      // 4-hex-digit md5 prefix, the weight table kept as DATA and
      // broadcast-joined (the tokenIdsJoin/ivfAssignJoin move applied to
      // the learned quality model) — plan size independent of model
      // width, where x65's 64-weight literal is the compact-demo form.
      // Same exact integer math (Q20 mean-difference + census-bounded
      // threshold sweep), oracle-replayed at the full 4096-bucket width.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, thr) = graft.ext.Learn.centroidThresholdTrainJoin(
        d.withColumn("_y", lenLabel), "text", "doc_id", "_y", 4096,
        hexDigits = 4)
      graft.ext.Learn.centroidScoreJoin(d, "text", "doc_id", w, 4096,
          hexDigits = 4)
        .select(col("doc_id"), col("score").cast("long").as("score"))
        .withColumn("pred",
          when(col("score") > thr, 1L).otherwise(-1L))
    },
      // x65c: the SAME trainer replay at production width — 4096 buckets
      // on the 4-hex-digit hash; the engine side trains/scores via the
      // broadcast-joined weight TABLE, and must agree weight-for-weight
      Sql((centroidCtes("TRUE", 4096, 4) +
      """
         SELECT doc_id, CAST(s AS BIGINT) AS score,
                CAST(CASE WHEN s > (SELECT t FROM best) THEN 1 ELSE -1 END
                  AS BIGINT) AS pred
         FROM sc"""))),
    Entry("x65d_model_eval", (s, dir) => {
      // the train→deploy loop's missing third step: EVALUATION on a
      // held-out split. Train on the even-id half (x65b's split), score
      // the odd half the model never saw, and report the confusion
      // matrix plus exact integer per-mille accuracy/precision/recall
      // (floor-divs, NULL on empty denominators) — the numbers a model
      // card ships. The oracle replays the split training AND the
      // held-out confusion sums.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, thr) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      d.filter(col("doc_id") % 2 === 1)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(lenLabel.as("_y"),
          when(graft.ext.Learn.centroidScore(col("text"), w) > thr, 1L)
            .otherwise(-1L).as("_p"))
        .agg(
          sum(when(col("_y") === 1 && col("_p") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("_y") === -1 && col("_p") === 1, 1L).otherwise(0L)).as("fp"),
          sum(when(col("_y") === 1 && col("_p") === -1, 1L).otherwise(0L)).as("fn"),
          sum(when(col("_y") === -1 && col("_p") === -1, 1L).otherwise(0L)).as("tn"))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("cast((1000 * (tp + tn)) div (tp + fp + fn + tn) as bigint)")
            .as("acc_permille"),
          expr("cast((1000 * tp) div nullif(tp + fp, 0) as bigint)")
            .as("prec_permille"),
          expr("cast((1000 * tp) div nullif(tp + fn, 0) as bigint)")
            .as("rec_permille"))
    },
      // x65d: the even-half trainer replay, then the held-out (odd-half)
      // confusion sums and the exact per-mille metric floor-divs
      Sql((centroidCtes("doc_id % 2 = 0") +
      """,
         ev AS (SELECT f.y,
                       CASE WHEN f.s > (SELECT t FROM best) THEN 1 ELSE -1 END
                         AS pred
                FROM sc f WHERE f.doc_id % 2 = 1),
         cm AS (SELECT
                  SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp,
                  SUM(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
                  SUM(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END) AS fn,
                  SUM(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END) AS tn
                FROM ev)
         SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
                CAST((1000 * (tp + tn)) // (tp + fp + fn + tn) AS BIGINT)
                  AS acc_permille,
                CAST((1000 * tp) // NULLIF(tp + fp, 0) AS BIGINT)
                  AS prec_permille,
                CAST((1000 * tp) // NULLIF(tp + fn, 0) AS BIGINT)
                  AS rec_permille
         FROM cm"""))),
    Entry("x65e_model_auc", (s, dir) => {
      // the model card's threshold-FREE metric beside x65d's confusion
      // numbers: exact integer Mann–Whitney AUC of the trained scorer on
      // the held-out half (ties half-credited, ×2 to stay whole) — one
      // score-key groupBy + a census-bounded cumulative window, never a
      // pairwise join.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, _) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      val scored = d.filter(col("doc_id") % 2 === 1)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(lenLabel.as("_y"),
          graft.ext.Learn.centroidScore(col("text"), w).as("_s"))
      graft.ext.Learn.aucExact(scored, "_y", "_s")
    },
      // x65e: the held-out scores collapse to per-distinct-score class
      // counts; wins rank strictly-below negatives via the cumulative
      // window, ties half-credit through the ×2 numerator
      Sql((centroidCtes("doc_id % 2 = 0") +
      """,
         gsc AS (SELECT s,
                   SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS p,
                   SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS q
                 FROM sc WHERE doc_id % 2 = 1 GROUP BY s),
         cum AS (SELECT p, q,
                   COALESCE(SUM(q) OVER (ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cq
                 FROM gsc)
         SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
                CAST(SUM(q) AS BIGINT) AS n_neg,
                CAST(SUM(p * (2 * cq + q)) AS BIGINT) AS auc2_num,
                CAST((1000 * SUM(p * (2 * cq + q)))
                     // NULLIF(2 * SUM(p) * SUM(q), 0) AS BIGINT)
                  AS auc_permille
         FROM cum"""))),
    Entry("x96_ece_calibration", (s, dir) => {
      // the model card's CALIBRATION row beside x65e's AUC: reliability
      // table + expected calibration error of the trained scorer, with
      // bin confidences learned on one held-out quarter (doc_id%4==1,
      // histogram binning) and observed rates measured on the disjoint
      // test quarter (doc_id%4==3) — all Q20 floor rationals, replayed
      // exactly; the bin frame is ~26 rows at quantStep 2^23 (scores
      // scale with document length, not corpus size, so the census
      // holds at any SF).
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, _) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      val scored = d.filter(col("doc_id") % 2 === 1)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), lenLabel.as("_y"),
          graft.ext.Learn.centroidScore(col("text"), w).as("_s"))
      graft.ext.Learn.eceCalibration(scored, "_y", "_s",
        pmod(col("doc_id"), lit(4L)) === 1L, 1L << 23)
    },
      // x96: histogram-binned calibration — bin confidence from the
      // calibration quarter, observed rate from the test quarter, Q20
      // floors throughout. Bins are FLOOR-quantized with the explicit
      // positive-mod correction: duckdb's // TRUNCATES toward zero on
      // integers (the x97 sf0.1 lesson), so a bare s // q would mis-bin
      // negative scores vs Spark's floor-corrected div
      Sql((centroidCtes("doc_id % 2 = 0") +
      s""",
         ev AS (SELECT doc_id, y, s,
                       (s - ((s % ${1L << 23} + ${1L << 23})
                             % ${1L << 23})) // ${1L << 23} AS bin,
                       (doc_id % 4 = 1) AS cal
                FROM sc WHERE doc_id % 2 = 1),
         bg AS (SELECT bin,
                 SUM(CASE WHEN cal THEN 1 ELSE 0 END) AS n_cal,
                 SUM(CASE WHEN cal AND y = 1 THEN 1 ELSE 0 END) AS pos_cal,
                 SUM(CASE WHEN NOT cal THEN 1 ELSE 0 END) AS n_test,
                 SUM(CASE WHEN NOT cal AND y = 1 THEN 1 ELSE 0 END) AS pos_test
               FROM ev GROUP BY 1),
         bt AS (SELECT SUM(n_cal) AS tc, SUM(pos_cal) AS tp,
                       SUM(n_test) AS tn FROM bg),
         cb AS (SELECT bin, n_cal, pos_cal, n_test, pos_test,
                  CASE WHEN n_cal > 0 THEN (1048576 * pos_cal) // n_cal
                       ELSE (1048576 * (SELECT tp FROM bt))
                            // (SELECT tc FROM bt) END AS conf_q20,
                  (1048576 * pos_test) // n_test AS obs_q20
                FROM bg WHERE n_test > 0),
         be AS (SELECT CAST(SUM(CAST(n_test AS HUGEINT)
                             * abs(conf_q20 - obs_q20))
                           // (SELECT tn FROM bt) AS BIGINT) AS ece_q20
               FROM cb)
         SELECT CAST(bin AS BIGINT) AS bin,
                CAST(n_cal AS BIGINT) AS n_cal,
                CAST(pos_cal AS BIGINT) AS pos_cal,
                CAST(n_test AS BIGINT) AS n_test,
                CAST(pos_test AS BIGINT) AS pos_test,
                CAST(conf_q20 AS BIGINT) AS conf_q20,
                CAST(obs_q20 AS BIGINT) AS obs_q20,
                CAST(abs(conf_q20 - obs_q20) AS BIGINT) AS gap_q20,
                (SELECT ece_q20 FROM be) AS ece_q20
         FROM cb"""))),
    Entry("x98c_fleiss_kappa", (s, dir) => {
      // MULTI-RATER label QA: Fleiss' kappa over THREE deterministic
      // weak labelers (token-length, char-length, and the cruder
      // space-count heuristic) per language — the statistic that
      // replaces Cohen's once a labeling jury has more than two
      // members. n_uj is a row-wise fold (each row carries all three
      // labels), so the corpus reduces in ONE (lang, label)-keyed
      // aggregation; everything after is censused cell algebra.
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          when(size(split(graft.ext.TextStats.wsTrim(col("text")),
            "\\s+")) >= 40, "long").otherwise("short").as("ra"),
          when(col("n_chars") >= 256, "long").otherwise("short").as("rb"),
          when(expr("length(text) - length(replace(text, ' ', ''))") >= 39,
            "long").otherwise("short").as("rc"))
      graft.ext.Learn.fleissKappaQ20(d, Seq("lang"), Seq("ra", "rb", "rc"))
    },
      // x98c/x98d: Fleiss' kappa replayed via the binary-label shortcut
      // (labels are long/short, so n_long determines the item's whole cell
      // vector: n_short = 3 − n_long): S = Σ(n_l² + n_s²), T = 3n, pooled
      // ΣC², κ = [T(S−T) − (m−1)ΣC²] / [(m−1)(T² − ΣC²)] with m = 3 and
      // the positive-mod floor (κ can be negative); den = 0 → NULL. The
      // three labelers replay the engine's exactly (whitespace tokens ≥ 40,
      // n_chars ≥ 256 — NULL reads short both sides — spaces ≥ 39).
      // x98c: Fleiss' kappa (three weak labelers) replayed through the
      // binary-label cell shortcut; x98d answers the SAME oracle verbatim
      // — Fleiss cells are item-sums, so staged-base + batch re-sum IS
      // the one-shot cell table (LearnSpec pins the merge identity)
      Sql("""WITH lab AS (
           SELECT lang,
                  (CASE WHEN len(string_split_regex(regexp_replace(text,
                          '^\s+|\s+$', '', 'g'), '\s+')) >= 40
                        THEN 1 ELSE 0 END
                   + CASE WHEN n_chars >= 256 THEN 1 ELSE 0 END
                   + CASE WHEN length(text) - length(replace(text, ' ', ''))
                          >= 39 THEN 1 ELSE 0 END) AS nl
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         agg AS (SELECT lang, COUNT(*) AS n,
                   SUM(CAST(nl AS HUGEINT) * nl
                       + CAST(3 - nl AS HUGEINT) * (3 - nl)) AS s,
                   SUM(CAST(nl AS HUGEINT)) AS cl,
                   SUM(CAST(3 - nl AS HUGEINT)) AS cs
                 FROM lab GROUP BY 1),
         kap AS (SELECT lang, n, 3 * CAST(n AS HUGEINT) AS t,
                   1048576 * (3 * CAST(n AS HUGEINT) * (s - 3 * CAST(n AS HUGEINT))
                              - 2 * (cl * cl + cs * cs)) AS x,
                   2 * (9 * CAST(n AS HUGEINT) * n - cl * cl - cs * cs) AS den
                 FROM agg)
         SELECT lang, CAST(n AS BIGINT) AS n_items,
                CAST(t AS BIGINT) AS n_ratings,
                CASE WHEN den = 0 THEN NULL
                     ELSE CAST((x - ((x % den + den) % den)) // den AS BIGINT)
                END AS kappa_q20
         FROM kap""")),
    Entry("x98d_fleiss_incremental", (s, dir) => {
      // the multi-rater monitor under ingest: the base split's Fleiss
      // cells (per-(lang, label) Σn_uj and Σn_uj² — both item-sums)
      // stage ONCE; a new batch's cells fold in by re-sum and kappa
      // re-evaluates from the merged table — answers x98c's oracle
      // VERBATIM without rescanning the base (the x98b convention).
      val lab = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"),
          when(size(split(graft.ext.TextStats.wsTrim(col("text")),
            "\\s+")) >= 40, "long").otherwise("short").as("ra"),
          when(col("n_chars") >= 256, "long").otherwise("short").as("rb"),
          when(expr("length(text) - length(replace(text, ' ', ''))") >= 39,
            "long").otherwise("short").as("rc"))
      val staged = Stage(
        graft.ext.Learn.fleissCells(
          lab.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), Seq("ra", "rb", "rc")))
      val batch = graft.ext.Learn.fleissCells(
        lab.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), Seq("ra", "rb", "rc"))
      graft.ext.Learn.fleissKappaFromCells(
        graft.ext.Learn.mergeFleissCells(Seq(staged, batch), Seq("lang")),
        Seq("lang"), m = 3)
    },
      SameAs("x98c_fleiss_kappa")),
    Entry("x98e_krippendorff", (s, dir) => {
      // label QA with ABSTENTIONS: Krippendorff's alpha over the same
      // jury, except the space-count labeler abstains (NULL) on
      // single-token documents — the real-world regime (raters skip
      // items) that Fleiss' complete-vector contract throws away.
      // Items keep whatever pairable ratings they have; the per-item
      // rationals clear exactly through lcm(1..m−1).
      val spaces = expr("length(text) - length(replace(text, ' ', ''))")
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          when(size(split(graft.ext.TextStats.wsTrim(col("text")),
            "\\s+")) >= 40, "long").otherwise("short").as("ra"),
          when(col("n_chars") >= 256, "long").otherwise("short").as("rb"),
          when(spaces === 0, lit(null).cast("string"))
            .otherwise(when(spaces >= 39, "long").otherwise("short"))
            .as("rc"))
      graft.ext.Learn.krippendorffAlphaQ20(d, Seq("lang"),
        Seq("ra", "rb", "rc"))
    },
      // x98e: Krippendorff's alpha replayed through the binary-label
      // shortcut: per item the label vector is (va always, vb, vc with the
      // single-token abstention), m_u its non-null count (items with < 2
      // pairable ratings drop), nl the long-votes; the per-item rational
      // (m² − nl² − (m−nl)²)/(m−1) clears exactly through L = lcm(1,2) = 2
      // (factor 2 at m=2, 1 at m=3); α = [den − (N−1)·Σterms]/den over
      // den = 2(N² − ΣC²), positive-mod Q20 floor (α can be negative),
      // NULL on the degenerate denominator.
      // x98e: Krippendorff's alpha — abstention-tolerant agreement, the
      // per-item rationals cleared exactly through lcm(1..m−1)
      Sql("""WITH lab AS (
           SELECT lang,
                  CASE WHEN len(string_split_regex(regexp_replace(text,
                          '^\s+|\s+$', '', 'g'), '\s+')) >= 40
                       THEN 1 ELSE 0 END AS va,
                  CASE WHEN n_chars >= 256 THEN 1 ELSE 0 END AS vb,
                  CASE WHEN length(text) - length(replace(text, ' ', '')) = 0
                       THEN NULL
                       WHEN length(text) - length(replace(text, ' ', ''))
                            >= 39 THEN 1 ELSE 0 END AS vc
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         item AS (SELECT lang,
                    2 + CASE WHEN vc IS NULL THEN 0 ELSE 1 END AS m,
                    va + vb + COALESCE(vc, 0) AS nl
                  FROM lab),
         kept AS (SELECT lang, m, nl, m - nl AS ns,
                    (CAST(m AS HUGEINT) * m
                     - CAST(nl AS HUGEINT) * nl
                     - CAST(m - nl AS HUGEINT) * (m - nl))
                    * (CASE WHEN m = 2 THEN 2 ELSE 1 END) AS term
                  FROM item WHERE m >= 2),
         agg AS (SELECT lang, COUNT(*) AS n_items,
                   SUM(CAST(m AS HUGEINT)) AS nv,
                   SUM(CAST(nl AS HUGEINT)) AS cl,
                   SUM(CAST(ns AS HUGEINT)) AS cs,
                   SUM(term) AS ol
                 FROM kept GROUP BY 1),
         calc AS (SELECT lang, n_items, nv,
                    2 * (nv * nv - cl * cl - cs * cs) AS den,
                    1048576 * (2 * (nv * nv - cl * cl - cs * cs)
                               - (nv - 1) * ol) AS x
                  FROM agg)
         SELECT lang, CAST(n_items AS BIGINT) AS n_items,
                CAST(nv AS BIGINT) AS n_values,
                CASE WHEN den = 0 THEN NULL
                     ELSE CAST((x - ((x % den + den) % den)) // den AS BIGINT)
                END AS alpha_q20
         FROM calc""")),
    Entry("x99_chi2_assoc", (s, dir) => {
      // CATEGORICAL ASSOCIATION: Pearson chi-square of source × length
      // label per language — the independence check behind any sliced
      // corpus design ("does quality depend on the crawl source?").
      // Zero cells contribute their expectation via the censused
      // observed-label cross; the two floors compose identically in
      // the oracle.
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"), col("source"),
          when(size(split(graft.ext.TextStats.wsTrim(col("text")),
            "\\s+")) >= 40, "long").otherwise("short").as("lenlab"))
      graft.ext.Learn.chiSquareAssocQ20(d, Seq("lang"), "source", "lenlab")
    },
      // x99: Pearson chi-square replayed — cells, marginals, the censused
      // observed-label cross (zero cells carry their expectation), and the
      // SAME two-stage floor as the engine: t = ⌊d²/(R·C)⌋ then
      // ⌊2²⁰·Σt/N⌋ (both dividends ≥ 0, so the bare `//` is floor).
      // x99: Pearson chi-square association, identical two-stage floors;
      // x99c answers the SAME oracle verbatim — contingency cells are
      // sums, staged-base + batch re-sum IS the one-shot cell table
      Sql("""WITH lab AS (
           SELECT lang, source AS a,
                  CASE WHEN len(string_split_regex(regexp_replace(text,
                          '^\s+|\s+$', '', 'g'), '\s+')) >= 40
                       THEN 'long' ELSE 'short' END AS b
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''
             AND source IS NOT NULL),
         cells AS (SELECT lang, a, b, COUNT(*) AS o FROM lab GROUP BY 1, 2, 3),
         ra AS (SELECT lang, a, SUM(o) AS r FROM cells GROUP BY 1, 2),
         cb AS (SELECT lang, b, SUM(o) AS c FROM cells GROUP BY 1, 2),
         tot AS (SELECT lang, SUM(o) AS n, COUNT(DISTINCT a) AS nr,
                   COUNT(DISTINCT b) AS nc
                 FROM cells GROUP BY 1),
         cx AS (SELECT ra.lang, ra.a, cb.b, ra.r, cb.c,
                  COALESCE(cells.o, 0) AS o
                FROM ra JOIN cb ON cb.lang = ra.lang
                LEFT JOIN cells ON cells.lang = ra.lang
                  AND cells.a = ra.a AND cells.b = cb.b),
         dd AS (SELECT x.lang, t.n, t.nr, t.nc,
                  CAST(t.n AS HUGEINT) * x.o
                    - CAST(x.r AS HUGEINT) * x.c AS d,
                  CAST(x.r AS HUGEINT) * x.c AS rc
                FROM cx x JOIN tot t ON t.lang = x.lang)
         SELECT lang, CAST(n AS BIGINT) AS n,
                CAST((MAX(nr) - 1) * (MAX(nc) - 1) AS BIGINT) AS dof,
                CAST((1048576::HUGEINT * SUM((d * d) // rc)) // n AS BIGINT)
                  AS chi2_q20
         FROM dd GROUP BY lang, n""")),
    Entry("x99b_mcnemar", (s, dir) => {
      // PAIRED model comparison on the shared held-out half: the x65
      // trained centroid model vs the crude char-length heuristic,
      // judged against the token-length label. Only the discordant
      // pairs carry signal — McNemar's (b−c)²/(b+c) per language in
      // exact Q20; the models' error sets overlap, which an unpaired
      // accuracy diff ignores.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, thr) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      val ev = d.filter(col("doc_id") % 2 === 1)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"), lenLabel.as("_y"),
          when(graft.ext.Learn.centroidScore(col("text"), w) > thr, 1L)
            .otherwise(-1L).as("_pa"),
          when(col("n_chars") >= 256, 1L).otherwise(-1L).as("_pb"))
      graft.ext.Learn.mcnemarQ20(ev, Seq("lang"), "_y", "_pa", "_pb")
    },
      // x99b: McNemar's paired test — the shared centroid CTE chain
      // replays training/threshold, docs re-joined for lang and the
      // char-length rival; only discordant pairs enter the statistic
      // ((b−c)² ≥ 0, so the bare // is floor); b+c = 0 → NULL
      Sql((centroidCtes("doc_id % 2 = 0") +
      """,
         ev AS (SELECT d.lang, f.y,
                  CASE WHEN f.s > (SELECT t FROM best) THEN 1 ELSE -1 END
                    AS pa,
                  CASE WHEN d2.n_chars >= 256 THEN 1 ELSE -1 END AS pb
                FROM sc f
                JOIN docs d ON d.doc_id = f.doc_id
                JOIN documents d2 ON d2.doc_id = f.doc_id
                WHERE f.doc_id % 2 = 1),
         cm AS (SELECT lang, COUNT(*) AS n,
                  SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS b,
                  SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS c
                FROM ev GROUP BY 1)
         SELECT lang, CAST(n AS BIGINT) AS n,
                CAST(b AS BIGINT) AS n_disagree_a,
                CAST(c AS BIGINT) AS n_disagree_b,
                CASE WHEN b + c = 0 THEN NULL
                     ELSE CAST((1048576::HUGEINT * (b - c) * (b - c))
                               // (b + c) AS BIGINT)
                END AS mcnemar_q20
         FROM cm"""))),
    Entry("x99c_chi2_incremental", (s, dir) => {
      // the association monitor under ingest: contingency cells are
      // sums, so the base split's cells stage ONCE and a new batch
      // folds in by re-sum — answers x99's oracle VERBATIM without
      // rescanning the base (the x98b/x98d convention).
      val lab = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"), col("source"),
          when(size(split(graft.ext.TextStats.wsTrim(col("text")),
            "\\s+")) >= 40, "long").otherwise("short").as("lenlab"))
      val staged = Stage(
        graft.ext.Learn.chiSquareCells(
          lab.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), "source", "lenlab"))
      val batch = graft.ext.Learn.chiSquareCells(
        lab.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), "source", "lenlab")
      graft.ext.Learn.chiSquareFromCells(
        graft.ext.Learn.mergeChiSquareCells(Seq(staged, batch),
          Seq("lang")), Seq("lang"))
    },
      SameAs("x99_chi2_assoc")),
    Entry("x98b_kappa_incremental", (s, dir) => {
      // label QA under ingest: the base split's confusion cells stage
      // ONCE; a new batch's cells fold in by re-sum (cells are sums:
      // merge ≡ one-shot bit-for-bit) and kappa re-evaluates from the
      // merged table — answers x98's oracle VERBATIM without
      // rescanning the base (the x97b/x93b same-oracle convention).
      val lab = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"),
          when(size(split(graft.ext.TextStats.wsTrim(col("text")),
            "\\s+")) >= 40, "long").otherwise("short").as("ra"),
          when(col("n_chars") >= 256, "long").otherwise("short").as("rb"))
      val staged = Stage(
        graft.ext.Learn.confusionCells(
          lab.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), "ra", "rb"))
      val batch = graft.ext.Learn.confusionCells(
        lab.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), "ra", "rb")
      graft.ext.Learn.cohenKappaFromCells(
        graft.ext.Learn.mergeConfusionCells(Seq(staged, batch),
          Seq("lang")), Seq("lang"))
    },
      SameAs("x98_cohen_kappa")),
    Entry("x98_cohen_kappa", (s, dir) => {
      // LABEL QA: chance-corrected agreement between two deterministic
      // weak labelers (token-length vs char-length "long/short") per
      // language — the statistic a pipeline reads before trusting
      // annotations. Exact Q20 kappa; one confusion-cell aggregation,
      // everything after is bounded cell-frame algebra.
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          when(size(split(graft.ext.TextStats.wsTrim(col("text")),
            "\\s+")) >= 40, "long").otherwise("short").as("ra"),
          when(col("n_chars") >= 256, "long").otherwise("short").as("rb"))
      graft.ext.Learn.cohenKappaQ20(d, Seq("lang"), "ra", "rb")
    },
      // x98/x98b: Cohen's kappa replayed — confusion cells, marginals,
      // the HUGEINT chance term, and the positive-mod floor (kappa can be
      // negative); p_e = 1 degenerates to NULL, never a fake 0.
      // x98: Cohen's kappa replayed — confusion cells, marginals, the
      // HUGEINT chance term, and the positive-mod floor (kappa can be
      // negative); p_e = 1 degenerates to NULL, never a fake 0.
      // x98b answers the SAME oracle verbatim: confusion cells are sums,
      // so the staged-base + batch re-sum IS the one-shot cell table
      // (the x97b/x93b convention; LearnSpec pins the merge identity)
      Sql("""WITH lab AS (
           SELECT lang,
                  CASE WHEN len(string_split_regex(regexp_replace(text,
                         '^\s+|\s+$', '', 'g'), '\s+')) >= 40
                       THEN 'long' ELSE 'short' END AS ra,
                  CASE WHEN n_chars >= 256 THEN 'long' ELSE 'short' END AS rb
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         cells AS (SELECT lang, ra, rb, COUNT(*) AS c FROM lab GROUP BY 1, 2, 3),
         na AS (SELECT lang, ra AS l, SUM(c) AS na FROM cells GROUP BY 1, 2),
         nb AS (SELECT lang, rb AS l, SUM(c) AS nb FROM cells GROUP BY 1, 2),
         pe AS (SELECT na.lang, SUM(CAST(na.na AS HUGEINT) * nb.nb) AS pe
                FROM na JOIN nb ON nb.lang = na.lang AND nb.l = na.l
                GROUP BY 1),
         tot AS (SELECT lang, SUM(c) AS n,
                   SUM(CASE WHEN ra = rb THEN c ELSE 0 END) AS agree
                 FROM cells GROUP BY 1),
         calc AS (SELECT t.lang, t.n, t.agree,
                    1048576 * (CAST(t.n AS HUGEINT) * t.agree
                               - COALESCE(pe.pe, 0)) AS x,
                    CAST(t.n AS HUGEINT) * t.n - COALESCE(pe.pe, 0) AS den
                  FROM tot t LEFT JOIN pe ON pe.lang = t.lang)
         SELECT lang, CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS n_agree,
                CASE WHEN den = 0 THEN NULL
                     ELSE CAST((x - ((x % den + den) % den)) // den AS BIGINT)
                END AS kappa_q20
         FROM calc""")),
    Entry("x101b_kendall_incremental", (s, dir) => {
      // scorer rank-agreement under ingest: the base split's score
      // cells stage ONCE; a new batch's cells fold in by re-sum (cell
      // counts are sums: merge ≡ one-shot bit-for-bit) and tau-a
      // re-evaluates from the merged table — answers x101's oracle
      // VERBATIM without rescanning the base (the x98b convention).
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"),
          size(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .cast("long").as("_tc"),
          col("n_chars"))
        .select(col("doc_id"), col("lang"), expr("_tc div 8").as("xb"),
          expr("n_chars div 64").as("yb"))
      val staged = Stage(
        graft.ext.Learn.kendallCells(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), "xb", "yb"))
      val batch = graft.ext.Learn.kendallCells(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), "xb", "yb")
      graft.ext.Learn.kendallTauAFromCells(
        graft.ext.Learn.mergeKendallCells(Seq(staged, batch), Seq("lang")),
        Seq("lang"))
    },
      SameAs("x101_kendall_tau")),
    Entry("x101_kendall_tau", (s, dir) => {
      // SCORER rank agreement: Kendall's tau-a between the bucketed
      // token-count and char-count quality signals per language — do
      // two cheap scorers ORDER the corpus the same way? Bucketing
      // (÷8 / ÷64, both sides non-negative so trunc = floor) keeps the
      // score-cell frame censused; ties count neither, keeping tau-a
      // an exact rational.
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          size(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .cast("long").as("_tc"),
          col("n_chars"))
        .select(col("lang"), expr("_tc div 8").as("xb"),
          expr("n_chars div 64").as("yb"))
      graft.ext.Learn.kendallTauAQ20(d, Seq("lang"), "xb", "yb")
    },
      // x101: Kendall's tau-a replayed — bucketed score cells, the
      // strict-upper cell self-join for concordant/discordant pair sums,
      // and the signed positive-mod floor over n(n−1).
      // x101: Kendall's tau-a — bucketed score cells, strict-upper sweep
      Sql("""WITH lab AS (
           SELECT lang,
                  len(string_split_regex(regexp_replace(text,
                    '^\s+|\s+$', '', 'g'), '\s+')) // 8 AS x,
                  n_chars // 64 AS y
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''
             AND n_chars IS NOT NULL),
         cells AS (SELECT lang, x, y, COUNT(*) AS o FROM lab GROUP BY 1, 2, 3),
         tot AS (SELECT lang, SUM(o) AS n FROM cells GROUP BY 1),
         pr AS (SELECT c1.lang,
                  SUM(CASE WHEN c2.y > c1.y
                      THEN CAST(c1.o AS HUGEINT) * c2.o ELSE 0 END) AS cc,
                  SUM(CASE WHEN c2.y < c1.y
                      THEN CAST(c1.o AS HUGEINT) * c2.o ELSE 0 END) AS dd
                FROM cells c1
                JOIN cells c2 ON c2.lang = c1.lang AND c2.x > c1.x
                GROUP BY 1),
         calc AS (SELECT t.lang, t.n,
                    COALESCE(pr.cc, 0) AS cc, COALESCE(pr.dd, 0) AS dd,
                    2097152::HUGEINT * (COALESCE(pr.cc, 0)
                                        - COALESCE(pr.dd, 0)) AS x,
                    CAST(t.n AS HUGEINT) * (t.n - 1) AS dn
                  FROM tot t LEFT JOIN pr ON pr.lang = t.lang)
         SELECT lang, CAST(n AS BIGINT) AS n,
                CAST(cc AS BIGINT) AS n_conc, CAST(dd AS BIGINT) AS n_disc,
                CASE WHEN n < 2 THEN NULL
                     ELSE CAST((x - ((x % dn + dn) % dn)) // dn AS BIGINT)
                END AS tau_q20
         FROM calc""")),
    Entry("x96b_calibrated_scores", (s, dir) => {
      // the x96 calibrator DEPLOYED (the x92c clip-deploy symmetry):
      // bin confidences learned on the calibration quarter attach to
      // every test-quarter document as a Q20 probability column via a
      // ≤censused-bins broadcast join — the deploy side never shuffles.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, _) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      val ev = d.filter(col("doc_id") % 2 === 1)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), lenLabel.as("_y"),
          graft.ext.Learn.centroidScore(col("text"), w).as("_s"))
      graft.ext.Learn.calibrateScores(
        ev.filter(pmod(col("doc_id"), lit(4L)) === 1L),
        ev.filter(pmod(col("doc_id"), lit(4L)) === 3L),
        "_y", "_s", "doc_id", 1L << 23)
    },
      // x96b: the calibrator deployed — bin confidences from the
      // calibration quarter left-join onto the test quarter; unseen bins
      // coalesce to the global calibration rate
      Sql((centroidCtes("doc_id % 2 = 0") +
      s""",
         ev AS (SELECT doc_id, y, s,
                       (s - ((s % ${1L << 23} + ${1L << 23})
                             % ${1L << 23})) // ${1L << 23} AS bin,
                       (doc_id % 4 = 1) AS cal
                FROM sc WHERE doc_id % 2 = 1),
         cb AS (SELECT bin, COUNT(*) AS n,
                       SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS p
                FROM ev WHERE cal GROUP BY 1),
         pr AS (SELECT (1048576 * SUM(p)) // SUM(n) AS prior FROM cb)
         SELECT e.doc_id,
                CAST(e.s AS BIGINT) AS score,
                CAST(e.bin AS BIGINT) AS bin,
                CAST(COALESCE((1048576 * c.p) // c.n,
                              (SELECT prior FROM pr)) AS BIGINT) AS p_q20
         FROM ev e LEFT JOIN cb c ON c.bin = e.bin
         WHERE NOT e.cal"""))),
    Entry("x96d_pav_scores", (s, dir) => {
      // the ISOTONIC calibrator DEPLOYED (x96b's move for the PAV fit):
      // the censused step table ships as a sorted plan literal and each
      // test-quarter score takes the step value of the largest
      // calibration bin <= its own (constant extrapolation both ends) —
      // deployed probabilities are MONOTONE in the score, and the
      // deploy side runs zero exchanges and no join at all.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, _) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      val ev = d.filter(col("doc_id") % 2 === 1)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), lenLabel.as("_y"),
          graft.ext.Learn.centroidScore(col("text"), w).as("_s"))
      graft.ext.Learn.pavCalibrateScores(
        ev.filter(pmod(col("doc_id"), lit(4L)) === 1L),
        ev.filter(pmod(col("doc_id"), lit(4L)) === 3L),
        "_y", "_s", "doc_id", 1L << 23)
    },
      // x96d: the isotonic calibrator deployed — the PAV fit over the
      // calibration quarter's bins, then DuckDB's native ASOF LEFT JOIN
      // picks each test row's largest fitted bin <= its own (the step
      // function); rows below the lowest fitted bin clamp to the first
      // step value, matching the engine's constant extrapolation
      Sql((centroidCtes("doc_id % 2 = 0") +
      s""",
         ev AS (SELECT doc_id, y, s,
                       (s - ((s % ${1L << 23} + ${1L << 23})
                             % ${1L << 23})) // ${1L << 23} AS bin,
                       (doc_id % 4 = 1) AS cal
                FROM sc WHERE doc_id % 2 = 1),
         cf AS (SELECT bin, COUNT(*) AS n_cal,
                       SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos_cal
                FROM ev WHERE cal GROUP BY 1),
         $pavFitCtes,
         pv0 AS (SELECT pav_q20 AS p0 FROM pv ORDER BY bin LIMIT 1)
         SELECT e.doc_id,
                CAST(e.s AS BIGINT) AS score,
                CAST(e.bin AS BIGINT) AS bin,
                CAST(COALESCE(pv.pav_q20, (SELECT p0 FROM pv0)) AS BIGINT)
                  AS p_q20
         FROM (SELECT * FROM ev WHERE NOT cal) e
         ASOF LEFT JOIN pv ON e.bin >= pv.bin"""))),
    Entry("x96c_pav", (s, dir) => {
      // ISOTONIC (PAV) calibration beside x96's histogram binning —
      // the exact-arithmetic minimax form (floor commutes with
      // min/max, so the Q20 floors of every pooled-interval rate
      // reproduce the real-valued isotonic fit bit-for-bit); same
      // train/score/split recipe as x96, output carries BOTH
      // calibrators' per-bin probabilities and test ECEs so the model
      // card can pick which to ship.
      val d = t(s, dir, "documents")
      val lenLabel = when(size(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")) >= 40, 1L).otherwise(-1L)
      val (w, _) = graft.ext.Learn.centroidThresholdTrain(
        d.filter(col("doc_id") % 2 === 0).withColumn("_y", lenLabel),
        "text", "doc_id", "_y", 64)
      val scored = d.filter(col("doc_id") % 2 === 1)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), lenLabel.as("_y"),
          graft.ext.Learn.centroidScore(col("text"), w).as("_s"))
      graft.ext.Learn.pavCalibration(scored, "_y", "_s",
        pmod(col("doc_id"), lit(4L)) === 1L, 1L << 23)
    },
      // x96c: isotonic (PAV) calibration via the minimax identity —
      // iso(k) = max_{i<=k} min_{j>=k} rate(i,j) over pooled calibration
      // bin intervals; floor commutes with min/max so every interval
      // rate quantizes to its Q20 floor FIRST (HUGEINT product) and the
      // max-min over those floors IS the floor of the real isotonic fit.
      // Unseen bins fall back to the calibration prior (x96b convention).
      Sql((centroidCtes("doc_id % 2 = 0") +
      s""",
         ev AS (SELECT doc_id, y, s,
                       (s - ((s % ${1L << 23} + ${1L << 23})
                             % ${1L << 23})) // ${1L << 23} AS bin,
                       (doc_id % 4 = 1) AS cal
                FROM sc WHERE doc_id % 2 = 1),
         bg AS (SELECT bin,
                 SUM(CASE WHEN cal THEN 1 ELSE 0 END) AS n_cal,
                 SUM(CASE WHEN cal AND y = 1 THEN 1 ELSE 0 END) AS pos_cal,
                 SUM(CASE WHEN NOT cal THEN 1 ELSE 0 END) AS n_test,
                 SUM(CASE WHEN NOT cal AND y = 1 THEN 1 ELSE 0 END) AS pos_test
               FROM ev GROUP BY 1),
         bt AS (SELECT SUM(n_cal) AS tc, SUM(pos_cal) AS tp FROM bg),
         cf AS (SELECT bin, n_cal, pos_cal FROM bg WHERE n_cal > 0),
         $pavFitCtes,
         cb AS (SELECT g.bin AS bin, n_cal, pos_cal, n_test, pos_test,
                  CASE WHEN n_cal > 0 THEN (1048576 * pos_cal) // n_cal
                       ELSE (1048576 * (SELECT tp FROM bt))
                            // (SELECT tc FROM bt) END AS conf_q20,
                  COALESCE(pv.pav_q20,
                    (1048576 * (SELECT tp FROM bt))
                      // (SELECT tc FROM bt)) AS pav_q20,
                  (1048576 * pos_test) // n_test AS obs_q20
                FROM bg g LEFT JOIN pv ON pv.bin = g.bin
                WHERE n_test > 0),
         te AS (SELECT SUM(n_test) AS tn FROM cb),
         be AS (SELECT
                  CAST(SUM(CAST(n_test AS HUGEINT) * abs(conf_q20 - obs_q20))
                       // (SELECT tn FROM te) AS BIGINT) AS eh,
                  CAST(SUM(CAST(n_test AS HUGEINT) * abs(pav_q20 - obs_q20))
                       // (SELECT tn FROM te) AS BIGINT) AS ep
                FROM cb)
         SELECT CAST(bin AS BIGINT) AS bin,
                CAST(n_cal AS BIGINT) AS n_cal,
                CAST(pos_cal AS BIGINT) AS pos_cal,
                CAST(n_test AS BIGINT) AS n_test,
                CAST(pos_test AS BIGINT) AS pos_test,
                CAST(conf_q20 AS BIGINT) AS conf_q20,
                CAST(pav_q20 AS BIGINT) AS pav_q20,
                CAST(obs_q20 AS BIGINT) AS obs_q20,
                CAST(abs(conf_q20 - obs_q20) AS BIGINT) AS gap_hist_q20,
                CAST(abs(pav_q20 - obs_q20) AS BIGINT) AS gap_pav_q20,
                (SELECT eh FROM be) AS ece_hist_q20,
                (SELECT ep FROM be) AS ece_pav_q20
         FROM cb""")))
  )
}
