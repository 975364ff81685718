package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Stage
import Common._

/** Streaming sketches: count-min, HyperLogLog, KMV, quantile sketches and
  * the sketch join-size estimate ([[graft.ext.Sketch]]). */
object SketchQueries {

  /** Whitespace token stream of the documents frame — the sketch
    * queries' (x79/x80 families) shared input. */
  private def sketchTokens(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(explode(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+")).as("tok"))
      .filter(col("tok") =!= "")

  /** [[sketchTokens]] keeping the language key (x80 family). */
  private def langTokens(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("lang"), explode(split(
        graft.ext.TextStats.wsTrim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")

  /** 3-word shingle stream of the documents frame — the x82 overlap
    * queries' shared input: (doc_id, g). */
  private def overlapShingles(d: DataFrame): DataFrame =
    d.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.ext.Dedup.wordNgrams(col("text"), 3)).as("g"))

  /** x82/x82b shared tail: the KMV overlap estimate row plus the exact
    * union / intersection audit columns (one gram-key aggregation over
    * the full stream — the small-SF audit; at 100 TB you'd ship the
    * estimate alone, which never touches the corpus). */
  private def kmvOverlapTail(gr: DataFrame, sa: DataFrame,
                             sb: DataFrame): DataFrame = {
    val est = graft.ext.Sketch.kmvOverlap(sa, sb, 256)
    val ex = gr.groupBy(col("g"))
      .agg(max(when(pmod(col("doc_id"), lit(2)) === 0, 1)).as("_ia"),
        max(when(pmod(col("doc_id"), lit(2)) === 1, 1)).as("_ib"))
      .agg(count(lit(1)).as("exact_union"),
        coalesce(sum(when(col("_ia") === 1 && col("_ib") === 1, 1L)),
          lit(0L)).as("exact_inter"))
    est.crossJoin(broadcast(ex))
      .select(col("k_eff"), col("j_num"), col("union_est"),
        col("inter_est"), col("exact_union"), col("exact_inter"))
  }

  /** x92/x92b shared tail: per-language permille estimates from the
    * quantile-sketch state, joined to the exact same-rank-rule values
    * (value at rank ⌈p·N/1000⌉ of the FULL group sorted ascending — a
    * per-group sort, the small-SF audit column; the estimate itself
    * never touches the corpus). */
  private def qsQuantileTail(d: DataFrame, st: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val permilles = Seq(500, 900, 990)
    val est = graft.ext.Sketch.qsQuantiles(st, Seq("lang"), permilles)
    val exact = d
      .filter(col("n_chars").isNotNull) // the state skips nulls too
      .select(col("lang"), col("n_chars").as("v"))
      .withColumn("_qx_n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("_qx_vr", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("v"))))
      .select(col("lang"), col("v"), col("_qx_n"), col("_qx_vr"),
        explode(typedlit(permilles.map(_.toLong))).as("permille"))
      .filter(col("_qx_vr") ===
        greatest(lit(1L), expr("(permille * _qx_n + 999L) div 1000L")))
      .select(col("lang"), col("permille"), col("v").as("exact"))
    est.join(exact, Seq("lang", "permille"))
      .select(col("lang"), col("permille"), col("est"), col("exact"))
  }

  /** x79/x79b shared tail: probe the sketch with the distinct tokens,
    * join the exact audit counts, keep est ≥ 1/200 of the stream. */
  private def cmsHeavyTail(toksAll: DataFrame, sk: DataFrame): DataFrame = {
    val est = graft.ext.Sketch.cmsEstimate(toksAll, sk, "tok", 2048, 4)
    val exact = toksAll.groupBy(col("tok")).agg(count(lit(1)).as("exact"))
    val thr = toksAll.agg(count(lit(1)).as("_n"))
      .select(expr("_n div 200L").as("_thr"))
    est.join(exact, col("value") === col("tok"))
      .join(broadcast(thr))
      .filter(col("est") >= col("_thr"))
      .select(col("value").as("token"), col("est"), col("exact"))
  }

  /** x80/x80b shared tail: estimate from registers + exact audit. */
  private def hllDistinctTail(toksAll: DataFrame,
                              regs: DataFrame): DataFrame = {
    val est = graft.ext.Sketch.hllEstimate(regs, Seq("lang"), 8)
    val exact = toksAll.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("exact"))
    est.join(exact, Seq("lang"))
      .select(col("lang"), col("est"), col("exact"))
  }

  /** Shared CTE prefix of the x92 quantile-sketch oracles: the 48-bit
    * ":qtl"-salted md5 row hashes, the per-language bottom-128 (h, v)
    * state, and the value-rank estimates at rank ⌈p·n/1000⌉ over the
    * state — every step integer, so the estimate AND its sampling error
    * replay verbatim. Parameterized by the permille list so the
    * percentile row (x92/x92b) and the clipping consumer (x92c) provably
    * share the same state chain. */
  private def qsOracleCtes(permilles: Seq[Int]): String = {
    val h12 = (1 to 12).map(i =>
      s"(CAST(strpos('0123456789abcdef', " +
        s"substr(md5(CAST(doc_id AS VARCHAR) || ':qtl'), $i, 1)) " +
        s"- 1 AS BIGINT) * ${BigInt(16).pow(12 - i)})")
      .mkString("(", "\n                + ", ")")
    s"""WITH dv AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS v
           FROM documents WHERE n_chars IS NOT NULL),
         hs AS (SELECT DISTINCT lang, $h12 AS h, v FROM dv),
         st AS (SELECT lang, h, v FROM (
                  SELECT lang, h, v, ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY h, v) AS rn FROM hs)
                WHERE rn <= 128),
         sr AS (SELECT lang, v,
                  COUNT(*) OVER (PARTITION BY lang) AS n,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v, h) AS vr
                FROM st),
         p AS (SELECT unnest([${permilles.mkString(", ")}]) AS permille),
         est AS (SELECT lang, permille, v AS est
                 FROM sr CROSS JOIN p
                 WHERE vr = GREATEST(1, (permille * n + 999) // 1000))"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x79_cms_heavy_hitters", (s, dir) => {
      // count–min heavy hitters: the token stream folds into a FIXED
      // 4×2048-cell sketch (one map-side-combining agg — the stream
      // shuffles 20-bit cell coordinates only), the sketch broadcasts
      // back onto the distinct-token candidates, and tokens estimating
      // ≥ 1/200 of the stream surface. est ≥ exact ALWAYS (count–min
      // overestimates only) and the md5 hashing makes the estimates —
      // including their collision inflation — oracle-exact. The exact
      // column is the small-SF audit; at 100 TB you'd ship est alone.
      val toks = sketchTokens(t(s, dir, "documents"))
      cmsHeavyTail(toks, graft.ext.Sketch.cmsSketch(toks, "tok", 2048, 4))
    },
      // x79: the 4×2048 cell build from the shared 5-nibble md5 chain,
      // the candidate probe's min-over-rows (missing cell reads 0), and
      // the 1/200 stream threshold — collision inflation replays
      // identically, so est is exact-comparable, not just bounded
      Sql(s"""WITH tk AS (SELECT unnest(string_split_regex(
             regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
           FROM documents WHERE text IS NOT NULL),
         tks AS (SELECT tok FROM tk WHERE tok <> ''),
         hs AS (SELECT h FROM generate_series(0, 3) t(h)),
         cells AS (SELECT h AS row,
                          ${md5Hex5("tks.tok || ':cms:' || h")} % 2048 AS pos,
                          COUNT(*) AS c
                   FROM tks CROSS JOIN hs GROUP BY 1, 2),
         cand AS (SELECT DISTINCT tok FROM tks),
         cpos AS (SELECT cand.tok, h AS row,
                         ${md5Hex5("cand.tok || ':cms:' || h")} % 2048 AS pos
                  FROM cand CROSS JOIN hs),
         est AS (SELECT tok, MIN(COALESCE(c.c, 0)) AS est
                 FROM cpos LEFT JOIN cells c USING (row, pos) GROUP BY 1),
         ex AS (SELECT tok, COUNT(*) AS exact FROM tks GROUP BY 1),
         thr AS (SELECT COUNT(*) // 200 AS t FROM tks)
         SELECT est.tok AS token, CAST(est.est AS BIGINT) AS est,
                CAST(ex.exact AS BIGINT) AS exact
         FROM est JOIN ex USING (tok) CROSS JOIN thr
         WHERE est.est >= thr.t""")),
    Entry("x79b_cms_incremental", (s, dir) => {
      // continuous-ingest count–min: the base corpus summarizes ONCE
      // into a staged parquet sketch; each new batch builds its own
      // cells and folds in by cell-sum merge — the base is never
      // rescanned (its sketch IS its summary; only the fixed
      // 4×2048-cell tables ever meet). The merged estimate answers
      // x79's oracle VERBATIM: the ingest lifecycle is invisible to
      // results.
      val d = t(s, dir, "documents")
      val baseT = sketchTokens(d.filter(pmod(col("doc_id"), lit(3)) =!= 2))
      val batchT = sketchTokens(d.filter(pmod(col("doc_id"), lit(3)) === 2))
      val sk = graft.ext.Sketch.cmsMerge(Seq(
        Stage(graft.ext.Sketch.cmsSketch(baseT, "tok", 2048, 4)),
        graft.ext.Sketch.cmsSketch(batchT, "tok", 2048, 4)))
      cmsHeavyTail(sketchTokens(d), sk)
    },
      SameAs("x79_cms_heavy_hitters")),
    Entry("x80_hll_distinct", (s, dir) => {
      // per-language distinct-token cardinality by HyperLogLog: 256
      // max-registers per language (p=8, ~6.5% expected error), exact
      // integer estimate arithmetic (rational α, Q8-log linear-counting
      // small-range arm — the md5 hash makes even the ERROR
      // deterministic, so the oracle replays est bit-for-bit). The
      // registers are max-mergeable across shards/batches; exact
      // count_distinct rides as the small-SF audit column.
      val toks = langTokens(t(s, dir, "documents"))
      hllDistinctTail(toks,
        graft.ext.Sketch.hllRegisters(toks, Seq("lang"), "tok", 8))
    },
      Sql(hllOracleSql(
    """tk AS (SELECT lang, unnest(string_split_regex(
             regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
           FROM documents WHERE text IS NOT NULL),
         tks AS (SELECT lang, tok FROM tk WHERE tok <> '')""", "lang"))),
    Entry("x80b_hll_incremental", (s, dir) => {
      // continuous-ingest HLL: staged base registers + batch registers
      // re-max into the whole-corpus state (registers are maxes — merge
      // ≡ one-shot bit-for-bit), so distinct-token tracking over a
      // growing corpus never revisits old batches. Answers x80's oracle
      // VERBATIM.
      val d = t(s, dir, "documents")
      val regs = graft.ext.Sketch.hllMerge(Seq(
        Stage(graft.ext.Sketch.hllRegisters(
          langTokens(d.filter(pmod(col("doc_id"), lit(3)) =!= 2)),
          Seq("lang"), "tok", 8)),
        graft.ext.Sketch.hllRegisters(
          langTokens(d.filter(pmod(col("doc_id"), lit(3)) === 2)),
          Seq("lang"), "tok", 8)), Seq("lang"))
      hllDistinctTail(langTokens(d), regs)
    },
      SameAs("x80_hll_distinct")),
    Entry("x82_kmv_overlap", (s, dir) => {
      // cross-corpus overlap WITHOUT the gram join: bottom-k (KMV /
      // theta) sketches of the 3-word-shingle sets of two corpus halves
      // compose into union / Jaccard / intersection estimates from 2·k
      // longs — the cheap train×eval contamination probe that decides
      // whether the exact x23 pass is worth running. md5 hashing makes
      // the estimates (including their sampling error) oracle-exact;
      // the exact union / intersection ride as small-SF audit columns.
      val gr = overlapShingles(t(s, dir, "documents"))
      kmvOverlapTail(gr,
        graft.ext.Sketch.kmvState(
          gr.filter(pmod(col("doc_id"), lit(2)) === 0), "g", 256),
        graft.ext.Sketch.kmvState(
          gr.filter(pmod(col("doc_id"), lit(2)) === 1), "g", 256))
    },
      // The x82 KMV-overlap oracle (x82b answers it verbatim): the 3-word
      // shingle stream with the truncated-short-doc rule (concat_ws skips
      // out-of-range members — the wordNgrams zip-of-slices semantics),
      // the 48-bit 12-nibble ":kmv"-salted md5 hashes, per-side bottom-256
      // samples, the bottom-256 of their union, the membership count
      // j_num, the (k−1)·2⁴⁸ // (h₍ₖ₎+1) union estimate with the exact
      // small-regime arm, the j_num·union_est // k_eff intersection
      // estimate, and the exact union/intersection audit — every integer
      // replayed over HUGEINT.
      Sql {
    val h12 = (1 to 12).map(i =>
      s"(CAST(strpos('0123456789abcdef', substr(md5(g || ':kmv'), $i, 1)) " +
        s"- 1 AS BIGINT) * ${BigInt(16).pow(12 - i)})")
      .mkString("(", "\n                + ", ")")
    s"""WITH tk AS (SELECT doc_id, string_split_regex(
             regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
           FROM documents WHERE text IS NOT NULL),
         gr AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
                FROM (SELECT doc_id, t,
                        unnest(generate_series(1, greatest(len(t) - 2, 1)))
                          AS i
                      FROM tk)),
         ha AS (SELECT DISTINCT $h12 AS h FROM gr WHERE doc_id % 2 = 0),
         hb AS (SELECT DISTINCT $h12 AS h FROM gr WHERE doc_id % 2 = 1),
         sa AS (SELECT h FROM ha ORDER BY h LIMIT 256),
         sb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
         l AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
               ORDER BY h LIMIT 256),
         st AS (SELECT COUNT(*) AS k_eff, MAX(h) AS hk,
                  COALESCE(SUM(CASE WHEN l.h IN (SELECT h FROM sa)
                                     AND l.h IN (SELECT h FROM sb)
                               THEN 1 END), 0) AS j_num
                FROM l),
         ue AS (SELECT k_eff, j_num,
                  CASE WHEN k_eff < 256 THEN k_eff
                    ELSE CAST((255::HUGEINT * 281474976710656)
                              // (hk + 1) AS BIGINT) END AS union_est
                FROM st),
         ex AS (SELECT COUNT(*) AS exact_union,
                  COALESCE(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 END), 0)
                    AS exact_inter
                FROM (SELECT g,
                        MAX(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS ia,
                        MAX(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS ib
                      FROM gr GROUP BY g))
         SELECT CAST(k_eff AS BIGINT) AS k_eff,
                CAST(j_num AS BIGINT) AS j_num,
                CAST(union_est AS BIGINT) AS union_est,
                CASE WHEN k_eff = 0 THEN 0
                  ELSE CAST((j_num::HUGEINT * union_est) // k_eff AS BIGINT)
                END AS inter_est,
                CAST(exact_union AS BIGINT) AS exact_union,
                CAST(exact_inter AS BIGINT) AS exact_inter
         FROM ue CROSS JOIN ex"""
  }),
    Entry("x82b_kmv_incremental", (s, dir) => {
      // continuous-ingest KMV: the A-side base corpus samples ONCE into
      // a staged parquet state; a new batch samples itself and folds in
      // by re-bottom-k — the k smallest of a union are each within
      // their own side's k smallest, so merge ≡ one-shot bit-for-bit
      // and the overlap probe answers x82's oracle VERBATIM without
      // ever rescanning the base.
      val gr = overlapShingles(t(s, dir, "documents"))
      val sa = graft.ext.Sketch.kmvMerge(Seq(
        Stage(graft.ext.Sketch.kmvState(
          gr.filter(pmod(col("doc_id"), lit(4)) === 0), "g", 256)),
        graft.ext.Sketch.kmvState(
          gr.filter(pmod(col("doc_id"), lit(4)) === 2), "g", 256)), 256)
      kmvOverlapTail(gr, sa,
        graft.ext.Sketch.kmvState(
          gr.filter(pmod(col("doc_id"), lit(2)) === 1), "g", 256))
    },
      SameAs("x82_kmv_overlap")),
    Entry("x92_quantile_sketch", (s, dir) => {
      // mergeable quantile sketch — the fourth sketch (frequency,
      // distinct, overlap, now QUANTILES): per language, a ≤128-row
      // hash-coordinated bottom-k sample of n_chars answers every
      // percentile from the state alone (the deterministic form of
      // a10b's approx_percentile — est is md5-derived, so the oracle
      // replays it AND its sampling error exactly). en (218 docs at
      // sf0.01) exercises the sampled regime; the smaller languages sit
      // in the take-all regime where est ≡ exact by construction. The
      // exact column is the small-SF audit (a full per-group sort); at
      // 100 TB you'd ship est alone — the state is k rows per group.
      val d = t(s, dir, "documents")
      qsQuantileTail(d,
        graft.ext.Sketch.qsState(d, Seq("lang"), "doc_id", "n_chars", 128))
    },
      // x92: sketch estimates joined to the same-rank-rule exact values.
      Sql(qsOracleCtes(Seq(500, 900, 990)) + s""",
         xr AS (SELECT lang, v,
                  COUNT(*) OVER (PARTITION BY lang) AS n,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS vr
                FROM dv),
         ex AS (SELECT lang, permille, v AS exact
                FROM xr CROSS JOIN p
                WHERE vr = GREATEST(1, (permille * n + 999) // 1000))
         SELECT est.lang, CAST(est.permille AS BIGINT) AS permille,
                CAST(est.est AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact
         FROM est JOIN ex USING (lang, permille)""")),
    Entry("x92b_quantile_ingest", (s, dir) => {
      // continuous-ingest quantile sketch: staged base state + batch
      // state re-bottom-k into the whole-corpus state — the k smallest
      // (h, v) of a union are each within their own side's k smallest,
      // so merge ≡ one-shot bit-for-bit and the percentile probe
      // answers x92's oracle VERBATIM without rescanning the base.
      val d = t(s, dir, "documents")
      val st = graft.ext.Sketch.qsMerge(Seq(
        Stage(graft.ext.Sketch.qsState(
          d.filter(pmod(col("doc_id"), lit(3)) =!= 2),
          Seq("lang"), "doc_id", "n_chars", 128)),
        graft.ext.Sketch.qsState(
          d.filter(pmod(col("doc_id"), lit(3)) === 2),
          Seq("lang"), "doc_id", "n_chars", 128)), Seq("lang"), 128)
      qsQuantileTail(d, st)
    },
      SameAs("x92_quantile_sketch")),
    Entry("x92c_sketch_clip", (s, dir) => {
      // sketch-GUIDED winsorization — the quantile state doing its
      // production job: per language, p05/p95 clip bounds come from the
      // ≤128-row state (never a corpus sort); the corpus pass clamps
      // n_chars into [lo, hi] with one broadcast bounds join and rolls
      // up exact integer clip accounting. At 100 TB this is the whole
      // point of the sketch: outlier-robust normalization whose bounds
      // cost k rows per group, not a global sort.
      val d = t(s, dir, "documents").filter(col("n_chars").isNotNull)
      val st = graft.ext.Sketch.qsState(d, Seq("lang"), "doc_id", "n_chars", 128)
      val bounds = graft.ext.Sketch.qsQuantiles(st, Seq("lang"), Seq(50, 950))
        .groupBy(col("lang")).agg(
          min(when(col("permille") === 50, col("est"))).as("lo"),
          min(when(col("permille") === 950, col("est"))).as("hi"))
      d.join(broadcast(bounds), Seq("lang"))
        .select(col("lang"),
          greatest(col("lo"), least(col("hi"), col("n_chars"))).as("v"),
          (col("n_chars") < col("lo")).cast("long").as("clo"),
          (col("n_chars") > col("hi")).cast("long").as("chi"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("v")).as("sum_clipped"),
          sum(col("clo")).as("n_clip_lo"),
          sum(col("chi")).as("n_clip_hi"))
    },
      // x92c: per-language p05/p95 clip bounds from the sketch estimates,
      // then the winsorized corpus roll-up.
      Sql(qsOracleCtes(Seq(50, 950)) + s""",
         b AS (SELECT lang,
                 MIN(CASE WHEN permille = 50 THEN est END) AS lo,
                 MIN(CASE WHEN permille = 950 THEN est END) AS hi
               FROM est GROUP BY 1)
         SELECT d.lang,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(GREATEST(b.lo, LEAST(b.hi, d.n_chars))) AS BIGINT)
                  AS sum_clipped,
                CAST(SUM(CASE WHEN d.n_chars < b.lo THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clip_lo,
                CAST(SUM(CASE WHEN d.n_chars > b.hi THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clip_hi
         FROM documents d JOIN b USING (lang)
         WHERE d.n_chars IS NOT NULL
         GROUP BY 1""")),
    Entry("x93_cms_join_size", (s, dir) => {
      // join-size estimation from sketches alone — the count–min inner
      // product: |views ⋈ purchases on user_id| = Σ_u nv(u)·np(u)
      // estimated from two fixed 4×1024-cell tables (min over rows of
      // Σ_pos a·b, overestimates only), the planner probe that picks
      // broadcast-vs-shuffle at 100 TB without scanning either side.
      // md5 cells make the estimate — collision inflation included —
      // oracle-exact; the exact inner product rides as the small-SF
      // audit column.
      val ev = t(s, dir, "events")
      def keys(typ: String) = ev.filter(col("event_type") === typ)
        .select(col("user_id").as("k"))
      val est = graft.ext.Sketch.cmsJoinSizeEstimate(
        graft.ext.Sketch.cmsSketch(keys("view"), "k", 1024, 4),
        graft.ext.Sketch.cmsSketch(keys("purchase"), "k", 1024, 4), 4)
      val exact = ev.filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nv"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .agg(coalesce(sum(col("nv").cast("decimal(38,0)") * col("np")),
          lit(0).cast("decimal(38,0)")).cast("long").as("exact"))
      est.crossJoin(broadcast(exact))
    },
      // x93: the count–min inner-product join-size estimate replayed —
      // both event streams' 4×1024 cell tables from the 5-nibble md5
      // position chain, per-row Σ a·b over the cell equi-join with absent
      // rows reading 0, MIN over the 4 rows, and the exact
      // Σ_u views(u)·purchases(u) audit.
      Sql(s"""WITH hs AS (SELECT h FROM generate_series(0, 3) t(h)),
         va AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
                WHERE event_type = 'view' AND user_id IS NOT NULL),
         vb AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
                WHERE event_type = 'purchase' AND user_id IS NOT NULL),
         ca AS (SELECT h AS row, ${md5Hex5("va.k || ':cms:' || h")} % 1024
                         AS pos, COUNT(*) AS c
                FROM va CROSS JOIN hs GROUP BY 1, 2),
         cb AS (SELECT h AS row, ${md5Hex5("vb.k || ':cms:' || h")} % 1024
                         AS pos, COUNT(*) AS c
                FROM vb CROSS JOIN hs GROUP BY 1, 2),
         ip AS (SELECT ca.row, SUM(ca.c::HUGEINT * cb.c) AS ip
                FROM ca JOIN cb USING (row, pos) GROUP BY 1),
         est AS (SELECT MIN(COALESCE(ip.ip, 0)) AS est
                 FROM hs LEFT JOIN ip ON ip.row = hs.h),
         ex AS (SELECT COALESCE(SUM(nv::HUGEINT * np), 0) AS exact FROM (
                  SELECT user_id,
                    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
                    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
                  FROM events WHERE event_type IN ('view', 'purchase')
                  GROUP BY 1))
         SELECT CAST(est.est AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact
         FROM est CROSS JOIN ex""")),
    Entry("x93b_join_size_incremental", (s, dir) => {
      // continuous-ingest join-size probe: both sides' base sketches
      // stage ONCE; a new event batch folds in by cell-sum merge and
      // the inner product re-evaluates from the merged cells — the
      // planner probe stays current under ingest without rescanning
      // either stream. Answers x93's oracle VERBATIM (cells are sums:
      // merge ≡ one-shot bit-for-bit).
      val ev = t(s, dir, "events")
      def keys(typ: String, batchArm: Boolean) = ev
        .filter(col("event_type") === typ &&
          (if (batchArm) pmod(col("event_id"), lit(3)) === 2
           else pmod(col("event_id"), lit(3)) =!= 2))
        .select(col("user_id").as("k"))
      def merged(typ: String) = graft.ext.Sketch.cmsMerge(Seq(
        Stage(graft.ext.Sketch.cmsSketch(keys(typ, batchArm = false),
          "k", 1024, 4)),
        graft.ext.Sketch.cmsSketch(keys(typ, batchArm = true),
          "k", 1024, 4)))
      val est = graft.ext.Sketch.cmsJoinSizeEstimate(
        merged("view"), merged("purchase"), 4)
      val exact = ev.filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nv"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
        .agg(coalesce(sum(col("nv").cast("decimal(38,0)") * col("np")),
          lit(0).cast("decimal(38,0)")).cast("long").as("exact"))
      est.crossJoin(broadcast(exact))
    },
      SameAs("x93_cms_join_size")),
    Entry("et7_windowed_quantiles", (s, dir) => {
      // hourly value percentiles from the quantile sketch — the
      // observability query (latency/value percentiles per time window)
      // at 100 TB: per hour bucket the ≤64-row state answers p50/p95/
      // p99 without ever sorting the window; cents via the exact
      // decimal money discipline, the week-bucket floor-division idiom
      // for the hour key.
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_id"),
          eventTsMicros.as("us"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
        .withColumn("wh", expr("(us div 3600000000L) - (CASE WHEN " +
          "us < 0 AND pmod(us, 3600000000L) != 0 THEN 1L ELSE 0L END)"))
      graft.ext.Sketch.qsQuantiles(
          graft.ext.Sketch.qsState(ev, Seq("wh"), "event_id", "cents", 64),
          Seq("wh"), Seq(500, 950, 990))
        .select(col("wh").as("window_hour"), col("permille"), col("est"))
    },
      // et7: the hourly-window quantile-sketch estimates replayed — exact
      // decimal cents, floor-division hour buckets, the ":qtl" hash chain
      // over event_id, per-window bottom-64 state, rank estimates.
      Sql {
    val h12 = (1 to 12).map(i =>
      s"(CAST(strpos('0123456789abcdef', " +
        s"substr(md5(CAST(event_id AS VARCHAR) || ':qtl'), $i, 1)) " +
        s"- 1 AS BIGINT) * ${BigInt(16).pow(12 - i)})")
      .mkString("(", "\n                + ", ")")
    s"""WITH ev AS (SELECT event_id,
             epoch_us(ts) // 3600000000 AS wh,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           FROM events WHERE value IS NOT NULL),
         hs AS (SELECT DISTINCT wh, $h12 AS h, v FROM ev),
         st AS (SELECT wh, h, v FROM (
                  SELECT wh, h, v, ROW_NUMBER() OVER (PARTITION BY wh
                           ORDER BY h, v) AS rn FROM hs)
                WHERE rn <= 64),
         sr AS (SELECT wh, v,
                  COUNT(*) OVER (PARTITION BY wh) AS n,
                  ROW_NUMBER() OVER (PARTITION BY wh ORDER BY v, h) AS vr
                FROM st),
         p AS (SELECT unnest([500, 950, 990]) AS permille)
         SELECT wh AS window_hour, CAST(permille AS BIGINT) AS permille,
                CAST(v AS BIGINT) AS est
         FROM sr CROSS JOIN p
         WHERE vr = GREATEST(1, (permille * n + 999) // 1000)"""
  })
  )
}
