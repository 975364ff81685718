package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plan helpers and oracle SQL fragments used by more than one catalog
  * family. */
private[graft] object Common {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact micros-since-epoch for a TIMESTAMP_NTZ column, computed in the
    * naive (wall-clock) domain so it matches DuckDB's epoch_us(ts) on the
    * same naive value regardless of either engine's session timezone —
    * a cast to TIMESTAMP would re-interpret through the session zone. */
  def eventTsMicros: Column =
    expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")

  /** Exact, order-independent sum of a double column: cast each value to
    * decimal(18,2) (the data is 2-dp money), sum exactly, emit double. */
  def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Σ price·(1−discount) with every factor cast to decimal BEFORE the
    * multiply: a double product near a half-cent boundary rounds
    * differently across engines (Spark casts via the double's shortest
    * repr), so the product must happen in exact decimal space. */
  def discountedRevenue(price: Column, discount: Column): Column =
    sum(price.cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - discount.cast("decimal(18,2)")))
      .cast("double")

  /** Shared CTE prefix of the x62/x62b oracles: 120-char chunks, per-chunk
    * min-md5 signatures, 2 bands, the ≤50 hot-band cap, distinct chunk
    * collisions as `hits(a_id, b_id, a_cidx, b_cidx)`. */
  val chunkDedupCtes: String =
    """WITH d AS (SELECT doc_id, text FROM documents
                  WHERE text IS NOT NULL AND length(text) >= 5),
       ch AS (SELECT doc_id, i AS cidx, substr(text, i*120+1, 120) AS chunk
              FROM d, (SELECT unnest(generate_series(0,
                   (SELECT CAST(MAX(length(text)) AS BIGINT) // 120 FROM d)))
                   AS i) g
              WHERE i <= (length(text) - 1) // 120),
       chf AS (SELECT * FROM ch WHERE length(chunk) >= 5),
       sig AS (SELECT doc_id, cidx,
                MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
               FROM (SELECT doc_id, cidx, md5(substr(chunk, j, 5)) AS m
                     FROM chf, (SELECT unnest(generate_series(1, 116)) AS j) gg
                     WHERE j <= greatest(length(chunk) - 4, 1))
               GROUP BY doc_id, cidx),
       bands AS (SELECT doc_id, cidx, 0 AS band_idx, h1 || '|' || h2 AS bk
                 FROM sig
                 UNION ALL
                 SELECT doc_id, cidx, 1, h3 || '|' || h4 FROM sig),
       ok AS (SELECT band_idx, bk FROM bands
              GROUP BY 1, 2 HAVING COUNT(*) <= 50),
       bb AS (SELECT b.doc_id, b.cidx, b.band_idx, b.bk
              FROM bands b JOIN ok USING (band_idx, bk)),
       hits AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                       a.cidx AS a_cidx, b.cidx AS b_cidx
                FROM bb a JOIN bb b ON a.band_idx = b.band_idx
                  AND a.bk = b.bk AND a.doc_id < b.doc_id)"""

  /** The x31 weight table as DuckDB VALUES `(b, wq)` — the SAME seeded
    * Q30 longs TextStats.hashedLinearScoreQ30 folds into the Spark plan
    * (TextStats.seededWeightsQ30 is the single source). */
  def qualityWeightsSql(n: Int): String =
    graft.ext.TextStats.seededWeightsQ30(n).zipWithIndex.map {
      case (w, b) => s"($b, $w)"
    }.mkString(", ")

  /** x80: the HyperLogLog state and estimate replayed exactly — the
    * 60-bit 15-nibble md5 hash, bucket = top 8 bits, rank = leading-zero
    * count of the 52-bit rest (+1), MAX registers per (lang, bucket),
    * the Σ 2^(53−reg) common-scale sum with absent buckets at 2^53, the
    * rational-α HUGEINT floor division, and the small-range linear-
    * counting arm over the 8-step Q8 log chain (the tokenizer-oracle
    * arithmetic) with ln 2 at Q20 726817. */
  /** The HLL estimate replay parameterized over its SOURCE: `srcCtes`
    * must define a CTE `tks(lang, tok)` (any extra leading CTEs are
    * fine); `keyOut` names the group-key column in the final SELECT.
    * Single-sources the register/estimate arithmetic between x80
    * (per-language distinct tokens) and a2b (per-column distinct
    * lineitem keys) so the two oracles can only drift together. */
  def hllOracleSql(srcCtes: String, keyOut: String): String = {
    val hex15 = (1 to 15).map(i =>
      s"(CAST(strpos('0123456789abcdef', substr(md5(tok), $i, 1)) - 1 " +
        s"AS BIGINT) * ${BigInt(16).pow(15 - i)})")
      .mkString("(", "\n                + ", ")")
    val logSteps = (1 to 8).map { i =>
      s"""v_l$i AS (SELECT lang, v, raw,
             e, CASE WHEN (m*m)//256 >= 512 THEN ((m*m)//256)//2
                     ELSE (m*m)//256 END AS m,
             fr8*2 + CASE WHEN (m*m)//256 >= 512 THEN 1 ELSE 0 END AS fr8
           FROM v_l${i - 1})"""
    }.mkString(",\n         ")
    val estNum = BigInt(7213000) * (BigInt(1) << 77)
    s"""WITH $srcCtes,
         hh AS (SELECT lang, $hex15 AS h
                FROM (SELECT DISTINCT lang, tok FROM tks)),
         rb AS (SELECT lang, h // 4503599627370496 AS bucket,
                       CASE WHEN h % 4503599627370496 = 0 THEN 53
                            ELSE 53 - length(bin(h % 4503599627370496))
                       END AS rank
                FROM hh),
         regs AS (SELECT lang, bucket, MAX(rank) AS reg FROM rb GROUP BY 1, 2),
         g AS (SELECT lang, COUNT(*) AS v,
                      SUM(1::BIGINT << CAST(53 - reg AS INT)) AS s1
               FROM regs GROUP BY 1),
         graw AS (SELECT lang, v,
                    CAST($estNum::HUGEINT
                         // (2570790000::HUGEINT
                             * (s1 + ((256 - v)::BIGINT << 53))) AS BIGINT)
                      AS raw
                  FROM g),
         v_l0 AS (SELECT lang, v, raw, length(bin(256 - v)) - 1 AS e,
                    ((256 - v) * 256)
                      // (1::BIGINT << (length(bin(256 - v)) - 1)) AS m,
                    0::BIGINT AS fr8
                  FROM graw),
         $logSteps,
         est AS (SELECT lang,
                   CASE WHEN v < 256 AND raw * 2 <= 1280
                     THEN (256 * (2048 - (e*256 + fr8)) * 726817) // 268435456
                     ELSE raw END AS est
                 FROM v_l8),
         ex AS (SELECT lang, COUNT(DISTINCT tok) AS exact
                FROM tks GROUP BY 1)
         SELECT est.lang AS $keyOut, CAST(est.est AS BIGINT) AS est,
                CAST(ex.exact AS BIGINT) AS exact
         FROM est JOIN ex USING (lang)"""
  }

  /** DuckDB SQL for the first-5-hex-digit integer of md5(`e`) — the
    * engine's `conv(substring(md5(e),1,5),16,10)`: a 5-nibble positional
    * chain, 20 bits. The bloom position draw (x23d). */
  def md5Hex5(e: String): String = {
    def nib(i: Int) = s"(strpos('0123456789abcdef', substr(md5($e), $i, 1)) - 1)"
    s"((((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)}) * 16 + ${nib(5)})"
  }
}
