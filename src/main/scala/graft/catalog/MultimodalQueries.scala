package graft
package catalog

import org.apache.spark.sql.functions._
import Common._

/** Media queries: container headers, pixel and PCM statistics, frame
  * sampling and image near-dups ([[graft.ext.Multimodal]]). */
object MultimodalQueries {

  val entries: Seq[Entry] = Seq(
    Entry("x14_media_features", (s, dir) => {
      // the multimodal surface UNIFIED: one media frame carrying BOTH
      // modalities, content-sniffed per blob and dispatched to the REAL
      // decoder for its kind (raster pixel scan / 16-bit PCM scan —
      // the decoders x14c/x14f proved one kind at a time), one common
      // feature schema out. Even ids carry seeded 16-bit-free P5
      // rasters (every 10th truncated → image quarantine), odd ids
      // seeded PCM WAVs (doc_id%10==5 cut one byte short → audio
      // quarantine); the oracle replays both arms from the generator
      // formulas. Formerly the stub-embed rows-only row.
      import graft.ext.Multimodal
      val d = t(s, dir, "documents").select(col("doc_id"))
      val img = d.filter(col("doc_id") % 2 === 0)
        .withColumn("_w", (col("doc_id") % 31 + 1).cast("int"))
        .withColumn("_h", (col("doc_id") % 17 + 1).cast("int"))
        .withColumn("_n", (col("_w") * col("_h")).cast("long"))
        .withColumn("_len", when(col("doc_id") % 10 === 0, col("_n") - 1)
          .otherwise(col("_n")))
        .withColumn("b", Multimodal.pnmPatternBlob(col("_w"), col("_h"),
          col("doc_id"), col("_len")))
      val aud = d.filter(col("doc_id") % 2 === 1)
        .withColumn("_ns", (col("doc_id") % 50 + 10).cast("long"))
        .withColumn("_eb", when(col("doc_id") % 10 === 5,
          col("_ns") * 2 - 1).otherwise(col("_ns") * 2))
        .withColumn("b", Multimodal.wavPatternBlob(lit(8000), lit(1),
          col("doc_id"), col("_ns"), col("_eb")))
      Multimodal.mediaStats(
          Multimodal.asMedia(img, "doc_id", "b", "image/x-pnm")
            .unionByName(Multimodal.asMedia(aud, "doc_id", "b", "audio/wav")))
        .toDF()
        .select(col("mediaId").as("media_id"), col("kind"), col("n"),
          col("total"), col("lo"), col("hi"), col("ok"))
    },
      // x14: the unified mixed-modality frame — image arm is x14c's
      // formula replay (even ids, %10==0 truncated), audio arm x14f's
      // sample formula on odd ids (%10==5 truncated), one schema
      Sql("""WITH img AS (SELECT doc_id, (doc_id % 31 + 1) * (doc_id % 17 + 1) AS n
                      FROM documents WHERE doc_id % 2 = 0),
         ipx AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
                 FROM img),
         ist AS (SELECT doc_id, n, SUM((doc_id + i) % 256) AS s,
                        MIN((doc_id + i) % 256) AS mn,
                        MAX((doc_id + i) % 256) AS mx
                 FROM ipx GROUP BY 1, 2),
         irows AS (SELECT doc_id AS media_id, 'image' AS kind,
             CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE n END AS BIGINT) AS n,
             CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE s END AS BIGINT) AS total,
             CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE mn END AS BIGINT) AS lo,
             CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE mx END AS BIGINT) AS hi,
             doc_id % 10 <> 0 AS ok
           FROM ist),
         au AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
                WHERE doc_id % 2 = 1),
         asmp AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
                  FROM au),
         av AS (SELECT doc_id, n,
                  CASE WHEN (doc_id + i) % 65536 < 32768
                       THEN (doc_id + i) % 65536
                       ELSE (doc_id + i) % 65536 - 65536 END AS sv
                FROM asmp),
         ast AS (SELECT doc_id, n, SUM(sv) AS s, MIN(sv) AS mn, MAX(sv) AS mx
                 FROM av GROUP BY 1, 2),
         arows AS (SELECT doc_id AS media_id, 'audio' AS kind,
             CAST(CASE WHEN doc_id % 10 = 5 THEN 0 ELSE n END AS BIGINT) AS n,
             CAST(CASE WHEN doc_id % 10 = 5 THEN 0 ELSE s END AS BIGINT) AS total,
             CAST(CASE WHEN doc_id % 10 = 5 THEN 0 ELSE mn END AS BIGINT) AS lo,
             CAST(CASE WHEN doc_id % 10 = 5 THEN 0 ELSE mx END AS BIGINT) AS hi,
             doc_id % 10 <> 5 AS ok
           FROM ast)
         SELECT * FROM irows UNION ALL SELECT * FROM arows""")),
    Entry("x14b_media_headers", (s, dir) => {
      // the DETERMINISTIC half of the multimodal surface, oracle-checked:
      // PNM/WAV test patterns are BUILT as binary columns from doc_id
      // formulas (Multimodal.pnmBlob/wavBlob), parsed back by the REAL
      // header decoders (batch-wise mapPartitions, the x14 plumbing), and
      // the extracted width/height/rate/channels/bits compare against the
      // same formulas in SQL — a construct→parse round trip that also
      // exercises quarantine: every 10th image is raster-truncated and
      // every doc_id%10==5 audio container has a corrupt magic, so those
      // rows must come back ok=false with zeroed fields. Only the stub
      // feature vectors (x14) stay engine-internal.
      import graft.ext.Multimodal
      val d = t(s, dir, "documents").select(col("doc_id"))
      val img = d.filter(col("doc_id") % 2 === 0)
        .withColumn("_w", (col("doc_id") % 31 + 1).cast("int"))
        .withColumn("_h", (col("doc_id") % 17 + 1).cast("int"))
        .withColumn("b", Multimodal.pnmBlob(col("_w"), col("_h"),
          col("_w") * col("_h") - when(col("doc_id") % 10 === 0, 1).otherwise(0)))
      val aud = d.filter(col("doc_id") % 2 === 1)
        .withColumn("_rate", (col("doc_id") % 8 * 1000 + 8000).cast("bigint"))
        .withColumn("_ch", when(col("doc_id") % 4 === 1, 1L).otherwise(2L))
        .withColumn("_bits", when(col("doc_id") % 8 < 4, 8L).otherwise(16L))
        .withColumn("b", Multimodal.wavBlob(col("_rate"), col("_ch"), col("_bits"),
          when(col("doc_id") % 10 === 5, "RIFX").otherwise("RIFF")))
      val imgInfo = Multimodal.decodeImages(
          Multimodal.asMedia(img, "doc_id", "b", "image/x-pnm")).toDF()
        .select(col("mediaId").as("media_id"), lit("image").as("kind"),
          col("width").cast("long").as("f1"), col("height").cast("long").as("f2"),
          col("channels").cast("long").as("f3"), col("ok"))
      val audInfo = Multimodal.decodeAudio(
          Multimodal.asMedia(aud, "doc_id", "b", "audio/wav")).toDF()
        .select(col("mediaId").as("media_id"), lit("audio").as("kind"),
          col("sampleRate").cast("long").as("f1"), col("channels").cast("long").as("f2"),
          col("bitsPerSample").cast("long").as("f3"), col("ok"))
      imgInfo.unionByName(audInfo)
    },
      // x14b: the blobs are built from these same doc_id formulas, so the
      // oracle states the EXPECTED decode directly; the Spark side earns the
      // match only if blob construction AND the real header parsers agree
      // byte-for-byte with the PNM/RIFF specs (corrupt rows → ok=false, 0s)
      Sql("""SELECT doc_id AS media_id, 'image' AS kind,
           CASE WHEN doc_id % 10 = 0 THEN 0 ELSE doc_id % 31 + 1 END AS f1,
           CASE WHEN doc_id % 10 = 0 THEN 0 ELSE doc_id % 17 + 1 END AS f2,
           CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END AS f3,
           doc_id % 10 <> 0 AS ok
         FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, 'audio',
           CASE WHEN doc_id % 10 = 5 THEN 0 ELSE doc_id % 8 * 1000 + 8000 END,
           CASE WHEN doc_id % 10 = 5 THEN 0 WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END,
           CASE WHEN doc_id % 10 = 5 THEN 0 WHEN doc_id % 8 < 4 THEN 8 ELSE 16 END,
           doc_id % 10 <> 5 AS ok
         FROM documents WHERE doc_id % 2 = 1""")),
    Entry("x14d_frame_sample", (s, dir) => {
      // the video half of the multimodal plumbing as an oracle row:
      // every 7th frame index per clip (frame count from metadata —
      // here derived deterministically from n_chars; actual frame
      // extraction is the decode stub's job by the x14 contract). A
      // pure column explode — no data movement, sampling plan
      // independent of clip length.
      val clips = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          (pmod(col("n_chars"), lit(40)) + 1).cast("int").as("n_frames"))
      graft.ext.Multimodal.sampleFrameIndexes(clips, "n_frames", 7)
        .select(col("media_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"))
    },
      // x14d: the stride-7 frame index sequence per clip, frame counts
      // from the same n_chars derivation
      Sql("""WITH clips AS (SELECT doc_id AS media_id,
             (n_chars % 40) + 1 AS n_frames FROM documents)
         SELECT media_id, CAST(n_frames AS BIGINT) AS n_frames,
                CAST(i AS BIGINT) AS frame_idx
         FROM clips,
              LATERAL (SELECT unnest(generate_series(0,
                         greatest(n_frames - 1, 0), 7)) AS i) g""")),
    Entry("x14f_audio_pcm_stats", (s, dir) => {
      // the AUDIO column's pixel moment (x14b proved the RIFF header,
      // this decodes the payload): seeded 16-bit PCM data chunks —
      // sample i is (doc_id + i) mod 2^16, signed LE — so the REAL
      // sample decoder's exact count/sum/min/max replay from the
      // generator formula; every 10th file is cut one byte short of
      // its declared data size and must quarantine.
      import graft.ext.Multimodal
      val d = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .withColumn("_n", (col("doc_id") % 50 + 10).cast("long"))
        .withColumn("_eb", when(col("doc_id") % 10 === 0,
          col("_n") * 2 - 1).otherwise(col("_n") * 2))
        .withColumn("b", Multimodal.wavPatternBlob(lit(8000), lit(1),
          col("doc_id"), col("_n"), col("_eb")))
      Multimodal.audioPcmStats(Multimodal.asMedia(d, "doc_id", "b", "wav"))
        .toDF()
        .select(col("mediaId").as("media_id"),
          col("nSamples").as("n_samples"), col("sumAmp").as("sum_amp"),
          col("minAmp").as("min_amp"), col("maxAmp").as("max_amp"),
          col("ok"))
    },
      // x14e: image near-dup replayed from the seeded-pattern formula —
      // 8×8 nearest-neighbor samples at idx = by·2·16 + bx·2 (w = h = 16),
      // v = (seed + idx) % 256, floor mean, strict-> bits, 16-bit bands,
      // the same band-bucket candidate join, exact Hamming ≤ 3
      // (pigeonhole: a ≤3 pair always shares one of 4 bands). Truncated
      // files (doc_id % 10 = 0) never hash.
      // x14f: PCM sample decode replayed from the seeded formula —
      // u = (doc_id + i) mod 2^16, signed = u − 2^16 above 32767;
      // every 10th file truncates one byte short → quarantine zeros
      Sql("""WITH au AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
                     WHERE doc_id % 2 = 0),
         smp AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
                 FROM au),
         v AS (SELECT doc_id, n,
                 CASE WHEN (doc_id + i) % 65536 < 32768
                      THEN (doc_id + i) % 65536
                      ELSE (doc_id + i) % 65536 - 65536 END AS s
               FROM smp),
         st AS (SELECT doc_id, n, SUM(s) AS sm, MIN(s) AS mn, MAX(s) AS mx
                FROM v GROUP BY 1, 2)
         SELECT doc_id AS media_id,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE n END AS BIGINT)
                  AS n_samples,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE sm END AS BIGINT)
                  AS sum_amp,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE mn END AS BIGINT)
                  AS min_amp,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE mx END AS BIGINT)
                  AS max_amp,
                doc_id % 10 <> 0 AS ok
         FROM st""")),
    Entry("x14e_image_neardup", (s, dir) => {
      // IMAGE near-dup — the multimodal column joins the dedup family:
      // 16×16 P5 pattern rasters seeded by ⌊doc_id/8⌋ (consecutive ids
      // share a raster, so exact and near groups exist by
      // construction), every 10th file truncated and quarantined by
      // the decoder; 8×8 average-hash → four 16-bit bands → bucketed
      // candidates (the x5 banding discipline, never all-pairs) →
      // exact Hamming ≤ 3, where band recall is pigeonhole-EXACT. The
      // oracle replays raster → samples → mean → bits → bands →
      // buckets → Hamming from the seeded-pattern formula.
      import graft.ext.Multimodal
      val d = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .withColumn("_len", when(col("doc_id") % 10 === 0, lit(255L))
          .otherwise(lit(256L)))
        .withColumn("b", Multimodal.pnmPatternBlob(lit(16), lit(16),
          expr("doc_id div 8"), col("_len")))
      Multimodal.ahashNearDup(
        Multimodal.imageAHash8(
          Multimodal.asMedia(d, "doc_id", "b", "pnm")).toDF(), 3)
    },
      Sql("""WITH img AS (SELECT doc_id, doc_id // 8 AS seed FROM documents
                      WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0),
         smp AS (SELECT doc_id, b,
                   ((seed + (b // 8) * 32 + (b % 8) * 2) % 256) AS v
                 FROM img,
                   (SELECT unnest(generate_series(0, 63)) AS b) g),
         mn AS (SELECT doc_id, SUM(v) // 64 AS mean FROM smp GROUP BY 1),
         bits AS (SELECT s.doc_id, s.b,
                    CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS bit
                  FROM smp s JOIN mn m ON m.doc_id = s.doc_id),
         bands AS (SELECT doc_id, b // 16 AS j,
                     SUM(bit * (1 << (b % 16))) AS v
                   FROM bits GROUP BY 1, 2),
         cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
                  FROM bands x JOIN bands y
                    ON y.j = x.j AND y.v = x.v AND x.doc_id < y.doc_id),
         hx AS (SELECT doc_id,
                  MAX(CASE WHEN j = 0 THEN v END) AS h0,
                  MAX(CASE WHEN j = 1 THEN v END) AS h1,
                  MAX(CASE WHEN j = 2 THEN v END) AS h2,
                  MAX(CASE WHEN j = 3 THEN v END) AS h3
                FROM bands GROUP BY 1),
         hm AS (SELECT c.a_id, c.b_id,
                  bit_count(CAST(xor(a.h0, b.h0) AS BIGINT))
                  + bit_count(CAST(xor(a.h1, b.h1) AS BIGINT))
                  + bit_count(CAST(xor(a.h2, b.h2) AS BIGINT))
                  + bit_count(CAST(xor(a.h3, b.h3) AS BIGINT)) AS hamming
                FROM cand c
                JOIN hx a ON a.doc_id = c.a_id
                JOIN hx b ON b.doc_id = c.b_id)
         SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
                CAST(hamming AS BIGINT) AS hamming
         FROM hm WHERE hamming <= 3""")),
    Entry("x14c_pixel_stats", (s, dir) => {
      // the multimodal column's PIXEL half made real (x14b proved the
      // headers): pattern blobs carry a seeded raster — byte i is
      // (doc_id + i) mod 256 — so pixel CONTENT is a replayable
      // formula, and the REAL P5 decoder (header walk → raster offset →
      // unsigned byte scan) must reproduce exact sums and extremes the
      // oracle computes from the generator. Every 10th image truncates
      // one byte short and must quarantine. Batch-wise mapPartitions,
      // the prescribed multimodal shape.
      import graft.ext.Multimodal
      val d = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
        .withColumn("_w", (col("doc_id") % 31 + 1).cast("int"))
        .withColumn("_h", (col("doc_id") % 17 + 1).cast("int"))
        .withColumn("_n", (col("_w") * col("_h")).cast("long"))
        .withColumn("_len", when(col("doc_id") % 10 === 0, col("_n") - 1)
          .otherwise(col("_n")))
        .withColumn("b", Multimodal.pnmPatternBlob(col("_w"), col("_h"),
          col("doc_id"), col("_len")))
      Multimodal.imageRasterStats(Multimodal.asMedia(d, "doc_id", "b", "pnm"))
        .toDF()
        .select(col("mediaId").as("media_id"), col("nPx").as("n_px"),
          col("sumPx").as("sum_px"), col("minPx").as("min_px"),
          col("maxPx").as("max_px"), col("ok"))
    },
      // x14c: the pixel PATTERN replayed from the generator — sums and
      // extremes of (doc_id + i) mod 256 over the full raster; truncated
      // images (every 10th) quarantine to zeros
      Sql("""WITH img AS (
           SELECT doc_id,
                  (doc_id % 31 + 1) * (doc_id % 17 + 1) AS n
           FROM documents WHERE doc_id % 2 = 0),
         px AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
                FROM img),
         st AS (SELECT doc_id, n,
                       SUM((doc_id + i) % 256) AS s,
                       MIN((doc_id + i) % 256) AS mn,
                       MAX((doc_id + i) % 256) AS mx
                FROM px GROUP BY 1, 2)
         SELECT doc_id AS media_id,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE n END AS BIGINT) AS n_px,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE s END AS BIGINT) AS sum_px,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE mn END AS BIGINT) AS min_px,
                CAST(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE mx END AS BIGINT) AS max_px,
                doc_id % 10 <> 0 AS ok
         FROM st"""))
  )
}
