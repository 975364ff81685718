package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Stage

/** In-engine supervised training for the corpus-quality models the
  * curation layer consumes. [[graft.ext.TextStats.hashedLinearScoreQ30]]
  * scores documents with a hashed-feature linear model whose weights
  * "real deployments learn offline" — this closes that loop the way
  * Similarity.kMeansTrain closed the IVF/SemDeDup seed convention and
  * TextStats.bpeTrain closed the tokenizer: the LEARNING itself runs as
  * Spark aggregations in exact integer arithmetic, so every epoch — and
  * therefore the trained artifact — replays bit-for-bit in the DuckDB
  * oracle (no floats, no RNG, no order dependence anywhere).
  *
  * The model is a batch (parallel-update) perceptron over hashed
  * bag-of-token counts: per epoch, every misclassified document
  * contributes `y·count_b` to each feature bucket `b` it touches, and
  * the updates are SUMS — commutative and associative — so the result is
  * independent of row order and partitioning, unlike the classic
  * sequential perceptron. Provenance: the reference validates and
  * filters rows with hand-written predicates
  * (get_bdc_studies_md_from_gen3.py:208-219); a learned quality filter
  * is that same operator with data-derived weights.
  *
  * 100 TB shape: ONE text pass builds the (id, bucket, count, y) feature
  * table (stage it with `stageFeatures` so deep runs never rescan text);
  * each epoch is two id/bucket-keyed aggregations over that narrow
  * table — the margin pass folds the weight vector in as a ≤257-entry
  * plan literal (bounded by the 2-hex-digit bucket contract, so the
  * ivfAssignJoin plan-size lesson doesn't bite), and the update pass
  * collects ≤ nBuckets+1 longs to the driver (the kMeansTrain
  * bounded-driver-state contract). Margins accumulate in decimal(38,0)
  * because |w| can reach the corpus token mass after E epochs — a long
  * would overflow at extreme scale before the decimal does.
  */
object Learn {

  /** Hashed bag-of-token features: one (idCol, _pc_y, _pc_b, _pc_c) row
    * per (document, bucket) plus a constant BIAS row per document at
    * bucket `nBuckets` — the bias learns as just another feature, so one
    * aggregation per epoch covers both. Bucket hash = first `hexDigits`
    * md5 hex digits mod nBuckets (default 2, byte-identical to the x31
    * scorer's convention; 4 for production-width ≥4096-bucket models).
    * Empty/null texts carry no signal and are excluded from training
    * (the x31 filter). */
  def hashedTokenFeatures(df: DataFrame, textCol: String, idCol: String,
                          labelCol: String, nBuckets: Int,
                          includeBias: Boolean = true,
                          hexDigits: Int = 2): DataFrame = {
    require(hexDigits >= 1 && hexDigits <= 8,
      "hexDigits must be in 1..8 (md5 prefix)")
    require(nBuckets > 0 && nBuckets <= (1L << (4 * hexDigits)),
      s"bucket count must fit the $hexDigits-hex-digit hash")
    Seq("_pc_y", "_pc_b", "_pc_c", "_pc_tok").foreach(c =>
      require(c != idCol && c != labelCol,
        s"hashedTokenFeatures reserves column $c"))
    val labeled = df
      .filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(idCol), col(labelCol).cast("long").as("_pc_y"),
        col(textCol))
    val tokFeat = labeled
      .select(col(idCol), col("_pc_y"),
        explode(split(TextStats.wsTrim(col(textCol)), "\\s+")).as("_pc_tok"))
      .withColumn("_pc_b",
        (conv(substring(md5(col("_pc_tok")), 1, hexDigits), 16, 10).cast("long")
          % nBuckets).cast("int"))
      .groupBy(col(idCol), col("_pc_y"), col("_pc_b"))
      .agg(count(lit(1)).cast("long").as("_pc_c"))
    if (includeBias)
      tokFeat.unionByName(labeled.select(col(idCol), col("_pc_y"),
        lit(nBuckets).cast("int").as("_pc_b"), lit(1L).as("_pc_c")))
    else tokFeat
  }

  /** Train a binary hashed-feature perceptron. `labelCol` must hold
    * exactly +1 (positive) or −1 (negative) per row; rows with
    * empty/null `textCol` are ignored. Returns nBuckets+1 integer
    * weights — index `b` for bucket `b`, last entry the bias.
    *
    * Epoch semantics (exact, order-free): with current weights `w`, doc
    * `i` has raw score `s_i = Σ_b w_b·cnt_{i,b} + bias`; every doc with
    * `y_i·s_i ≤ 0` (misclassified, or on the boundary — epoch 1 puts
    * ALL docs here since w = 0) contributes `y_i·cnt_{i,b}` to `Δw_b`.
    * Batch updates make the epoch a pure aggregation, reproducible on
    * any engine from the data alone — the x65 oracle unrolls every
    * epoch in SQL and must agree weight-for-weight.
    *
    * `stageFeatures` writes the feature table to a managed stage first
    * ([[graft.ops.Stage]]: temp dir + shutdown-hook cleanup) so the
    * per-epoch passes re-read a narrow parquet instead of re-scanning
    * text — the x35 `stagePerIteration` discipline. */
  def perceptronTrain(df: DataFrame, textCol: String, idCol: String,
                      labelCol: String, nBuckets: Int, epochs: Int,
                      stageFeatures: Boolean = false): Seq[Long] = {
    require(epochs >= 1, "epochs must be >= 1")
    val feat0 = hashedTokenFeatures(df, textCol, idCol, labelCol, nBuckets)
    val feat =
      if (stageFeatures)
        Stage(feat0)
      else feat0
    // label contract ±1 exactly (see centroidThresholdTrain): one cheap
    // bounded job against the feature table before the epochs start
    val labels = feat.select(col("_pc_y")).distinct()
      .collect().map(_.getLong(0)).toSet
    require(labels.subsetOf(Set(1L, -1L)),
      s"labels must be exactly +1/-1, got ${labels.mkString(", ")}")
    // BigInt accumulation + longValueExact per epoch: the weight literal
    // the next epoch folds in must be exact longs, so an overflow FAILS
    // LOUDLY here instead of wrapping into a silently-wrong model
    val w = Array.fill(nBuckets + 1)(BigInt(0))
    var wl = Seq.fill(nBuckets + 1)(0L)
    for (_ <- 1 to epochs) {
      val upd = epochUpdates(feat, idCol, wl).collect()
      upd.foreach(r => w(r.getInt(0)) += BigInt(r.getDecimal(1).toBigInteger))
      wl = w.toSeq.map(_.bigInteger.longValueExact())
    }
    wl
  }

  /** One training epoch's per-bucket weight deltas under the current
    * weights — the frame [[perceptronTrain]] collects each round
    * (exposed so PlanSpec pins the real epoch plan). Margin pass: one
    * id-keyed aggregation with the weight vector as a plan literal
    * (bounded ≤ 257 longs — never a join); update pass: misclassified
    * ids rejoin the feature table BY ID, then one bucket-keyed
    * aggregation of ≤ nBuckets+1 rows. */
  private[graft] def epochUpdates(feat: DataFrame, idCol: String,
                                  weights: Seq[Long]): DataFrame = {
    val wlit = typedlit(weights)
    val mis = feat
      .groupBy(col(idCol), col("_pc_y"))
      .agg(sum(element_at(wlit, col("_pc_b") + 1).cast("decimal(38,0)")
        * col("_pc_c")).as("_pc_s"))
      .filter(col("_pc_y") * col("_pc_s") <= 0)
      .select(col(idCol))
    feat.join(mis, Seq(idCol))
      .groupBy(col("_pc_b"))
      // decimal(38,0) deltas: a long sum would wrap silently once a
      // bucket's update mass passes 2^63 tokens
      .agg(sum((col("_pc_y") * col("_pc_c")).cast("decimal(38,0)"))
        .as("_pc_d"))
  }

  /** Nearest-centroid classifier with an EXACT threshold sweep — the
    * trainer that CALIBRATES on non-separable data, where the batch
    * perceptron's full-mass updates oscillate (measured: on this
    * catalog's dense shared-vocabulary corpus the perceptron collapses
    * to the majority class, while this reaches 0.97+ accuracy against a
    * 0.69 majority on the same labels). Two exact steps:
    *
    *  1. Weights = Q20 mean-difference centroid: `w_b =
    *     (2²⁰·cp_b) div n₊ − (2²⁰·cn_b) div n₋` over the class bucket
    *     sums — the Rocchio direction in fixed point. The floor-divs
    *     run driver-side in BigInt (class sums collect as ≤ 2·nBuckets
    *     rows), so no intermediate overflows at any corpus size, and
    *     the Q20 normalization bounds |w| by 2²⁰·(mean doc tokens) —
    *     safe in longs forever, unlike raw cross-multiplied sums.
    *  2. Threshold = the score maximizing TRAINING accuracy of
    *     `pred = +1 iff score > T`, swept over every distinct training
    *     score plus the all-positive sentinel below them; ties take the
    *     smallest T. One aggregation per distinct score + a cumulative
    *     window over that GROUPED frame — bounded by the number of
    *     distinct scores; at extreme scale quantize candidates with
    *     `quantStep` (scores floor to multiples of it, keeping the
    *     sweep frame ≤ range/step rows; floor is the positive-mod
    *     idiom, exact for negative scores too).
    *
    * Everything is integer floor arithmetic on sums — order-free,
    * partitioning-free, and unrolled verbatim in the x65 oracle.
    * Returns (weights, thresholdQ): deployment predicts positive iff
    * `(score − pmod(score, quantStep)) / quantStep · quantStep`
    * — i.e. the floored score — exceeds thresholdQ·quantStep; with the
    * default quantStep = 1 that is simply `score > thresholdQ`. */
  def centroidThresholdTrain(df: DataFrame, textCol: String, idCol: String,
                             labelCol: String, nBuckets: Int,
                             quantStep: Long = 1L,
                             maxSweepCandidates: Long = 1L << 20): (Seq[Long], Long) = {
    require(quantStep >= 1L, "quantStep must be >= 1")
    val feat = hashedTokenFeatures(df, textCol, idCol, labelCol, nBuckets,
      includeBias = false)
    // class doc counts + class bucket sums: one narrow collect each,
    // both bounded (2 rows; <= 2*nBuckets rows)
    val docs = feat.select(col(idCol), col("_pc_y")).distinct()
    val cls = docs.groupBy(col("_pc_y")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the label contract is ±1 EXACTLY — any other value would split
    // engine ('y > 0') and oracle ('y = 1' CASE) semantics silently, so
    // it fails loudly here (the class census already sees every label)
    require(cls.keySet.subsetOf(Set(1L, -1L)),
      s"labels must be exactly +1/-1, got ${cls.keySet.mkString(", ")}")
    val nPos = cls.getOrElse(1L, 0L)
    val nNeg = cls.getOrElse(-1L, 0L)
    require(nPos > 0 && nNeg > 0,
      s"centroidThresholdTrain needs both classes (got +1: $nPos, -1: $nNeg)")
    // class bucket sums in decimal(38,0): a long sum would wrap silently
    // once a class's bucket token mass passes 2^63
    val sums = feat.groupBy(col("_pc_y"), col("_pc_b"))
      .agg(sum(col("_pc_c").cast("decimal(38,0)")).as("_pc_s")).collect()
      .map(r => (r.getLong(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger)))
    val wl = centroidWeightFold(sums.toIndexedSeq, nBuckets, nPos, nNeg)
    // threshold sweep over TRAINING scores (shared with the data-driven
    // trainer): census-bounded, then the grouped cumulative window
    val scored = df
      .filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(labelCol).cast("long").as("_pc_y"),
        centroidScore(col(textCol), wl).as("_pc_s"))
    val t = thresholdSweep(scored, nPos, quantStep, maxSweepCandidates)
    (wl, t)
  }

  /** Q20 mean-difference weight fold over the collected class bucket
    * sums: `w_b = (2²⁰·cp_b) div n₊ − (2²⁰·cn_b) div n₋`. BigInt
    * throughout, converted with `longValueExact` so an overflowing
    * weight FAILS LOUDLY instead of wrapping — |w_b| is bounded by
    * 2²⁰·(mean tokens per doc), so a long overflows only past ~2⁴³ mean
    * tokens, but a silent wrap is never acceptable in an oracle-checked
    * trainer (LearnSpec pins the failure mode). */
  private[graft] def centroidWeightFold(classSums: Seq[(Long, Int, BigInt)],
                                        nBuckets: Int, nPos: Long,
                                        nNeg: Long): Seq[Long] = {
    val q20 = BigInt(1) << 20
    val w = Array.fill(nBuckets)(BigInt(0))
    classSums.foreach { case (y, b, c) =>
      w(b) += (if (y > 0) (c * q20) / nPos else -((c * q20) / nNeg))
    }
    w.toSeq.map(_.bigInteger.longValueExact())
  }

  /** Exact accuracy-maximizing threshold sweep over the training scores
    * — step 2 of both centroid trainers. `scored` carries
    * (_pc_y ∈ {+1,−1}, _pc_s); scores floor to multiples of `quantStep`
    * and the candidate set is the DISTINCT quantized scores plus the
    * all-positive sentinel below them; ties take the smallest T.
    *
    * The cumulative-accuracy window is unpartitioned BY CONSTRUCTION
    * (candidates are globally ordered), so the frame it ranks must be
    * provably small: a census of the grouped candidate frame runs FIRST
    * and fails loudly over `maxSweepCandidates` (the
    * semDedupClusters.maxCellSize discipline) — at 100× scale distinct
    * raw scores approach corpus cardinality and a silent sweep would be
    * the driver-adjacent bottleneck. The failure message derives the
    * quantStep that brings the sweep back under the ceiling. */
  private[graft] def thresholdSweep(scored: DataFrame, nPos: Long,
                                    quantStep: Long,
                                    maxSweepCandidates: Long): Long = {
    import org.apache.spark.sql.expressions.Window
    require(maxSweepCandidates >= 1, "maxSweepCandidates must be >= 1")
    val g = scored
      .withColumn("_pc_q",
        expr(s"cast((_pc_s - pmod(_pc_s, $quantStep)) / $quantStep as decimal(38,0))"))
      .groupBy(col("_pc_q"))
      .agg(sum(when(col("_pc_y") > 0, 1L).otherwise(0L)).as("_pc_gp"),
        sum(when(col("_pc_y") < 0, 1L).otherwise(0L)).as("_pc_gn"))
    // LOUD census before the single-partition window: candidate count
    // plus the min (reused as the sentinel base) and max (for the
    // quantStep suggestion) in one bounded job
    val cen = g.agg(count(lit(1)).as("_pc_n"),
      min(col("_pc_q")).cast("decimal(38,0)").as("_pc_mn"),
      max(col("_pc_q")).cast("decimal(38,0)").as("_pc_mx")).collect().head
    val nCand = cen.getLong(0)
    require(nCand > 0, "threshold sweep needs at least one scored doc")
    val minQ = BigInt(cen.getDecimal(1).toBigInteger)
    val maxQ = BigInt(cen.getDecimal(2).toBigInteger)
    require(nCand <= maxSweepCandidates, {
      val span = (maxQ - minQ + 1) * quantStep
      val step = (span + maxSweepCandidates - 1) / maxSweepCandidates
      s"threshold sweep has $nCand distinct quantized score candidates " +
        s"(> maxSweepCandidates = $maxSweepCandidates): the cumulative " +
        s"window would run single-partition over an unbounded frame — " +
        s"raise quantStep to >= $step (observed quantized span $span) " +
        s"or raise maxSweepCandidates explicitly"
    })
    // the window covers the GROUPED candidate frame — just censused
    // <= maxSweepCandidates rows — never the corpus. Partitioned on a
    // non-foldable always-zero key (pmod(x, 1) — survives the optimizer
    // where x * 0 over a non-nullable column does not): same
    // single-partition execution the global cumulative sum needs, but no
    // WindowExec global-window WARN — that log line stays reserved for
    // REAL unbounded windows
    val winAll = Window.partitionBy(pmod(col("_pc_gp"), lit(1L)))
      .orderBy(col("_pc_q"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val best = g
      .withColumn("_pc_acc",
        sum(col("_pc_gn")).over(winAll) + (lit(nPos) - sum(col("_pc_gp")).over(winAll)))
      .orderBy(col("_pc_acc").desc, col("_pc_q").asc)
      .limit(1)
      .select(col("_pc_q").cast("decimal(38,0)"), col("_pc_acc"))
      .collect()
    val (bestQ, bestAcc) =
      (BigInt(best.head.getDecimal(0).toBigInteger), best.head.getLong(1))
    // the all-positive sentinel (T below every score) wins ties: it is
    // the smallest candidate, matching the oracle's ORDER BY acc DESC, q
    val t = if (nPos >= bestAcc) minQ - 1 else bestQ
    t.bigInteger.longValueExact()
  }

  /** EXACT integer AUC (the Mann–Whitney U statistic) of a scored,
    * labeled frame — the threshold-FREE ranking metric beside x65d's
    * thresholded confusion numbers: AUC = P(score⁺ > score⁻) +
    * ½·P(score⁺ = score⁻) over all (positive, negative) pairs. Everything
    * stays integer: `auc2_num` = 2·wins + ties (the ×2 keeps the
    * half-tie credit whole), denominator 2·n_pos·n_neg, and
    * `auc_permille` their floor-div per-mille — identical in any engine.
    *
    * Scale shape (the [[thresholdSweep]] discipline): never a pairwise
    * join — one groupBy collapses the corpus to per-DISTINCT-score
    * (pos, neg) counts, a LOUD census bounds that candidate frame, and
    * the cumulative below-this-score window runs over the censused rows
    * only (zero-key partition — single-partition by construction, with
    * the WARN reserved for real unbounded windows). Pair products fold
    * as decimal(38,0) and the outputs cast to long with ANSI overflow
    * loudness. Returns ONE row (n_pos, n_neg, auc2_num, auc_permille);
    * auc_permille is NULL when either class is empty.
    *
    * LABEL CONTRACT: y > 0 is positive, y < 0 is negative (the ±1
    * convention of the x65 family). A y == 0 or NULL label raises PER
    * ROW — the common 0/1 labeling would otherwise silently produce
    * n_neg = 0 and a NULL AUC; remap 0/1 labels to -1/+1 first. */
  def aucExact(scored: DataFrame, yCol: String, sCol: String,
               maxScoreCandidates: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxScoreCandidates >= 1, "maxScoreCandidates must be >= 1")
    val yChecked = when(col(yCol) > 0 || col(yCol) < 0, col(yCol))
      .otherwise(raise_error(concat(
        lit(s"aucExact labels must be +1/-1 ($yCol > 0 positive, < 0 " +
          s"negative; remap 0/1 labels); got $yCol = "),
        coalesce(col(yCol).cast("string"), lit("null")))))
    val g = scored.groupBy(col(sCol).as("_auc_s"))
      .agg(sum(when(yChecked > 0, 1L).otherwise(0L)).as("_auc_p"),
        sum(when(yChecked < 0, 1L).otherwise(0L)).as("_auc_q"))
    val card = g.count()
    require(card <= maxScoreCandidates,
      s"AUC has $card distinct score candidates (> maxScoreCandidates = " +
        s"$maxScoreCandidates): the cumulative window would run " +
        "single-partition over an unbounded frame — quantize the scores " +
        "or raise the ceiling explicitly")
    val below = Window.partitionBy(pmod(col("_auc_p"), lit(1L)))
      .orderBy(col("_auc_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // every pair-count product folds in decimal(38,0) BEFORE multiplying
    // — p·(2·cq+q) and 2·n_pos·n_neg overflow longs at ~1e9-row classes,
    // exactly the scale the census discipline targets (ANSI would throw)
    g.withColumn("_auc_cq", coalesce(sum(col("_auc_q")).over(below), lit(0L)))
      .agg(
        sum(col("_auc_p")).as("n_pos"),
        sum(col("_auc_q")).as("n_neg"),
        sum(col("_auc_p").cast("decimal(38,0)") *
          (col("_auc_cq").cast("decimal(38,0)") * 2L + col("_auc_q")))
          .as("_auc_n2"))
      .select(col("n_pos"), col("n_neg"),
        col("_auc_n2").cast("long").as("auc2_num"),
        expr("""cast((1000 * _auc_n2)
                 div nullif(2 * cast(n_pos as decimal(38,0)) * n_neg, 0)
               as bigint)""").as("auc_permille"))
  }

  /** EXPECTED CALIBRATION ERROR over quantized score bins — the
    * model-card metric beside [[aucExact]]'s ranking quality and x65d's
    * confusion numbers: how far the scorer's bin-level confidence sits
    * from the observed positive rate (the reliability-diagram summary,
    * Naeini et al. AAAI'15; fixed-bin form per Guo et al. ICML'17).
    *
    * Score→probability needs NO parametric link: a bin's predicted
    * confidence is its positive rate on the CALIBRATION split
    * (histogram binning — Zadrozny & Elkan KDD'02) and the observed
    * rate comes from the disjoint TEST split, so both are exact Q20
    * floor rationals and the whole metric replays bit-for-bit in SQL.
    * Bins the calibration split never saw fall back to that split's
    * GLOBAL positive rate (the empirical prior). ECE_q20 =
    * ⌊Σ n_test_bin·|conf−obs| / n_test⌋, constant on every row.
    *
    * Contracts (the aucExact/scoreBuckets conventions): labels are
    * strictly positive/negative (raise per row on 0/NULL — remap 0/1
    * labels to ±1); scores are integers (Q fixed point, raise per row);
    * NULL scores are excluded (they carry no calibration signal);
    * `calPred` must be a deterministic row split. The calibration
    * split must be non-empty (loud census raise — the prior divides by
    * its size).
    *
    * 100 TB shape: one (bin)-keyed aggregation with map-side combine
    * over four conditional-count columns — only censused bin rows ever
    * cross an exchange after it; the bin frame is census-guarded
    * (≤ maxBins, raise names the quantStep that fits); the two 1-row
    * totals broadcast back via crossJoin; the Σ n·gap fold runs in
    * decimal(38,0) (n_test·2²⁰ passes a long only below ~8·10¹² rows
    * per bin). Returns one row per bin WITH TEST MASS: (bin, n_cal,
    * pos_cal, n_test, pos_test, conf_q20, obs_q20, gap_q20, ece_q20). */
  def eceCalibration(scored: DataFrame, yCol: String, sCol: String,
                     calPred: Column, quantStep: Long,
                     maxBins: Long = 1L << 12): DataFrame = {
    require(quantStep >= 1, s"quantStep must be >= 1: $quantStep")
    require(maxBins >= 1, s"maxBins must be >= 1: $maxBins")
    val q20 = 1L << 20
    val yChecked = when(col(yCol) > 0 || col(yCol) < 0, col(yCol))
      .otherwise(raise_error(concat(
        lit(s"eceCalibration labels must be +1/-1 ($yCol > 0 positive, " +
          s"< 0 negative; remap 0/1 labels); got $yCol = "),
        coalesce(col(yCol).cast("string"), lit("null")))))
    val sChecked = when(col(sCol).cast("long") === col(sCol),
        col(sCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"eceCalibration needs integer (Q-fixed-point) scores; " +
          s"$sCol = "), col(sCol).cast("string"))))
    val rows = scored.filter(col(sCol).isNotNull)
      .select(yChecked.as("_ec_y"), sChecked.as("_ec_s"),
        calPred.as("_ec_cal"))
      // floor-quantized bin: truncating div corrected by the
      // positive-mod idiom (exact for negative scores; an oracle
      // must apply the SAME correction — duckdb's // truncates toward
      // zero on integers)
      .withColumn("bin", expr(s"(_ec_s div ${quantStep}L) - " +
        s"(CASE WHEN _ec_s < 0 AND pmod(_ec_s, ${quantStep}L) != 0 " +
        s"THEN 1L ELSE 0L END)"))
    val bins = rows.groupBy(col("bin")).agg(
      sum(when(col("_ec_cal"), 1L).otherwise(0L)).as("n_cal"),
      sum(when(col("_ec_cal") && col("_ec_y") > 0, 1L).otherwise(0L))
        .as("pos_cal"),
      sum(when(!col("_ec_cal"), 1L).otherwise(0L)).as("n_test"),
      sum(when(!col("_ec_cal") && col("_ec_y") > 0, 1L).otherwise(0L))
        .as("pos_test"))
    // census: bin-frame bound + non-empty calibration split, one action
    val cen = bins.agg(count(lit(1)).as("nb"),
      coalesce(sum(col("n_cal")), lit(0L)).as("tc")).collect().head
    val (nBins, totCal) = (cen.getLong(0), cen.getLong(1))
    require(nBins <= maxBins,
      s"eceCalibration has $nBins score bins (> maxBins = $maxBins): " +
        s"raise quantStep (>= ~${quantStep * (nBins / maxBins + 1)}) " +
        "or raise maxBins explicitly")
    require(totCal > 0,
      "eceCalibration needs a non-empty calibration split (calPred " +
        "selected no rows) — the bin-confidence prior divides by it")
    val tot = bins.agg(sum(col("n_cal")).as("_ec_tc"),
      sum(col("pos_cal")).as("_ec_tp"),
      sum(col("n_test")).as("_ec_tt"))
    val conf = bins.crossJoin(broadcast(tot))
      .withColumn("conf_q20",
        when(col("n_cal") > 0, expr(s"(${q20}L * pos_cal) div n_cal"))
          .otherwise(expr(s"(${q20}L * _ec_tp) div _ec_tc")))
      .filter(col("n_test") > 0)
      .withColumn("obs_q20", expr(s"(${q20}L * pos_test) div n_test"))
      .withColumn("gap_q20", abs(col("conf_q20") - col("obs_q20")))
    val ece = conf.agg(
      expr("""cast(sum(cast(n_test as decimal(38,0)) * gap_q20)
               div cast(first(_ec_tt) as decimal(38,0)) as bigint)""")
        .as("ece_q20"))
    conf.select(col("bin"), col("n_cal"), col("pos_cal"), col("n_test"),
        col("pos_test"), col("conf_q20"), col("obs_q20"), col("gap_q20"))
      .crossJoin(broadcast(ece))
  }

  /** DEPLOY the [[eceCalibration]] histogram calibrator: each deploy
    * row's calibrated probability is its score bin's positive rate on
    * the calibration frame (Q20 floor), falling back to the frame's
    * global positive rate for bins the calibration never saw — the
    * same statistic x96 audits, shipped as a COLUMN (the x92c
    * clip-deploy symmetry: the sketch/statistic trains once, deploys
    * everywhere). Same contracts as eceCalibration (±1 labels, integer
    * scores, non-empty calibration, censused ≤ maxBins bin frame).
    *
    * Scale: the calibration frame reduces to ≤ maxBins (bin, conf)
    * rows which BROADCAST onto the deploy projection — the deploy side
    * never shuffles. Returns (idCol, score, bin, p_q20). */
  def calibrateScores(cal: DataFrame, deploy: DataFrame, yCol: String,
                      sCol: String, idCol: String, quantStep: Long,
                      maxBins: Long = 1L << 12): DataFrame = {
    require(quantStep >= 1, s"quantStep must be >= 1: $quantStep")
    require(maxBins >= 1, s"maxBins must be >= 1: $maxBins")
    val q20 = 1L << 20
    def binOf(s: String) = expr(s"($s div ${quantStep}L) - " +
      s"(CASE WHEN $s < 0 AND pmod($s, ${quantStep}L) != 0 " +
      s"THEN 1L ELSE 0L END)")
    val yChecked = when(col(yCol) > 0 || col(yCol) < 0, col(yCol))
      .otherwise(raise_error(concat(
        lit(s"calibrateScores labels must be +1/-1; got $yCol = "),
        coalesce(col(yCol).cast("string"), lit("null")))))
    def sChecked(df: DataFrame) = when(
        col(sCol).cast("long") === col(sCol), col(sCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"calibrateScores needs integer scores; $sCol = "),
        col(sCol).cast("string"))))
    val bins = cal.filter(col(sCol).isNotNull)
      .select(yChecked.as("_cc_y"), sChecked(cal).as("_cc_s"))
      .withColumn("bin", binOf("_cc_s"))
      .groupBy(col("bin")).agg(count(lit(1)).as("_cc_n"),
        sum(when(col("_cc_y") > 0, 1L).otherwise(0L)).as("_cc_p"))
    val cen = bins.agg(count(lit(1)).as("nb"),
      coalesce(sum(col("_cc_n")), lit(0L)).as("tc"),
      coalesce(sum(col("_cc_p")), lit(0L)).as("tp")).collect().head
    require(cen.getLong(0) <= maxBins,
      s"calibrateScores has ${cen.getLong(0)} calibration bins " +
        s"(> maxBins = $maxBins): raise quantStep " +
        s"(>= ~${quantStep * (cen.getLong(0) / maxBins + 1)})")
    require(cen.getLong(1) > 0,
      "calibrateScores needs a non-empty calibration frame")
    // BigInt: 2^20·tp wraps a long past ~8·10^12 calibration positives
    val prior = ((BigInt(cen.getLong(2)) * q20) / cen.getLong(1)).toLong
    val conf = bins.select(col("bin"),
      expr(s"(${q20}L * _cc_p) div _cc_n").as("_cc_conf"))
    deploy.filter(col(sCol).isNotNull)
      .select(col(idCol), sChecked(deploy).as("score"))
      .withColumn("bin", binOf("score"))
      .join(broadcast(conf), Seq("bin"), "left")
      .select(col(idCol), col("score"), col("bin"),
        coalesce(col("_cc_conf"), lit(prior)).as("p_q20"))
  }

  /** ISOTONIC (pool-adjacent-violators) calibration — the
    * exact-arithmetic sibling of [[eceCalibration]]'s histogram binning
    * (Zadrozny & Elkan, KDD 2002; Robertson et al., "Order Restricted
    * Statistical Inference" 1988 for the minimax identity): fit the
    * best MONOTONE step function of the score under squared loss, so
    * pooled neighbors smooth the small-bin noise histogram binning
    * passes through. Rather than the sequential PAV sweep (which would
    * be a driver loop), this uses the closed minimax form
    * `iso(k) = max_{i ≤ k} min_{j ≥ k} rate(i, j)` over pooled bin
    * intervals — and because floor is monotone it commutes with min/max,
    * so computing every interval rate as a Q20 FLOOR first yields
    * exactly ⌊2²⁰·iso(k)⌋: the whole fit is one declarative triangular
    * self-join over the censused calibration-bin frame, replayable
    * bit-for-bit by a SQL oracle (no recursion, no driver fold).
    *
    * Same contracts as eceCalibration (±1 labels raise per row, integer
    * Q scores raise per row, NULL scores excluded, non-empty calibration
    * split). The bin census here bounds a CUBE (intervals × members ≈
    * B³/6 rows), hence the tighter default maxBins = 2⁹ — still far
    * above any sane reliability-table width; the guard names the
    * quantStep that fits. Bins the calibration never saw fall back to
    * the calibration prior (the x96/x96b convention, NOT an isotonic
    * interpolation — keeps the fallback identical across the family).
    *
    * 100 TB shape: the corpus reduces to the ≤ maxBins bin frame in one
    * map-side-combining aggregation; every join after that is
    * bounded-frame algebra on broadcast sides (the deploy/test rows
    * never re-shuffle). Returns one row per bin WITH TEST MASS:
    * (bin, n_cal, pos_cal, n_test, pos_test, conf_q20 [histogram],
    * pav_q20 [isotonic], obs_q20, gap_hist_q20, gap_pav_q20,
    * ece_hist_q20, ece_pav_q20) — the two ECEs side-by-side are the
    * model card's "which calibrator do I ship" row. */
  def pavCalibration(scored: DataFrame, yCol: String, sCol: String,
                     calPred: Column, quantStep: Long,
                     maxBins: Long = 1L << 9): DataFrame = {
    require(quantStep >= 1, s"quantStep must be >= 1: $quantStep")
    require(maxBins >= 1 && maxBins <= (1L << 12),
      s"maxBins must be in [1, 4096] (the interval cube is ~B^3/6 rows): $maxBins")
    val q20 = 1L << 20
    val yChecked = when(col(yCol) > 0 || col(yCol) < 0, col(yCol))
      .otherwise(raise_error(concat(
        lit(s"pavCalibration labels must be +1/-1 ($yCol > 0 positive, " +
          s"< 0 negative; remap 0/1 labels); got $yCol = "),
        coalesce(col(yCol).cast("string"), lit("null")))))
    val sChecked = when(col(sCol).cast("long") === col(sCol),
        col(sCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"pavCalibration needs integer (Q-fixed-point) scores; " +
          s"$sCol = "), col(sCol).cast("string"))))
    val rows = scored.filter(col(sCol).isNotNull)
      .select(yChecked.as("_pv_y"), sChecked.as("_pv_s"),
        calPred.as("_pv_cal"))
      .withColumn("bin", expr(s"(_pv_s div ${quantStep}L) - " +
        s"(CASE WHEN _pv_s < 0 AND pmod(_pv_s, ${quantStep}L) != 0 " +
        s"THEN 1L ELSE 0L END)"))
    val bins = rows.groupBy(col("bin")).agg(
      sum(when(col("_pv_cal"), 1L).otherwise(0L)).as("n_cal"),
      sum(when(col("_pv_cal") && col("_pv_y") > 0, 1L).otherwise(0L))
        .as("pos_cal"),
      sum(when(!col("_pv_cal"), 1L).otherwise(0L)).as("n_test"),
      sum(when(!col("_pv_cal") && col("_pv_y") > 0, 1L).otherwise(0L))
        .as("pos_test"))
    val cen = bins.agg(count(lit(1)).as("nb"),
      coalesce(sum(col("n_cal")), lit(0L)).as("tc"),
      coalesce(sum(col("pos_cal")), lit(0L)).as("tp")).collect().head
    val (nBins, totCal, totPos) =
      (cen.getLong(0), cen.getLong(1), cen.getLong(2))
    require(nBins <= maxBins,
      s"pavCalibration has $nBins score bins (> maxBins = $maxBins): " +
        s"raise quantStep (>= ~${quantStep * (nBins / maxBins + 1)}) " +
        "or raise maxBins explicitly (interval cube grows as B^3)")
    require(totCal > 0,
      "pavCalibration needs a non-empty calibration split (calPred " +
        "selected no rows) — the bin-confidence prior divides by it")
    // BigInt: 2^20·tp wraps a long past ~8·10^12 calibration positives
    val prior = ((BigInt(totPos) * q20) / totCal).toLong
    // the isotonic fit runs over bins CARRYING calibration mass only
    val pav = pavFitQ20(bins.filter(col("n_cal") > 0)
      .select(col("bin"), col("n_cal"), col("pos_cal")))
    val conf = bins.join(broadcast(pav), Seq("bin"), "left")
      .withColumn("conf_q20",
        when(col("n_cal") > 0, expr(s"(${q20}L * pos_cal) div n_cal"))
          .otherwise(lit(prior)))
      .withColumn("pav_q20", coalesce(col("pav_q20"), lit(prior)))
      .filter(col("n_test") > 0)
      .withColumn("obs_q20", expr(s"(${q20}L * pos_test) div n_test"))
      .withColumn("gap_hist_q20", abs(col("conf_q20") - col("obs_q20")))
      .withColumn("gap_pav_q20", abs(col("pav_q20") - col("obs_q20")))
    val ece = conf.agg(
      expr("""cast(sum(cast(n_test as decimal(38,0)) * gap_hist_q20)
               div sum(cast(n_test as decimal(38,0))) as bigint)""")
        .as("ece_hist_q20"),
      expr("""cast(sum(cast(n_test as decimal(38,0)) * gap_pav_q20)
               div sum(cast(n_test as decimal(38,0))) as bigint)""")
        .as("ece_pav_q20"))
    conf.select(col("bin"), col("n_cal"), col("pos_cal"), col("n_test"),
        col("pos_test"), col("conf_q20"), col("pav_q20"), col("obs_q20"),
        col("gap_hist_q20"), col("gap_pav_q20"))
      .crossJoin(broadcast(ece))
  }

  /** The isotonic fit itself, shared by [[pavCalibration]] and
    * [[pavCalibrateScores]]: over a (bin, n_cal, pos_cal) frame with
    * n_cal ≥ 1 per row, returns (bin, pav_q20) — the minimax identity
    * iso(k) = max_{i≤k} min_{j≥k} ⌊2²⁰·P_ij/N_ij⌋ as bounded-frame
    * algebra only (triangular broadcast self-joins; inclusive/exclusive
    * prefix sums by join, not window, so nothing for the PlanSpec
    * single-task-window sweep). */
  private def pavFitQ20(cf: DataFrame): DataFrame = {
    val q20 = 1L << 20
    val pre = cf.select(col("bin").as("_pv_tb"))
      .join(broadcast(cf.select(col("bin").as("_pv_ub"),
        col("n_cal").as("_pv_un"), col("pos_cal").as("_pv_up"))),
        col("_pv_ub") <= col("_pv_tb"))
      .groupBy(col("_pv_tb"))
      .agg(sum(col("_pv_un")).as("cn_in"), sum(col("_pv_up")).as("cp_in"),
        sum(when(col("_pv_ub") < col("_pv_tb"), col("_pv_un"))
          .otherwise(0L)).as("cn_ex"),
        sum(when(col("_pv_ub") < col("_pv_tb"), col("_pv_up"))
          .otherwise(0L)).as("cp_ex"))
    def endp(p: String) = pre.select(col("_pv_tb").as(p + "b"),
      col("cn_in").as(p + "cn_in"), col("cp_in").as(p + "cp_in"),
      col("cn_ex").as(p + "cn_ex"), col("cp_ex").as(p + "cp_ex"))
    // every pooled interval's Q20 floor rate; N >= n_cal(i) >= 1
    val iv = endp("l").join(broadcast(endp("h")), col("lb") <= col("hb"))
      .select(col("lb"), col("hb"),
        expr(s"""cast((cast(${q20}L as decimal(38,0)) * (hcp_in - lcp_ex))
                  div (hcn_in - lcn_ex) as bigint)""").as("_pv_rate"))
    // iso(k) = max over lower ends i<=k of (min over upper ends j>=k)
    iv.join(broadcast(cf.select(col("bin").as("_pv_k"))),
        col("lb") <= col("_pv_k") && col("hb") >= col("_pv_k"))
      .groupBy(col("_pv_k"), col("lb"))
      .agg(min(col("_pv_rate")).as("_pv_mn"))
      .groupBy(col("_pv_k")).agg(max(col("_pv_mn")).as("pav_q20"))
      .select(col("_pv_k").as("bin"), col("pav_q20"))
  }

  /** DEPLOY the [[pavCalibration]] isotonic calibrator as a COLUMN (the
    * x96b move for the PAV fit): each deploy score takes the step
    * function's value at its bin — the fitted pav_q20 of the LARGEST
    * calibration bin ≤ its own (constant extrapolation past both ends,
    * the standard isotonic deploy), so deployed probabilities are
    * MONOTONE in the score, which the x96b histogram deploy's
    * prior-fallback cannot promise. The fit is the same censused
    * bounded-frame algebra as x96c; the step table (≤ maxBins rows)
    * then ships as a SORTED PLAN LITERAL and the lookup is a bounded
    * in-row fold — the deploy side runs ZERO exchanges and no join at
    * all (one better than x96b's broadcast). Contracts as
    * eceCalibration: ±1 labels, integer scores, NULL deploy scores
    * excluded, non-empty calibration. Returns (idCol, score, bin,
    * p_q20). */
  def pavCalibrateScores(cal: DataFrame, deploy: DataFrame, yCol: String,
                         sCol: String, idCol: String, quantStep: Long,
                         maxBins: Long = 1L << 9): DataFrame = {
    require(quantStep >= 1, s"quantStep must be >= 1: $quantStep")
    require(maxBins >= 1 && maxBins <= (1L << 12),
      s"maxBins must be in [1, 4096] (the interval cube is ~B^3/6 rows): $maxBins")
    def binOf(s: String) = expr(s"($s div ${quantStep}L) - " +
      s"(CASE WHEN $s < 0 AND pmod($s, ${quantStep}L) != 0 " +
      s"THEN 1L ELSE 0L END)")
    val yChecked = when(col(yCol) > 0 || col(yCol) < 0, col(yCol))
      .otherwise(raise_error(concat(
        lit(s"pavCalibrateScores labels must be +1/-1; got $yCol = "),
        coalesce(col(yCol).cast("string"), lit("null")))))
    def sChecked = when(col(sCol).cast("long") === col(sCol),
        col(sCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"pavCalibrateScores needs integer scores; $sCol = "),
        col(sCol).cast("string"))))
    val bins = cal.filter(col(sCol).isNotNull)
      .select(yChecked.as("_pd_y"), sChecked.as("_pd_s"))
      .withColumn("bin", binOf("_pd_s"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_cal"),
        sum(when(col("_pd_y") > 0, 1L).otherwise(0L)).as("pos_cal"))
    val cen = bins.agg(count(lit(1)).as("nb"),
      coalesce(sum(col("n_cal")), lit(0L)).as("tc")).collect().head
    require(cen.getLong(0) <= maxBins,
      s"pavCalibrateScores has ${cen.getLong(0)} calibration bins " +
        s"(> maxBins = $maxBins): raise quantStep " +
        s"(>= ~${quantStep * (cen.getLong(0) / maxBins + 1)})")
    require(cen.getLong(1) > 0,
      "pavCalibrateScores needs a non-empty calibration frame")
    // the fit is censused (<= maxBins rows) — collecting it is the
    // codebook convention, and shipping it sorted as a plan literal
    // makes the deploy a pure projection
    val fit: Seq[(Long, Long)] = pavFitQ20(bins)
      .orderBy(col("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val arr = typedlit(fit)
    // step lookup over the ASCENDING literal: the last entry with
    // bin <= b wins; a b below the first entry clamps to the first
    // (constant extrapolation) — a bounded fold, zero exchanges
    def stepAt(b: Column): Column =
      aggregate(arr, element_at(arr, 1),
        (acc, e) => when(e.getField("_1") <= b, e).otherwise(acc))
        .getField("_2")
    deploy.filter(col(sCol).isNotNull)
      .select(col(idCol), sChecked.as("score"))
      .withColumn("bin", binOf("score"))
      .select(col(idCol), col("score"), col("bin"),
        stepAt(col("bin")).as("p_q20"))
  }

  /** COHEN'S KAPPA — chance-corrected inter-annotator agreement
    * (Cohen, Educ. Psychol. Meas. 1960), the label-QA statistic a
    * training-data pipeline reads before trusting human or weak-labeler
    * annotations: κ = (p_o − p_e)/(1 − p_e) with observed agreement
    * p_o = agree/n and chance agreement p_e = Σ_k n_aᵏ·n_bᵏ/n² from the
    * raters' marginals. Exact integer form, per key:
    * kappa_q20 = ⌊2²⁰·(n·agree − Σ n_a·n_b) / (n² − Σ n_a·n_b)⌋ — the
    * numerator can be NEGATIVE (systematic disagreement; κ = −1 reads
    * exactly −2²⁰), so the division is positive-mod floored; a zero
    * denominator (p_e = 1: both raters constant and equal) yields NULL
    * (undefined, the aucExact one-class convention, never a fake 0).
    * Rows where either label is NULL are excluded (unlabeled — they
    * carry no agreement signal).
    *
    * 100 TB shape: one (keys, labelA, labelB)-keyed map-side-combining
    * aggregation reduces the corpus to confusion CELLS (≤ alphabet²
    * rows per key); marginals, p_e, and the κ arithmetic are cell-frame
    * algebra in decimal(38,0) — nothing after the first aggregation
    * scales with corpus size, and nothing collects. Returns
    * (keys..., n, n_agree, kappa_q20 [nullable]). */
  def cohenKappaQ20(df: DataFrame, keyCols: Seq[String],
                    aCol: String, bCol: String): DataFrame = {
    require(keyCols.nonEmpty, "cohenKappaQ20 needs >= 1 group key")
    val reserved = Seq("_ck_a", "_ck_b", "_ck_n", "_ck_l", "_ck_na",
      "_ck_nb", "_ck_pe", "_ck_num", "_ck_den", "n", "n_agree", "kappa_q20")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"cohenKappaQ20 reserves column $c — rename the key column"))
    cohenKappaFromCells(confusionCells(df, keyCols, aCol, bCol), keyCols)
  }

  /** The (keys, labelA, labelB, count) confusion-cell table
    * [[cohenKappaQ20]] reduces to — exposed because cells are SUMS:
    * per-shard/batch/micro-batch cell tables re-sum to exactly the
    * one-shot table (the cmsMerge property), making the κ monitor a
    * continuous-ingest citizen. NULL-labeled rows excluded. */
  def confusionCells(df: DataFrame, keyCols: Seq[String],
                     aCol: String, bCol: String): DataFrame =
    df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy((keyCols.map(col) :+ col(aCol).as("_ck_a") :+
        col(bCol).as("_ck_b")): _*)
      .agg(count(lit(1)).as("_ck_n"))

  /** Merge confusion-cell tables by cell re-sum — merged ≡ one-shot. */
  def mergeConfusionCells(tables: Seq[DataFrame],
                          keyCols: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "mergeConfusionCells needs at least one table")
    tables.reduce(_ unionByName _)
      .groupBy((keyCols :+ "_ck_a" :+ "_ck_b").map(col): _*)
      .agg(sum(col("_ck_n")).as("_ck_n"))
  }

  /** κ from a [[confusionCells]] table (see [[cohenKappaQ20]] for the
    * statistic and its contracts). */
  def cohenKappaFromCells(cells: DataFrame,
                          keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "cohenKappaFromCells needs >= 1 group key")
    val na = cells.groupBy((keyCols.map(col) :+ col("_ck_a").as("_ck_l")): _*)
      .agg(sum(col("_ck_n")).as("_ck_na"))
    val nb = cells.groupBy((keyCols.map(col) :+ col("_ck_b").as("_ck_l")): _*)
      .agg(sum(col("_ck_n")).as("_ck_nb"))
    // a label used by only one rater contributes n_a·0 = 0 — the inner
    // join drops exactly those terms
    val pe = na.join(nb, keyCols :+ "_ck_l")
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_ck_na").cast("decimal(38,0)") * col("_ck_nb"))
        .as("_ck_pe"))
    val tot = cells.groupBy(keyCols.map(col): _*)
      .agg(sum(col("_ck_n")).as("n"),
        sum(when(col("_ck_a") === col("_ck_b"), col("_ck_n"))
          .otherwise(0L)).as("n_agree"))
    tot.join(pe, keyCols, "left")
      .withColumn("_ck_pe",
        coalesce(col("_ck_pe"), lit(0).cast("decimal(38,0)")))
      .withColumn("_ck_num", expr(
        "cast(1048576 as decimal(38,0)) * " +
          "(cast(n as decimal(38,0)) * n_agree - _ck_pe)"))
      .withColumn("_ck_den", expr(
        "cast(n as decimal(38,0)) * n - _ck_pe"))
      .select((keyCols.map(col) :+ col("n") :+ col("n_agree") :+
        // pmod is already the positive mod, so num − pmod(num, den) is
        // the exact floor multiple even for negative numerators
        when(col("_ck_den") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "cast((_ck_num - pmod(_ck_num, _ck_den)) div _ck_den as bigint)"))
          .as("kappa_q20")): _*)
  }

  /** FLEISS' KAPPA — chance-corrected agreement for m ≥ 2 raters
    * (Fleiss, Psychol. Bull. 1971), the multi-rater generalization the
    * label-QA layer needs once more than two weak labelers vote: with
    * n_uj = raters assigning item u to category j, S = Σ_u Σ_j n_uj²,
    * T = n·m total ratings and C_j = Σ_u n_uj the pooled category
    * totals,
    *   κ = [T·(S − T) − (m−1)·ΣC²] / [(m−1)·(T² − ΣC²)],
    * the cross-multiplied form of (P̄ − P̄_e)/(1 − P̄_e) with
    * P̄ = (S−T)/(T(m−1)) and P̄_e = ΣC²/T². NOTE: at m = 2 this is
    * Scott's pi (POOLED marginals), not Cohen's kappa (per-rater
    * marginals) — both are exposed deliberately. The numerator can be
    * negative (systematic disagreement), so the Q20 division takes the
    * positive-mod floor; a zero denominator (every rating identical —
    * P̄_e = 1) yields NULL, the [[cohenKappaQ20]] convention. Items
    * with ANY null rater label are excluded whole (Fleiss requires a
    * complete m-vector per item).
    *
    * 100 TB shape: n_uj is computed ROW-WISE (each row carries all m
    * labels, m is a small plan constant), so the corpus reduces in ONE
    * (keys, label)-keyed map-side-combining aggregation to ≤ alphabet
    * cells per key — no per-item shuffle exists anywhere; everything
    * after is cell-frame algebra in decimal(38,0). Returns
    * (keys..., n_items, n_ratings, kappa_q20 [nullable]). */
  def fleissKappaQ20(df: DataFrame, keyCols: Seq[String],
                     raterCols: Seq[String]): DataFrame = {
    fleissKappaFromCells(fleissCells(df, keyCols, raterCols), keyCols,
      raterCols.size)
  }

  /** The per-(keys, label) cell table [[fleissKappaQ20]] reduces to:
    * `_fk_c` = Σ_u n_uj (pooled category count) and `_fk_sq` =
    * Σ_u n_uj² — BOTH item-sums, so per-shard/batch cell tables re-sum
    * to exactly the one-shot table ([[mergeFleissCells]]), making the
    * multi-rater monitor a continuous-ingest citizen like
    * [[confusionCells]]. Items with any null label excluded. */
  def fleissCells(df: DataFrame, keyCols: Seq[String],
                  raterCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "fleissCells needs >= 1 group key")
    require(raterCols.size >= 2, "fleissCells needs >= 2 rater columns")
    val reserved = Seq("_fk_l", "_fk_n", "_fk_c", "_fk_sq", "_fk_e",
      "n_items", "n_ratings", "kappa_q20")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"fleissCells reserves column $c — rename the key column"))
    val labs = array(raterCols.map(col): _*)
    // per item, per DISTINCT label it received: (label, n_uj) — a
    // bounded row-wise fold (m entries max), never an item-keyed shuffle
    val cells = transform(array_distinct(labs), l =>
      struct(l.as("_fk_l"),
        size(filter(labs, x => x === l)).cast("long").as("_fk_n")))
    df.filter(raterCols.map(col(_).isNotNull).reduce(_ && _))
      .select((keyCols.map(col) :+ explode(cells).as("_fk_e")): _*)
      .select((keyCols.map(col) :+ col("_fk_e._fk_l").as("_fk_l") :+
        col("_fk_e._fk_n").as("_fk_n")): _*)
      .groupBy((keyCols :+ "_fk_l").map(col): _*)
      .agg(sum(col("_fk_n")).as("_fk_c"),
        sum(col("_fk_n") * col("_fk_n")).as("_fk_sq"))
  }

  /** Merge [[fleissCells]] tables by cell re-sum — merged ≡ one-shot. */
  def mergeFleissCells(tables: Seq[DataFrame],
                       keyCols: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "mergeFleissCells needs at least one table")
    tables.reduce(_ unionByName _)
      .groupBy((keyCols :+ "_fk_l").map(col): _*)
      .agg(sum(col("_fk_c")).as("_fk_c"), sum(col("_fk_sq")).as("_fk_sq"))
  }

  /** κ from a [[fleissCells]] table (see [[fleissKappaQ20]] for the
    * statistic). `m` is the rater count the cells were built with —
    * not recoverable from the cells alone, so the caller restates it;
    * a T not divisible by m raises (wrong m or corrupted cells). */
  def fleissKappaFromCells(cells: DataFrame, keyCols: Seq[String],
                           m: Int): DataFrame = {
    require(keyCols.nonEmpty, "fleissKappaFromCells needs >= 1 group key")
    require(m >= 2, s"rater count m must be >= 2: $m")
    cells.groupBy(keyCols.map(col): _*)
      .agg(sum(col("_fk_sq")).cast("decimal(38,0)").as("_fk_s"),
        sum(col("_fk_c")).cast("decimal(38,0)").as("_fk_t"),
        sum(col("_fk_c").cast("decimal(38,0)") * col("_fk_c"))
          .as("_fk_c2"))
      .withColumn("n_items",
        when(expr(s"_fk_t % $m = 0"), expr(s"cast(_fk_t div $m as bigint)"))
          .otherwise(raise_error(concat(
            lit(s"fleissKappaFromCells: total ratings not divisible by m=$m"
              + " — wrong rater count or corrupted cells; T = "),
            col("_fk_t").cast("string")))))
      .withColumn("_fk_num", expr(
        s"cast(1048576 as decimal(38,0)) * " +
          s"(_fk_t * (_fk_s - _fk_t) - ${m - 1} * _fk_c2)"))
      .withColumn("_fk_den", expr(
        s"cast(${m - 1} as decimal(38,0)) * (_fk_t * _fk_t - _fk_c2)"))
      .select((keyCols.map(col) :+ col("n_items") :+
        col("_fk_t").cast("long").as("n_ratings") :+
        // positive-mod floor: the numerator can be negative
        when(col("_fk_den") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "cast((_fk_num - pmod(_fk_num, _fk_den)) div _fk_den as bigint)"))
          .as("kappa_q20")): _*)
  }

  /** KRIPPENDORFF'S ALPHA (nominal) — the agreement statistic for the
    * REAL annotation regime: raters abstain, items carry 2..m ratings,
    * and [[fleissKappaQ20]]'s complete-vector requirement throws half
    * the data away. α = 1 − D_o/D_e (Krippendorff 2011,
    * "Computing Krippendorff's Alpha-Reliability"): with m_u non-null
    * ratings and n_uc per-label counts on item u, N = Σ m_u pairable
    * values and C_c = Σ_u n_uc pooled totals,
    *   D_o = (1/N)·Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1),
    *   D_e = (N² − ΣC²)/(N(N−1)).
    * The per-item rationals are cleared EXACTLY by L = lcm(1..m−1) (a
    * plan constant from the rater count): each item contributes the
    * integer (m_u² − Σn_uc²)·(L/(m_u−1)), so
    *   α = [L(N² − ΣC²) − (N−1)·Σ_u terms] / [L(N² − ΣC²)]
    * in pure decimal(38,0) arithmetic. α can be negative → positive-mod
    * Q20 floor; a zero denominator (every pairable value identical)
    * yields NULL, the [[cohenKappaQ20]] convention. Items with fewer
    * than 2 non-null ratings are excluded (no pairable information).
    *
    * 100 TB shape: like [[fleissCells]], m_u, Σn_uc² and the cleared
    * item term are ROW-WISE folds over the ≤m-entry label array — the
    * corpus reduces in one (keys, label)-keyed aggregation (pooled C_c)
    * plus one per-key aggregation (N, Σterms, n_items); no per-item
    * shuffle exists. Returns (keys..., n_items, n_values,
    * alpha_q20 [nullable]). */
  def krippendorffAlphaQ20(df: DataFrame, keyCols: Seq[String],
                           raterCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "krippendorffAlphaQ20 needs >= 1 group key")
    require(raterCols.size >= 2,
      "krippendorffAlphaQ20 needs >= 2 rater columns")
    val reserved = Seq("_ka_l", "_ka_n", "_ka_m", "_ka_sq", "_ka_t",
      "_ka_e", "_ka_c2", "_ka_nn", "_ka_ol", "_ka_num", "_ka_den",
      "n_items", "n_values", "alpha_q20")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"krippendorffAlphaQ20 reserves column $c — rename the key column"))
    val mMax = raterCols.size
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmL = (1L to (mMax - 1).toLong).reduce((x, y) => x / gcd(x, y) * y)
    // L/(m_u − 1) as a 1-indexed literal: entry i = L/i
    val lfac = typedlit((1 to mMax - 1).map(i => lcmL / i))
    val labs = array(raterCols.map(col): _*)
    val nn = filter(labs, x => x.isNotNull)
    val base = df
      .select((keyCols.map(col) :+ nn.as("_ka_nn")): _*)
      .filter(size(col("_ka_nn")) >= 2)
      .withColumn("_ka_m", size(col("_ka_nn")).cast("long"))
      // Σ_c n_uc² as a bounded row-wise fold over the distinct labels
      .withColumn("_ka_sq", aggregate(
        transform(array_distinct(col("_ka_nn")), l =>
          size(filter(col("_ka_nn"), x => x === l)) *
            size(filter(col("_ka_nn"), x => x === l))),
        lit(0), (acc, x) => acc + x).cast("long"))
      .withColumn("_ka_t",
        (col("_ka_m") * col("_ka_m") - col("_ka_sq")) *
          element_at(lfac, (col("_ka_m") - 1).cast("int")).cast("long"))
    val per = base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_items"),
        sum(col("_ka_m")).as("n_values"),
        sum(col("_ka_t").cast("decimal(38,0)")).as("_ka_ol"))
    val c2 = base
      .select((keyCols.map(col) :+ explode(transform(
        array_distinct(col("_ka_nn")), l => struct(l.as("_ka_l"),
          size(filter(col("_ka_nn"), x => x === l)).cast("long")
            .as("_ka_n")))).as("_ka_e")): _*)
      .select((keyCols.map(col) :+ col("_ka_e._ka_l").as("_ka_l") :+
        col("_ka_e._ka_n").as("_ka_n")): _*)
      .groupBy((keyCols :+ "_ka_l").map(col): _*)
      .agg(sum(col("_ka_n")).as("_ka_c"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_ka_c").cast("decimal(38,0)") * col("_ka_c"))
        .as("_ka_c2"))
    per.join(c2, keyCols)
      .withColumn("_ka_den", expr(
        s"cast($lcmL as decimal(38,0)) * " +
          "(cast(n_values as decimal(38,0)) * n_values - _ka_c2)"))
      .withColumn("_ka_num",
        expr("cast(1048576 as decimal(38,0))") *
          (col("_ka_den") -
            (col("n_values").cast("decimal(38,0)") - 1) * col("_ka_ol")))
      .select((keyCols.map(col) :+ col("n_items") :+ col("n_values") :+
        // positive-mod floor: α can be negative
        when(col("_ka_den") === 0, lit(null).cast("long"))
          .otherwise(expr(
            "cast((_ka_num - pmod(_ka_num, _ka_den)) div _ka_den as bigint)"))
          .as("alpha_q20")): _*)
  }

  /** PEARSON CHI-SQUARE ASSOCIATION between two categorical columns —
    * the independence test a curation pipeline reads before trusting a
    * slice design ("is source independent of quality label?", "did the
    * crawl snapshot change the lang×domain mix?"). With per-key cell
    * counts O_ab, marginals R_a, C_b and total N,
    *   χ² = Σ_ab (O_ab − R_a·C_b/N)² / (R_a·C_b/N)
    *       = Σ_ab (N·O_ab − R_a·C_b)² / (N·R_a·C_b),
    * summed over the FULL observed-label cross (zero cells contribute
    * their expectation — omitting them understates the statistic).
    *
    * Integer form, floor-composed identically in engine and oracle:
    * per cell t = ⌊d²/(R·C)⌋ with d = N·O − R·C, then chi2_q20 =
    * ⌊2²⁰·Σt / N⌋ (both dividends non-negative, so trunc = floor).
    * The double floor under-reads true 2²⁰·χ² by < 2²⁰·cells/N — far
    * below any decision threshold at corpus scale — and REPLAYS
    * bit-for-bit (the lesson of every Q-fixed-point op here: exactness
    * is cross-engine agreement, not infinite precision). d² must fit
    * decimal(38,0): |d| ≤ N² needs N ≤ 3·10⁹ per key, enforced by an
    * in-plan raise (a corpus bigger than that per key should be
    * sampled first — χ² at that N flags microscopic effects anyway).
    *
    * 100 TB shape: ONE (keys, a, b)-keyed map-side-combining
    * aggregation reduces the corpus to cells; the observed-label cross
    * joins two ≤alphabet marginal frames per key (censused); dof =
    * (r−1)(c−1) from the same frames. NULL labels excluded. Returns
    * (keys..., n, dof, chi2_q20). */
  def chiSquareAssocQ20(df: DataFrame, keyCols: Seq[String],
                        aCol: String, bCol: String): DataFrame =
    chiSquareFromCells(chiSquareCells(df, keyCols, aCol, bCol), keyCols)

  /** The (keys, _x2_a, _x2_b, _x2_o) contingency-cell table
    * [[chiSquareAssocQ20]] reduces to — exposed because cells are SUMS
    * (the [[confusionCells]] property): per-shard/batch cell tables
    * re-sum to exactly the one-shot table, making the association
    * monitor a continuous-ingest citizen. NULL labels excluded. */
  def chiSquareCells(df: DataFrame, keyCols: Seq[String],
                     aCol: String, bCol: String): DataFrame = {
    require(keyCols.nonEmpty, "chiSquareCells needs >= 1 group key")
    val reserved = Seq("_x2_a", "_x2_b", "_x2_o", "_x2_r", "_x2_c",
      "_x2_d", "_x2_t", "n", "dof", "chi2_q20")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"chiSquareCells reserves column $c — rename the key column"))
    df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy((keyCols.map(col) :+ col(aCol).as("_x2_a") :+
        col(bCol).as("_x2_b")): _*)
      .agg(count(lit(1)).as("_x2_o"))
  }

  /** Merge [[chiSquareCells]] tables by cell re-sum — merged ≡ one-shot. */
  def mergeChiSquareCells(tables: Seq[DataFrame],
                          keyCols: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "mergeChiSquareCells needs at least one table")
    tables.reduce(_ unionByName _)
      .groupBy((keyCols :+ "_x2_a" :+ "_x2_b").map(col): _*)
      .agg(sum(col("_x2_o")).as("_x2_o"))
  }

  /** χ² from a [[chiSquareCells]] table (see [[chiSquareAssocQ20]] for
    * the statistic and its bounds). */
  def chiSquareFromCells(cells: DataFrame,
                         keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "chiSquareFromCells needs >= 1 group key")
    val ra = cells.groupBy((keyCols :+ "_x2_a").map(col): _*)
      .agg(sum(col("_x2_o")).as("_x2_r"))
    val cb = cells.groupBy((keyCols :+ "_x2_b").map(col): _*)
      .agg(sum(col("_x2_o")).as("_x2_c"))
    val tot = cells.groupBy(keyCols.map(col): _*)
      .agg(sum(col("_x2_o")).as("n"),
        countDistinct(col("_x2_a")).as("_x2_nr"),
        countDistinct(col("_x2_b")).as("_x2_nc"))
      .withColumn("n", when(col("n") <= 3000000000L, col("n"))
        .otherwise(raise_error(concat(
          lit("chiSquareAssocQ20: per-key n exceeds the 3e9 exactness"
            + " bound — sample the slice first; n = "),
          col("n").cast("string")))))
    // full observed-label cross per key (censused alphabet² frame):
    // zero cells surface with O = 0 and contribute their expectation
    val cross = ra.join(cb, keyCols)
      .join(cells, keyCols :+ "_x2_a" :+ "_x2_b", "left")
      .withColumn("_x2_o", coalesce(col("_x2_o"), lit(0L)))
      .join(tot, keyCols)
      .withColumn("_x2_d",
        col("n").cast("decimal(38,0)") * col("_x2_o") -
          col("_x2_r").cast("decimal(38,0)") * col("_x2_c"))
      // non-negative dividend (d²): the bare div is floor
      .withColumn("_x2_t", expr(
        "cast((_x2_d * _x2_d) div " +
          "(cast(_x2_r as decimal(38,0)) * _x2_c) as decimal(38,0))"))
    cross.groupBy((keyCols :+ "n").map(col): _*)
      .agg(((max(col("_x2_nr")) - 1) * (max(col("_x2_nc")) - 1)).as("dof"),
        sum(col("_x2_t")).as("_x2_t"))
      .select((keyCols.map(col) :+ col("n") :+ col("dof") :+
        // non-negative dividend again: trunc = floor
        expr("cast((cast(1048576 as decimal(38,0)) * _x2_t) div n as bigint)")
          .as("chi2_q20")): _*)
  }

  /** McNEMAR'S TEST — the PAIRED model-comparison statistic an eval
    * pipeline reads before declaring "model B beats model A": on the
    * SAME labeled examples, only the discordant pairs carry signal —
    * b = A-right/B-wrong, c = A-wrong/B-right — and
    * χ²_McNemar = (b − c)²/(b + c) (McNemar, Psychometrika 1947; the
    * continuity-corrected variant is deliberately omitted — at corpus
    * n it changes nothing and breaks exactness). Unpaired accuracy
    * comparison over-states significance because the two error sets
    * overlap; McNemar conditions on the concordant mass.
    *
    * Exact form: mcnemar_q20 = ⌊2²⁰·(b−c)²/(b+c)⌋ — the dividend is a
    * square (≥ 0), so the bare floor-div is safe; b + c = 0 (the
    * models never disagree) yields NULL (undefined, the
    * [[cohenKappaQ20]] convention). Rows with a NULL label or NULL
    * prediction are excluded. (b−c)² needs |b−c| ≤ 3·10⁹ per key for
    * decimal(38,0) after the 2²⁰ scale — same bound and in-plan raise
    * as [[chiSquareAssocQ20]].
    *
    * 100 TB shape: ONE map-side-combining aggregation reduces the
    * corpus to four per-key counters; the statistic is scalar algebra.
    * Counters are SUMS, so per-shard results re-sum (continuous-eval
    * ready). Returns (keys..., n, n_disagree_a (=b), n_disagree_b (=c),
    * mcnemar_q20 [nullable]). */
  def mcnemarQ20(df: DataFrame, keyCols: Seq[String], yCol: String,
                 predACol: String, predBCol: String): DataFrame = {
    require(keyCols.nonEmpty, "mcnemarQ20 needs >= 1 group key")
    val reserved = Seq("_mn_b", "_mn_c", "_mn_d", "n", "n_disagree_a",
      "n_disagree_b", "mcnemar_q20")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"mcnemarQ20 reserves column $c — rename the key column"))
    val ok = col(yCol).isNotNull && col(predACol).isNotNull &&
      col(predBCol).isNotNull
    val aRight = col(predACol) === col(yCol)
    val bRight = col(predBCol) === col(yCol)
    df.filter(ok)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(aRight && !bRight, 1L).otherwise(0L)).as("n_disagree_a"),
        sum(when(!aRight && bRight, 1L).otherwise(0L)).as("n_disagree_b"))
      .withColumn("_mn_d", when(
        col("n_disagree_a") + col("n_disagree_b") <= 3000000000L,
        (col("n_disagree_a") - col("n_disagree_b")).cast("decimal(38,0)"))
        .otherwise(raise_error(lit(
          "mcnemarQ20: discordant count exceeds the 3e9 exactness bound"
            + " — sample the eval set first"))))
      .select((keyCols.map(col) :+ col("n") :+ col("n_disagree_a") :+
        col("n_disagree_b") :+
        when(col("n_disagree_a") + col("n_disagree_b") === 0,
          lit(null).cast("long"))
          // squared dividend >= 0: the bare div is floor
          .otherwise(expr("cast((cast(1048576 as decimal(38,0)) " +
            "* _mn_d * _mn_d) div " +
            "cast(n_disagree_a + n_disagree_b as decimal(38,0)) as bigint)"))
          .as("mcnemar_q20")): _*)
  }

  /** KENDALL'S TAU-A — rank agreement between two integer scorers on
    * the same documents ("do the Gopher heuristic and the trained model
    * ORDER the corpus the same way?"), the scorer-QA complement of
    * value-level agreement (κ families) and paired accuracy (McNemar):
    * τ_a = 2(C − D)/(n(n−1)) over concordant/discordant pairs; ties
    * (either coordinate) count neither, so τ_a (unlike τ_b) stays an
    * exact rational — the [[graft.ext.Retrieval.evalRun]] reciprocal-
    * rank move. Signed → positive-mod Q20 floor; n < 2 → NULL.
    *
    * 100 TB shape: the corpus reduces in ONE (keys, x, y)-keyed
    * aggregation to score CELLS; pair counting is a strict-upper
    * (x2 > x1) self-join of that cell frame — |cells|² work, so the
    * cell census is load-bearing: scores must be BUCKETED (the x77b
    * quantization convention) and a per-key census raises in-plan
    * above `maxCells` (default 4096 → ≤ 2²⁴ pair terms per key).
    * NULL scores excluded. Returns (keys..., n, n_conc, n_disc,
    * tau_q20 [nullable]). */
  def kendallTauAQ20(df: DataFrame, keyCols: Seq[String], xCol: String,
                     yCol: String, maxCells: Long = 4096L): DataFrame =
    kendallTauAFromCells(kendallCells(df, keyCols, xCol, yCol), keyCols,
      maxCells)

  /** The (keys, _kt_x, _kt_y, _kt_o) score-cell table [[kendallTauAQ20]]
    * reduces the corpus to — exposed because cell counts are SUMS:
    * per-batch tables re-sum ([[mergeKendallCells]]) into the one-shot
    * table bit-for-bit, the x98b/confusionCells staged-ingest
    * convention. The integer-score contract raises in-plan here. */
  def kendallCells(df: DataFrame, keyCols: Seq[String], xCol: String,
                   yCol: String): DataFrame = {
    require(keyCols.nonEmpty, "kendallCells needs >= 1 group key")
    val reserved = Seq("_kt_x", "_kt_y", "_kt_o", "_kt_x2", "_kt_y2",
      "_kt_o2", "_kt_cells", "_kt_cd", "n", "n_conc", "n_disc", "tau_q20")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"kendallCells reserves column $c — rename the key column"))
    def ic(cn: String) = when(col(cn).cast("long") === col(cn),
        col(cn).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"kendallTauAQ20 needs integer scores; $cn = "),
        col(cn).cast("string"))))
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((keyCols.map(col) :+ ic(xCol).as("_kt_x") :+
        ic(yCol).as("_kt_y")): _*)
      .groupBy((keyCols :+ "_kt_x" :+ "_kt_y").map(col): _*)
      .agg(count(lit(1)).as("_kt_o"))
  }

  /** Merge [[kendallCells]] tables by cell re-sum — merged ≡ one-shot. */
  def mergeKendallCells(tables: Seq[DataFrame],
                        keyCols: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "mergeKendallCells needs at least one table")
    tables.reduce(_ unionByName _)
      .groupBy((keyCols :+ "_kt_x" :+ "_kt_y").map(col): _*)
      .agg(sum(col("_kt_o")).as("_kt_o"))
  }

  /** τ_a from a [[kendallCells]] table (see [[kendallTauAQ20]] for the
    * statistic, its census bound, and the raise contracts). */
  def kendallTauAFromCells(cells: DataFrame, keyCols: Seq[String],
                           maxCells: Long = 4096L): DataFrame = {
    require(keyCols.nonEmpty, "kendallTauAFromCells needs >= 1 group key")
    require(maxCells >= 1 && maxCells <= (1L << 16),
      s"maxCells must be in [1, 2^16]: $maxCells")
    // the raise rides the KEPT column n — a standalone check column
    // would be pruned away by Catalyst and never evaluate
    val census = cells.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_kt_cells"), sum(col("_kt_o")).as("n"))
      .withColumn("n", when(col("_kt_cells") <= maxCells, col("n"))
        .otherwise(raise_error(concat(
          lit(s"kendallTauAQ20: score-cell census exceeds maxCells="
            + s"$maxCells — bucket the scores coarser; cells = "),
          col("_kt_cells").cast("string")))))
    // PRE-censused gate (the x41 occ-cap discipline): the pair sweep is
    // |cells|² work, so the raise must fire BEFORE that join runs, not
    // on its output. Joining cells against a per-key gate whose raise
    // rides a FILTER predicate means every input row to the quadratic
    // join has already passed (or thrown) the census check — an
    // over-budget key never feeds the sweep. The gate side is one row
    // per key (broadcast-sized).
    val gate = cells.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_kt_gc"))
      .select((keyCols.map(col) :+
        when(col("_kt_gc") <= maxCells, lit(true))
          .otherwise(raise_error(concat(
            lit(s"kendallTauAQ20: score-cell census exceeds maxCells="
              + s"$maxCells — bucket the scores coarser; cells = "),
            col("_kt_gc").cast("string")))).as("_kt_gate")): _*)
    val gated = cells.join(gate, keyCols)
      .filter(col("_kt_gate")).drop("_kt_gate")
    // strict-upper pair sweep on the censused cell frame: each pair of
    // cells with x2 > x1 contributes o1·o2 concordant (y2 > y1) or
    // discordant (y2 < y1) pairs; y2 = y1 is a tie and contributes none
    val c2 = gated.select((keyCols.map(col) :+
      col("_kt_x").as("_kt_x2") :+ col("_kt_y").as("_kt_y2") :+
      col("_kt_o").as("_kt_o2")): _*)
    val pairs = gated.join(c2, keyCols)
      .filter(col("_kt_x2") > col("_kt_x"))
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(when(col("_kt_y2") > col("_kt_y"),
          col("_kt_o").cast("decimal(38,0)") * col("_kt_o2"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("n_conc"),
        sum(when(col("_kt_y2") < col("_kt_y"),
          col("_kt_o").cast("decimal(38,0)") * col("_kt_o2"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("n_disc"))
    census.join(pairs, keyCols, "left")
      .withColumn("n_conc",
        coalesce(col("n_conc"), lit(0).cast("decimal(38,0)")))
      .withColumn("n_disc",
        coalesce(col("n_disc"), lit(0).cast("decimal(38,0)")))
      .withColumn("_kt_cd", expr(
        "cast(2097152 as decimal(38,0)) * (n_conc - n_disc)"))
      .select((keyCols.map(col) :+ col("n") :+
        col("n_conc").cast("long").as("n_conc") :+
        col("n_disc").cast("long").as("n_disc") :+
        when(col("n") < 2, lit(null).cast("long"))
          // signed dividend: the positive-mod floor correction over
          // the exact pair denominator n(n−1)
          .otherwise(expr(
            """cast((_kt_cd - pmod(_kt_cd,
                 cast(n as decimal(38,0)) * (n - 1)))
               div (cast(n as decimal(38,0)) * (n - 1)) as bigint)"""))
          .as("tau_q20")): _*)
  }

  /** Score a text with trained [[centroidThresholdTrain]] weights (one
    * weight per bucket, no bias — the threshold plays that role): raw
    * integer Σ w_b·cnt_b as decimal(38,0), a zero-exchange projection. */
  def centroidScore(text: Column, weights: Seq[Long]): Column = {
    val n = weights.size
    require(n > 0 && n <= 256, "bucket count must fit the 2-hex-digit hash")
    val wlit = typedlit(weights)
    val terms = transform(split(TextStats.wsTrim(text), "\\s+"), t =>
      element_at(wlit,
        (conv(substring(md5(t), 1, 2), 16, 10).cast("long") % n).cast("int")
          + 1).cast("decimal(38,0)"))
    aggregate(terms, lit(0L).cast("decimal(38,0)"), (acc, x) => acc + x)
  }

  /** Data-driven form of [[centroidThresholdTrain]] for PRODUCTION-WIDTH
    * models — the weight table is a DataFrame, not a plan literal, so
    * PLAN SIZE IS INDEPENDENT OF BUCKET COUNT (the
    * [[graft.ext.TextStats.tokenIdsJoin]] / ivfAssignJoin lesson): a real
    * fastText-class quality model hashes into 10⁵–10⁶ buckets, and a
    * million-entry `typedlit` would bloat the plan and defeat codegen.
    * Same exact math as the literal trainer — Q20 mean-difference
    * weights, census-bounded threshold sweep — but every step stays
    * distributed: the class bucket sums REDUCE on the bucket key (never
    * collected), the Q20 floor-divs run as ANSI decimal `div` inside
    * that aggregation (non-negative operands, so truncation = floor,
    * HUGEINT-exact in the oracle), and training scores come from one
    * broadcast join of the ≤nBuckets-row weight table against the
    * (id, bucket, count) feature frame. ANSI mode makes any long
    * overflow in the weight subtraction throw instead of wrap — the
    * [[centroidWeightFold]] contract, enforced by the engine.
    *
    * With `hexDigits = 2` and the same nBuckets this trains the
    * BIT-IDENTICAL artifact to [[centroidThresholdTrain]] (LearnSpec
    * pins the parity); `hexDigits = 4` opens 65 536 hash buckets.
    * Returns (weights: DataFrame(b: int, w: long), thresholdQ) —
    * deploy with [[centroidScoreJoin]]. */
  def centroidThresholdTrainJoin(df: DataFrame, textCol: String,
                                 idCol: String, labelCol: String,
                                 nBuckets: Int, hexDigits: Int = 4,
                                 quantStep: Long = 1L,
                                 maxSweepCandidates: Long = 1L << 20,
                                 stageWeights: Boolean = true): (DataFrame, Long) = {
    require(quantStep >= 1L, "quantStep must be >= 1")
    val feat = hashedTokenFeatures(df, textCol, idCol, labelCol, nBuckets,
      includeBias = false, hexDigits = hexDigits)
    val docs = feat.select(col(idCol), col("_pc_y")).distinct()
    val cls = docs.groupBy(col("_pc_y")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(cls.keySet.subsetOf(Set(1L, -1L)),
      s"labels must be exactly +1/-1, got ${cls.keySet.mkString(", ")}")
    val nPos = cls.getOrElse(1L, 0L)
    val nNeg = cls.getOrElse(-1L, 0L)
    require(nPos > 0 && nNeg > 0,
      s"centroidThresholdTrainJoin needs both classes (got +1: $nPos, -1: $nNeg)")
    // w_b = (2^20·cp_b) div n+ − (2^20·cn_b) div n−, computed WHERE THE
    // BUCKET LIVES: one bucket-keyed aggregation, decimal(38,0) sums,
    // ANSI div (floor on these non-negative operands), long subtraction
    // that throws on overflow instead of wrapping
    val weights0 = feat
      .groupBy(col("_pc_b").as("b"))
      .agg(sum(when(col("_pc_y") > 0, col("_pc_c")).otherwise(0L)
          .cast("decimal(38,0)")).as("_pc_cp"),
        sum(when(col("_pc_y") < 0, col("_pc_c")).otherwise(0L)
          .cast("decimal(38,0)")).as("_pc_cn"))
      .select(col("b"),
        (expr(s"(_pc_cp * 1048576) div $nPos")
          - expr(s"(_pc_cn * 1048576) div $nNeg")).as("w"))
    // stage the trained artifact (default): the weight table is tiny
    // (≤ nBuckets rows) but its LINEAGE is a full corpus pass — staging
    // makes the sweep's jobs and every deployment read a flat ≤nBuckets-
    // row parquet instead of re-training per job (the Stage /
    // x35 stagePerIteration contract: temp dir, JVM-exit cleanup)
    val weights =
      if (stageWeights)
        Stage(weights0)
      else weights0
    // training scores via the SAME broadcast-join scorer deployment
    // uses; the sweep is the shared census-bounded step
    val scored = feat.join(broadcast(weights), col("_pc_b") === col("b"), "left")
      .groupBy(col(idCol), col("_pc_y"))
      .agg(sum(coalesce(col("w"), lit(0L)).cast("decimal(38,0)")
        * col("_pc_c")).as("_pc_s"))
    val t = thresholdSweep(scored.select(col("_pc_y"), col("_pc_s")),
      nPos, quantStep, maxSweepCandidates)
    (weights, t)
  }

  /** Deploy trained [[centroidThresholdTrainJoin]] weights: score =
    * Σ_b w_b·cnt_{doc,b} as decimal(38,0), via one zero-exchange
    * tokenize→hash→count projection and ONE broadcast hash join of the
    * weight table (buckets absent from the table score 0, matching the
    * literal scorer's zero weights). The corpus never shuffles on
    * anything but the doc id. Returns (idCol, score); empty/null texts
    * are absent, like [[centroidScore]]'s deployment filter. */
  def centroidScoreJoin(df: DataFrame, textCol: String, idCol: String,
                        weights: DataFrame, nBuckets: Int,
                        hexDigits: Int = 4): DataFrame = {
    require(weights.columns.toSet == Set("b", "w"),
      "weights must have exactly (b, w) — centroidThresholdTrainJoin's shape")
    Seq("_pc_b", "_pc_c", "_pc_tok", "score").foreach(c =>
      require(c != idCol && !df.columns.contains(c),
        s"centroidScoreJoin reserves column $c"))
    val feat = df
      .filter(col(textCol).isNotNull && TextStats.wsTrim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(split(TextStats.wsTrim(col(textCol)), "\\s+")).as("_pc_tok"))
      .withColumn("_pc_b",
        (conv(substring(md5(col("_pc_tok")), 1, hexDigits), 16, 10).cast("long")
          % nBuckets).cast("int"))
      .groupBy(col(idCol), col("_pc_b"))
      .agg(count(lit(1)).cast("long").as("_pc_c"))
    feat.join(broadcast(weights), col("_pc_b") === col("b"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("w"), lit(0L)).cast("decimal(38,0)")
        * col("_pc_c")).as("score"))
  }

  /** Score a text with trained [[perceptronTrain]] weights: the raw
    * integer score `Σ_b w_b·cnt_b + bias` as decimal(38,0) — a pure
    * zero-exchange projection (tokenize → hash → literal lookup → fold),
    * the deployment shape of the learned filter. `weights.size - 1` is
    * the bucket count; the last entry is the bias. */
  def perceptronScore(text: Column, weights: Seq[Long]): Column = {
    val n = weights.size - 1
    require(n > 0 && n <= 256, "weights must be nBuckets+1 with nBuckets <= 256")
    val wlit = typedlit(weights)
    val terms = transform(split(TextStats.wsTrim(text), "\\s+"), t =>
      element_at(wlit,
        (conv(substring(md5(t), 1, 2), 16, 10).cast("long") % n).cast("int")
          + 1).cast("decimal(38,0)"))
    aggregate(terms, lit(weights.last).cast("decimal(38,0)"),
      (acc, x) => acc + x)
  }
}
