package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Stage

/** Embedding similarity search over an `array<float>` column.
  *
  * Scale design: the query set is the small side — it is broadcast and the
  * corpus is streamed through it (one task per corpus partition, no corpus
  * shuffle for scoring). The only shuffle is the per-query top-k, which
  * carries (q_id, n_id, score) triples, never vectors.
  *
  * Two arithmetic paths:
  *  - `dot`/`cosine`: double fold — fastest, used for real ranking;
  *  - `quantizedDot`: Q30 fixed point (native DotQ30) — order-independent
  *    and engine-portable, used on oracle-checked paths so results are
  *    bit-identical across engines regardless of reduction order.
  */
object Similarity {

  /** Dot product of two float vectors as a left-to-right double fold.
    * Elements are widened to double BEFORE multiplying: the product of two
    * 24-bit mantissas fits a double exactly, so each term is exact. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Order-independent, engine-portable dot product via Q30 fixed point:
    * each exact double product (see [[dot]]) is scaled by 2^30 (exact —
    * power of two) and floored to a long; longs sum exactly in any order;
    * the final divide by 2^30 is again exact. Quantization error ≤
    * dim·2^-30; every step is deterministic IEEE arithmetic with no
    * rounding-mode dependence, so results are bit-identical across engines. */
  def quantizedDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.DotQ30(
        org.apache.spark.sql.graftbridge.Bridge.expression(a),
        org.apache.spark.sql.graftbridge.Bridge.expression(b)))

  /** Squared Euclidean distance in exact Q30 integers: Σᵢ
    * floor((aᵢ−bᵢ)²·2³⁰) as a long. Each per-component step is
    * deterministic IEEE arithmetic (exact float→double widening, one
    * subtraction, one multiply, an exact ×2³⁰, floor), so the sum is
    * bit-identical across engines — the [[quantizedDot]] convention in
    * distance form. */
  def quantizedDistQ30(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      floor(d * d * lit((1L << 30).toDouble)).cast("long")
    }), lit(0L), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force top-k: every corpus row scored against every (broadcast)
    * query row, then per-query top-k via the bounded [[graft.functions.TopKAgg]]
    * aggregator — the map side already truncates to k, so the shuffle
    * carries O(k·partitions·|queries|) rows, not the full scored set (a
    * window/row_number formulation shuffles everything). Ids must be
    * long-castable; ordering is score desc, id asc — identical to a
    * row_number ranking. Exact baseline / ground truth for the ANN paths. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int,
                     score: (Column, Column) => Column): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), score(col("q_vec"), col("n_vec")).as("score"))
    topKPerQuery(scored, k)
  }

  /** (q_id, n_id, score) → top-k per q_id via the bounded TopKAgg (map-side
    * k-truncation; see graft.functions.TopKAgg). Shared ranking tail of the
    * brute-force and IVF paths. */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(col("q_id").cast("long").as("_1"),
        struct(col("score").cast("double").as("score"),
          col("n_id").cast("long").as("id")).as("_2"))
      .as[(Long, graft.functions.Scored)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.TopKAgg(k).toColumn.name("topk"))
      .toDF("q_id", "topk")
      .select(col("q_id"), posexplode(col("topk")).as(Seq("r", "c")))
      .select(col("q_id"), col("c.id").as("n_id"), col("c.score").as("score"),
        (col("r") + 1).as("rank"))
  }

  /** The RHP plane matrix: `nPlanes` rows of `dim` Gaussian draws from a
    * seeded RNG. Public so the oracle side can emit the IDENTICAL double
    * literals into SQL (java.lang.Double.toString is shortest-repr and
    * round-trips exactly through any correctly-rounding parser, DuckDB
    * included) — which is what makes [[rhpSignature]] oracle-checkable. */
  def rhpPlanes(dim: Int, nPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Random-hyperplane LSH signature for cosine similarity: bit p of the
    * signature is the sign of ⟨v, plane_p⟩ with planes drawn once from a
    * seeded RNG (deterministic across runs/executors — the plane matrix is
    * generated on the driver and folded into the plan as literals, i.e.
    * broadcast). Vectors with close cosine agree on most bits, so equal
    * signatures (or signature bands) are near-dup candidates: a pure
    * projection + an equi-join on a long key — the shuffle carries only
    * (signature, id) pairs, never vectors.
    *
    * The plane dot is Q30 fixed point (floor each double product to a long
    * step, sum exactly): a plain double fold is reduction-order-sensitive,
    * so a sum landing within an ulp of 0 could flip the bit between
    * engines; the Q30 sign test is bit-identical everywhere. */
  def rhpSignature(vec: Column, dim: Int, nPlanes: Int, seed: Long = 42L): Column = {
    require(nPlanes <= 63, "signature packs into one long")
    val planes = rhpPlanes(dim, nPlanes, seed)
    (0 until nPlanes).map { p =>
      val plane = array(planes(p).toSeq.map(lit): _*)
      val q30 = aggregate(
        zip_with(vec, plane,
          (x, w) => floor(x.cast("double") * w * lit(Q30Scale)).cast("long")),
        lit(0L), (acc, t) => acc + t)
      when(q30 > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  private final val Q30Scale = (1L << 30).toDouble

  /** Margin-based candidate pair mining (Artetxe & Schwenk 2019 — the
    * criterion LASER/CCMatrix-style parallel-corpus mining selects pairs
    * with): a candidate (x, y) is scored by its similarity RELATIVE to
    * each side's local neighborhood,
    *
    *   margin(x, y) = 2·s(x, y) / (mean_k(x) + mean_k(y))
    *
    * (the "ratio" variant), which demotes hub vectors that are close to
    * EVERYTHING — raw top-1 similarity mines hubs, margin mines mutual
    * fits. Returns, per left row, the best-margin right candidate among
    * the left row's k nearest.
    *
    * Cross-engine exactness: s is the Q30 quantized dot ([[quantizedDot]]
    * — order-independent longs), the neighborhood means stay SUMS
    * (margin = 2·k·s / (sum_k(x) + sum_k(y)) — same value, one division),
    * the single division is a Q20 floor-div with the positive-mod trick
    * (truncating and flooring engines agree even on negative numerators),
    * and candidates whose denominator is ≤ 0 are dropped (margin
    * undefined — both neighborhoods anti-aligned; with the normalized
    * embeddings this mines in practice, denominators are positive).
    *
    * Scale shape: two [[bruteForceTopK]] passes (broadcast the query
    * side, stream the corpus, map-side TopKAgg truncation — the shuffle
    * carries (q, n, score) triples only), two id-keyed (id, long) sum
    * tables joined back by id, and a per-left argmax over ≤ k candidate
    * rows. Past brute-force scale, swap the top-k passes for
    * [[ivfTopKJoin]] — the margin algebra is unchanged. Both sides must
    * have ≥ k rows (fewer would silently shrink a neighborhood sum and
    * inflate that side's margins).
    *
    * Returns (q_id, n_id, margin_q20) — q_id from `left`, its mined
    * match from `right`, margin in Q20 fixed point. */
  def marginMine(left: DataFrame, right: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val q30 = (a: Column, b: Column) => quantizedDot(a, b)
    // score columns out of topKPerQuery are exact integer-valued doubles
    // (acc/2^30); ×2^30 recovers the long bit-exactly
    def toLong(c: Column): Column = (c * lit(Q30Scale)).cast("long")
    val fwd = bruteForceTopK(right, left, idCol, vecCol, k, q30)
    val bwd = bruteForceTopK(left, right, idCol, vecCol, k, q30)
    def sums(tk: DataFrame, out: String) = tk.groupBy(col("q_id"))
      .agg(sum(toLong(col("score"))).as(out))
    val ls = sums(fwd, "_mm_ls")
    val rs = sums(bwd, "_mm_rs").withColumnRenamed("q_id", "n_id")
    val cand = fwd
      .select(col("q_id"), col("n_id"), toLong(col("score")).as("_mm_s"))
      .join(ls, Seq("q_id"))
      .join(rs, Seq("n_id"))
      .withColumn("_mm_den", col("_mm_ls") + col("_mm_rs"))
      .filter(col("_mm_den") > 0)
      // margin_q20 = floor(2·k·s·2^20 / den) via the positive-mod trick
      // (numerator may be negative; den > 0 by the filter above)
      .withColumn("_mm_numr",
        expr(s"cast(2 * _mm_s as decimal(38,0)) * $k * 1048576"))
      .withColumn("margin_q20", expr(
        """cast((_mm_numr - ((_mm_numr % _mm_den + _mm_den) % _mm_den))
           div _mm_den as bigint)"""))
    cand
      .withColumn("_mm_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("margin_q20").desc, col("n_id"))))
      .filter(col("_mm_rn") === 1)
      .select(col("q_id"), col("n_id"), col("margin_q20"))
  }

  /** Candidate near-dup pairs via exact RHP-signature collision, verified
    * with the Q30-exact cosine (engine-portable arithmetic — see
    * [[quantizedDot]]). `minCos` filters the verified pairs. */
  def rhpNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                      nPlanes: Int, minCos: Double): DataFrame = {
    val sig = df.select(col(idCol), col(vecCol),
      rhpSignature(col(vecCol), dim, nPlanes).as("sig"),
      sqrt(quantizedDot(col(vecCol), col(vecCol))).as("nrm"))
    val a = sig.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      col("sig"), col("nrm").as("a_nrm"))
    val b = sig.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      col("sig").as("sig_b"), col("nrm").as("b_nrm"))
    a.join(b, col("sig") === col("sig_b") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (quantizedDot(col("a_vec"), col("b_vec")) / (col("a_nrm") * col("b_nrm")))
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Symmetric int8 quantization of a float vector: scale = max|x|/127,
    * elements floored to ints in [-127, 127]. Deterministic (floor of an
    * exact double division — no round-half ambiguity across engines) and
    * 4× smaller than float32: the storage/bandwidth move that keeps a
    * 100 TB ANN corpus scannable. Returns a (scale, q) struct.
    *
    * NOTE: the scale expression is inlined inside the element lambda, so
    * this single-Column form costs O(dim²) per row — fine for small dims
    * and tests; at real embedding widths use [[quantizeInt8Frame]], which
    * stages the scale as its own projection (O(dim) per row). */
  def quantizeInt8(vec: Column): Column = {
    val scale = scaleInt8(vec)
    struct(scale.as("scale"), int8Elements(vec, scale).as("q"))
  }

  private def scaleInt8(vec: Column): Column = greatest(
    aggregate(vec, lit(0.0), (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0,
    lit(1e-12))

  private def int8Elements(vec: Column, scale: Column): Column =
    transform(vec, x =>
      greatest(least(floor(x.cast("double") / scale), lit(127.0)), lit(-127.0))
        .cast("long"))

  /** Efficient quantization over a frame: the per-row scale lands in its
    * own projection first, so the element lambda reads a plain column
    * reference — one max-reduction per row, not per element. */
  def quantizeInt8Frame(df: DataFrame, vecCol: String, outCol: String): DataFrame =
    df.withColumn("_q_scale", scaleInt8(col(vecCol)))
      .withColumn(outCol, struct(col("_q_scale").as("scale"),
        int8Elements(col(vecCol), col("_q_scale")).as("q")))
      .drop("_q_scale")

  /** Exact integer dot of two quantized vectors, rescaled: Σ qa·qb is an
    * exact long sum (order-independent), the two scale factors multiply
    * once at the end — bit-identical across engines, like Q30. */
  def quantizedInt8Dot(a: Column, b: Column): Column =
    aggregate(zip_with(a("q"), b("q"), (x, y) => x * y), lit(0L), (acc, x) => acc + x)
      .cast("double") * a("scale") * b("scale")

  /** Axis-aligned sign-bucket signature: bit i = [vec[i] > 0] — RHP with
    * the standard basis as the plane set. Same plan shape and scale
    * behavior as [[rhpSignature]] (pure projection → packed long), but
    * expressible in ANSI SQL, so candidate generation AND verification are
    * oracle-checkable end to end. */
  def signBucketSignature(vec: Column, nBits: Int): Column = {
    require(nBits <= 63, "signature packs into one long")
    (0 until nBits).map(i =>
      when(get(vec, lit(i)) > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
  }

  /** Embedding near-dup pairs from sign-bucket LSH candidates, verified
    * with the Q30-exact cosine (engine-portable arithmetic, like the x7
    * fixture). Candidates come from an equi-join on the packed long
    * signature: the shuffle carries (sig, id, vec) rows once each —
    * O(n + |candidates|), never all-pairs within a block. */
  def signBucketNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                             nBits: Int, minCos: Double): DataFrame = {
    val sig = df.select(col(idCol), col(vecCol),
      signBucketSignature(col(vecCol), nBits).as("sig"),
      sqrt(quantizedDot(col(vecCol), col(vecCol))).as("nrm"))
    val a = sig.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      col("sig"), col("nrm").as("a_nrm"))
    val b = sig.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      col("sig").as("sig_b"), col("nrm").as("b_nrm"))
    a.join(b, col("sig") === col("sig_b") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (quantizedDot(col("a_vec"), col("b_vec")) / (col("a_nrm") * col("b_nrm")))
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Q30 dot as the exact LONG (score × 2³⁰): long partial sums compose
    * exactly in any order — the form to use when per-subspace dots are
    * summed (a double fold would round per addition). */
  def quantizedDotQ30Long(a: Column, b: Column): Column =
    (quantizedDot(a, b) * lit((1L << 30).toDouble)).cast("long")

  // ───────────────────── product quantization (PQ) ─────────────────────

  /** PQ codebook: for each of `m` subspaces, the sub-vectors of the first
    * `k` corpus rows (by id) — deterministic "seed" centroids, the same
    * convention as [[ivfTopK]]'s, so the whole PQ pipeline is
    * oracle-checkable. Bounded driver data (m × k × dim/m floats), like
    * any literal dimension table. Real deployments would k-means these;
    * the operator is agnostic to where the codebook came from. */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                 m: Int, k: Int, dim: Int): Seq[Seq[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val rows = corpus.filter(col(idCol) < k)
      .select(col(idCol).cast("int"), col(vecCol)).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    (0 until m).map(mi => rows.toSeq.map { case (_, v) =>
      java.util.Arrays.copyOfRange(v, mi * subDim, (mi + 1) * subDim) })
  }

  /** PQ encode: per subspace, the L2-nearest codebook centroid's index —
    * argmin over ‖x−c‖² ≡ argmin over (c·c − 2·x·c) (x·x is constant per
    * x), computed ENTIRELY in Q30 longs so the argmin (tie → lowest cid)
    * is bit-identical across engines. A pure projection: the corpus
    * compresses m·log₂(k) bits per row with no shuffle — the PQ memory
    * move that makes billion-vector corpora RAM-resident. */
  def pqEncode(df: DataFrame, vecCol: String, codebook: Seq[Seq[Array[Float]]],
               outCol: String = "codes"): DataFrame = {
    val m = codebook.size
    val subDim = codebook.head.head.length
    val codes = array((0 until m).map { mi =>
      val sub = slice(col(vecCol), mi * subDim + 1, subDim)
      val vals = transform(typedlit(codebook(mi).map(_.toSeq)), c =>
        quantizedDotQ30Long(c, c) - lit(2L) * quantizedDotQ30Long(sub, c))
      (array_position(vals, array_min(vals)) - 1).cast("int")
    }: _*)
    df.withColumn(outCol, codes)
  }

  /** PQ top-k via asymmetric distance: the query stays exact, each corpus
    * row is represented by its per-subspace centroids — approx dot(q, x) =
    * Σ_m q_m · c[m][code_m(x)], per-subspace Q30 longs summed exactly.
    * Queries broadcast; the encoded corpus streams; the only shuffle is
    * the bounded per-query top-k (TopKAgg map-side truncation). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, codebook: Seq[Seq[Array[Float]]],
             k: Int): DataFrame = {
    val m = codebook.size
    val subDim = codebook.head.head.length
    val cbLit = typedlit(codebook.map(_.map(_.toSeq)))
    val encoded = pqEncode(corpus, vecCol, codebook)
      .select(col(idCol).as("n_id"), col("codes"))
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val scoreQ30 = (0 until m).map { mi =>
      val qSub = slice(col("q_vec"), mi * subDim + 1, subDim)
      val cent = element_at(element_at(cbLit, mi + 1),
        element_at(col("codes"), mi + 1) + 1)
      quantizedDotQ30Long(qSub, cent)
    }.reduce(_ + _)
    val scored = encoded.crossJoin(q)
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (scoreQ30.cast("double") / lit((1L << 30).toDouble)).as("score"))
    topKPerQuery(scored, k)
  }

  /** Per-row centroid scores, one typedlit array literal per centroid
    * (bounded metadata — never per-element lit() nodes, which were
    * measured to blow up codegen compile time): the assignment is a pure
    * projection — no crossJoin, no window, no shuffle. Deliberately NOT a
    * transform() over one nested literal: a custom expression (DotQ30)
    * inside a higher-order-function lambda is missed by the analyzer's
    * self-join attribute dedup (Spark 4.1 — hit by x30's within-cell
    * pair join: ATTRIBUTE_NOT_FOUND at bind time), while the same
    * expression as a direct array element rewrites fine — and the
    * unrolled form is also friendlier to whole-stage codegen.
    *
    * CEILING: plan/codegen cost is LINEAR in the centroid count (one
    * expression node per centroid), so this unrolled form is for small
    * centroid sets only — roughly ≤ a few hundred. Past that (SemDeDup
    * wants 10⁴–10⁵ clusters) use [[ivfAssignJoin]], whose plan size is
    * independent of the centroid count. */
  private def centroidScores(vec: Column, cents: Seq[Array[Float]],
                             q30: Boolean = false): Column =
    array(cents.map { c =>
      if (q30) quantizedDot(vec, typedlit(c.toSeq))
      else dot(vec, typedlit(c.toSeq))
    }: _*)

  /** IVF-style ANN: assign every corpus vector to its nearest centroid,
    * then search only the `nProbe` closest centroids' cells per query.
    * At 100 TB this turns a full scan per query into a scan of
    * nProbe/nCentroids of the corpus; the assigned corpus can be written
    * `partitionBy(cid)` for static pruning. Centroids (a small DataFrame
    * of (cid, cvec)) are collected — bounded driver data, like any
    * literal dimension. Ties pick the lowest cid (deterministic). */
  /** `q30 = true` makes the assignment argmax engine-portable (Q30
    * centroid scores; `array_position` of the max picks the LOWEST cid on
    * ties — the same (score desc, cid asc) ranking an oracle's row_number
    * uses), so the whole IVF pipeline becomes oracle-checkable. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame, idCol: String,
                vecCol: String, q30: Boolean = false): DataFrame = {
    val cents = collectCentroids(centroids)
    val scores = centroidScores(col(vecCol), cents.map(_._2), q30)
    val cid = (array_position(scores, array_max(scores)) - 1).cast("int")
    corpus.withColumn("cid", cid)
  }

  /** DATA-DRIVEN centroid assignment — the large-centroid-set path.
    * [[ivfAssign]] folds every centroid into the plan as a literal, so
    * plan/codegen cost grows linearly with the centroid count and the
    * 10⁴–10⁵-cluster regime SemDeDup runs at (Abbas et al. 2023 uses
    * ~110k for LAION) blows up plan compilation. Here the centroid table
    * stays DATA: the corpus BroadcastHashJoins (constant key — every
    * corpus row meets every broadcast centroid inside its own task, no
    * corpus movement) against the broadcast (cid, cvec) table, each
    * candidate scores via the native Q30 dot, and a groupBy argmax keeps
    * the best cell. Plan size is INDEPENDENT of the centroid count
    * (PlanSpec pins this); the shuffles are the argmax aggregation —
    * (id, long) pairs only, its map-side partial collapsing the
    * ×nCentroids fan-out back to one row per corpus row before the
    * exchange — and the id-keyed join that puts the winning cid back on
    * the corpus row.
    *
    * Determinism: the score is the exact Q30 long (engine-portable) and
    * ties take the LOWEST cid via max over struct(score, −cid) — the same
    * (score desc, cid asc) ranking [[ivfAssign]]'s `array_position` of
    * the max and an oracle's row_number use, so the two paths agree
    * bit-for-bit and the assignment is oracle-replayable.
    *
    * The argmax groups by `idCol` ALONE and aggregates the packed long —
    * the exchange before it carries (id, long) pairs with an O(1) hash per
    * candidate row, never the vector or any payload column (grouping by
    * the full row would re-hash the `array<float>` once per centroid:
    * O(k·dim) hashing per corpus row, and would drag every payload column
    * into the grouping key). The winning `cid` then joins back to the
    * corpus BY ID — one id-keyed shuffle of the corpus, the same payload
    * bytes the all-column grouping used to push through its exchange, now
    * keyed by an 8-byte id instead of the whole row.
    *
    * Preconditions: `idCol` unique AND non-null per row (the argmax keys
    * on it, and the cid join-back would drop null ids). Output = corpus
    * columns + `cid`, same contract as [[ivfAssign]]. */
  /** Max representable centroid id on the join-assignment path: (score,
    * cid) pack into ONE long — score in the high bits, (MaxJoinCid − cid)
    * in the low [[CidBits]] — so the argmax is a plain `max(long)`: a
    * primitive agg buffer keeps the aggregation in HashAggregate (a
    * struct-max buffer demotes to SortAggregate, which would sort the
    * corpus by (id, vector)). 2^20 ids ≫ the ~110k clusters SemDeDup
    * runs; the pack is overflow-safe under ANSI for |Q30 score| < 2^42,
    * i.e. unit-scale vectors with dims into the thousands. */
  private final val CidBits = 20
  final val MaxJoinCid: Int = (1 << CidBits) - 1

  /** Fan every row of `df` out against the broadcast centroid table via a
    * BroadcastHashJoin on an always-zero NON-FOLDABLE key (`size(vec)*0`):
    * a foldable constant key would constant-fold away and degrade the
    * plan to a BroadcastNestedLoopJoin. Adds `_c_cid` / `_c_vec`.
    *
    * When the centroid side is itself an aggregation (e.g. kMeansTrain's
    * trained rounds), the optimizer can still prove the key constant and
    * plan a condition-free BroadcastNestedLoopJoin — the SAME execution
    * shape (broadcast build side, streamed corpus, per-row loop over the
    * k centroids), so either plan satisfies the contract: the corpus is
    * never shuffled for scoring (x35 PlanSpec pins broadcast-only). */
  private def centroidFanout(df: DataFrame, centroids: DataFrame,
                             vecCol: String): DataFrame = {
    val cidChecked = when(col("cid").cast("long").between(0, MaxJoinCid),
        col("cid").cast("int"))
      .otherwise(raise_error(concat(
        lit(s"centroid cid must be in [0, $MaxJoinCid], got "),
        col("cid").cast("string"))).cast("int"))
    val c = broadcast(centroids.select(
      (size(col("cvec")) * lit(0)).as("_c_one"),
      cidChecked.as("_c_cid"), col("cvec").as("_c_vec")))
    df.withColumn("_c_one", size(col(vecCol)) * lit(0))
      .join(c, "_c_one")
      .drop("_c_one")
  }

  def ivfAssignJoin(corpus: DataFrame, centroids: DataFrame, idCol: String,
                    vecCol: String): DataFrame = {
    val internal = Set("_c_one", "_c_cid", "_c_vec", "_c_s", "_c_m")
    val clashes = corpus.columns.filter(internal)
    require(clashes.isEmpty,
      s"ivfAssignJoin reserves internal column names ${internal.mkString(", ")}; " +
        s"rename input columns: ${clashes.mkString(", ")}")
    // pack (score, cid) into one long: score·2^20 + (MaxJoinCid − cid) is
    // monotone in score, breaks score ties toward the LOWEST cid, and its
    // low 20 bits recover the cid regardless of the score's sign
    val packed = quantizedDotQ30Long(col(vecCol), col("_c_vec")) *
      lit(1L << CidBits) + (lit(MaxJoinCid) - col("_c_cid")).cast("long")
    // a null id would vanish silently in the cid join-back (inner join) —
    // fail loudly instead, one branch per corpus row (the same in-plan
    // guard style as centroidFanout's cid range check)
    val idChecked = when(col(idCol).isNotNull, col(idCol))
      .otherwise(raise_error(lit(s"ivfAssignJoin requires non-null '$idCol' " +
        "(the cid join-back would silently drop the row)"))
        .cast(corpus.schema(idCol).dataType))
    // argmax on the (id, vec) projection only: the agg buffer is ONE long,
    // so the aggregation stays a HashAggregate (primitive buffer) and its
    // exchange carries (id, long) pairs keyed by the id alone
    val cids = centroidFanout(corpus.select(idChecked.as(idCol), col(vecCol)),
        centroids, vecCol)
      .select(col(idCol), packed.as("_c_s"))
      .groupBy(col(idCol))
      .agg(max(col("_c_s")).as("_c_m"))
      .select(col(idCol),
        (lit(MaxJoinCid.toLong) - col("_c_m").bitwiseAND(lit(MaxJoinCid.toLong)))
          .cast("int").as("cid"))
    corpus.join(cids, Seq(idCol))
      .select(corpus.columns.toSeq.map(col) :+ col("cid"): _*)
  }

  /** Spherical k-means trainer in EXACT arithmetic — produces the
    * centroid tables [[ivfAssign]]/[[ivfAssignJoin]]/[[semDedupClusters]]
    * consume (their docs note "real deployments would k-means these";
    * this is that trainer, Spark-first). Per iteration: (1) assignment =
    * [[ivfAssignJoin]] — broadcast centroid fan-out, Q30 argmax, plan
    * size independent of k; (2) update = the per-cell mean, computed so
    * every step is engine-portable: elements quantize to Q30 longs
    * (floor(x·2³⁰) — exact), longs sum exactly in any order, the mean is
    * an exact floor-division (positive-mod trick, so truncating and
    * flooring engines agree), and the resulting m/2³⁰ double rounds once
    * to float (IEEE round-to-nearest, identical everywhere). The whole
    * training run is therefore bit-replayable in ANSI SQL — an ORACLE-
    * CHECKABLE k-means (x35).
    *
    * Cosine-argmax assignment + mean update without renormalization is
    * the spherical-k-means variant embedding pipelines run (SemDeDup
    * clusters with it); empty cells drop (standard Lloyd behavior).
    * Scale shape per iteration: one broadcast join for scoring (the ×k
    * candidate fan-out collapses map-side to one row per corpus row, and
    * the argmax exchange carries (id, long) pairs only), one id-keyed
    * join that moves the corpus vectors exactly once to meet their cids,
    * then two narrow shuffles of (cid, dim) longs for the update. The returned centroid plan is
    * lazy and grows per
    * iteration (`iters` is small in the SemDeDup/IVF regime); pass
    * `stagePerIteration = true` to write each round's centroids to a
    * unique temp parquet stage (JVM-exit cleanup, same contract as
    * [[graft.ops.Stage]]) so every iteration starts
    * from a flat scan — constant plan size for deep runs, and each
    * iteration's corpus pass executes exactly once. */
  /** k-means‖ seeding (Bahmani et al. 2012) in DETERMINISTIC,
    * oracle-replayable form — the scalable seeding that replaces the
    * first-k-rows convention: first-k seeds can all land in one cluster
    * (ids correlate with sources/time), while k-means‖ oversamples
    * points with probability ∝ their squared distance to the current
    * seed set, spreading seeds across the data in O(rounds) passes
    * instead of k-means++'s k sequential passes.
    *
    * Determinism (no RNG state, the mixtureSample draw discipline): the
    * round-r draw for point x is `h16(id, r) · Σd² < l · d²(x) · 2¹⁶`
    * with h16 the first 4 md5 hex digits of `id:kpp:r` — an exact
    * integer cross-multiplication in decimal(38,0), replayed verbatim
    * by the oracle. Distances are [[quantizedDistQ30]] longs; the seed
    * chain starts at the min-id vector; candidate weights are nearest-
    * candidate counts over the FINAL candidate set (ties → lowest
    * candidate id); the k winners rank by (weight desc, id asc) and
    * take cid 0..k−1 in that order.
    *
    * Scale shape: rounds+1 corpus passes, each a zero-exchange
    * projection against the BROADCAST-SIZED candidate set folded in as
    * plan literals (bounded ≈ 1 + l·rounds ≪ maxCandidates — k-means‖'s
    * whole point is that the oversample is small) plus a 1-row total or
    * a candidate-keyed count; sampled candidates collect to the driver
    * under a LOUD `maxCandidates` ceiling (the semDedupClusters
    * discipline). Returns (cid, cand_id, weight, cvec) — feed
    * `select(cid, cvec)` to [[kMeansTrain]]. */
  /** LITERAL-BOUND CEILING: each candidate rides the plan as a typedlit
    * vector inside a least() chain — O(candidates × dim) literals and
    * O(candidates) interpreted distance lambdas per pass — so the ceiling
    * is deliberately LOW, near the ~1 + l·rounds candidates k-means‖
    * actually oversamples in its intended small-k regime. Past it (large
    * k, aggressive l·rounds) use [[kMeansParallelSeedJoin]], whose
    * candidates stay DATA and whose plan size is candidate-independent. */
  def kMeansParallelSeed(corpus: DataFrame, idCol: String, vecCol: String,
                         k: Int, l: Int, rounds: Int,
                         maxCandidates: Int = 512): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(l >= 1, "l (oversampling factor) must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    require(maxCandidates >= k, "maxCandidates must be >= k")
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    def foldLeast(cs: Seq[Column]): Column =
      if (cs.size == 1) cs.head else least(cs: _*)
    val head = base.orderBy(col("id")).limit(1).collect()
    require(head.nonEmpty, "kMeansParallelSeed needs a non-empty corpus")
    var cands: Vector[(Long, Seq[Float])] =
      Vector(head.head.getLong(0) -> head.head.getSeq[Float](1).toVector)
    for (r <- 1 to rounds) {
      val dMin = foldLeast(cands.map { case (_, cv) =>
        quantizedDistQ30(col("v"), typedlit(cv)) })
      val scored = base.withColumn("_kp_d2", dMin)
      val tot = scored.agg(sum(col("_kp_d2").cast("decimal(38,0)")).as("t"))
        .collect().head.getDecimal(0)
      if (tot != null && tot.signum > 0) {
        val totLit = expr(s"cast('${tot.toBigInteger}' as decimal(38,0))")
        val h = conv(substring(md5(concat(col("id").cast("string"),
          lit(s":kpp:$r"))), 1, 4), 16, 10).cast("long")
        val sampled = scored
          .filter(h.cast("decimal(38,0)") * totLit <
            lit(l.toLong * 65536L).cast("decimal(38,0)")
              * col("_kp_d2").cast("decimal(38,0)"))
          .select(col("id"), col("v")).collect()
        val known = cands.map(_._1).toSet
        cands = cands ++ sampled.toSeq
          .filter(rw => !known(rw.getLong(0))).sortBy(_.getLong(0))
          .map(rw => rw.getLong(0) -> rw.getSeq[Float](1).toVector)
        require(cands.size <= maxCandidates,
          s"k-means|| oversample reached ${cands.size} candidates " +
            s"(> maxCandidates = $maxCandidates): lower l/rounds or raise " +
            s"maxCandidates explicitly")
      }
    }
    require(cands.size >= k,
      s"k-means|| sampled only ${cands.size} candidates for k = $k — " +
        s"raise l or rounds (corpus may also be smaller than k)")
    // weights = nearest-candidate counts over the final candidate set
    // (struct least: d2 asc, candidate id asc — the oracle's row_number)
    val nearest = foldLeast(cands.map { case (cid0, cv) =>
      struct(quantizedDistQ30(col("v"), typedlit(cv)).as("d"),
        lit(cid0).as("i")) }).getField("i")
    val weights = base.select(nearest.as("_kp_c"))
      .groupBy(col("_kp_c")).agg(count(lit(1)).as("w"))
      .collect().map(rw => rw.getLong(0) -> rw.getLong(1)).toMap
    val fin = cands
      .map { case (id0, cv) => (id0, weights.getOrElse(id0, 0L), cv) }
      .sortBy { case (id0, w, _) => (-w, id0) }
      .take(k).zipWithIndex
      .map { case ((id0, w, cv), i) => (i, id0, w, cv) }
    import spark.implicits._
    fin.toDF("cid", "cand_id", "weight", "cvec")
  }

  /** Fan every row of `df` out against the BROADCAST candidate table on
    * the non-foldable always-zero key (the [[centroidFanout]] move, minus
    * its small-cid range check — candidate ids here are corpus ids, i.e.
    * arbitrary longs). Adds `_kp_cid` / `_kp_cv`. */
  private[graft] def kppFanout(df: DataFrame, cands: DataFrame,
                               vecCol: String): DataFrame = {
    val c = broadcast(cands.select(
      (size(col("cvec")) * lit(0)).as("_kp_one"),
      col("cand_id").as("_kp_cid"), col("cvec").as("_kp_cv")))
    df.withColumn("_kp_one", size(col(vecCol)) * lit(0))
      .join(c, "_kp_one")
      .drop("_kp_one")
  }

  /** Per-row min squared distance to the candidate set, candidates as
    * DATA: broadcast fan-out + a primitive `min(long)` HashAggregate
    * keyed on the id alone — the exchange carries (id, long) pairs, its
    * map-side partial collapses the ×candidates fan-out to one row per
    * corpus row, and the plan tree is independent of the candidate count
    * (PlanSpec pins both). Returns (id, _kp_d2). */
  private[graft] def kppMinDist(base: DataFrame, cands: DataFrame): DataFrame =
    kppFanout(base, cands, "v")
      .select(col("id"), quantizedDistQ30(col("v"), col("_kp_cv")).as("_kp_dc"))
      .groupBy(col("id"))
      .agg(min(col("_kp_dc")).as("_kp_d2"))

  /** DATA-DRIVEN k-means‖ seeding — [[kMeansParallelSeed]] with the
    * candidate set held as a parquet STAGE instead of plan literals (the
    * ivfAssignJoin/tokenIdsJoin move): the literal form folds every
    * candidate vector into the plan inside a least() chain, infeasible at
    * the k = 10⁴–10⁵ cells a 100 TB IVF needs; here each pass
    * BroadcastHashJoins the corpus against the staged (cand_id, cvec)
    * table, so plan/codegen size is INDEPENDENT of the candidate count
    * and the ceiling is broadcast memory, not expression-tree size.
    *
    * Bit-parity contract: draws, distances, weights, and the final
    * (weight desc, id asc) top-k cut are the literal path's, verbatim —
    * exact Q30 distances, the `h16(id, r)·Σd² < l·d²·2¹⁶` decimal(38,0)
    * cross-multiplication, nearest-candidate ties to the lowest id — so
    * the two paths agree bit-for-bit (ExtSpec pins it) and x35b's oracle
    * replays this form unchanged (x35c).
    *
    * Scale shape per round: one broadcast fan-out (zero corpus movement)
    * → a (id, long) min-distance HashAggregate → one id-keyed join that
    * moves the corpus rows once to meet their d² (the ivfAssignJoin
    * join-back shape) → the sampled candidates append to the stage as a
    * candidate-scale WRITE, never a driver collect. The final weighting
    * costs two more passes (min distance, then argmin-by-id at that
    * distance — two primitive aggs instead of one struct-min, which
    * would demote the ×candidates fan-out to a SortAggregate). Only
    * candidate IDS AND WEIGHTS (2 longs × ≤ maxCandidates — bounded
    * driver data, like any dimension) ever reach the driver for the
    * top-k ranking; candidate VECTORS never leave the cluster.
    *
    * Preconditions: `idCol` unique and non-null (the d² join-back and the
    * sampling draw key on it). Returns (cid, cand_id, weight, cvec),
    * the [[kMeansParallelSeed]] contract. */
  def kMeansParallelSeedJoin(corpus: DataFrame, idCol: String, vecCol: String,
                             k: Int, l: Int, rounds: Int,
                             maxCandidates: Int = 1 << 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(l >= 1, "l (oversampling factor) must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    require(maxCandidates >= k, "maxCandidates must be >= k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    // seed chain starts at the min-id vector (the literal path's c0)
    var cands = Stage(
      base.orderBy(col("id")).limit(1)
        .select(col("id").as("cand_id"), col("v").as("cvec")))
    var nCands = 1L
    for (r <- 1 to rounds) {
      val scored = base.join(kppMinDist(base, cands), Seq("id"))
      val tot = scored.agg(sum(col("_kp_d2").cast("decimal(38,0)")).as("t"))
        .collect().head.getDecimal(0)
      if (tot != null && tot.signum > 0) {
        val totLit = expr(s"cast('${tot.toBigInteger}' as decimal(38,0))")
        val h = conv(substring(md5(concat(col("id").cast("string"),
          lit(s":kpp:$r"))), 1, 4), 16, 10).cast("long")
        val fresh = scored
          .filter(h.cast("decimal(38,0)") * totLit <
            lit(l.toLong * 65536L).cast("decimal(38,0)")
              * col("_kp_d2").cast("decimal(38,0)"))
          .select(col("id").as("cand_id"), col("v").as("cvec"))
          .join(cands.select(col("cand_id")), Seq("cand_id"), "left_anti")
        cands = Stage(cands.unionByName(fresh))
        nCands = cands.count()
        require(nCands <= maxCandidates,
          s"k-means|| oversample reached $nCands candidates " +
            s"(> maxCandidates = $maxCandidates): lower l/rounds or raise " +
            s"maxCandidates explicitly")
      }
    }
    require(nCands >= k,
      s"k-means|| sampled only $nCands candidates for k = $k — " +
        s"raise l or rounds (corpus may also be smaller than k)")
    // nearest candidate per corpus row, ties -> lowest cand_id: pass 1 =
    // primitive min(d²); pass 2 = fan out the (id, v, d²) rows again and
    // keep min(cand_id) among the exact-d² matches — two primitive
    // HashAggregates instead of one struct-min SortAggregate over the
    // ×candidates fan-out
    val withMin = base.join(kppMinDist(base, cands), Seq("id"))
    val nearest = kppFanout(withMin, cands, "v")
      .filter(quantizedDistQ30(col("v"), col("_kp_cv")) === col("_kp_d2"))
      .groupBy(col("id"))
      .agg(min(col("_kp_cid")).as("_kp_c"))
    // ids + weights only — never vectors — collect for the bounded top-k
    val wMap = nearest.groupBy(col("_kp_c")).agg(count(lit(1)).as("w"))
      .collect().map(rw => rw.getLong(0) -> rw.getLong(1)).toMap
    val fin = cands.select(col("cand_id")).collect().map(_.getLong(0)).toSeq
      .map(id0 => (id0, wMap.getOrElse(id0, 0L)))
      .sortBy { case (id0, w) => (-w, id0) }
      .take(k).zipWithIndex
      .map { case ((id0, w), i) => (i, id0, w) }
    broadcast(fin.toDF("cid", "cand_id", "weight"))
      .join(cands, Seq("cand_id"))
      .select(col("cid"), col("cand_id"), col("weight"), col("cvec"))
  }

  def kMeansTrain(corpus: DataFrame, seed: DataFrame, idCol: String,
                  vecCol: String, iters: Int,
                  stagePerIteration: Boolean = false): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    var cents = seed
    for (_ <- 1 to iters) {
      val assigned = ivfAssignJoin(
        corpus.select(col(idCol), col(vecCol)), cents, idCol, vecCol)
      val q30 = floor(col("_x").cast("double") * lit((1L << 30).toDouble))
        .cast("long")
      cents = assigned
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("_p", "_x")))
        .groupBy(col("cid"), col("_p"))
        .agg(sum(q30).as("_sq"), count(lit(1)).as("_n"))
        // exact floor-div IN INTEGER ARITHMETIC: subtract the positive mod,
        // then `div` divides an exact multiple (trunc == floor in every
        // engine) entirely in longs — a double division here would lose
        // exactness once |_sq| exceeds 2^53 (~8M unit-range rows per cell).
        // The long quotient is <= 2^30 for unit-range components, so the
        // 2^-30 scale is exact in double and rounds ONCE to float.
        .withColumn("_c",
          (expr("(_sq - ((_sq % _n + _n) % _n)) div _n").cast("double")
            / lit((1L << 30).toDouble)).cast("float"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("_p"), col("_c")))),
          x => x.getField("_c")).as("cvec"))
      if (stagePerIteration)
        cents = Stage(cents)
    }
    cents
  }

  /** The 100 TB IVF layout: the assigned corpus written `partitionBy(cid)`
    * so a probe of nProbe cells prunes STATICALLY to those directories —
    * the scan reads nProbe/nCentroids of the corpus, enforced by the file
    * index before any task launches (PlanSpec pins `PartitionFilters` and
    * the pruned partition count on a read of this layout). Mirrors the
    * reference's partition-directory routing
    * (run_dbgap_xml_gen_fallback.py:164-216).
    *
    * The write hash-repartitions on `cid` first — the standard move for
    * partitioned writes: without it every input task writes a file into
    * every cell it touches (tasks × cells tiny files, the small-file
    * decay [[graft.ops.Scale.compactParquet]] exists to undo); with it
    * each cell's rows land in one task, so files-per-cell stays ~1. */
  def writeIvfPartitioned(assigned: DataFrame, path: String): Unit =
    assigned.repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** CONTINUOUS-INGEST maintenance of a [[writeIvfPartitioned]] layout:
    * a new batch, assigned against the SAME centroids (the x26/x43c
    * append-only stage discipline on the ANN index), lands as append-mode
    * files inside the matching `cid=` directories — no re-cluster, no
    * rewrite of resident cells, and probe reads prune statically exactly
    * as before because partition directories are unchanged. The trade
    * the knob names: appended batches accrete files per cell
    * (batches × ~1), so periodic [[graft.ops.Scale.compactParquet]] per
    * hot cell is the matching maintenance op. Centroid drift is the
    * caller's contract — re-assigning under NEW centroids requires a
    * rewrite, which is [[writeIvfPartitioned]]'s job. */
  def appendIvfPartitioned(assigned: DataFrame, path: String): Unit =
    assigned.repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(path)

  /** The maintenance pass [[appendIvfPartitioned]]'s scaladoc promises:
    * compact the HOT cells of a cid-partitioned layout back toward one
    * file each. Each append batch accretes ~1 file per touched cell, so
    * after B batches a probe of that cell pays B file opens + footers —
    * the small-file decay [[graft.ops.Scale.compactParquet]] documents.
    * This walks the `cid=` directories (an O(cells) driver listing — the
    * same manifest-scale contract as [[graft.ops.Scale]]'s footer
    * manifest), and for every cell holding more than `maxFilesPerCell`
    * data files, rewrites it via `compactParquet` into a hidden
    * `.compact/` staging dir (invisible to concurrent readers — Spark
    * skips dot-paths) and then SWAPS it in RENAME-FIRST: old data moves
    * aside, the staged copy renames in, then the old copy drops — at no
    * instant is a cell's only copy gone, and a leftover `.compact/` from
    * an interrupted commit is REFUSED loudly (it may hold a cell's only
    * copy) instead of wiped. On an object-store lake the commit step is
    * a manifest swap instead, the [[graft.ops.Scale.compactParquet]]
    * caller contract. Cold cells are
    * untouched: maintenance cost scales with the append's footprint, not
    * the corpus. Partition directories never change, so probe pruning
    * and answers are invisible to compaction (s10b's oracle is x6b's,
    * verbatim; PlanSpec pins the file counts).
    *
    * SINGLE-WRITER REQUIREMENT: compaction is invisible to concurrent
    * READERS only. An [[appendIvfPartitioned]] racing this call can land
    * files in a cell dir between the hot-cell census and the rename swap
    * — those files move aside with the old copy and are DELETED with it.
    * Serialize compaction against appends (run it from the one
    * maintenance owner of the layout, the same single-writer contract
    * every append-only stage in this library carries); on a shared lake,
    * take the table lock / commit the swap through the manifest.
    *
    * Returns (cid, filesBefore, filesAfter) per compacted cell. */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession,
                      layoutDir: String, targetRowsPerFile: Long,
                      maxFilesPerCell: Int = 1): Seq[(Int, Int, Int)] =
    // the generic hot-partition pass (ONE pruned read + ONE partitionBy
    // write for in-target cells, per-cell compactParquet fallback for
    // oversized ones, rename-first commit, stale-staging refusal) with
    // the cid keys restored to ints and numeric ordering
    // the pass pins the partition column to STRING internally (the dir-
    // name round-trip contract), so the prune filter compares raw keys
    graft.ops.Scale.compactPartitionedLayout(spark, layoutDir, "cid",
        targetRowsPerFile, maxFilesPerCell,
        ks => col("cid").isin(ks: _*))
      .map { case (k, before, after) => (k.toInt, before, after) }
      .sortBy(_._1)

  private def collectCentroids(centroids: DataFrame): Seq[(Int, Array[Float])] =
    centroids.select(col("cid").cast("int"), col("cvec"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).toSeq

  /** [[ivfTopK]] on the DATA-DRIVEN assignment path: corpus cells via
    * [[ivfAssignJoin]], query probe cells via the same broadcast fan-out
    * ranked by the bounded TopKAgg (top-nProbe cells per query, ties →
    * lowest cid — identical to the oracle's row_number ranking). All
    * scores are exact Q30, so the approximate result set is still
    * engine-portable. Use this form whenever the centroid count is more
    * than a few hundred — plan size stays constant as centroids grow. */
  def ivfTopKJoin(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val assigned = ivfAssignJoin(corpus.select(col(idCol), col(vecCol)),
      centroids, idCol, vecCol)
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    ivfCandidateTopK(
      assigned.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"), col("cid")),
      q, probeCells(q, centroids, nProbe), k)
  }

  /** Per-query probe cells: the nProbe best centroids per q_id, ranked by
    * the exact Q30 score (longs ≤ 2^53 are exact doubles, so the cast
    * loses nothing), ties → lowest cid — identical to the oracle's
    * row_number ranking. Shared by [[ivfTopKJoin]] and
    * [[ivfTopKPartitioned]]. */
  private def probeCells(q: DataFrame, centroids: DataFrame,
                         nProbe: Int): DataFrame = {
    val probeScored = centroidFanout(q, centroids, "q_vec")
      .select(col("q_id"), col("_c_cid").as("n_id"),
        quantizedDotQ30Long(col("q_vec"), col("_c_vec")).cast("double").as("score"))
    topKPerQuery(probeScored, nProbe)
      .select(col("q_id"), col("n_id").cast("int").as("cid"))
  }

  /** Shared candidate-scoring tail: cells join their probing queries
    * (broadcast — the probe table is |queries|·nProbe rows), exact-Q30
    * score, bounded per-query top-k. */
  private def ivfCandidateTopK(cells: DataFrame, q: DataFrame,
                               probes: DataFrame, k: Int): DataFrame = {
    val qAssigned = q.join(probes, "q_id")
    val candidates = cells
      .join(broadcast(qAssigned), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        quantizedDot(col("q_vec"), col("n_vec")).as("score"))
    topKPerQuery(candidates, k)
  }

  /** IVF top-k answered FROM the [[writeIvfPartitioned]] layout — the read
    * path that 100 TB layout exists for. The probed cell set (bounded
    * driver data: ≤ nProbe·|queries| ints, computed by the same exact-Q30
    * probe ranking as [[ivfTopKJoin]]) folds into the plan as an IN filter
    * on the partition column, so the file index drops every other `cid=`
    * directory BEFORE any task launches: the scan reads nProbe/nCentroids
    * of the corpus, statically (PlanSpec pins the pruned partition count).
    * Results are identical to [[ivfTopKJoin]] over the same corpus —
    * pruning is invisible to answers (s9's oracle is x6b's, verbatim). */
  def ivfTopKPartitioned(layoutDir: String, centroids: DataFrame,
                         queries: DataFrame, idCol: String, vecCol: String,
                         k: Int, nProbe: Int): DataFrame = {
    val spark = centroids.sparkSession
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val probes = probeCells(q, centroids, nProbe)
    val cids = probes.select(col("cid")).distinct().collect().map(_.getInt(0))
    val cells = spark.read.parquet(layoutDir)
      .filter(col("cid").isin(cids.toSeq.map(Int.box): _*))
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"),
        col("cid").cast("int").as("cid"))
    ivfCandidateTopK(cells, q, probes, k)
  }

  /** PQ codebook TRAINED per subspace with [[kMeansTrain]] — closing
    * [[pqCodebook]]'s "real deployments would k-means these" note on the
    * PQ side too. For each of the m subspaces, Lloyd-iterate from the
    * first-k-rows seed over the SLICED sub-vectors and collect the
    * trained entries (cid order; empty cells drop — standard Lloyd, so a
    * subspace may return < k entries). Same bounded-driver contract and
    * return shape as [[pqCodebook]]: pqEncode/pqTopK are agnostic to
    * which codebook they receive. */
  def pqCodebookTrained(corpus: DataFrame, idCol: String, vecCol: String,
                        m: Int, k: Int, dim: Int,
                        iters: Int): Seq[Seq[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    (0 until m).map { mi =>
      val sub = corpus.select(col(idCol),
        slice(col(vecCol), mi * subDim + 1, subDim).as("_sv"))
      // seed = first k rows by id, cids 0..k-1 (the window ranks only the
      // k-row limited frame, not the corpus; partitioned on the
      // non-foldable always-zero key pmod(size, 1) so the bounded frame
      // doesn't trip the global-window WARN)
      val seed = sub.orderBy(col(idCol)).limit(k)
        .withColumn("cid", (row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(size(col("_sv")), lit(1)))
            .orderBy(col(idCol))) - 1)
          .cast("int"))
        .select(col("cid"), col("_sv").as("cvec"))
      collectCentroids(kMeansTrain(sub, seed, idCol, "_sv", iters)
        .select(col("cid"), col("cvec"))).map(_._2)
    }
  }

  // ───────────────────── composed IVF-PQ index ─────────────────────
  //
  // The billion-scale FAISS layout (Jégou et al. 2011, "Product
  // quantization for nearest neighbor search" §IV — IVFADC): IVF cells
  // for the coarse quantizer, PQ codes over the RESIDUAL x − c(x) for
  // the fine one. A probe scans nProbe/nCells of the corpus (IVF) and
  // reads m CODE BYTES per row instead of dim floats (PQ) — the two
  // compressions compose, which is why this is the standard
  // billion-vector layout. x6b (IVF) and x29 (flat PQ) each exist alone;
  // this composes them with the same exact-Q30 oracle discipline:
  // assignment argmax, residual subtraction (exact double), encode
  // argmin, and the ADC sum are all engine-portable integer/IEEE steps,
  // so even the composed approximate index is hash-checked (x75/s11).

  /** Assignment + per-row residual against the winning cell centroid:
    * (idCol, vecCol, cid, resid) with resid = x − c as array<double> —
    * float widens to double exactly and one subtraction is a single
    * deterministic IEEE op, so residuals are bit-identical everywhere.
    * Assignment is [[ivfAssignJoin]] (broadcast fan-out, plan size
    * independent of the cell count); the centroid joins back by
    * BROADCAST on cid for the subtraction. */
  def ivfResiduals(corpus: DataFrame, centroids: DataFrame, idCol: String,
                   vecCol: String): DataFrame =
    ivfAssignJoin(corpus.select(col(idCol), col(vecCol)), centroids,
        idCol, vecCol)
      .join(broadcast(centroids.select(col("cid"), col("cvec").as("_ip_cv"))),
        Seq("cid"))
      .select(col(idCol), col(vecCol), col("cid"),
        zip_with(col(vecCol), col("_ip_cv"),
          (x, c) => x.cast("double") - c.cast("double")).as("resid"))

  /** PQ codebook over RESIDUALS: per subspace, the residual sub-vectors
    * of the first `kCode` rows (by id) — the same deterministic seed
    * convention as [[pqCodebook]], applied to [[ivfResiduals]] output.
    * Bounded driver data (m × kCode × dim/m doubles). Code index i is
    * the i-th smallest id (== id on the dense-id fixtures, matching the
    * oracle's vec_id keying). */
  def ivfPqCodebook(residuals: DataFrame, idCol: String, m: Int, kCode: Int,
                    dim: Int): Seq[Seq[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subDim = dim / m
    val rows = residuals.filter(col(idCol) < kCode)
      .select(col(idCol).cast("int"), col("resid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    (0 until m).map(mi => rows.toSeq.map { case (_, v) =>
      java.util.Arrays.copyOfRange(v, mi * subDim, (mi + 1) * subDim) })
  }

  /** Q30 dot as an exact long for DOUBLE-domain vectors: Σ floor(xᵢ·yᵢ·
    * 2³⁰). The native [[quantizedDotQ30Long]] path reads FLOAT arrays
    * (DotQ30.getFloat) — residuals and their codebooks are doubles, so
    * the IVF-PQ terms use this column form: one IEEE double multiply per
    * element (deterministic), an exact ×2³⁰ (power of two), floor to a
    * long, longs sum exactly. The oracle replays
    * `floor(rx·cx·1073741824)` verbatim. */
  private def dotQ30LongD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      floor(x.cast("double") * y.cast("double") * lit((1L << 30).toDouble))
        .cast("long")),
      lit(0L), (acc, t) => acc + t)

  /** Encode residuals against a double codebook: per subspace the
    * L2-nearest entry via argmin(c·c − 2·r·c) ENTIRELY in Q30 longs
    * (ties → lowest code — `array_position` of the min). The [[pqEncode]]
    * twin for the residual (double) domain; a pure projection. */
  def pqEncodeResiduals(df: DataFrame, residCol: String,
                        codebook: Seq[Seq[Array[Double]]],
                        outCol: String = "codes"): DataFrame = {
    val m = codebook.size
    val subDim = codebook.head.head.length
    val codes = array((0 until m).map { mi =>
      val sub = slice(col(residCol), mi * subDim + 1, subDim)
      val vals = transform(typedlit(codebook(mi).map(_.toSeq)), c =>
        dotQ30LongD(c, c) - lit(2L) * dotQ30LongD(sub, c))
      (array_position(vals, array_min(vals)) - 1).cast("int")
    }: _*)
    df.withColumn(outCol, codes)
  }

  /** Shared IVF-PQ probe tail: candidates = encoded rows in each query's
    * probed cells; ADC score = Q30(q · c_cell) + Σ_m Q30(q_m ·
    * cb[m][code_m]) — per-term exact Q30 longs summed exactly, the
    * IVFADC inner-product estimator. The query side broadcasts; the
    * encoded corpus streams; the only shuffle is the bounded per-query
    * top-k (TopKAgg). */
  private def ivfPqCandidateTopK(enc: DataFrame, centroids: DataFrame,
                                 q: DataFrame, probes: DataFrame,
                                 codebook: Seq[Seq[Array[Double]]],
                                 k: Int): DataFrame = {
    val m = codebook.size
    val subDim = codebook.head.head.length
    val cbLit = typedlit(codebook.map(_.map(_.toSeq)))
    val qAssigned = q.join(probes, "q_id")
    val cellTerm = quantizedDotQ30Long(col("q_vec"), col("_ip_cv"))
    val residTerm = (0 until m).map { mi =>
      val qSub = slice(col("q_vec"), mi * subDim + 1, subDim)
      val cent = element_at(element_at(cbLit, mi + 1),
        element_at(col("codes"), mi + 1) + 1)
      dotQ30LongD(qSub, cent) // query floats × double codebook entry
    }.reduce(_ + _)
    enc
      .join(broadcast(qAssigned), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .join(broadcast(centroids.select(col("cid"), col("cvec").as("_ip_cv"))),
        Seq("cid"))
      .select(col("q_id"), col("n_id"),
        ((cellTerm + residTerm).cast("double") / lit((1L << 30).toDouble))
          .as("score"))
      .transform(topKPerQuery(_, k))
  }

  /** In-memory composed IVF-PQ top-k: assign + residual-encode the
    * corpus, then ADC-score each query against its `nProbe` best cells'
    * codes. Results are approximate (two quantizations) but bit-exact
    * across engines — the oracle replays assignment, residuals, encode,
    * probe ranking, and the ADC sum (x75). */
  def ivfPqTopK(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, m: Int, kCode: Int, dim: Int,
                k: Int, nProbe: Int): DataFrame = {
    val res = ivfResiduals(corpus, centroids, idCol, vecCol)
    val cb = ivfPqCodebook(res, idCol, m, kCode, dim)
    val enc = pqEncodeResiduals(res, "resid", cb)
      .select(col(idCol).as("n_id"), col("cid"), col("codes"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    ivfPqCandidateTopK(enc, centroids, q, probeCells(q, centroids, nProbe),
      cb, k)
  }

  /** The 100 TB IVF-PQ layout: (id, codes) partitioned by cid — m·4
    * bytes of codes per row instead of dim·4 of floats, the PQ memory
    * move, AND static nProbe/nCells pruning, the IVF scan move. Vectors
    * are NOT stored: the probe answers from codes + the (bounded)
    * codebook + centroids alone. */
  def writeIvfPqPartitioned(enc: DataFrame, path: String): Unit =
    enc.select(col("n_id"), col("cid"), col("codes"))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(path)

  /** CONTINUOUS-INGEST for the IVF-PQ layout — the standard FAISS `add`
    * path: the coarse quantizer (centroids) and the fine one (the
    * residual codebook) train ONCE and FREEZE; a new batch assigns,
    * residual-encodes against them, and lands append-mode in the
    * matching `cid=` directories. Because encoding depends only on the
    * frozen quantizers, base+appends reach the exact state a one-shot
    * [[writeIvfPqPartitioned]] of the union would (s11b answers x75's
    * oracle verbatim). Same trades as [[appendIvfPartitioned]]: batches
    * accrete ~1 file per touched cell, so [[compactIvfCells]] is the
    * matching maintenance pass — the codes layout is cid-partitioned
    * parquet exactly like the vector layout, so the generic
    * hot-partition compaction (and its SINGLE-WRITER contract) applies
    * unchanged. Quantizer drift (re-training centroids or codebook)
    * requires a full rewrite, which is [[writeIvfPqPartitioned]]'s job. */
  def appendIvfPqPartitioned(enc: DataFrame, path: String): Unit =
    enc.select(col("n_id"), col("cid"), col("codes"))
      .repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(path)

  /** IVF-PQ top-k FROM a [[writeIvfPqPartitioned]] layout: the probed
    * cell set folds into an IN filter on the partition column (static
    * pruning before any task — the s9 contract), and the ADC scoring
    * needs only the stored codes: the scan reads m code bytes per
    * candidate row, never a vector. Answers s11 with x75's oracle,
    * verbatim — the layout is invisible to results. */
  def ivfPqTopKPartitioned(layoutDir: String, centroids: DataFrame,
                           queries: DataFrame, idCol: String, vecCol: String,
                           codebook: Seq[Seq[Array[Double]]], k: Int,
                           nProbe: Int): DataFrame = {
    val spark = centroids.sparkSession
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val probes = probeCells(q, centroids, nProbe)
    val cids = probes.select(col("cid")).distinct().collect().map(_.getInt(0))
    val enc = spark.read.parquet(layoutDir)
      .filter(col("cid").isin(cids.toSeq.map(Int.box): _*))
      .select(col("n_id"), col("cid").cast("int").as("cid"), col("codes"))
    ivfPqCandidateTopK(enc, centroids, q, probes, codebook, k)
  }

  /** Two-stage IVF-PQ retrieval with EXACT re-ranking — the FAISS
    * refine/rescore pattern (IndexRefineFlat): PQ distances are biased
    * by quantization, so production ANN takes a WIDER approximate
    * shortlist from the compressed index (stage 1 — the corpus is read
    * as m code ints per row) and re-scores only those candidates against
    * the TRUE vectors (stage 2 — an id-keyed join fetching
    * |queries|·shortlist vectors, never a second corpus scan), returning
    * the exact-ranked top k. Recall approaches the IVF bound while scan
    * economics stay PQ's — the standard accuracy-recovery move at
    * billion scale. Stage 2's exact score is the same Q30 dot every
    * exact path uses, so the whole two-stage pipeline is oracle-exact.
    * The shortlist side (bounded) broadcasts onto the vector fetch; the
    * corpus never shuffles. */
  def ivfPqRerank(corpus: DataFrame, centroids: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  m: Int, kCode: Int, dim: Int, k: Int, nProbe: Int,
                  shortlist: Int): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be >= k ($k) — stage 2 only re-ranks")
    val short = ivfPqTopK(corpus, centroids, queries, idCol, vecCol, m,
        kCode, dim, shortlist, nProbe)
      .select(col("q_id"), col("n_id"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("_ip_qv"))
    val nv = corpus.select(col(idCol).as("n_id"), col(vecCol).as("_ip_nv"))
    nv.join(broadcast(short.join(broadcast(qv), Seq("q_id"))), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        (quantizedDotQ30Long(col("_ip_qv"), col("_ip_nv")).cast("double")
          / lit((1L << 30).toDouble)).as("score"))
      .transform(topKPerQuery(_, k))
  }

  /** MEAN-POOL chunk embeddings to their parent unit — the standard
    * passage→document aggregation every long-document embedding pipeline
    * runs (chunks embed independently under a context-length cap, the
    * document vector is their mean), in EXACT integer arithmetic: each
    * float coordinate quantizes to Q30 (floor(x·2³⁰), one deterministic
    * step), longs SUM exactly per (group, dimension), and the mean is
    * one floor division — so the pooled vector is bit-identical in any
    * engine and feeds the exact-Q30 ANN stack unchanged. Returns
    * (groupCol, n_chunks, pooled: array<long> of Q30 coordinates in
    * dimension order).
    *
    * Scale shape: one posexplode (rows × dim — dim is bounded, 64 here)
    * into a (group, dim)-keyed aggregation with map-side partials, then
    * one group-keyed re-assembly; no collect, no vector ever on the
    * driver. The re-assembly sorts (dim, value) structs so coordinate
    * order never depends on shuffle arrival order. */
  def meanPoolQ30(chunks: DataFrame, groupCol: String,
                  vecCol: String): DataFrame = {
    Seq("_mp_d", "_mp_x", "_mp_s", "n_chunks", "pooled").foreach { c =>
      require(c != groupCol, s"meanPoolQ30 reserves column $c — rename the group column")
    }
    chunks
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("_mp_d", "_mp_x")))
      .select(col(groupCol), col("_mp_d"),
        floor(col("_mp_x").cast("double") * lit((1L << 30).toDouble))
          .cast("long").as("_mp_x"))
      .groupBy(col(groupCol), col("_mp_d"))
      .agg(sum(col("_mp_x")).as("_mp_s"), count(lit(1)).as("n_chunks"))
      // exact FLOOR division of the (possibly negative) coordinate sum:
      // subtract the positive mod so `div` divides an exact multiple —
      // trunc == floor on multiples in every engine (the kMeansTrain move)
      .select(col(groupCol), col("_mp_d"),
        expr("(_mp_s - ((_mp_s % n_chunks + n_chunks) % n_chunks)) div n_chunks")
          .as("_mp_x"),
        col("n_chunks"))
      .groupBy(col(groupCol))
      .agg(max(col("n_chunks")).as("n_chunks"),
        transform(array_sort(collect_list(struct(col("_mp_d"), col("_mp_x")))),
          e => e.getField("_mp_x")).as("pooled"))
  }

  def ivfTopK(corpus: DataFrame, centroids: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nProbe: Int,
              q30: Boolean = false): DataFrame = {
    val cents = collectCentroids(centroids)
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol, q30)
    // per query: top-nProbe cells via an in-row argsort of the literal
    // centroid scores (struct sort: score desc, cid asc)
    val qScores = centroidScores(col(vecCol), cents.map(_._2), q30)
    val probes = transform(
      slice(array_sort(zip_with(qScores,
          sequence(lit(0), lit(cents.size - 1)),
          (s, i) => struct((-s).as("neg"), i.as("cid")))),
        1, nProbe),
      p => p.getField("cid"))
    val qAssigned = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        explode(probes).as("cid"))
    val candidates = assigned
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"), col("cid"))
      .join(broadcast(qAssigned), Seq("cid"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (if (q30) quantizedDot(col("q_vec"), col("n_vec"))
         else dot(col("q_vec"), col("n_vec"))).as("score"))
    topKPerQuery(candidates, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings, compare pairs ONLY within a
    * cluster, connect pairs above a cosine threshold into components, and
    * keep one representative (the MIN id — the same A8 keeper rule as
    * [[Dedup.dupClusters]]) per component. The reference's row-level
    * dedup-consolidate (dbgap_xml_downloader.py:151-162) is the same
    * keep-one-of-equivalents shape, keyed here by semantic neighborhood
    * instead of exact id.
    *
    * Returns one row per input id: (id, cluster_id, keep) — `cluster_id`
    * is the component's min id (ids with no above-threshold neighbor are
    * their own cluster) and `keep` marks the representative.
    *
    * Deterministic end-to-end when `centroids` are data-derived (e.g. the
    * first-k vectors) and cosine uses Q30 fixed point: assignment argmax,
    * pair scores, and the CC labels are all engine-portable, so the whole
    * pipeline is oracle-checkable (x30's DuckDB oracle replays assignment
    * + within-cell cosine + a recursive-CTE closure).
    *
    * Scale: the pair join shuffles on `cid` only and compares within-cell
    * pairs — quadratic in CELL size, not corpus size. At 100 TB grow the
    * centroid count so cells stay bounded (SemDeDup uses ~110k clusters
    * for LAION) — assignment goes through [[ivfAssignJoin]], so the
    * centroid count is data, not plan, and that knob actually turns.
    *
    * `maxCellSize` (> 0 to enable) is the straggler guard for that
    * by-design quadratic stage: an unexpectedly hot cell at scale should
    * be an ERROR (raise the centroid count / fix the centroids), not a
    * silent task that runs for hours — the guard counts rows per cell
    * (one cheap agg over (cid) longs) and fails loudly, naming the hot
    * cells, before any pair is generated. */
  /** Assignment + norm in the SemDeDup stage-row format (id, vec, cid,
    * nrm): what [[semDedupClusters]] pairs on, and the row an incremental
    * ingest stages to parquet (see [[semDedupPairsIncremental]]). */
  def semDedupAssign(emb: DataFrame, centroids: DataFrame, idCol: String,
                     vecCol: String): DataFrame =
    ivfAssignJoin(emb.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("cid"),
        sqrt(quantizedDot(col(vecCol), col(vecCol))).as("nrm"))

  /** Incremental SemDeDup pairing — the embedding face of
    * [[graft.ext.Dedup.lshCandidatePairsIncremental]], for a GROWING
    * corpus: everything already ingested lives in a parquet stage of
    * [[semDedupAssign]] rows; a NEW batch assigns against the SAME staged
    * centroids (broadcast fan-out — one ivfAssignJoin over the batch
    * only) and pairs within cells against the stage plus within itself.
    * Returns (a_id, b_id, cos) with at least one side in the new batch,
    * `a_id < b_id`, `cos >= minCos` — exact Q30 cosine, so the streamed
    * and batch flows agree bit-for-bit (EventStreamsSpec pins streamed ≡
    * sequential-incremental ≡ one-shot batch).
    *
    * 100 TB posture: corpus VECTORS are never rescanned or shuffled — the
    * stage's cell rows stream map-side into a broadcast hash join against
    * the (small) new-batch side; `broadcastNew = false` falls back to a
    * cid-keyed shuffle join for backfill batches too big to broadcast.
    * Append the new batch's [[semDedupAssign]] rows to the stage AFTER
    * calling (or the batch would pair with itself twice). */
  def semDedupPairsIncremental(newEmb: DataFrame, stagePath: String,
                               centroids: DataFrame, idCol: String,
                               vecCol: String, minCos: Double,
                               broadcastNew: Boolean = true): DataFrame = {
    val spark = newEmb.sparkSession
    val fresh = semDedupAssign(newEmb, centroids, idCol, vecCol)
    val stage = spark.read.parquet(stagePath)
    def side(df: DataFrame, p: String): DataFrame =
      df.select(col(idCol).as(s"${p}_id"), col(vecCol).as(s"${p}_vec"),
        col("cid").as(s"${p}_cid"), col("nrm").as(s"${p}_nrm"))
    val newSide = if (broadcastNew) broadcast(side(fresh, "b")) else side(fresh, "b")
    // stage × new: the stage streams map-side; ids are disjoint by the
    // append-after contract, so each cross pair appears exactly once
    val crossPairs = side(stage, "a")
      .join(newSide, col("a_cid") === col("b_cid") && col("a_id") =!= col("b_id"))
    // new × new: within-batch pairs, ordered once
    val selfPairs = side(fresh, "a")
      .join(newSide, col("a_cid") === col("b_cid") && col("a_id") < col("b_id"))
    crossPairs.unionByName(selfPairs)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        (quantizedDot(col("a_vec"), col("b_vec"))
          / (col("a_nrm") * col("b_nrm"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  def semDedupClusters(emb: DataFrame, centroids: DataFrame, idCol: String,
                       vecCol: String, minCos: Double,
                       maxCellSize: Long = 0L): DataFrame = {
    val sig = semDedupAssign(emb, centroids, idCol, vecCol)
    if (maxCellSize > 0L) {
      val hot = sig.groupBy(col("cid")).agg(count(lit(1)).as("n"))
        .filter(col("n") > maxCellSize)
        .orderBy(col("n").desc, col("cid")).limit(5).collect()
      require(hot.isEmpty,
        s"semDedup assignment cell(s) exceed maxCellSize=$maxCellSize: " +
          hot.map(r => s"cid=${r.get(0)} rows=${r.getLong(1)}").mkString(", ") +
          " — the within-cell pair join is quadratic in cell size; raise the" +
          " centroid count (or the ceiling) before running it")
    }
    val a = sig.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      col("cid"), col("nrm").as("a_nrm"))
    val b = sig.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      col("cid").as("cid_b"), col("nrm").as("b_nrm"))
    val edges = a
      .join(b, col("cid") === col("cid_b") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (quantizedDot(col("a_vec"), col("b_vec"))
          / (col("a_nrm") * col("b_nrm"))).as("cos"))
      .filter(col("cos") >= minCos)
    val clusters = Dedup.dupClusters(edges)
      .select(col("id").as(idCol), col("cluster_id"))
    emb.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        (coalesce(col("cluster_id"), col(idCol)) === col(idCol)).as("keep"))
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning"): rank
    * every embedding by cosine to its OWN cluster centroid and drop the
    * `dropPermille`/1000 most PROTOTYPICAL (closest-to-centroid) fraction
    * of each cell — with abundant data, the easy redundant core of each
    * cluster contributes least to training, so pruning it beats random
    * subsampling. (With scarce data the paper drops the far tail instead:
    * flip the kept band by filtering on `rnk` yourself.)
    *
    * Determinism: assignment is [[ivfAssignJoin]]'s Q30 argmax; the
    * within-cell order is the cosine assembled from exact Q30 integers by
    * fixed IEEE double steps (the x30 convention), ties toward the lower
    * id; the cut is exact integer ceil. A zero-norm vector (cosine
    * undefined) ranks below every real cosine instead of riding NaN
    * ordering quirks.
    *
    * Scale shape: one broadcast centroid fan-out (plan size independent
    * of k) + ONE cid-key window exchange. A cell is one window task —
    * k-means cells are capacity-bounded by construction (k grows with the
    * corpus in the IVF/SemDeDup regime), and the guard knob is the same
    * as [[semDedupClusters]]'s: raise the centroid count.
    *
    * Returns (idCol, cid, rnk, keep) — rnk 1 = most prototypical; keep =
    * rnk past the cut. */
  def prototypePrune(emb: DataFrame, centroids: DataFrame, idCol: String,
                     vecCol: String, dropPermille: Int): DataFrame = {
    require(dropPermille >= 0 && dropPermille <= 1000,
      "dropPermille is per-mille: 0..1000")
    Seq("_pp_cnrm", "_pp_cos", "_pp_n", "rnk", "keep").foreach { c =>
      require(c != idCol, s"prototypePrune reserves column $c — rename the id column")
      require(!emb.columns.contains(c), s"prototypePrune reserves column $c")
    }
    val cents = centroids.select(col("cid"), col("cvec"),
      sqrt(quantizedDot(col("cvec"), col("cvec"))).as("_pp_cnrm"))
    val cos = when(col("nrm") * col("_pp_cnrm") === 0.0, lit(-2.0))
      .otherwise(quantizedDot(col(vecCol), col("cvec"))
        / (col("nrm") * col("_pp_cnrm")))
    val scored = semDedupAssign(emb, centroids, idCol, vecCol)
      .join(broadcast(cents), Seq("cid"))
      .select(col(idCol), col("cid"), cos.as("_pp_cos"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("_pp_cos").desc, col(idCol))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("_pp_n", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .select(col(idCol), col("cid").cast("long").as("cid"), col("rnk"),
        expr(s"rnk > (_pp_n * $dropPermille + 999) div 1000").as("keep"))
  }

  /** GREEDY K-CENTER (farthest-point) DIVERSE SELECTION — the coreset /
    * exemplar-selection operator (Gonzalez 1985; Sener & Savarese 2018
    * use exactly this for active data selection): seed at the smallest
    * id, then repeatedly pick the point FARTHEST from everything chosen
    * (max over points of min over centers), a 2-approximation of the
    * optimal k-center cover. The dual of SemDeDup: that REMOVES
    * near-duplicates, this EXTRACTS a maximally-spread subset (few-shot
    * exemplars, eval-set seeds, annotation batches).
    *
    * Deterministic and engine-exact: distances are [[quantizedDistQ30]]
    * integers, the argmax tie-breaks id-ascending, the seed is min(id)
    * — no RNG anywhere, so the oracle replays the rounds verbatim.
    *
    * 100 TB shape: each round is ONE corpus projection — min over ≤k
    * PLAN-LITERAL center vectors (k·dim floats, bounded like the IVF
    * codebooks) — reduced by TakeOrdered(1); per round the driver
    * collects exactly one (id, vector) row (the kMeansTrain bounded-
    * driver-state contract). k corpus passes total; no join, no
    * shuffle beyond the top-1 reduce. Returns the k-row literal frame
    * (pick_rank, id, mindist_q30) — mindist NULL for the seed, else
    * the selected point's distance to its nearest prior center (a
    * monotone non-increasing sequence: the coverage-radius curve). */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k must be in [2, 64]: $k")
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col(idCol).cast("long").as("_kc_id"),
      col(vecCol).as("_kc_v"))
    val seedRow = pts.orderBy(col("_kc_id")).limit(1)
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "kCenterGreedy needs a non-empty frame"))
    var chosen = Vector[(Long, Seq[Float], Option[Long])](
      (seedRow.getLong(0), seedRow.getSeq[Float](1), None))
    while (chosen.size < k) {
      val ids = chosen.map(_._1)
      val minDist = chosen.map { case (_, v, _) =>
        quantizedDistQ30(col("_kc_v"), typedlit(v))
      }.reduce((a, b) => least(a, b))
      val next = pts.filter(!col("_kc_id").isin(ids: _*))
        .select(col("_kc_id"), col("_kc_v"), minDist.as("_kc_d"))
        .orderBy(col("_kc_d").desc, col("_kc_id")).limit(1)
        .collect().headOption
      next match {
        case Some(r) =>
          chosen = chosen :+ ((r.getLong(0), r.getSeq[Float](1),
            Some(r.getLong(2))))
        case None => // fewer than k distinct points: return what exists
          return chosen.zipWithIndex
            .map { case ((id, _, d), i) => (i + 1L, id, d) }
            .toDF("pick_rank", idCol, "mindist_q30")
      }
    }
    chosen.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1L, id, d) }
      .toDF("pick_rank", idCol, "mindist_q30")
  }

  /** EMBEDDING-CENTROID DRIFT between two releases — the drift family's
    * third modality (x97 watches tokens, x97e-h watch numeric features,
    * this watches the VECTOR space): per key, the cosine between the
    * two releases' centroids — cos(mean_a, mean_b) ≡ cos(sum_a, sum_b),
    * so no division ever happens on the vector side. Per-dimension
    * sums are exact Q30 longs (the meanPoolQ30 quantization: ×2³⁰ is
    * exact, floor to long, longs sum in any order); the final cosine
    * is ONE decimal→double cast per operand, two IEEE sqrts and a
    * division — the x7 cross-engine convention. A key empty on either
    * side, or with a zero-norm sum, reads NULL.
    *
    * 100 TB shape: one (keys, dim)-keyed map-side-combining aggregation
    * per side (the sums are MERGEABLE — shard/batch re-sums are the
    * one-shot sums), one (keys, dim) join, one per-key reduction.
    * decimal(38,0) exactness bounds the per-key-side row count at
    * ~3·10⁷ (sum ≤ n·2³⁰ per dim; the dot squares it) — enforced by an
    * in-plan raise; a bigger release should be sampled first (the
    * centroid converges long before). Returns (keys..., n_a, n_b,
    * cos_centroid [nullable double]). */
  def centroidDriftCos(a: DataFrame, b: DataFrame, keyCols: Seq[String],
                       vecCol: String): DataFrame =
    centroidDriftFromSums(
      centroidSums(a, keyCols, vecCol),
      centroidSums(b, keyCols, vecCol), keyCols)

  /** The (keys, dim, sum_q30, n) per-dimension Q30 sum table
    * [[centroidDriftCos]] reduces each release to — exposed because
    * sums and counts are SUMS: per-shard/batch tables re-sum
    * ([[mergeCentroidSums]]) to exactly the one-shot table, making the
    * vector-drift monitor a continuous-ingest citizen like the token
    * and bin-count monitors. */
  def centroidSums(df: DataFrame, keyCols: Seq[String],
                   vecCol: String): DataFrame = {
    require(keyCols.nonEmpty, "centroidSums needs >= 1 group key")
    val reserved = Seq("_cd_d", "_cd_q", "_cd_x", "_cd_s", "_cd_n",
      "n_a", "n_b", "cos_centroid")
    reserved.foreach(c => require(!keyCols.contains(c),
      s"centroidSums reserves column $c — rename the key column"))
    df.filter(col(vecCol).isNotNull)
      .select((keyCols.map(col) :+
        posexplode(col(vecCol)).as(Seq("_cd_d", "_cd_x"))): _*)
      .select((keyCols.map(col) :+ col("_cd_d") :+
        floor(col("_cd_x").cast("double") *
          lit((1L << 30).toDouble)).cast("long").as("_cd_q")): _*)
      .groupBy((keyCols :+ "_cd_d").map(col): _*)
      .agg(sum(col("_cd_q")).cast("decimal(38,0)").as("_cd_s"),
        count(lit(1)).as("_cd_n"))
  }

  /** Merge [[centroidSums]] tables by re-sum — merged ≡ one-shot. */
  def mergeCentroidSums(tables: Seq[DataFrame],
                        keyCols: Seq[String]): DataFrame = {
    require(tables.nonEmpty, "mergeCentroidSums needs at least one table")
    tables.reduce(_ unionByName _)
      .groupBy((keyCols :+ "_cd_d").map(col): _*)
      .agg(sum(col("_cd_s")).as("_cd_s"), sum(col("_cd_n")).as("_cd_n"))
  }

  /** Cosine drift from two [[centroidSums]] tables (see
    * [[centroidDriftCos]] for the statistic and its bounds). */
  def centroidDriftFromSums(sumsA: DataFrame, sumsB: DataFrame,
                            keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "centroidDriftFromSums needs >= 1 group key")
    def side(s: DataFrame, sName: String, nName: String): DataFrame =
      s.withColumn(nName, when(col("_cd_n") <= 30000000L, col("_cd_n"))
        .otherwise(raise_error(lit(
          "centroidDriftFromSums: per-key release exceeds the 3e7 decimal"
            + " exactness bound — sample the release first"))))
        .select((keyCols.map(col) :+ col("_cd_d") :+
          col("_cd_s").as(sName) :+ col(nName)): _*)
    val sa = side(sumsA, "_cd_sa", "n_a")
    val sb = side(sumsB, "_cd_sb", "n_b")
    sa.join(sb, keyCols :+ "_cd_d", "full")
      .select((keyCols.map(col) :+ col("_cd_d") :+
        coalesce(col("_cd_sa"), lit(0).cast("decimal(38,0)")).as("_cd_sa") :+
        coalesce(col("_cd_sb"), lit(0).cast("decimal(38,0)")).as("_cd_sb") :+
        col("n_a") :+ col("n_b")): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_cd_sa") * col("_cd_sb")).as("_cd_dot"),
        sum(col("_cd_sa") * col("_cd_sa")).as("_cd_naa"),
        sum(col("_cd_sb") * col("_cd_sb")).as("_cd_nbb"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .select((keyCols.map(col) :+
        coalesce(col("n_a"), lit(0L)).as("n_a") :+
        coalesce(col("n_b"), lit(0L)).as("n_b") :+
        when(col("_cd_naa") === 0 || col("_cd_nbb") === 0,
          lit(null).cast("double"))
          .otherwise(col("_cd_dot").cast("double") /
            (sqrt(col("_cd_naa").cast("double")) *
              sqrt(col("_cd_nbb").cast("double"))))
          .as("cos_centroid")): _*)
  }

  /** The k-center APPLY step — assign every point to its nearest
    * selected center and report per-center coverage (the deploy half
    * of [[kCenterGreedy]], mirroring x92c/x96b's select→deploy
    * symmetry): argmin over the ≤k chosen centers in the same exact
    * Q30 squared-Euclidean, distance ties to the LOWER center rank
    * (deterministic); per center, member count and the max radius —
    * the quality report a curator reads to size annotation batches or
    * judge whether k suffices. `centers` is (pick_rank, id, vector)
    * rows (collect of a selection frame joined back to vectors, ≤k —
    * broadcast as plan literals; no join, one corpus projection +
    * one map-side-combining aggregation). Returns
    * (pick_rank, center_id, n_members, max_dist_q30). */
  def kCenterAssign(df: DataFrame, idCol: String, vecCol: String,
                    centers: Seq[(Long, Long, Seq[Float])]): DataFrame = {
    require(centers.nonEmpty && centers.size <= 64,
      s"centers must hold 1..64 rows: ${centers.size}")
    require(centers.map(_._1).distinct.size == centers.size,
      "duplicate pick_rank in centers")
    val spark = df.sparkSession
    import spark.implicits._
    val pts = df.select(col(idCol).cast("long").as("_kc_id"),
      col(vecCol).as("_kc_v"))
    // fold over rank-ordered centers: keep the strictly-smaller
    // distance, so equal distances resolve to the EARLIER rank
    val best = centers.sortBy(_._1).map { case (r, _, v) =>
      struct(lit(r).as("_kc_r"),
        quantizedDistQ30(col("_kc_v"), typedlit(v)).as("_kc_d"))
    }.reduce((a, b) =>
      when(b.getField("_kc_d") < a.getField("_kc_d"), b).otherwise(a))
    val ranks = centers.map { case (r, id, _) => (r, id) }
      .toDF("pick_rank", "center_id")
    pts.select(best.as("_kc_best"))
      .groupBy(col("_kc_best._kc_r").as("pick_rank"))
      .agg(count(lit(1)).as("n_members"),
        max(col("_kc_best._kc_d")).as("max_dist_q30"))
      .join(broadcast(ranks), Seq("pick_rank"))
      .select(col("pick_rank"), col("center_id"), col("n_members"),
        col("max_dist_q30"))
  }

  /** DATA-DRIVEN greedy k-center — [[kCenterGreedy]] with the chosen
    * centers held as a parquet STAGE instead of plan literals (the
    * kMeansParallelSeedJoin / ivfAssignJoin move): the literal form
    * folds every chosen vector into a least() chain, which caps k at
    * 64 before the expression tree defeats codegen; here each round
    * BroadcastHashJoins the corpus against the staged
    * (pick_rank, cand_id, cvec) table via [[kppFanout]], so PLAN SIZE
    * IS INDEPENDENT OF k and production coreset sizes (k in the
    * thousands) cost only their k corpus scans.
    *
    * Bit-parity contract: seed at min(id), per-round argmax of the
    * exact Q30 min-distance with ties id-ascending — the literal
    * path's rounds verbatim (ExtSpec pins k=16 parity), so x102's
    * oracle replays this form unchanged. Per round ONE bounded driver
    * collect of (id, d²) — two longs; center VECTORS never leave the
    * cluster (the new center's vector moves base→stage by an id-keyed
    * filter write). Exchange shape per round: broadcast fan-out →
    * primitive (id, long) min HashAggregate (the map-side partial
    * collapses the ×centers fan-out before the exchange) →
    * TakeOrdered(1). Returns (pick_rank, idCol, mindist_q30); fewer
    * than k distinct points returns what exists (the greedy rule).
    *
    * Preconditions: `idCol` unique and non-null (the stage append and
    * the chosen-id anti-join key on it — the kMeansParallelSeedJoin
    * contract; a duplicated id would write both rows as the same
    * pick).
    *
    * Relation to [[kCenterBatch]]: batch=1 produces the identical
    * selection, so this loop is deliberately NOT delegated — its value
    * is the movement contract the batch picker trades away: here
    * center VECTORS never leave the cluster (two longs per round reach
    * the driver; the new center's vector moves base→stage by an
    * id-keyed filter write), the right form when dim is huge or the
    * driver is thin. Any change to the round algebra must land in both
    * (the shared spec pins bit-parity of all three forms). */
  def kCenterJoin(df: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = {
    require(k >= 2 && k <= (1 << 16), s"k must be in [2, 65536]: $k")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    require(!base.isEmpty, "kCenterJoin needs a non-empty frame")
    val seed = base.orderBy(col("id")).limit(1)
      .select(lit(1L).as("pick_rank"), col("id").as("cand_id"),
        col("v").as("cvec"), lit(null).cast("long").as("mindist_q30"))
    var cents = Stage(seed)
    var rank = 1L
    var exhausted = false
    while (rank < k && !exhausted) {
      val cands = cents.select(col("cand_id"), col("cvec"))
      val remaining = base.join(
        cands.select(col("cand_id").as("id")), Seq("id"), "left_anti")
      // two longs reach the driver — the kMeansTrain bounded-state rule
      val hd = kppMinDist(remaining, cands)
        .orderBy(col("_kp_d2").desc, col("id")).limit(1)
        .collect().headOption
      hd match {
        case Some(r) =>
          rank += 1
          val newRow = base.filter(col("id") === r.getLong(0))
            .select(lit(rank).as("pick_rank"), col("id").as("cand_id"),
              col("v").as("cvec"), lit(r.getLong(1)).as("mindist_q30"))
          cents = Stage(cents.unionByName(newRow))
        case None => exhausted = true // fewer than k distinct points
      }
    }
    cents
      .select(col("pick_rank"), col("cand_id").as(idCol),
        col("mindist_q30"))
  }

  /** BATCH-PICKING greedy k-center — [[kCenterJoin]] with k-means‖-style
    * oversampling (the x35b precedent; r15 verdict #4): [[kCenterJoin]]
    * pays one driver round — one Spark job plus one staged dir — PER
    * CENTER, so production coreset sizes (k in the thousands) are
    * throughput-bound on the k sequential rounds. Here each GLOBAL round
    * collects the top-`batch` candidates by current min-distance (with
    * their vectors — bounded driver state, batch·dim floats, the
    * kCenterGreedy contract) and then picks greedily LOCALLY, re-minning
    * the batch against each accepted center in a bit-exact driver
    * replica of [[quantizedDistQ30]], for as long as the pick provably
    * dominates every point outside the batch.
    *
    * EXACT-parity argument (this is greedy k-center, not an
    * approximation): let T be the smallest ORIGINAL min-distance in the
    * collected batch. Every point outside the batch has min-distance
    * ≤ T, and adding centers only shrinks min-distances, so while the
    * best in-batch candidate's UPDATED distance d* exceeds T strictly,
    * it dominates every outside point and is the true global argmax
    * (in-batch ties resolve id-ascending, exactly the one-shot rule);
    * the FIRST pick of a round is the global argmax outright (the
    * (d² desc, id asc) TakeOrdered already applied the global
    * tie-break). When d* ≤ T the round ends and min-distances recompute
    * globally. Each round accepts ≥ 1 center, so rounds ≤ k−1 always,
    * and a batch that covers the remaining corpus finishes entirely
    * locally — clustered corpora take O(k/batch-yield) rounds
    * (ExtSpec counts them). Bit-parity with [[kCenterGreedy]] /
    * [[kCenterJoin]] is spec-pinned at k=16; x102's oracle replays this
    * form verbatim.
    *
    * Preconditions: `idCol` unique and non-null; vectors of uniform
    * dimension (the [[quantizedDistQ30]] zip contract). Returns
    * (pick_rank, idCol, mindist_q30). */
  def kCenterBatch(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, batch: Int = 256): DataFrame =
    kCenterBatchRounds(df, idCol, vecCol, k, batch)._1

  /** [[kCenterBatch]] returning (selection, global rounds paid) — the
    * round count is the operator's cost model; specs pin it. */
  def kCenterBatchRounds(df: DataFrame, idCol: String, vecCol: String,
                         k: Int, batch: Int): (DataFrame, Int) = {
    require(k >= 2 && k <= (1 << 16), s"k must be in [2, 65536]: $k")
    require(batch >= 1 && batch <= 4096,
      s"batch must be in [1, 4096] (driver holds batch vectors): $batch")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    val seedRow = base.orderBy(col("id")).limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "kCenterBatch needs a non-empty frame"))
    var cents = Stage(
      Seq((1L, seedRow.getLong(0), seedRow.getSeq[Float](1).toArray.toSeq,
        Option.empty[Long]))
        .toDF("pick_rank", "cand_id", "cvec", "mindist_q30"))
    var rank = 1L
    var rounds = 0
    var exhausted = false
    while (rank < k && !exhausted) {
      rounds += 1
      val cands = cents.select(col("cand_id"), col("cvec"))
      val remaining = base.join(
        cands.select(col("cand_id").as("id")), Seq("id"), "left_anti")
      // top-batch by (min-dist desc, id asc), vectors met by an id join
      // AFTER the cut (the join-back shape: the fan-out aggregation
      // stays (id, long)-narrow; only `batch` rows carry vectors)
      val top = kppMinDist(remaining, cands)
        .orderBy(col("_kp_d2").desc, col("id")).limit(batch)
        .join(base, Seq("id"))
        .select(col("id"), col("_kp_d2"), col("v"))
        .collect()
      if (top.isEmpty) exhausted = true // fewer than k distinct points
      else {
        // < batch rows collected ⇒ the batch IS the remaining corpus:
        // no outside point exists and the round finishes greedy locally
        val isAll = top.length < batch
        val tMin = top.iterator.map(_.getLong(1)).min
        val ids = top.map(_.getLong(0))
        val vecs = top.map(_.getSeq[Float](2).toArray)
        val dist = top.map(_.getLong(1))
        val live = Array.fill(top.length)(true)
        val accepted =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[Float], Long)]
        var first = true
        var continue = true
        while (continue && rank < k) {
          var bi = -1
          var i = 0
          while (i < ids.length) {
            if (live(i) && (bi < 0 || dist(i) > dist(bi) ||
                (dist(i) == dist(bi) && ids(i) < ids(bi)))) bi = i
            i += 1
          }
          if (bi < 0) continue = false // batch exhausted
          else if (first || isAll || dist(bi) > tMin) {
            rank += 1
            accepted += ((rank, ids(bi), vecs(bi).toSeq, dist(bi)))
            live(bi) = false
            var j = 0
            while (j < ids.length) {
              if (live(j)) {
                val nd = distQ30Local(vecs(j), vecs(bi))
                if (nd < dist(j)) dist(j) = nd
              }
              j += 1
            }
            first = false
          } else continue = false // an outside point may now dominate
        }
        cents = Stage(cents.unionByName(
          accepted.toSeq.map { case (r, i, v, dd) => (r, i, v, Option(dd)) }
            .toDF("pick_rank", "cand_id", "cvec", "mindist_q30")))
      }
    }
    (cents
      .select(col("pick_rank"), col("cand_id").as(idCol),
        col("mindist_q30")), rounds)
  }

  /** Driver-side replica of [[quantizedDistQ30]] — the SAME IEEE steps
    * per component (exact float→double widening, one subtract, one
    * multiply, an exact ×2³⁰, Math.floor, long truncation, long sum),
    * so local batch re-minning is bit-identical to the cluster
    * expression. */
  private def distQ30Local(a: Array[Float], b: Array[Float]): Long = {
    require(a.length == b.length,
      s"vector dims differ: ${a.length} vs ${b.length}")
    var s = 0L
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      s += math.floor(d * d * (1L << 30).toDouble).toLong
      i += 1
    }
    s
  }
}
