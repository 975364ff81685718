package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for web-scale corpus curation.
  *
  * Crawl-derived pretraining corpora rank HOSTS by link-graph importance
  * before they rank pages by content: Common Crawl publishes a host-level
  * centrality ranking with every crawl, and crawl frontiers / corpus
  * inclusion lists are seeded from it. The engine therefore ships the
  * canonical ranker — PageRank (Page et al. 1999) — in the same
  * cross-engine-exact integer arithmetic the rest of the oracle-checked
  * surface uses, so a trained ranking is bit-replayable in ANSI SQL.
  */
object Graphs {

  private val edgeTableId = new java.util.concurrent.atomic.AtomicLong(0L)

  // Staged edge tables are named graft_pr_edges_<pid>_<hex>_<n>: the
  // per-JVM counter alone is NOT globally unique — two concurrent
  // drivers sharing one warehouse dir (or a crashed run's leftover
  // racing a live successor) would collide on graft_pr_edges_1 and
  // writeBucketed's DROP+delete would destroy the other run's live
  // edge table mid-iteration. The pid makes names unique across live
  // processes AND lets the sweep below prove an owner dead; the random
  // hex covers pid reuse across reboots.
  private val sessionToken: String = {
    val pid = ProcessHandle.current().pid()
    val hex = java.util.UUID.randomUUID().toString.take(8)
    s"${pid}_$hex"
  }

  private val ownerPid = raw"graft_pr_edges_(\d+)_.*".r

  /** One-time (per JVM) reclaim of staged edge tables leaked by CRASHED
    * runs — the drop handle runs in `finally`, but kill -9 between
    * writeBucketed and the drop leaves the managed table + warehouse
    * directory behind, and UUID-unique names mean no later run ever
    * reclaims them by name collision. Mirrors drainStageDirs' hygiene
    * contract for stage dirs: delete only what is provably garbage — a
    * dir whose embedded owner pid no longer exists (/proc/<pid> gone).
    * A LIVE concurrent driver's tables keep their pid alive and are
    * never touched. Legacy counter-only names (graft_pr_edges_<n>) are
    * not matched: ownership is unprovable, and current code never
    * creates them again. */
  private lazy val sweepDeadOwnerTables: Unit = {
    try {
      val spark = org.apache.spark.sql.SparkSession.active
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val root =
        if (warehouse.startsWith("file:"))
          new java.io.File(new java.net.URI(warehouse))
        else new java.io.File(warehouse)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      Option(root.listFiles()).foreach(_.foreach { d =>
        d.getName match {
          case ownerPid(pid)
              if !java.nio.file.Files.exists(
                java.nio.file.Paths.get(s"/proc/$pid")) =>
            spark.sql(s"DROP TABLE IF EXISTS `${d.getName}`")
            rm(d)
          case _ => ()
        }
      })
    } catch { case _: Throwable => () } // hygiene must never fail a run
  }

  /** Stage the edge table for a staged-round rank loop — MATERIALIZED
    * (a lazy lineage would re-run the caller's whole edge build every
    * round — measured 3× on x59c's join-built graph) and BUCKETED on
    * `_pr_src`, the key every round's contribution join probes: the
    * bucketed scan reports HashPartitioning(_pr_src, buckets), so each
    * iteration's rank×edge join plans with NO edge-side Exchange — only
    * the |V|-row rank table shuffles into the frozen edge layout (the
    * s6 write-once-join-many machinery; r15 verdict #2 — PageRank's
    * per-round edge re-shuffle was the 100× rehearsal's worst exponent).
    * Buckets = the session's shuffle parallelism. Returns the staged
    * frame plus a drop handle the loop invokes AFTER its final rank
    * stage materializes (the managed table is round-lifetime state, not
    * output lineage; an exception mid-loop leaks the table until the
    * next same-name writeBucketed reclaims it — the staged-dir
    * JVM-exit contract does not cover catalog tables). */
  private[ext] def stageEdgesBucketed(e0: DataFrame): (DataFrame, () => Unit) =
    stageEdgesBucketedOn(e0, "_pr_src")

  /** [[stageEdgesBucketed]] on an explicit key — HITS stages ONE copy
    * of the edge table, bucketed by `_ht_src` (its hub half-step
    * re-keys that copy by `_ht_dst`; see [[hits]]). */
  private[ext] def stageEdgesBucketedOn(e0: DataFrame,
                                        key: String): (DataFrame, () => Unit) = {
    val st = stageProjectedEdges(e0, key)
    (st.edges, () => st.drop())
  }

  private def stageProjectedEdges(e0: DataFrame, key: String,
                                  weighted: Boolean = false): EdgeStage = {
    val spark = e0.sparkSession
    sweepDeadOwnerTables
    val tbl = s"graft_pr_edges_${sessionToken}_${edgeTableId.incrementAndGet()}"
    val buckets =
      math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    graft.ops.Scale.writeBucketed(e0, tbl, key, buckets)
    new EdgeStage(tbl, key, buckets, spark, weighted)
  }

  /** The (_pr_src, _pr_dst[, _pr_w]) projection every ranker and every
    * [[EdgeStage]] write reads: ids and weight cast to long. A NULL node
    * id raises HERE, as an expression inside this select (coalesce
    * evaluates raise_error only for a null row, and drops it entirely
    * when the id column is non-nullable — no extra job either way): the
    * skeleton's sum-with-null algebra groups null ids into one node and
    * gives it an out-degree, so a null must never reach it. */
  private def projectEdges(edges: DataFrame, srcCol: String, dstCol: String,
                           weightCol: Option[String]): DataFrame = {
    def nodeId(c: String, as: String) = coalesce(col(c).cast("long"),
      raise_error(lit(s"graph edge column $c holds a null node id"))).as(as)
    edges.select(Seq(nodeId(srcCol, "_pr_src"), nodeId(dstCol, "_pr_dst")) ++
      weightCol.map(w => col(w).cast("long").as("_pr_w")): _*)
  }

  /** Per-endpoint (node, _pr_od-contribution) rows of an edge frame —
    * the PRE-AGGREGATION form of [[skeletonOf]]: each src endpoint
    * contributes its edge's out-degree mass (1, or _pr_w when weighted),
    * each dst endpoint contributes null (present, no out-mass). One
    * `sum` groupBy over these rows IS the skeleton, because `sum`
    * ignores nulls and an all-null group (dst-only = dangling) sums to
    * null. Exposed separately so [[EdgeStage.append]] can merge a
    * delta into an existing skeleton with the SAME single aggregation
    * (old skel rows are just pre-summed contributions — addition is
    * associative). */
  private def skeletonRows(e: DataFrame, weighted: Boolean): DataFrame =
    e.select(col("_pr_src").as("node"),
        (if (weighted) col("_pr_w") else lit(1L)).as("_pr_od"))
      .unionAll(e.select(col("_pr_dst").as("node"),
        lit(null).cast("long").as("_pr_od")))

  /** The (node, _pr_od) rank skeleton of an edge frame: every node that
    * appears on either end, with its out-degree (edge count, or Σ_pr_w
    * when weighted) — null marking a dangling node. This is the table
    * every ranker round re-joins; [[EdgeStage]] maintains it
    * INCREMENTALLY across appends (additive algebra: node sets union,
    * out-degrees add), so a warm re-rank never re-derives it from the
    * full O(E) edge list.
    *
    * ONE exchange, not three: the naive form (nodes union-distinct ⟕
    * out-degree agg) pays a 2|E|-row distinct, an |E|-row agg, and a
    * join; the [[skeletonRows]] sum-with-null algebra computes the
    * identical table with a single map-side-combining aggregation over
    * the same 2|E| rows (guide §2.4 — remove shuffles outright; sum of
    * all-null is null, so dangling stays dangling; sum(1L) per src row
    * is exactly count). */
  private def skeletonOf(e: DataFrame, weighted: Boolean): DataFrame =
    skeletonRows(e, weighted)
      .groupBy(col("node")).agg(sum(col("_pr_od")).as("_pr_od"))

  /** Test accessor: the skeleton frame of a (src, dst) edge list,
    * exactly as every ranker round (and every EdgeStage init/append
    * merge) builds it. NOT engine surface — the final staged-query
    * explain cannot show this intra-operator plan, so PlanSpec's
    * "ranker skeleton builds in ONE exchange" case pins it directly. */
  private[graft] def skeletonDiag(edges: DataFrame, srcCol: String,
                                  dstCol: String): DataFrame =
    skeletonOf(projectEdges(edges, srcCol, dstCol, None), weighted = false)

  /** A staged, bucketed, APPENDABLE edge table — the cross-call form of
    * [[stageEdgesBucketed]] for the per-crawl cadence: stage the
    * resident graph ONCE ([[stageEdgeTable]]), [[EdgeStage.append]] each
    * crawl's delta (a delta-sized write — one new file per touched
    * bucket, the allPairsIndexAppend discipline), and run
    * [[pageRankStaged]] (cold, warm, or seeded) against the combined
    * table without ever re-bucketing resident edges. After an append a
    * bucket holds more than one file, so the scan stops advertising its
    * sortBy order; the staged rankers therefore hash the rank side
    * instead of merge-joining (see [[prContrib]]) — the edge side still
    * never exchanges or sorts. Lifecycle is CALLER-owned: `drop()` in a
    * finally. */
  final class EdgeStage private[ext] (
      private[ext] val table: String,
      private[ext] val key: String,
      private[ext] val buckets: Int,
      @transient private val spark: org.apache.spark.sql.SparkSession,
      private[ext] val weighted: Boolean = false) {
    /** The combined (resident + appended) staged edge frame,
      * (_pr_src, _pr_dst[, _pr_w]), served from the bucketed table. */
    def edges: DataFrame = spark.table(table)

    // the staged (node, _pr_od) skeleton, maintained incrementally:
    // built from the FULL edge table once at stage time (O(E) — the
    // same pass every rank call used to pay), then each append MERGES
    // the delta's skeleton in at O(|V| + |delta|). Rankers over this
    // stage read it instead of re-deriving nodes ∪ out-degrees from the
    // whole edge list per call — the piece of r16 verdict #2 the
    // bucketed append alone did not cover (the warm re-rank still paid
    // one full-corpus nodes-distinct + degree agg per crawl).
    private var skel: Option[DataFrame] = None
    private[ext] def initSkeleton(): Unit =
      skel = Some(Dedup.stageAndRead(skeletonOf(edges, weighted)))
    /** The staged skeleton frame (node, _pr_od) when maintained; rankers
      * fall back to deriving it from the edge table when absent. */
    private[ext] def skeletonOpt: Option[DataFrame] = skel

    /** APPEND a delta's edges under the same (srcCol, dstCol[,
      * weightCol]) projection as [[pageRank]]; `weightCol` is required
      * exactly when the stage is weighted. A (src, dst) pair present in
      * both resident and delta simply holds two rows — the additive
      * multiset algebra (see [[pageRank]]) makes that identical to one
      * merged row, so appends never rewrite. Cost is delta-sized: one
      * stage of the delta, one repartition of it by the bucket key, one
      * sorted file per touched bucket; resident files are never
      * rewritten. */
    def append(delta: DataFrame, srcCol: String, dstCol: String,
               weightCol: Option[String] = None): Unit = {
      require(weightCol.isDefined == weighted,
        if (weighted) "weighted EdgeStage: append needs weightCol"
        else "unweighted EdgeStage: append takes no weightCol")
      // stage the delta ONCE: the caller's delta lineage (typically a
      // corpus-scale join) runs exactly once, and both the bucketed
      // append and the skeleton merge read this delta-sized flat
      // parquet. A throw here has written nothing — the table and the
      // skeleton both still describe the resident edges.
      val d = Dedup.stageAndRead(projectEdges(delta, srcCol, dstCol, weightCol))
      // from the write on the table may hold rows the skeleton lacks: a
      // throw before the merge lands leaves NO skeleton (rankers derive
      // it from the edge table), never a stale one
      val prev = skel
      skel = None
      d.repartition(buckets, col(key)).write.mode("append")
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(table)
      // merge the delta's skeleton: node sets union, out-degrees add
      // (sum ignores nulls, all-null stays null — dangling stays
      // dangling), so the merged table is bit-identical to a full
      // rebuild over resident + delta (GraphsSpec pins it). ONE
      // aggregation: the old skeleton's rows are pre-summed
      // [[skeletonRows]] contributions, so old rows ∪ delta endpoint
      // rows → one `sum` groupBy IS the merged skeleton.
      skel = prev.map(s => Dedup.stageAndRead(
        s.unionByName(skeletonRows(d, weighted))
          .groupBy(col("node")).agg(sum(col("_pr_od")).as("_pr_od"))))
    }

    def drop(): Unit = { spark.sql(s"DROP TABLE IF EXISTS `$table`"); () }
  }

  /** Stage a graph's (src, dst[, weight]) edges as an appendable
    * bucketed table (see [[EdgeStage]]); the stage is weighted exactly
    * when `weightCol` is given. The caller owns the handle and must
    * `drop()` it. */
  def stageEdgeTable(edges: DataFrame, srcCol: String, dstCol: String,
                     weightCol: Option[String] = None): EdgeStage = {
    val st = stageProjectedEdges(projectEdges(edges, srcCol, dstCol, weightCol),
      "_pr_src", weighted = weightCol.isDefined)
    st.initSkeleton()
    st
  }

  /** PageRank power iteration in EXACT Q18 integer fixed point — with
    * its weighted, warm-started and seeded (TrustRank) forms selected by
    * `weightCol`, `prior` and `seeds`.
    *
    * Rank mass lives in units of 10⁻¹⁸ (longs): r₀(v) = S div N with
    * S = 10¹⁸, and each round applies
    *
    *   r'(v) = ( (1000−d)·(S div N)
    *             + d·( Σ_{u→v} r(u) div out(u)  +  D div N ) ) div 1000
    *
    * with d the damping in per-mille and D the total rank of dangling
    * (no-out-edge) nodes, redistributed uniformly — the standard
    * dangling-mass completion. Every operation is integer add / multiply
    * / floor-division on non-negative values (truncating and flooring
    * engines agree), products are taken in decimal(38,0) for headroom, so
    * N rounds replay bit-for-bit as N unrolled CTEs in any ANSI engine —
    * an ORACLE-CHECKABLE PageRank (x59). Parallel edges are intentional
    * multiplicity: a host linking twice contributes twice, which is how a
    * link-count-weighted host graph is usually fed. Node ids must be
    * non-null: a null id raises (see [[projectEdges]]).
    *
    * WEIGHTED (`weightCol`, x59c): the compact form of parallel edges —
    * a real host graph ships as (src, dst, link_count) after
    * aggregation, not as billions of duplicate rows. out(u) becomes Σw
    * per src and each edge contributes w·(r(u) div Σw) — exactly the sum
    * of w parallel edges' floor-divided contributions, so the weighted
    * rounds are BIT-IDENTICAL to the expanded multiset and the x59
    * oracle verifies them verbatim. Duplicate (src, dst) rows (e.g. the
    * same pair in two crawls) are additive in both Σw and the
    * contribution sum, so they equal one merged row. The product stays
    * within longs while w·rank < 2⁶³ — total weighted degree per node
    * to ~9·10¹⁸ rank-units, far past any real host graph. Weights must
    * be positive (a src whose weights sum to 0 hits the ANSI divide
    * guard loudly; dangling means ABSENT from the edge list).
    *
    * WARM START (`prior`, x59d): the production crawl cadence — Common
    * Crawl re-ranks hosts per crawl; the graph changes a few percent,
    * the ranking barely moves, and a cold restart wastes almost every
    * round re-deriving what the last release already knew. The
    * skeleton, out-degrees, |V| and the Q18 base are built from the
    * CURRENT edges; a node present in `prior` (exactly (node, rank_q18),
    * this function's output shape, typically the previous release's
    * staged table) starts at its prior rank, a NEW node at its cold init,
    * and a node that left the graph drops; then the unchanged rounds
    * run. Damping < 1 contracts toward a unique fixed point regardless
    * of the start vector, so warm converges to the SAME ranking from
    * much closer (GraphsSpec measures the L1 advantage on an edge
    * append), and an all-cold-init prior is bit-identical to the cold
    * run (spec-pinned). Cost: one extra node-keyed left join for r₀.
    *
    * TRUSTRANK (`seeds`, x59b; Gyöngyi, Garcia-Molina & Pedersen 2004):
    * the teleport confined to a TRUSTED seed set — trust mass
    * originates only at vetted hosts and flows along links, so link-farm
    * spam that PageRank rewards (it teleports everywhere) scores zero
    * unless the trusted region links into it. `seeds` is a one-column
    * frame of node ids; the init and the teleport/dangling targets
    * become
    *
    *   r₀(v)  = (S div |seeds|)·[v ∈ seeds]
    *   r'(v)  = ( (1000−d)·(S div |seeds|)·[v ∈ seeds]
    *              + d·( Σ_{u→v} r(u) div out(u)
    *                    + (D div |seeds|)·[v ∈ seeds] ) ) div 1000
    *
    * (dangling mass D returns to the seed distribution, per the paper's
    * static teleport vector). Ids absent from the graph still absorb
    * teleport mass (trusted hosts that have no observed links). Seeds
    * ride the plan as a broadcast. A warm seeded run starts a new node
    * at its cold init (seed base or zero). Seeds need an unweighted
    * graph (no caller ranks a weighted graph by trust).
    *
    * Scale shape per iteration: one (src=node)-keyed join moves (node,
    * rank, outdeg) longs onto the edge list — never payloads — one
    * dst-keyed sum with map-side partials, one node-keyed left join back
    * onto the |V|-row node table, and a one-row dangling-mass broadcast.
    * The edge list is the big side and is never re-keyed twice in a
    * round. The returned plan is lazy and the ranks frame fans out twice
    * per round (dangling branch + contribution branch), so for deep runs
    * pass `stagePerIteration = true`: each round's rank table stages to a
    * unique temp parquet (JVM-exit cleanup, same contract as
    * [[graft.ext.Dedup.stageSignatures]]) — constant plan size, each
    * round materialized exactly once — and the EDGE table stages too,
    * bucketed ([[stageEdgesBucketed]]), because every round re-reads it
    * (contribution join, skeleton rejoin) and a lazy edge lineage would
    * re-execute its whole upstream several times per round — measured 3×
    * (43 s → 14 s cold) on x59c's join-built graph at sf0.1. The edge
    * table drops in a finally, on success and failure paths alike. |V|
    * is one count() action up front (a single scalar, not a collect).
    *
    * Returns (node: long, rank_q18: long) — rank scaled by 10¹⁸; total
    * mass ≈ 10¹⁸ (floor-division leaks at most N+1 units per round). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
               weightCol: Option[String] = None,
               prior: Option[DataFrame] = None,
               seeds: Option[DataFrame] = None,
               dampingPerMille: Int = 850,
               stagePerIteration: Boolean = false): DataFrame = {
    requireRankArgs(iters, dampingPerMille, weightCol.isDefined, prior, seeds)
    val internal = Set("node", "rank_q", "rank_q18", "_pr_src", "_pr_dst",
        "_pr_od", "_pr_c", "_pr_s", "_pr_dm") ++
      weightCol.map(_ => "_pr_w") ++ prior.map(_ => "_pr_warm") ++
      seeds.map(_ => "_pr_seed")
    val clashes = edges.columns.filter(c =>
      internal(c) && c != srcCol && c != dstCol && !weightCol.contains(c))
    require(clashes.isEmpty,
      s"pageRank reserves column names ${clashes.mkString(", ")}")
    val e0 = projectEdges(edges, srcCol, dstCol, weightCol)
    val (e, dropEdges) =
      if (stagePerIteration) stageEdgesBucketed(e0)
      else (e0, () => ())
    // staged rounds: every action in the runner (skeleton stage, |V|
    // count, the rounds themselves) runs while the round-lifetime edge
    // table lives; the final rank table is materialized before it
    // returns, so the table drops in finally — success AND failure
    // paths (a leaked managed table has no JVM-exit cleanup contract,
    // unlike stage dirs)
    try rankRounds(e, weightCol.isDefined, seeds, prior, dampingPerMille,
      iters, stagePerIteration, shjRanks = false, baseSkeleton = None)
    finally dropEdges()
  }

  /** [[pageRank]] over a caller-owned [[EdgeStage]] — the crawl loop
    * stages the resident graph once ([[stageEdgeTable]]), ranks, appends
    * each delta, re-ranks warm from the last release — never
    * re-bucketing resident edges (r16 verdict #2: a frame-based warm
    * re-rank re-bucketed the ENTIRE resident+append graph every crawl,
    * making the per-crawl cost corpus-sized instead of delta-sized).
    * Rounds are always staged; the stage's incrementally maintained
    * skeleton replaces the O(E) derivation, and the rank×edge join
    * hashes the |V|-row rank side (see [[prContrib]]) so appended
    * multi-file buckets stay free of edge-side Exchange AND Sort. The
    * stage knows whether it is weighted. Bit-identical to [[pageRank]]
    * with the same options on the same edges (spec-pinned). */
  def pageRankStaged(stage: EdgeStage, iters: Int,
                     prior: Option[DataFrame] = None,
                     seeds: Option[DataFrame] = None,
                     dampingPerMille: Int = 850): DataFrame = {
    requireRankArgs(iters, dampingPerMille, stage.weighted, prior, seeds)
    rankRounds(stage.edges, stage.weighted, seeds, prior, dampingPerMille,
      iters, staged = true, shjRanks = true, baseSkeleton = stage.skeletonOpt)
  }

  private def requireRankArgs(iters: Int, d: Int, weighted: Boolean,
                              prior: Option[DataFrame],
                              seeds: Option[DataFrame]): Unit = {
    require(iters >= 1, "iters must be >= 1")
    require(d >= 0 && d <= 1000, "damping is per-mille: 0..1000")
    prior.foreach(p => require(p.columns.toSet == Set("node", "rank_q18"),
      "prior must be exactly (node, rank_q18) — pageRank's output shape"))
    seeds.foreach(s => require(s.columns.length == 1,
      "seeds must be a one-column frame of node ids"))
    require(!(weighted && seeds.isDefined),
      "TrustRank seeds need an unweighted graph")
  }

  /** One round's contribution aggregation — the rank×edge join the
    * bucketed edge stage keeps exchange-free on the edge side
    * (GraphsSpec pins the no-edge-Exchange shape on a staged bucketed
    * table). Each edge carries rank div out(src), or w·(rank div Σw)
    * when weighted. */
  private[ext] def prContrib(e: DataFrame, ranks: DataFrame,
                             shjRanks: Boolean = false,
                             weighted: Boolean = false): DataFrame = {
    val r0 = ranks.select(col("node"), col("_pr_od"), col("rank_q"))
    // shjRanks: plan the rank×edge join as a SHUFFLED-HASH join with the
    // |V|-row rank table as build side — the APPENDED-edge-stage form: a
    // bucket holding >1 file (resident + delta) no longer advertises its
    // sortBy order, so a merge join would re-sort the whole edge side
    // every round; hashing the small side keeps the edge side free of
    // BOTH Exchange and Sort (GraphsSpec pins the shape).
    val r = if (shjRanks) r0.hint("shuffle_hash") else r0
    e.join(r, col("_pr_src") === col("node"))
      .select(col("_pr_dst"), expr(
        if (weighted) "_pr_w * (rank_q div _pr_od)"
        else "rank_q div _pr_od").as("_pr_c"))
      .groupBy(col("_pr_dst"))
      .agg(sum(col("_pr_c")).as("_pr_s"))
  }

  /** THE round runner behind [[pageRank]] and [[pageRankStaged]]:
    * skeleton, |V| (or |seeds|) count, r₀ seeding, then `iters` exact
    * Q18 rounds over edge frame `e` (_pr_src, _pr_dst[, _pr_w]) —
    * written once, so no form's algebra can drift from another's (the
    * specs pin their pairwise bit-parity). Three choices pick the form:
    * `weighted` the contribution term (see [[prContrib]]), `seeds` the
    * teleport and dangling terms (uniform `S div N` and `D div N`, or
    * seed-gated with |seeds|), `prior` the r₀ seeding (cold init, or a
    * node-keyed left join on the prior ranks). `staged` materializes the
    * skeleton once and every round's rank table; `baseSkeleton` is an
    * [[EdgeStage]]'s incrementally maintained (node, _pr_od) table. */
  private def rankRounds(e: DataFrame, weighted: Boolean,
                         seeds: Option[DataFrame], prior: Option[DataFrame],
                         d: Int, iters: Int, staged: Boolean,
                         shjRanks: Boolean,
                         baseSkeleton: Option[DataFrame]): DataFrame = {
    val seedNodes = seeds.map(s =>
      s.select(col(s.columns.head).cast("long").as("node")).distinct())
    // staged rounds re-join the skeleton every iteration: materialize it
    // ONCE (|V|-row narrow) or each round re-pays the nodes union and the
    // out-degree aggregation over the FULL edge list — at 100× that
    // recomputation, not the rank algebra, dominated the round cost. An
    // EdgeStage caller passes its INCREMENTALLY-maintained skeleton
    // instead — no O(E) pass at all on warm re-ranks.
    val base = (baseSkeleton, seedNodes) match {
      case (Some(sk), None) => sk
      case _ =>
        // the single-aggregation skeleton algebra of [[skeletonOf]] (one
        // exchange, not distinct+agg+join), over the edge endpoints or
        // the stage's pre-summed skeleton rows. Seed nodes enter as
        // null-od rows: a seed absent from the graph sums to null
        // (dangling, absorbs teleport mass), a seed that is a source
        // gets its out-degree from its src rows — a |V|-scale merge,
        // never an O(E) re-derivation on a stage
        val rows = baseSkeleton.getOrElse(skeletonRows(e, weighted))
        val od = seedNodes.fold(rows)(sn => rows.unionByName(
            sn.select(col("node"), lit(null).cast("long").as("_pr_od"))))
          .groupBy(col("node")).agg(sum(col("_pr_od")).as("_pr_od"))
        val b = seedNodes.fold(od)(sn => od
          .join(broadcast(sn.withColumn("_pr_seed", lit(true))),
            Seq("node"), "left")
          .select(col("node"), col("_pr_od"),
            coalesce(col("_pr_seed"), lit(false)).as("_pr_seed")))
        if (staged) Dedup.stageAndRead(b) else b
    }
    val n = seedNodes match {
      case None =>
        val nv = base.count()
        require(nv > 0, "pageRank needs a non-empty graph")
        nv
      case Some(sn) =>
        val ns = sn.count()
        require(ns > 0, "TrustRank needs a non-empty seed set")
        ns
    }
    val baseQ = (BigInt(10).pow(18) / n).toString
    // the teleport target and the dangling share: every node, or seeds only
    val seeded = seedNodes.isDefined
    val tele = if (seeded) s"if(_pr_seed, $baseQ, 0)" else baseQ
    val dangShare =
      if (seeded) s"if(_pr_seed, _pr_dm div $n, 0L)" else s"_pr_dm div $n"
    val carry = Seq(col("node"), col("_pr_od")) ++
      (if (seeded) Seq(col("_pr_seed")) else Nil)
    // r0 = prior rank where the node carried one, cold init where it is
    // new; departed prior nodes fall out via the skeleton join
    val cold = expr(s"cast($tele as bigint)")
    var ranks = prior match {
      case None => base.select(carry :+ cold.as("rank_q"): _*)
      case Some(p) => base
        .join(p.select(col("node"), col("rank_q18").as("_pr_warm")),
          Seq("node"), "left")
        .select(carry :+ coalesce(col("_pr_warm"), cold).as("rank_q"): _*)
    }
    if (staged && prior.isDefined)
      ranks = Dedup.stageAndRead(ranks)
    for (_ <- 1 to iters) {
      val dang = ranks.filter(col("_pr_od").isNull)
        .agg(coalesce(sum(col("rank_q")), lit(0L)).as("_pr_dm"))
      ranks = base
        .join(prContrib(e, ranks, shjRanks, weighted),
          col("node") === col("_pr_dst"), "left")
        .crossJoin(broadcast(dang))
        .select(carry :+ expr(
          s"""cast((cast(${1000 - d} as decimal(38,0)) * $tele
              + cast($d as decimal(38,0))
                * (coalesce(_pr_s, 0L) + $dangShare)) div 1000
              as bigint)""").as("rank_q"): _*)
      if (staged)
        ranks = Dedup.stageAndRead(ranks)
    }
    ranks.select(col("node"), col("rank_q").as("rank_q18"))
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in
    * a hyperlinked environment") in EXACT Q9 integer fixed point — the
    * bidirectional complement to [[pageRank]]'s single score: a node is
    * a good HUB if it points at good authorities, a good AUTHORITY if
    * good hubs point at it (curation uses both: authority ≈ trustworthy
    * content host, hub ≈ directory/aggregator to crawl outward from).
    *
    * h₀(v) = S = 10⁹ for every node; each round
    *
    *   a_raw(v) = Σ_{u→v} h(u);   a(v) = a_raw·S div max(a_raw)
    *   h_raw(u) = Σ_{u→v} a(v);   h(u) = h_raw·S div max(h_raw)
    *
    * MAX-normalization instead of the textbook L2: the power iteration
    * converges to the principal singular vectors up to scale under ANY
    * norm, so the ranking is the classic one — but max keeps every step
    * integer add / multiply / floor-division on non-negative values
    * (truncating and flooring engines agree), so N rounds replay
    * bit-for-bit as unrolled CTEs in any ANSI engine (x83). Parallel
    * edges are multiplicity, as in [[pageRank]]. Zero-in-degree nodes
    * hold authority 0, zero-out-degree nodes hub 0 — they stay in the
    * result (they are the graph's leaves, not noise).
    *
    * Scale shape per round: one src-keyed join moving (node, hub) longs
    * onto the edge list + a dst-keyed sum with map-side partials, the
    * mirror-image dst-keyed join + src-keyed sum, two |V|-row left
    * joins back onto the node skeleton, and two ONE-ROW max broadcasts.
    * Only 8-byte scores ride the exchanges. The hub frame fans out
    * twice per round, so deep runs pass `stagePerIteration = true`
    * (each round's hub table staged to a temp parquet — constant plan
    * size, the [[pageRank]] contract; the final auth lineage is then
    * one round deep).
    *
    * Returns (node: long, hub_q9: long, auth_q9: long) — scores scaled
    * by 10⁹, max per column = 10⁹ by construction. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
           stagePerIteration: Boolean = false): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val internal = Set("node", "hub_q9", "auth_q9", "_ht_src", "_ht_dst",
      "_ht_s", "_ht_m", "_ht_raw")
    val clashes = edges.columns.filter(c =>
      internal(c) && c != srcCol && c != dstCol)
    require(clashes.isEmpty,
      s"hits reserves column names ${clashes.mkString(", ")}")
    val s9 = 1000000000L
    // see pageRank: staged rounds stage the edge table too, or every
    // round re-executes the caller's edge-build lineage several times.
    // HITS joins the edge list on BOTH ends (src for the authority
    // half-step, dst for the hub half-step). Staged layout (r17 A/B,
    // PERF.md, measured both ways at 100×): ONE src-bucketed copy;
    // the authority half-step rides the bucket (no edge-side Exchange
    // or Sort), and the hub half-step joins the SAME copy on _ht_dst
    // with the |V|-row score table as the shuffled-hash BUILD side —
    // the edge side re-keys by dst in memory each round, which at 2
    // rounds costs far less than the r16 dual-copy form's second
    // bucketed build (89.7 s vs 153.0 s at 100×; 7.1 vs 9.7 s at
    // sf0.1). A deep-iteration HITS (≥ ~5 rounds) would amortize a
    // second dst-bucketed copy; at this operator's crawl-analysis round
    // counts the single copy wins both scales. The node skeleton stages
    // once for the same reason as pageRank's: every half-step's left
    // join re-paid the union-distinct over the full edge list
    // (measured: the dominant cost at 100× pre-r16).
    val e0 = edges.select(col(srcCol).cast("long").as("_ht_src"),
      col(dstCol).cast("long").as("_ht_dst"))
    val (eBySrc, dropSrc) =
      if (stagePerIteration) stageEdgesBucketedOn(e0, "_ht_src")
      else (e0, () => ())
    try {
      val nodes0 = eBySrc.select(col("_ht_src").as("node"))
        .union(eBySrc.select(col("_ht_dst").as("node"))).distinct()
      val nodes =
        if (stagePerIteration)
          Dedup.stageAndRead(nodes0)
        else nodes0
      require(eBySrc.limit(1).count() > 0, "hits needs a non-empty edge list")

      // one half-step: scores flow across the edges from `fromEnd` to the
      // other end, sum there, and max-normalize back to Q9 — the SAME code
      // runs the authority update (from src) and the hub update (from dst)
      def halfStep(scores: DataFrame, scoreCol: String,
                   fromEnd: String, toEnd: String, outCol: String): DataFrame = {
        val sc0 = scores.select(col("node"), col(scoreCol))
        // staged rounds: hash the |V|-row score side (see layout note)
        val sc = if (stagePerIteration) sc0.hint("shuffle_hash") else sc0
        val raw = eBySrc
          .join(sc, col(fromEnd) === col("node"))
          .groupBy(col(toEnd))
          .agg(sum(col(scoreCol)).as("_ht_s"))
        val tab = nodes.join(raw, col("node") === col(toEnd), "left")
          .select(col("node"), coalesce(col("_ht_s"), lit(0L)).as("_ht_raw"))
        val mx = tab.agg(max(col("_ht_raw")).as("_ht_m"))
        tab.crossJoin(broadcast(mx))
          .select(col("node"), expr(
            s"cast((cast(_ht_raw as decimal(38,0)) * $s9) div _ht_m" +
              " as bigint)").as(outCol))
      }

      var hub = nodes.withColumn("hub_q9", lit(s9))
      var auth: DataFrame = null
      for (_ <- 1 to iters) {
        auth = halfStep(hub, "hub_q9", "_ht_src", "_ht_dst", "auth_q9")
        hub = halfStep(auth, "auth_q9", "_ht_dst", "_ht_src", "hub_q9")
        if (stagePerIteration) {
          // stage BOTH frames: the final select consumes auth too, and
          // a lazy auth would re-run its half-step (incl. the edge
          // join) after the tables drop in finally
          auth = Dedup.stageAndRead(auth)
          hub = Dedup.stageAndRead(hub)
        }
      }
      // hub and auth both descend from `nodes` — rename one join key so
      // the self-join resolves unambiguously regardless of staging
      hub.join(auth.withColumnRenamed("node", "_ht_n2"),
          col("node") === col("_ht_n2"))
        .select(col("node"), col("hub_q9"), col("auth_q9"))
    } finally dropSrc()
  }

  /** K-CORE DECOMPOSITION (the k-core): iterative peeling — repeatedly
    * drop every node with fewer than k neighbors among the survivors —
    * until a fixpoint; what remains is the maximal subgraph of minimum
    * degree ≥ k (Seidman 1983), the standard "dense backbone" extractor
    * (spam-farm cores in link graphs, well-connected community seeds).
    *
    * Exactness contract: peeling is DETERMINISTIC and IDEMPOTENT once
    * stable — extra rounds are no-ops — so a fixed-round oracle unroll
    * (x90 uses 12) replays the engine's adaptive loop exactly whenever
    * convergence happens within the unroll, and the engine's loud
    * `maxRounds` ceiling guarantees exactly that or fails.
    *
    * Scale shape per round: the directed adjacency (each undirected
    * edge, both ways — built once, staged) is filtered to
    * alive destinations by one node-keyed semi-join, then one
    * map-side-combining degree count; the survivor set stages per
    * round ([[Dedup.stageSignatures]] — constant plan size), and the
    * ONLY driver scalar is the per-round survivor count backing the
    * convergence test (the pageRank |V| discipline). Ids only on every
    * exchange.
    *
    * Returns (node, deg) for the members of the k-core, `deg` their
    * within-core degree. Empty when no k-core exists. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 32): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val und = edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("_kc_u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("_kc_v"))
      .filter(col("_kc_u") =!= col("_kc_v"))
      .distinct()
    // Adjacency stage form, MEASURED both ways at both scales (r18,
    // PERF.md): the pageRank/HITS bucketed-stage discipline (one sorted
    // file per bucket, each round's alive join edge-Exchange-free) was
    // tried here and LOSES on this operator's regime — interleaved A/B:
    // sf0.1 10.6 vs 5.4 s, 100× min-of-2 14.7 vs 11.9 s / 11.8 vs
    // 9.0 GB heap — because the co-purchase adjacency is SPARSE: the
    // alive side broadcasts even at 100×, so no round pays an edge
    // exchange the bucketing could remove, and the sorted bucketed
    // write plus 32-task bucket scans per round are pure overhead
    // (guide §1.1: the "ideal" plan lost to the measurement; §2.4's
    // shuffle removal has nothing to remove here). FLAT stage it is.
    val ee = Dedup.stageAndRead(und
      .select(col("_kc_u").as("_kc_a"), col("_kc_v").as("_kc_b"))
      .unionAll(und.select(col("_kc_v").as("_kc_a"),
        col("_kc_u").as("_kc_b"))))
    var alive = ee.select(col("_kc_a").as("node")).distinct()
    var n = alive.count()
    var result: DataFrame = null
    var r = 0
    while (result == null && r < maxRounds) {
      r += 1
      // ONE alive-join per round, not two: restricting the a-side to
      // alive nodes is redundant — peeling is monotone (alive sets only
      // shrink), so a node removed in an earlier round has degree < k
      // over ANY later alive set and the `deg >= k` filter drops it
      // anyway. Each round therefore joins the staged edge table once
      // (b-side alive semi-filter) instead of twice — half the per-round
      // join work at every scale, identical survivor set per round.
      val deg = ee
        .join(alive.select(col("node").as("_kc_b")), "_kc_b")
        .groupBy(col("_kc_a").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
      val next = Dedup.stageAndRead(deg)
      val m = next.count()
      if (m == n) result = next.select(col("node"), col("deg"))
      else { n = m; alive = next.select(col("node")) }
    }
    if (result == null) throw new IllegalStateException(
      s"kCore did not reach a fixpoint in $maxRounds rounds — raise " +
        "maxRounds (and the oracle unroll) for this graph")
    result
  }

  /** TRIANGLE COUNTING + local clustering coefficient by DEGREE-ORDERED
    * edge orientation — the standard scalable formulation (Suri &
    * Vassilvitskii, WWW'11 "Counting triangles and the curse of the last
    * reducer"): direct every undirected edge from its lower endpoint to
    * its higher under the total order (degree, node id), so each
    * triangle is found EXACTLY ONCE from its smallest-ordered apex and —
    * the reason the ordering exists — every hub's fan-out collapses:
    * a degree-d node keeps only its neighbors of HIGHER degree as
    * out-edges, bounding the wedge work at Σ C(outdeg⁺, 2) ≈ m^(3/2)
    * instead of the Σ C(deg, 2) that makes the naive wedge join
    * explode on the first celebrity node (the "curse of the last
    * reducer"). Clustering coefficient = 2·tri / (deg·(deg−1)) reported
    * in exact Q20 (one floor division; 0 when deg < 2).
    *
    * Input edges are UNDIRECTED: duplicates, reversed duplicates, and
    * self-loops collapse in the normalization. Plan: one distinct on
    * the normalized (lo, hi) pair, one degree aggregation, the wedge
    * self-join keyed on the apex + the closure equi-join keyed on the
    * (b, c) pair — ids only on every exchange — then a 3-way explode
    * and a node-keyed count.
    *
    * Returns (node, deg, n_tri, coef_q20) for every node with ≥ 1 edge
    * (x87 replays every step). */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("_tr_u"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("_tr_v"))
      .filter(col("_tr_u") =!= col("_tr_v"))
      .distinct()
    val deg = e.select(col("_tr_u").as("node"))
      .unionAll(e.select(col("_tr_v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient by (deg, id): a → b iff (deg_a, a) < (deg_b, b)
    val oe = e
      .join(deg.select(col("node").as("_tr_u"), col("deg").as("_tr_du")), "_tr_u")
      .join(deg.select(col("node").as("_tr_v"), col("deg").as("_tr_dv")), "_tr_v")
      .select(
        when(col("_tr_du") < col("_tr_dv") ||
          (col("_tr_du") === col("_tr_dv") && col("_tr_u") < col("_tr_v")),
          col("_tr_u")).otherwise(col("_tr_v")).as("a"),
        when(col("_tr_du") < col("_tr_dv") ||
          (col("_tr_du") === col("_tr_dv") && col("_tr_u") < col("_tr_v")),
          col("_tr_v")).otherwise(col("_tr_u")).as("b"))
    // wedge from the shared apex, closed by the (b, c) edge — the
    // orientation admits exactly one of (b, c)/(c, b), so each triangle
    // materializes once
    val tri = oe
      .join(oe.select(col("a"), col("b").as("c")), "a")
      .filter(col("b") =!= col("c"))
      .join(oe.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coef_q20",
        when(col("deg") >= 2,
          expr("(2097152L * n_tri) div (deg * (deg - 1L))"))
          .otherwise(lit(0L)))
  }
}
