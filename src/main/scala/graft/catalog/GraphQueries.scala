package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.ops.Stage
import Common._

/** Graph analytics: PageRank and TrustRank (one-shot and crawl cadences),
  * HITS, triangles, k-core and the copy-graph curation ([[graft.ext.Graphs]]). */
object GraphQueries {

  val entries: Seq[Entry] = Seq(
    Entry("x83_hits", (s, dir) => {
      // HITS hubs & authorities over the x59 link graph — the
      // bidirectional centrality PageRank can't give (authority ≈
      // trustworthy host, hub ≈ directory worth crawling outward from):
      // exact Q9 integer fixed point, max-normalized, 2 mutual-
      // reinforcement rounds, staged per round (constant plan size).
      // The oracle unrolls both rounds as CTEs over HUGEINT.
      val pairs = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      val fwd = pairs.select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = pairs.filter(col("l_quantity") > 25)
        .select((col("l_suppkey") * 2 + 1).as("src"),
          (col("o_custkey") * 2).as("dst"))
      graft.ext.Graphs.hits(fwd.union(rev), "src", "dst", 2,
        stagePerIteration = true)
    },
      // The x83 HITS oracle: the x59 edge multiset, h₀ = 10⁹, and both
      // mutual-reinforcement rounds unrolled — each half-step one edge
      // join + sum, a left join back onto the node skeleton (absent side
      // reads 0), and the ·10⁹ // max normalization over HUGEINT.
      Sql {
    def half(scores: String, fromEnd: String, toEnd: String,
             rawCte: String, outCte: String) =
      s"""${rawCte} AS (SELECT n.node, COALESCE(s.s, 0::HUGEINT) AS raw
            FROM nodes n
            LEFT JOIN (SELECT e.$toEnd AS nd, SUM(r.q) AS s
                       FROM edges e JOIN $scores r ON r.node = e.$fromEnd
                       GROUP BY e.$toEnd) s ON s.nd = n.node),
          $outCte AS (SELECT node, (raw * 1000000000)
                        // (SELECT MAX(raw) FROM $rawCte) AS q
                      FROM $rawCte)"""
    s"""WITH pr AS (SELECT o_custkey, l_suppkey, l_quantity
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        edges AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                  FROM pr
                  UNION ALL
                  SELECT l_suppkey * 2 + 1, o_custkey * 2 FROM pr
                  WHERE l_quantity > 25),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        h0 AS (SELECT node, 1000000000::HUGEINT AS q FROM nodes),
        ${half("h0", "src", "dst", "ar1", "a1")},
        ${half("a1", "dst", "src", "hr1", "h1")},
        ${half("h1", "src", "dst", "ar2", "a2")},
        ${half("a2", "dst", "src", "hr2", "h2")}
        SELECT h2.node, CAST(h2.q AS BIGINT) AS hub_q9,
               CAST(a2.q AS BIGINT) AS auth_q9
        FROM h2 JOIN a2 ON a2.node = h2.node"""
  }),
    Entry("x87_triangles", (s, dir) => {
      // community structure of the supplier co-purchase graph: per-node
      // triangle counts + exact-Q20 local clustering coefficient by
      // DEGREE-ORDERED orientation (Suri–Vassilvitskii — each triangle
      // found once from its lowest-degree apex, hub fan-out bounded at
      // Σ C(outdeg⁺, 2) instead of the celebrity-node blow-up). Edges:
      // two suppliers sharing an order, quantity > 40 lines only.
      val li = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 40)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sp"))
      val e = li.join(li.select(col("o"), col("sp").as("sp2")), "o")
        .filter(col("sp") < col("sp2"))
      graft.ext.Graphs.triangles(e, "sp", "sp2")
    },
      // The x87 triangle oracle: the normalized co-purchase edge set, the
      // (deg, id)-ordered orientation, the apex wedge join closed by the
      // oriented (b, c) edge, the 3-way per-node attribution, and the Q20
      // clustering-coefficient floor division.
      Sql("""WITH li AS (SELECT l_orderkey AS o, l_suppkey AS sp FROM lineitem
           WHERE l_quantity > 40),
       e0 AS (SELECT DISTINCT a.sp AS u, b.sp AS v
              FROM li a JOIN li b ON a.o = b.o AND a.sp < b.sp),
       deg AS (SELECT node, COUNT(*) AS d
               FROM (SELECT u AS node FROM e0
                     UNION ALL SELECT v FROM e0) GROUP BY 1),
       oe AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                     THEN u ELSE v END AS a,
                     CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                     THEN v ELSE u END AS b
              FROM e0 JOIN deg du ON du.node = e0.u
                      JOIN deg dv ON dv.node = e0.v),
       tri AS (SELECT o1.a AS x, o1.b AS y, o2.b AS z
               FROM oe o1
               JOIN oe o2 ON o2.a = o1.a AND o1.b <> o2.b
               JOIN oe o3 ON o3.a = o1.b AND o3.b = o2.b),
       pn AS (SELECT node, COUNT(*) AS n_tri
              FROM (SELECT x AS node FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri) GROUP BY 1)
       SELECT deg.node, CAST(deg.d AS BIGINT) AS deg,
              CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
              CASE WHEN deg.d >= 2
                THEN CAST((2097152::HUGEINT * COALESCE(pn.n_tri, 0))
                          // (deg.d * (deg.d - 1)) AS BIGINT)
                ELSE 0 END AS coef_q20
       FROM deg LEFT JOIN pn USING (node)""")),
    Entry("x90_kcore", (s, dir) => {
      // dense-backbone extraction: the 3-core of the sparse supplier
      // co-purchase graph (quantity > 48 lines) by iterative peeling to
      // a fixpoint — the engine loops adaptively under a loud ceiling,
      // the oracle unrolls 12 fixed rounds; peeling is idempotent once
      // stable, so the two agree exactly.
      val li = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 48)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sp"))
      val e = li.join(li.select(col("o"), col("sp").as("sp2")), "o")
        .filter(col("sp") < col("sp2"))
      graft.ext.Graphs.kCore(e, "sp", "sp2", 3, maxRounds = 12)
    },
      // The x90 k-core oracle: the sparse co-purchase edge set, the
      // two-way adjacency, and 12 unrolled peel rounds (each a
      // both-endpoints-alive degree count + the ≥ k cut) — idempotent once
      // stable, so the fixed unroll equals the engine's adaptive loop
      // (which converges ≤ 10 rounds at every SF, ceiling-guarded).
      Sql {
    // MATERIALIZED: each round references the previous alive set twice,
    // so default CTE inlining would expand the tree 2^12-fold (planning
    // blow-up + thousands of re-opened scans)
    def round(i: Int) =
      s"""d$i AS MATERIALIZED (SELECT e.a AS node, COUNT(*) AS d
            FROM ee e
            JOIN a${i - 1} x ON x.node = e.a
            JOIN a${i - 1} y ON y.node = e.b
            GROUP BY 1),
          a$i AS MATERIALIZED (SELECT node FROM d$i WHERE d >= 3)"""
    s"""WITH li AS (SELECT l_orderkey AS o, l_suppkey AS sp FROM lineitem
           WHERE l_quantity > 48),
        e0 AS (SELECT DISTINCT a.sp AS u, b.sp AS v
               FROM li a JOIN li b ON a.o = b.o AND a.sp < b.sp),
        ee AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
               UNION ALL SELECT v, u FROM e0),
        a0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM ee),
        ${(1 to 12).map(round).mkString(",\n        ")}
        SELECT node, CAST(d AS BIGINT) AS deg FROM d12 WHERE d >= 3"""
  }),
    Entry("x59_pagerank", (s, dir) => {
      // host-graph centrality (the Common-Crawl-style link ranking crawl
      // curation feeds on): PageRank in exact Q18 integer fixed point, 3
      // power iterations, damping 850‰. The graph: customer→supplier for
      // every (order, lineitem) pair — parallel edges are link weight —
      // with the reverse edge only for quantity > 25, so some suppliers
      // are dangling and the dangling-mass redistribution is exercised.
      // Node ids pack namespaces as cust·2 / supp·2+1. The oracle unrolls
      // all three rounds as CTEs over HUGEINT.
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      val fwd = pairs.select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = pairs.filter(col("l_quantity") > 25)
        .select((col("l_suppkey") * 2 + 1).as("src"),
          (col("o_custkey") * 2).as("dst"))
      // stagePerIteration: the lazy form re-executes the rank lineage
      // 2^iters times (dangling + contribution branches per round);
      // staging each round to a tiny (|V|-row) parquet is the 100 TB
      // form and the GraphsSpec pins staged ≡ lazy bit-for-bit
      graft.ext.Graphs.pageRank(fwd.union(rev), "src", "dst", 3,
        stagePerIteration = true)
    },
      // x59: every integer step of Graphs.pageRank replayed over HUGEINT —
      // same edge multiset, same Q18 base, same floor-divisions, three
      // unrolled rounds (all values non-negative, so trunc == floor in
      // both engines)
      Sql {
      def round(prev: String, cur: String) =
        s"""$cur AS (SELECT b.node, b.od,
              CAST(((150::HUGEINT * bq.bq)
                    + 850::HUGEINT * (COALESCE(c.s, 0) + dg.dm // nn.n))
                   // 1000 AS BIGINT) AS rq
            FROM base b
            LEFT JOIN (SELECT e.dst, SUM(r.rq // r.od) AS s
                       FROM edges e JOIN $prev r ON r.node = e.src
                       GROUP BY e.dst) c ON c.dst = b.node
            CROSS JOIN (SELECT COALESCE(SUM(rq), 0) AS dm
                        FROM $prev WHERE od IS NULL) dg
            CROSS JOIN nn CROSS JOIN bq)"""
      s"""WITH pr AS (SELECT o_custkey, l_suppkey, l_quantity
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          edges AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pr
                    UNION ALL
                    SELECT l_suppkey * 2 + 1, o_custkey * 2 FROM pr
                    WHERE l_quantity > 25),
          nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
          od AS (SELECT src AS node, COUNT(*) AS od FROM edges GROUP BY src),
          base AS (SELECT n.node, o.od FROM nodes n
                   LEFT JOIN od o ON o.node = n.node),
          nn AS (SELECT COUNT(*) AS n FROM base),
          bq AS (SELECT CAST(1000000000000000000 AS HUGEINT) // n AS bq FROM nn),
          r0 AS (SELECT b.node, b.od, CAST(bq.bq AS BIGINT) AS rq
                 FROM base b CROSS JOIN bq),
          ${round("r0", "r1")},
          ${round("r1", "r2")},
          ${round("r2", "r3")}
          SELECT node, rq AS rank_q18 FROM r3"""
    }),
    Entry("x59c_pagerank_weighted", (s, dir) => {
      // the 100 TB form of x59: the link graph AGGREGATED to
      // (src, dst, weight) before ranking — billions of parallel edges
      // collapse to one row each, and the weighted rounds are
      // BIT-IDENTICAL to the expanded multiset (the contribution algebra
      // commutes with the floor-div), so the x59 oracle verifies this
      // query verbatim.
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      val fwd = pairs.select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = pairs.filter(col("l_quantity") > 25)
        .select((col("l_suppkey") * 2 + 1).as("src"),
          (col("o_custkey") * 2).as("dst"))
      val weighted = fwd.union(rev)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      graft.ext.Graphs.pageRank(weighted, "src", "dst", 3,
        weightCol = Some("w"), stagePerIteration = true)
    },
      SameAs("x59_pagerank")),
    Entry("x59b_trustrank", (s, dir) => {
      // TrustRank over the same host graph: teleport confined to the
      // trusted seed set (every 4th supplier), so link-farm hosts with no
      // in-links from the trusted region score zero — the spam-demotion
      // companion to x59. Seeds with no observed links still absorb
      // teleport mass. Oracle unrolls the same three seeded rounds.
      val pairs = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      val fwd = pairs.select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = pairs.filter(col("l_quantity") > 25)
        .select((col("l_suppkey") * 2 + 1).as("src"),
          (col("o_custkey") * 2).as("dst"))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 4 === 0)
        .select((col("s_suppkey") * 2 + 1).as("seed"))
      graft.ext.Graphs.pageRank(fwd.union(rev), "src", "dst", 3,
        seeds = Some(seeds), stagePerIteration = true)
    },
      // x59b: the seeded (TrustRank) rounds — teleport and dangling mass go
      // to the seed distribution only; otherwise the x59 replay verbatim
      Sql {
      def round(prev: String, cur: String) =
        s"""$cur AS (SELECT b.node, b.od, b.seed,
              CAST(((150::HUGEINT * (CASE WHEN b.seed THEN bq.bq ELSE 0 END))
                    + 850::HUGEINT * (COALESCE(c.s, 0)
                        + CASE WHEN b.seed THEN dg.dm // ns.ns ELSE 0 END))
                   // 1000 AS BIGINT) AS rq
            FROM base b
            LEFT JOIN (SELECT e.dst, SUM(r.rq // r.od) AS s
                       FROM edges e JOIN $prev r ON r.node = e.src
                       GROUP BY e.dst) c ON c.dst = b.node
            CROSS JOIN (SELECT COALESCE(SUM(rq), 0) AS dm
                        FROM $prev WHERE od IS NULL) dg
            CROSS JOIN ns CROSS JOIN bq)"""
      s"""WITH pr AS (SELECT o_custkey, l_suppkey, l_quantity
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          edges AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pr
                    UNION ALL
                    SELECT l_suppkey * 2 + 1, o_custkey * 2 FROM pr
                    WHERE l_quantity > 25),
          seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
                    WHERE s_suppkey % 4 = 0),
          nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges
                    UNION SELECT node FROM seeds),
          od AS (SELECT src AS node, COUNT(*) AS od FROM edges GROUP BY src),
          base AS (SELECT n.node, o.od, (sd.node IS NOT NULL) AS seed
                   FROM nodes n
                   LEFT JOIN od o ON o.node = n.node
                   LEFT JOIN seeds sd ON sd.node = n.node),
          ns AS (SELECT COUNT(*) AS ns FROM seeds),
          bq AS (SELECT CAST(1000000000000000000 AS HUGEINT) // ns AS bq FROM ns),
          r0 AS (SELECT b.node, b.od, b.seed,
                   CAST(CASE WHEN b.seed THEN bq.bq ELSE 0 END AS BIGINT) AS rq
                 FROM base b CROSS JOIN bq),
          ${round("r0", "r1")},
          ${round("r1", "r2")},
          ${round("r2", "r3")}
          SELECT node, rq AS rank_q18 FROM r3"""
    }),
    Entry("x59d_pagerank_incremental", (s, dir) => {
      // incremental re-rank on edge APPEND — the per-crawl cadence: the
      // resident graph (orders with o_orderkey % 5 ≠ 0) ranks cold for 3
      // rounds and stages its rank table; the append (the remaining
      // orders' edges) arrives and the FULL graph runs 2 warm rounds
      // seeded from that staged table — carried nodes start at their
      // prior rank, new nodes at the uniform base, and no cold restart
      // re-derives what the last release knew. The oracle unrolls the 3
      // cold rounds AND the 2 warm rounds bit-for-bit.
      def graph(p: org.apache.spark.sql.DataFrame) = {
        val fwd = p.select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        val rev = p.filter(col("l_quantity") > 25)
          .select((col("l_suppkey") * 2 + 1).as("src"),
            (col("o_custkey") * 2).as("dst"))
        fwd.union(rev)
      }
      val pairs = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      // the resident graph buckets ONCE (stageEdgeTable); the crawl's
      // delta APPENDS into the same bucketed table (delta-sized write),
      // so the warm restart never re-buckets resident edges — r16's form
      // paid TWO full bucketed builds per crawl (its slowest min-of-2
      // row). Final rank tables are staged parquet, so dropping the edge
      // table in finally is safe.
      val st = graft.ext.Graphs.stageEdgeTable(
        graph(pairs.filter(col("o_orderkey") % 5 =!= 0)), "src", "dst")
      try {
        val prior = graft.ext.Graphs.pageRankStaged(st, 3)
        st.append(graph(pairs.filter(col("o_orderkey") % 5 === 0)),
          "src", "dst")
        graft.ext.Graphs.pageRankStaged(st, 2, prior = Some(prior))
      } finally st.drop()
    },
      // x59d: the x59 rounds TWICE — 3 cold rounds over the resident
      // (o_orderkey % 5 <> 0) edge set, then 2 warm rounds over the FULL
      // edge set seeded from the cold result (carried nodes keep their
      // rank, new nodes enter at the full graph's uniform base)
      Sql {
      def round(prev: String, cur: String, edges: String, base: String,
                nn: String, bq: String) =
        s"""$cur AS (SELECT b.node, b.od,
              CAST(((150::HUGEINT * bq.bq)
                    + 850::HUGEINT * (COALESCE(c.s, 0) + dg.dm // nn.n))
                   // 1000 AS BIGINT) AS rq
            FROM $base b
            LEFT JOIN (SELECT e.dst, SUM(r.rq // r.od) AS s
                       FROM $edges e JOIN $prev r ON r.node = e.src
                       GROUP BY e.dst) c ON c.dst = b.node
            CROSS JOIN (SELECT COALESCE(SUM(rq), 0) AS dm
                        FROM $prev WHERE od IS NULL) dg
            CROSS JOIN $nn nn CROSS JOIN $bq bq)"""
      s"""WITH pr AS (SELECT o_orderkey, o_custkey, l_suppkey, l_quantity
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          oedges AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM pr WHERE o_orderkey % 5 <> 0
                     UNION ALL
                     SELECT l_suppkey * 2 + 1, o_custkey * 2 FROM pr
                     WHERE o_orderkey % 5 <> 0 AND l_quantity > 25),
          edges AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pr
                    UNION ALL
                    SELECT l_suppkey * 2 + 1, o_custkey * 2 FROM pr
                    WHERE l_quantity > 25),
          onodes AS (SELECT src AS node FROM oedges UNION SELECT dst FROM oedges),
          ood AS (SELECT src AS node, COUNT(*) AS od FROM oedges GROUP BY src),
          obase AS (SELECT n.node, o.od FROM onodes n
                    LEFT JOIN ood o ON o.node = n.node),
          onn AS (SELECT COUNT(*) AS n FROM obase),
          obq AS (SELECT CAST(1000000000000000000 AS HUGEINT) // n AS bq FROM onn),
          or0 AS (SELECT b.node, b.od, CAST(obq.bq AS BIGINT) AS rq
                  FROM obase b CROSS JOIN obq),
          ${round("or0", "or1", "oedges", "obase", "onn", "obq")},
          ${round("or1", "or2", "oedges", "obase", "onn", "obq")},
          ${round("or2", "or3", "oedges", "obase", "onn", "obq")},
          nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
          od AS (SELECT src AS node, COUNT(*) AS od FROM edges GROUP BY src),
          base AS (SELECT n.node, o.od FROM nodes n
                   LEFT JOIN od o ON o.node = n.node),
          nn AS (SELECT COUNT(*) AS n FROM base),
          bq AS (SELECT CAST(1000000000000000000 AS HUGEINT) // n AS bq FROM nn),
          w0 AS (SELECT b.node, b.od, CAST(COALESCE(p.rq, bq.bq) AS BIGINT) AS rq
                 FROM base b LEFT JOIN or3 p ON p.node = b.node CROSS JOIN bq),
          ${round("w0", "w1", "edges", "base", "nn", "bq")},
          ${round("w1", "w2", "edges", "base", "nn", "bq")}
          SELECT node, rq AS rank_q18 FROM w2"""
    }),
    Entry("x59e_pagerank_multicrawl", (s, dir) => {
      // the MULTI-crawl lifecycle (the x86c convention for the graph
      // side): the resident graph (o_orderkey % 5 ≥ 2) stages + ranks
      // cold; crawl₁ (% 5 = 0) APPENDS and 2 warm rounds run seeded
      // from the cold release; crawl₂ (% 5 = 1) appends onto the SAME
      // staged table and 2 more warm rounds seed from crawl₁'s release
      // — each crawl's cost is delta-sized, the resident edges bucket
      // exactly once across the whole history. The oracle unrolls all
      // 3+2+2 rounds over the three growing edge sets bit-for-bit.
      def graph(p: org.apache.spark.sql.DataFrame) = {
        val fwd = p.select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        val rev = p.filter(col("l_quantity") > 25)
          .select((col("l_suppkey") * 2 + 1).as("src"),
            (col("o_custkey") * 2).as("dst"))
        fwd.union(rev)
      }
      val pairs = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      val st = graft.ext.Graphs.stageEdgeTable(
        graph(pairs.filter(col("o_orderkey") % 5 >= 2)), "src", "dst")
      try {
        val r0 = graft.ext.Graphs.pageRankStaged(st, 3)
        st.append(graph(pairs.filter(col("o_orderkey") % 5 === 0)),
          "src", "dst")
        val r1 = graft.ext.Graphs.pageRankStaged(st, 2, prior = Some(r0))
        st.append(graph(pairs.filter(col("o_orderkey") % 5 === 1)),
          "src", "dst")
        graft.ext.Graphs.pageRankStaged(st, 2, prior = Some(r1))
      } finally st.drop()
    },
      // x59e: the x59d rounds over THREE growing edge sets — 3 cold on the
      // resident graph (% 5 ≥ 2), 2 warm on resident+crawl₁ (% 5 ≠ 1)
      // seeded from the cold release, 2 warm on the full set seeded from
      // crawl₁'s release
      Sql {
      // each round reads `prev` twice (contribution + dangling mass);
      // inlined, 7 chained rounds expand DuckDB's plan ~2^7-fold and
      // exhaust memory, so every round is a MATERIALIZED CTE
      def round(prev: String, cur: String, edges: String, base: String,
                nn: String, bq: String) =
        s"""$cur AS MATERIALIZED (SELECT b.node, b.od,
              CAST(((150::HUGEINT * bq.bq)
                    + 850::HUGEINT * (COALESCE(c.s, 0) + dg.dm // nn.n))
                   // 1000 AS BIGINT) AS rq
            FROM $base b
            LEFT JOIN (SELECT e.dst, SUM(r.rq // r.od) AS s
                       FROM $edges e JOIN $prev r ON r.node = e.src
                       GROUP BY e.dst) c ON c.dst = b.node
            CROSS JOIN (SELECT COALESCE(SUM(rq), 0) AS dm
                        FROM $prev WHERE od IS NULL) dg
            CROSS JOIN $nn nn CROSS JOIN $bq bq)"""
      def graphCtes(p: String, pred: String) =
        s"""${p}edges AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM pr WHERE $pred
                     UNION ALL
                     SELECT l_suppkey * 2 + 1, o_custkey * 2 FROM pr
                     WHERE ($pred) AND l_quantity > 25),
          ${p}nodes AS (SELECT src AS node FROM ${p}edges
                        UNION SELECT dst FROM ${p}edges),
          ${p}od AS (SELECT src AS node, COUNT(*) AS od FROM ${p}edges
                     GROUP BY src),
          ${p}base AS (SELECT n.node, o.od FROM ${p}nodes n
                       LEFT JOIN ${p}od o ON o.node = n.node),
          ${p}nn AS (SELECT COUNT(*) AS n FROM ${p}base),
          ${p}bq AS (SELECT CAST(1000000000000000000 AS HUGEINT) // n AS bq
                     FROM ${p}nn)"""
      s"""WITH pr AS (SELECT o_orderkey, o_custkey, l_suppkey, l_quantity
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          ${graphCtes("o", "o_orderkey % 5 >= 2")},
          ${graphCtes("m", "o_orderkey % 5 <> 1")},
          ${graphCtes("f", "TRUE")},
          or0 AS (SELECT b.node, b.od, CAST(obq.bq AS BIGINT) AS rq
                  FROM obase b CROSS JOIN obq),
          ${round("or0", "or1", "oedges", "obase", "onn", "obq")},
          ${round("or1", "or2", "oedges", "obase", "onn", "obq")},
          ${round("or2", "or3", "oedges", "obase", "onn", "obq")},
          m0 AS (SELECT b.node, b.od, CAST(COALESCE(p.rq, mbq.bq) AS BIGINT) AS rq
                 FROM mbase b LEFT JOIN or3 p ON p.node = b.node CROSS JOIN mbq),
          ${round("m0", "m1", "medges", "mbase", "mnn", "mbq")},
          ${round("m1", "m2", "medges", "mbase", "mnn", "mbq")},
          f0 AS (SELECT b.node, b.od, CAST(COALESCE(p.rq, fbq.bq) AS BIGINT) AS rq
                 FROM fbase b LEFT JOIN m2 p ON p.node = b.node CROSS JOIN fbq),
          ${round("f0", "f1", "fedges", "fbase", "fnn", "fbq")},
          ${round("f1", "f2", "fedges", "fbase", "fnn", "fbq")}
          SELECT node, rq AS rank_q18 FROM f2"""
    }),
    Entry("x59g_trustrank_crawl", (s, dir) => {
      // the seeded-ranker crawl cadence: x59b's TrustRank re-released
      // per crawl over the x59d edge splits — the resident graph stages
      // once, the crawl delta APPENDS, and 2 warm seeded rounds run
      // from the prior release (seeds — the vetted host list — persist
      // across crawls; a node the crawl adds starts at its cold init:
      // seed base or zero). The oracle unrolls 3 cold + 2 warm seeded
      // rounds over both edge sets bit-for-bit.
      def graph(p: org.apache.spark.sql.DataFrame) = {
        val fwd = p.select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        val rev = p.filter(col("l_quantity") > 25)
          .select((col("l_suppkey") * 2 + 1).as("src"),
            (col("o_custkey") * 2).as("dst"))
        fwd.union(rev)
      }
      val pairs = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      val seeds = t(s, dir, "supplier")
        .filter(col("s_suppkey") % 4 === 0)
        .select((col("s_suppkey") * 2 + 1).as("seed"))
      val st = graft.ext.Graphs.stageEdgeTable(
        graph(pairs.filter(col("o_orderkey") % 5 =!= 0)), "src", "dst")
      try {
        val prior = graft.ext.Graphs.pageRankStaged(st, 3,
          seeds = Some(seeds))
        st.append(graph(pairs.filter(col("o_orderkey") % 5 === 0)),
          "src", "dst")
        graft.ext.Graphs.pageRankStaged(st, 2, prior = Some(prior),
          seeds = Some(seeds))
      } finally st.drop()
    },
      // x59g: the x59b seeded rounds TWICE — 3 cold over the resident
      // (% 5 ≠ 0) edges, 2 warm over the full set seeded from the cold
      // release (carried nodes keep their rank; new nodes start at seed
      // base or zero; the seed set and therefore ns/bq never change)
      Sql {
      def round(prev: String, cur: String, edges: String, base: String) =
        s"""$cur AS (SELECT b.node, b.od, b.seed,
              CAST(((150::HUGEINT * (CASE WHEN b.seed THEN bq.bq ELSE 0 END))
                    + 850::HUGEINT * (COALESCE(c.s, 0)
                        + CASE WHEN b.seed THEN dg.dm // ns.ns ELSE 0 END))
                   // 1000 AS BIGINT) AS rq
            FROM $base b
            LEFT JOIN (SELECT e.dst, SUM(r.rq // r.od) AS s
                       FROM $edges e JOIN $prev r ON r.node = e.src
                       GROUP BY e.dst) c ON c.dst = b.node
            CROSS JOIN (SELECT COALESCE(SUM(rq), 0) AS dm
                        FROM $prev WHERE od IS NULL) dg
            CROSS JOIN ns CROSS JOIN bq)"""
      def graphCtes(p: String, pred: String) =
        s"""${p}edges AS (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                     FROM pr WHERE $pred
                     UNION ALL
                     SELECT l_suppkey * 2 + 1, o_custkey * 2 FROM pr
                     WHERE ($pred) AND l_quantity > 25),
          ${p}nodes AS (SELECT src AS node FROM ${p}edges
                        UNION SELECT dst FROM ${p}edges
                        UNION SELECT node FROM seeds),
          ${p}od AS (SELECT src AS node, COUNT(*) AS od FROM ${p}edges
                     GROUP BY src),
          ${p}base AS (SELECT n.node, o.od, (sd.node IS NOT NULL) AS seed
                       FROM ${p}nodes n
                       LEFT JOIN ${p}od o ON o.node = n.node
                       LEFT JOIN seeds sd ON sd.node = n.node)"""
      s"""WITH pr AS (SELECT o_orderkey, o_custkey, l_suppkey, l_quantity
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
                    WHERE s_suppkey % 4 = 0),
          ns AS (SELECT COUNT(*) AS ns FROM seeds),
          bq AS (SELECT CAST(1000000000000000000 AS HUGEINT) // ns AS bq
                 FROM ns),
          ${graphCtes("o", "o_orderkey % 5 <> 0")},
          ${graphCtes("f", "TRUE")},
          or0 AS (SELECT b.node, b.od, b.seed,
                    CAST(CASE WHEN b.seed THEN bq.bq ELSE 0 END AS BIGINT) AS rq
                  FROM obase b CROSS JOIN bq),
          ${round("or0", "or1", "oedges", "obase")},
          ${round("or1", "or2", "oedges", "obase")},
          ${round("or2", "or3", "oedges", "obase")},
          w0 AS (SELECT b.node, b.od, b.seed,
                   CAST(COALESCE(p.rq,
                     CASE WHEN b.seed THEN bq.bq ELSE 0 END) AS BIGINT) AS rq
                 FROM fbase b LEFT JOIN or3 p ON p.node = b.node CROSS JOIN bq),
          ${round("w0", "w1", "fedges", "fbase")},
          ${round("w1", "w2", "fedges", "fbase")}
          SELECT node, rq AS rank_q18 FROM w2"""
    }),
    Entry("x59f_weighted_crawl", (s, dir) => {
      // the weighted crawl cadence — x59d's lifecycle in the 100 TB
      // edge layout (x59c's aggregated (src, dst, w) form): the resident
      // weighted graph stages ONCE, the crawl's delta aggregates only
      // ITSELF and appends (a (src, dst) pair present in both crawls
      // holds two weighted rows — additive multiset algebra makes that
      // identical to one merged row), and 2 warm rounds seed from the
      // cold release. Answers x59d's oracle VERBATIM: weighted rounds
      // are bit-identical to the expanded multiset.
      def graph(p: org.apache.spark.sql.DataFrame) = {
        val fwd = p.select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        val rev = p.filter(col("l_quantity") > 25)
          .select((col("l_suppkey") * 2 + 1).as("src"),
            (col("o_custkey") * 2).as("dst"))
        fwd.union(rev).groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("w"))
      }
      val pairs = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("o_orderkey") === col("l_orderkey"))
      val st = graft.ext.Graphs.stageEdgeTable(
        graph(pairs.filter(col("o_orderkey") % 5 =!= 0)), "src", "dst",
        weightCol = Some("w"))
      try {
        val prior = graft.ext.Graphs.pageRankStaged(st, 3)
        st.append(graph(pairs.filter(col("o_orderkey") % 5 === 0)),
          "src", "dst", weightCol = Some("w"))
        graft.ext.Graphs.pageRankStaged(st, 2, prior = Some(prior))
      } finally st.drop()
    },
      // weighted rounds ≡ expanded multiset, so the weighted crawl
      // cadence answers the unweighted incremental oracle verbatim
      SameAs("x59d_pagerank_incremental")),
    Entry("x64_copygraph_curation", (s, dir) => {
      // copy-graph curation capstone — the round's family composed into
      // one flow: chunk collisions (x62) lift to a host-level COPY GRAPH
      // (one edge per colliding cross-host doc pair, both directions),
      // PageRank (x59) scores how embedded each host is in the copying
      // economy, the 3 most copy-central hosts drop WHOLESALE (the
      // boilerplate-mill cut — within-host copying is x61's job), and
      // the release reports surviving hosts' exact doc/token mass. The
      // oracle replays chunking → collisions → graph → three Q18 rounds
      // → the deterministic cut → the rollup.
      val d = t(s, dir, "documents")
      val pairs = Dedup.chunkNearDupPairs(d, "text", "doc_id",
        120, 4, 2, maxBandChunks = 50)
      val hid = expr("cast(substring(source, 4) as long)")
      val srcOf = d.select(col("doc_id"), hid.as("hid"))
      val e0 = pairs
        .join(srcOf.select(col("doc_id").as("a_id"), col("hid").as("a_h")),
          Seq("a_id"))
        .join(srcOf.select(col("doc_id").as("b_id"), col("hid").as("b_h")),
          Seq("b_id"))
        .filter(col("a_h") =!= col("b_h"))
      // stage the copy graph before iterating: pageRank's node census +
      // per-round joins would otherwise re-execute the whole chunk-LSH
      // lineage once per reference (the same move x62b makes for its
      // signature table)
      // stage the ONE-directional host pairs, then symmetrize off the
      // staged parquet — a union over the raw frame would re-execute the
      // whole chunk-LSH lineage once per direction
      val sp = Stage(e0.select(col("a_h"), col("b_h")))
      val edges = sp.select(col("a_h").as("src"), col("b_h").as("dst"))
        .union(sp.select(col("b_h").as("src"), col("a_h").as("dst")))
      // lazy rounds here: with the copy graph staged flat, the 2^3 rank
      // fan-out re-scans a |hosts|-row parquet — cheaper than 3 stage
      // write/read job cycles (x59 stages because ITS edge lineage is 3
      // parquet scans, not a whole LSH pipeline)
      val drop = graft.ext.Graphs.pageRank(edges, "src", "dst", 3)
        .orderBy(col("rank_q18").desc, col("node")).limit(3)
        .select(col("node"))
      val wc = size(filter(split(graft.ext.TextStats.wsTrim(col("text")),
        "\\s+"), t => t =!= ""))
      d.withColumn("_hid", hid)
        .join(broadcast(drop), col("_hid") === col("node"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(wc.cast("long")).as("n_tokens"))
    },
      // x64: the capstone replay — x62's chunk-collision CTEs, the host
      // copy-graph, three unrolled Q18 PageRank rounds, the top-3 cut,
      // and the survivor rollup, in one statement
      Sql {
      def round(prev: String, cur: String) =
        s"""$cur AS (SELECT b.node, b.od,
              CAST(((150::HUGEINT * pbq.bq)
                    + 850::HUGEINT * (COALESCE(c.s, 0) + dg.dm // pnn.n))
                   // 1000 AS BIGINT) AS rq
            FROM pbase b
            LEFT JOIN (SELECT e.dst, SUM(r.rq // r.od) AS s
                       FROM pedges e JOIN $prev r ON r.node = e.src
                       GROUP BY e.dst) c ON c.dst = b.node
            CROSS JOIN (SELECT COALESCE(SUM(rq), 0) AS dm
                        FROM $prev WHERE od IS NULL) dg
            CROSS JOIN pnn CROSS JOIN pbq)"""
      s"""$chunkDedupCtes,
          cpairs AS (SELECT a_id, b_id FROM hits GROUP BY a_id, b_id),
          sp AS (SELECT CAST(substr(da.source, 4) AS BIGINT) AS a_h,
                        CAST(substr(db.source, 4) AS BIGINT) AS b_h
                 FROM cpairs p
                 JOIN documents da ON da.doc_id = p.a_id
                 JOIN documents db ON db.doc_id = p.b_id
                 WHERE CAST(substr(da.source, 4) AS BIGINT)
                       <> CAST(substr(db.source, 4) AS BIGINT)),
          pedges AS MATERIALIZED (SELECT a_h AS src, b_h AS dst FROM sp
                     UNION ALL SELECT b_h, a_h FROM sp),
          pnodes AS (SELECT src AS node FROM pedges
                     UNION SELECT dst FROM pedges),
          pod AS (SELECT src AS node, COUNT(*) AS od FROM pedges GROUP BY src),
          pbase AS (SELECT n.node, o.od FROM pnodes n
                    LEFT JOIN pod o ON o.node = n.node),
          pnn AS (SELECT COUNT(*) AS n FROM pbase),
          pbq AS (SELECT CAST(1000000000000000000 AS HUGEINT) // n AS bq
                  FROM pnn),
          pr0 AS (SELECT b.node, b.od, CAST(pbq.bq AS BIGINT) AS rq
                  FROM pbase b CROSS JOIN pbq),
          ${round("pr0", "pr1")},
          ${round("pr1", "pr2")},
          ${round("pr2", "pr3")},
          drop3 AS (SELECT node FROM pr3 ORDER BY rq DESC, node LIMIT 3)
          SELECT dd.source, COUNT(*) AS n_docs,
                 CAST(SUM(length(list_filter(string_split_regex(
                   regexp_replace(dd.text, '^\\s+|\\s+$$', '', 'g'), '\\s+'),
                   x -> x <> ''))) AS BIGINT) AS n_tokens
          FROM documents dd
          WHERE CAST(substr(dd.source, 4) AS BIGINT) NOT IN
                (SELECT node FROM drop3)
          GROUP BY dd.source"""
    })
  )
}
