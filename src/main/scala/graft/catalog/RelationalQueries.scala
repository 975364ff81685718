package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Filters, Joins, Merge, Projections, Stage, Windows}
import Common._

/** The relational operators of SURVEY.md §2.3-2.9 (projections, filters,
  * joins, aggregations, windows, sort/limit, set ops), the salted,
  * bucketed and z-ordered layouts, the merge/snapshot ops and the profile
  * histograms. */
object RelationalQueries {

  val entries: Seq[Entry] = Seq(
    // ───────────────────────── §2.6 aggregations ─────────────────────────
    Entry("q1_agg", (s, dir) => {
      // TPC-H Q1 shape: l_quantity is integral ⇒ plain double sum is exact;
      // prices go through decimal.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
             moneySum(col("l_extendedprice")).as("sum_price"),
             count(lit(1)).as("n"))
    },
      Sql("""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         COUNT(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus""")),
    Entry("q3_shipping", (s, dir) => {
      // TPC-H Q3 shape: BUILDING customers' revenue by order. Join order
      // applies the selective customer filter FIRST (orders shrink ~5×
      // before the expensive lineitem join) — Catalyst doesn't reorder
      // inner joins without CBO stats, so the plan author does.
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val filteredOrders = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(o("o_orderkey"), o("o_orderdate"), o("o_orderpriority"))
      l.join(filteredOrders, l("l_orderkey") === filteredOrders("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(discountedRevenue(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    },
      Sql("""SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""")),
    Entry("q5_region_volume", (s, dir) => {
      // TPC-H Q5 shape: revenue by nation within one region. Dimension
      // chain collapses customers to the ASIA subset BEFORE touching the
      // fact tables; the shrunken (customer × nation) side broadcasts.
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
      val asiaCust = c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .select(c("c_custkey"), n("n_name"))
      val filteredOrders = o.join(broadcast(asiaCust), o("o_custkey") === asiaCust("c_custkey"))
        .select(o("o_orderkey"), col("n_name"))
      l.join(filteredOrders, l("l_orderkey") === filteredOrders("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(discountedRevenue(col("l_extendedprice"), col("l_discount"))
          .as("revenue"), count(lit(1)).as("n"))
    },
      Sql("""SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' GROUP BY n_name""")),
    Entry("a1_dup_having", (s, dir) =>
      Aggs.duplicates(t(s, dir, "lineitem"), Seq("l_orderkey")),
      Sql("SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1")),
    Entry("a2_distinct_count", (s, dir) =>
      Aggs.distinctCounts(t(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey")),
      Sql("""SELECT COUNT(DISTINCT l_partkey) AS n_l_partkey,
         COUNT(DISTINCT l_suppkey) AS n_l_suppkey FROM lineitem""")),
    // approximate-distinct by the engine's OWN deterministic HLL (p=8,
    // the x80 machinery) instead of Spark's approx_count_distinct, whose
    // sketch internals are engine-private and left this row rows-only:
    // one unpivoting scan of lineitem feeds (colname, value) registers
    // (map-side max-combine), the integer estimate replays exactly in
    // the oracle, and the exact distinct count rides as the small-SF
    // audit column — the 100 TB path when exact distinct is too
    // expensive, now hash-checked end to end.
    Entry("a2b_approx_distinct", (s, dir) => {
      val vals = t(s, dir, "lineitem").select(explode(array(
          struct(lit("l_partkey").as("colname"),
            col("l_partkey").cast("string").as("v")),
          struct(lit("l_suppkey").as("colname"),
            col("l_suppkey").cast("string").as("v")))).as("kv"))
        .select(col("kv.colname").as("colname"), col("kv.v").as("v"))
      val est = graft.ext.Sketch.hllEstimate(
        graft.ext.Sketch.hllRegisters(vals, Seq("colname"), "v", 8),
        Seq("colname"), 8)
      val exact = vals.groupBy(col("colname"))
        .agg(countDistinct(col("v")).as("exact"))
      est.join(exact, Seq("colname"))
        .select(col("colname"), col("est"), col("exact"))
    },
      Sql(hllOracleSql(
    """tks AS (SELECT 'l_partkey' AS lang, CAST(l_partkey AS VARCHAR) AS tok
               FROM lineitem
               UNION ALL
               SELECT 'l_suppkey' AS lang, CAST(l_suppkey AS VARCHAR) AS tok
               FROM lineitem)""", "colname"))),
    Entry("a4_breakdown", (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total")),
      Sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus, o_orderpriority""")),
    Entry("a4b_breakdown_detail", (s, dir) =>
      // A4 per-bucket detail lists (ref run_dbgap_xml_gen_fallback.py:
      // 80-147): each status bucket carries its sorted member rows, not
      // just a count — collect_list(struct), sorted, rendered to string
      // so the cross-engine hash compare sees a stable scalar
      t(s, dir, "orders").groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          concat_ws(";",
            transform(
              array_sort(collect_list(struct(col("o_orderkey"), col("o_custkey")))),
              x => concat_ws(":", x("o_orderkey").cast("string"),
                x("o_custkey").cast("string")))).as("details")),
      Sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         array_to_string(list_transform(
           list_sort(list(struct_pack(k := o_orderkey, c := o_custkey))),
           x -> CAST(x.k AS VARCHAR) || ':' || CAST(x.c AS VARCHAR)), ';') AS details
         FROM orders GROUP BY o_orderstatus, o_orderpriority""")),
    Entry("a5_group_to_doc", (s, dir) =>
      Aggs.groupToDoc(t(s, dir, "lineitem"), "l_orderkey", "l_returnflag", "l_linenumber")
        .withColumnRenamed("l_returnflag", "min_flag"),
      Sql("""SELECT l_orderkey, MIN(l_returnflag) AS min_flag, COUNT(*) AS n_members,
         string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY CAST(l_linenumber AS VARCHAR)) AS members
         FROM lineitem GROUP BY l_orderkey""")),
    Entry("a6_section_group", (s, dir) =>
      // json_tuple: ONE parse of props for both candidate fields
      Aggs.sectionGroup(
        t(s, dir, "events").select(json_tuple(col("props"), "sec", "k").as(Seq("sec", "k"))),
        "none", col("sec"), col("k")),
      Sql("""SELECT COALESCE(NULLIF(json_extract_string(props,'$.sec'),''),
                         NULLIF(json_extract_string(props,'$.k'),''), 'none') AS section,
         COUNT(*) AS n FROM events GROUP BY 1""")),
    Entry("a10_percentiles", (s, dir) =>
      // exact interpolated percentiles (integral doubles => both engines
      // interpolate identically)
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("med"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          max(col("l_quantity")).as("max_qty")),
      Sql("""SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med,
         quantile_cont(l_quantity, 0.9) AS p90, MAX(l_quantity) AS max_qty
         FROM lineitem GROUP BY l_returnflag""")),
    // a10b_approx_percentiles (Spark's builtin t-digest-style
    // approx_percentile) is RETIRED from the catalog (r13): its sketch
    // internals are engine-specific so the row could only ever be
    // rows-only, and the x92 quantile-sketch family now answers the
    // same question deterministically — estimates AND sampling error
    // oracle-replayed. The builtin remains available to users
    // (GraftFunctions registers nothing over it; it is stock Spark).
    Entry("a7_rollup", (s, dir) =>
      Aggs.rollupCounts(
        t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey")),
        "n_name", "c_mktsegment"),
      Sql("""SELECT n_name, c_mktsegment, COUNT(*) AS n FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP(n_name, c_mktsegment)""")),
    Entry("a8_dedup_consolidate", (s, dir) =>
      Aggs.dedupConsolidate(t(s, dir, "customer"), "c_nationkey", "c_custkey", "c_mktsegment"),
      Sql("""SELECT c_nationkey, MIN(c_custkey) AS c_custkey,
         string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS all_c_mktsegment
         FROM customer GROUP BY c_nationkey""")),
    Entry("a9_pivot", (s, dir) =>
      Aggs.manualPivot(
        t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey")),
        "c_mktsegment", "r_name",
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
      Sql("""SELECT c_mktsegment,
         CAST(SUM(CASE WHEN r_name='AFRICA' THEN 1 ELSE 0 END) AS BIGINT) AS "AFRICA",
         CAST(SUM(CASE WHEN r_name='AMERICA' THEN 1 ELSE 0 END) AS BIGINT) AS "AMERICA",
         CAST(SUM(CASE WHEN r_name='ASIA' THEN 1 ELSE 0 END) AS BIGINT) AS "ASIA",
         CAST(SUM(CASE WHEN r_name='EUROPE' THEN 1 ELSE 0 END) AS BIGINT) AS "EUROPE",
         CAST(SUM(CASE WHEN r_name='MIDDLE EAST' THEN 1 ELSE 0 END) AS BIGINT) AS "MIDDLE EAST"
         FROM customer JOIN nation ON c_nationkey=n_nationkey
         JOIN region ON n_regionkey=r_regionkey GROUP BY c_mktsegment""")),
    Entry("a11_cube", (s, dir) =>
      // full grouping-sets surface: cube over two dims (rollup is a7)
      t(s, dir, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty")),
      Sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         SUM(l_quantity) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),
    Entry("s2_salted_agg", (s, dir) =>
      // skew-proof two-phase aggregation must equal the plain GROUP BY —
      // proven through the oracle gate, not just a spec
      graft.ops.Scale.saltedAgg(t(s, dir, "lineitem"), Seq("l_returnflag"), 16)(
        Seq(count(lit(1)).as("n") -> sum(col("n")).cast("long").as("n"),
          sum(col("l_quantity")).as("sq") -> sum(col("sq")).as("sq"))),
      Sql("""SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sq
         FROM lineitem GROUP BY l_returnflag""")),
    Entry("s3_salted_join", (s, dir) => {
      // salted large-large join ≡ plain join (oracle-checked): lineitem ⋈
      // part on the skew-spread (key, salt) pair, then per-brand counts
      val p = t(s, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.ops.Scale.saltedJoin(t(s, dir, "lineitem"), p, "l_partkey", 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    },
      Sql("""SELECT p_brand, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""")),
    Entry("s4_salted_window", (s, dir) =>
      // skew-proof two-phase running sum ≡ the plain one-window form (w4)
      // — the salted-WINDOW pattern proven through the oracle gate; a hot
      // o_custkey spreads over orderkey chunks instead of one straggler
      graft.ops.Scale.saltedRunningSum(t(s, dir, "orders"),
          "o_custkey", "o_orderkey",
          col("o_totalprice").cast("decimal(18,2)"), "running_total", 100000L)
        .select(col("o_custkey"), col("o_orderkey"),
          col("running_total").cast("double").as("running_total")),
      Sql("""SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total
         FROM orders""")),
    Entry("s5_salted_topk", (s, dir) =>
      // skew-proof two-phase top-k per group ≡ the plain one-window form
      // (w2); survivors per key are ≤ k·saltBuckets before the final rank
      graft.ops.Scale.saltedTopK(t(s, dir, "orders"), "o_custkey",
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3, 8)
        .select(col("o_custkey"), col("o_orderkey"),
          col("rnk").cast("long").as("rn")),
      Sql("""SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn
         FROM (SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn <= 3""")),
    Entry("s6_bucketed_join", (s, dir) => {
      // the write-once-join-many layout: both sides bucketed+sorted on the
      // join key (Scale.writeBucketed, CONSTRUCTION-TIME side effect into
      // the session warehouse), then merge-join + same-key aggregate read
      // the co-located buckets — the WHOLE plan runs without a single
      // shuffle exchange (PlanSpec pins it). The 100 TB pattern for a fact
      // table joined on the same key by many downstream queries.
      graft.ops.Scale.writeBucketed(
        t(s, dir, "customer"), "graft_bkt_customer", "c_custkey", 8)
      graft.ops.Scale.writeBucketed(
        t(s, dir, "orders").withColumn("o_custkey_b", col("o_custkey")),
        "graft_bkt_orders", "o_custkey_b", 8)
      s.table("graft_bkt_customer")
        .join(s.table("graft_bkt_orders").hint("merge"),
          col("c_custkey") === col("o_custkey_b"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    },
      Sql("""SELECT c_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM customer JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey""")),
    Entry("s8_zorder_pruned_scan", (s, dir) => {
      // the LAYOUT LIFECYCLE through the driver gate: orders written
      // Z-ordered by (custkey-bucket, day-bucket) to a unique session
      // temp dir (CONSTRUCTION-TIME side effect — the s6/staged-LSH
      // precedent; JVM-exit cleanup), then a BOTH-KEY window read via the
      // file-skipping manifest (prunedRead2) and aggregated. Pruning must
      // be invisible to the RESULT — the oracle is the same filter+agg
      // straight off the table — and visible only to I/O (ScaleSpec pins
      // the ≤4-of-16-files read on the grid fixture).
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_custkey") % 64).as("ck"),
        (datediff(col("o_orderdate").cast("date"),
          to_date(lit("1992-01-01"))) % 64).as("dk"),
        col("o_totalprice"))
      val zdir = Stage.dir("graft_zq_")
      graft.ops.Scale.writeZOrdered(o, zdir, "ck", "dk", 16)
      graft.ops.Scale.prunedRead2(s, zdir, "ck", 8, 23, "dk", 8, 23)
        .groupBy(col("ck"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    },
      Sql("""SELECT ck, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM (SELECT o_custkey % 64 AS ck,
                 datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 64 AS dk,
                 o_totalprice
               FROM orders)
         WHERE ck BETWEEN 8 AND 23 AND dk BETWEEN 8 AND 23
         GROUP BY ck""")),
    Entry("s7_zorder_value", (s, dir) =>
      // the Morton code the two-key Z-order layout (Scale.writeZOrdered)
      // range-splits and sorts by — pure shifts/masks over (custkey,
      // epoch-day), bit-identical across engines, so the clustering key
      // itself is oracle-checked; the layout's locality contract (each
      // file covers ~1/√n of BOTH key ranges) is pinned in ScaleSpec
      t(s, dir, "orders").select(col("o_orderkey"),
        graft.ops.Scale.zOrderValue(
          col("o_custkey") % (1 << 21),
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1992-01-01"))) % (1 << 21)).as("z")),
      // s7: the same five magic-mask spread steps as Scale.zSpread, unrolled
      // per dimension through chained CTEs (DuckDB's << & | on BIGINT match
      // Spark's shiftleft/bitwiseAND/bitwiseOR two's-complement semantics;
      // masks in decimal — DuckDB has no 0x literals)
      Sql("""WITH base AS (
           SELECT o_orderkey,
             (o_custkey % 2097152) & 2097151 AS a,
             (datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
               % 2097152) & 2097151 AS b
           FROM orders),
         s1 AS (SELECT o_orderkey, (a | (a << 16)) & 281470681808895 AS a,
                       (b | (b << 16)) & 281470681808895 AS b FROM base),
         s2 AS (SELECT o_orderkey, (a | (a << 8)) & 71777214294589695 AS a,
                       (b | (b << 8)) & 71777214294589695 AS b FROM s1),
         s3 AS (SELECT o_orderkey, (a | (a << 4)) & 1085102592571150095 AS a,
                       (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
         s4 AS (SELECT o_orderkey, (a | (a << 2)) & 3689348814741910323 AS a,
                       (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
         s5 AS (SELECT o_orderkey, (a | (a << 1)) & 6148914691236517205 AS a,
                       (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
         SELECT o_orderkey, a | (b << 1) AS z FROM s5""")),

    // ───────────────────────── §2.3 projections ─────────────────────────
    Entry("p1_split_part", (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.splitPart(col("p_name"), " ", 1).as("name_head")),
      Sql("SELECT p_partkey, split_part(p_name, ' ', 1) AS name_head FROM part")),
    Entry("p2_token_default", (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.splitTokenOrDefault(col("p_name"), " ", 1, "none").as("tok2_name"),
        Projections.splitTokenOrDefault(col("p_type"), " ", 1, "none").as("tok2_type")),
      Sql("""SELECT p_partkey,
         COALESCE(NULLIF(split_part(p_name, ' ', 2), ''), 'none') AS tok2_name,
         COALESCE(NULLIF(split_part(p_type, ' ', 2), ''), 'none') AS tok2_type FROM part""")),
    Entry("p3_regex_extract", (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.regexGroup(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num")),
      Sql("SELECT p_partkey, regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS brand_num FROM part")),
    Entry("p5_coalesce_pref", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Projections.preferenceCoalesce("(no name)", col("lang"), col("source")).as("label")),
      Sql("""SELECT doc_id, COALESCE(NULLIF(lang,''), NULLIF(source,''), '(no name)') AS label
         FROM documents""")),
    Entry("p7_format_notes", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        Projections.formatNotes("Name: %s, segment: %s.", col("c_name"), col("c_mktsegment"))
          .as("notes")),
      Sql("""SELECT c_custkey, 'Name: ' || c_name || ', segment: ' || c_mktsegment || '.' AS notes
         FROM customer""")),
    Entry("p9_normalize_name", (s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.normalizeName(col("p_name")).as("norm_name")),
      Sql("""SELECT p_partkey,
         COALESCE(NULLIF(lower(regexp_replace(trim(split_part(p_name,'|',1)),'[ /]','_','g')),''),
                  'unknown_program') AS norm_name FROM part""")),
    Entry("p10_pipe_join", (s, dir) =>
      t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(Projections.pipeJoinSortedDistinct(collect_list(col("c_mktsegment")))
          .as("segments")),
      Sql("""SELECT c_nationkey,
         string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS segments
         FROM customer GROUP BY c_nationkey""")),
    Entry("p11_map_roundtrip", (s, dir) => {
      // pack lang/source into "k=v|k=v", parse back, extract — P11+P12
      val packed = concat(lit("lang="), col("lang"), lit("|source="), col("source"))
      t(s, dir, "documents").select(col("doc_id"),
        element_at(Projections.parsePackedMap(packed), "source").as("src_from_map"))
    },
      Sql("SELECT doc_id, source AS src_from_map FROM documents")),
    Entry("p12_pack_map", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Projections.packMap(map(lit("lang"), col("lang"), lit("src"), col("source")))
          .as("packed")),
      Sql("SELECT doc_id, 'lang=' || lang || '|src=' || source AS packed FROM documents")),
    Entry("p13_stringified_list", (s, dir) => {
      // python-literal list parse (reference eval() — we from_json, §7.4)
      val pyList = concat(lit("['"), col("lang"), lit("', '"), col("source"), lit("']"))
      t(s, dir, "documents").select(col("doc_id"),
        element_at(Projections.parseStringifiedList(pyList), 1).as("first_item"),
        size(Projections.parseStringifiedList(pyList)).cast("long").as("n_items"))
    },
      Sql("SELECT doc_id, lang AS first_item, CAST(2 AS BIGINT) AS n_items FROM documents")),
    Entry("p14_encode_values", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        coalesce(Projections.encodeValues(col("lang"),
          Map("en" -> 1, "de" -> 2, "es" -> 3, "fr" -> 4, "zh" -> 5)), lit(0))
          .cast("long").as("lang_code")),
      Sql("""SELECT doc_id, CAST(CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'es' THEN 3
         WHEN 'fr' THEN 4 WHEN 'zh' THEN 5 ELSE 0 END AS BIGINT) AS lang_code FROM documents""")),
    Entry("p15_json_extract", (s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        Projections.jsonPath(col("props"), "$.k", "missing").as("k_val")),
      Sql("""SELECT event_id, COALESCE(json_extract_string(props, '$.k'), 'missing') AS k_val
         FROM events""")),
    Entry("p4_authz_extract", (s, dir) =>
      // P4 — regex program-from-authz path (ref get_bdc_studies_from_gen3
      // .py:200-208): program segment out of an authz-style resource path
      t(s, dir, "documents").select(col("doc_id"),
        Projections.regexGroup(
          concat(lit("/programs/"), col("lang"), lit("/projects/"), col("source")),
          "^/programs/([^/]+)/projects/", 1).as("program")),
      Sql("""SELECT doc_id,
         regexp_extract('/programs/' || lang || '/projects/' || source,
                        '^/programs/([^/]+)/projects/', 1) AS program
         FROM documents""")),
    Entry("p6_alias_guard", (s, dir) =>
      // P6 — alias-chain coalesce with raise_error when every candidate is
      // absent (never fires on this data; the firing path is spec-tested)
      t(s, dir, "documents").select(col("doc_id"),
        Projections.aliasChainOrError(
          concat(lit("no usable name for doc "), col("doc_id").cast("string")),
          col("lang"), col("source")).as("name"),
        when(nullif(col("lang"), lit("")).isNotNull, "lang")
          .when(nullif(col("source"), lit("")).isNotNull, "source")
          .otherwise("none").as("name_src")),
      Sql("""SELECT doc_id,
         COALESCE(NULLIF(lang, ''), NULLIF(source, '')) AS name,
         CASE WHEN NULLIF(lang, '') IS NOT NULL THEN 'lang'
              WHEN NULLIF(source, '') IS NOT NULL THEN 'source'
              ELSE 'none' END AS name_src
         FROM documents""")),
    Entry("p8_null_safe", (s, dir) =>
      // P8 — null-safe stringify (ref xml_generator.py:57-61 safe_text)
      t(s, dir, "documents").select(col("doc_id"),
        Projections.nullSafeString(
          when(col("n_chars") < 60, lit(null)).otherwise(col("n_chars")), "NA")
          .as("chars_str"),
        Projections.nullSafeString(
          when(col("n_chars") < 60, lit(null)).otherwise(col("lang")), "(missing)")
          .as("lang_str")),
      Sql("""SELECT doc_id,
         COALESCE(CAST(CASE WHEN n_chars < 60 THEN NULL ELSE n_chars END AS VARCHAR),
                  'NA') AS chars_str,
         COALESCE(CASE WHEN n_chars < 60 THEN NULL ELSE lang END,
                  '(missing)') AS lang_str
         FROM documents""")),
    Entry("p19_variant_extract", (s, dir) =>
      // Spark 4 VARIANT path for semi-structured payloads: parse once to
      // the binary variant encoding, extract typed fields — the
      // schema-on-read shape that replaces repeated string re-parsing
      t(s, dir, "events").select(col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "long").as("k_long"),
        variant_get(try_parse_json(col("props")), "$.missing", "string")
          .as("absent")),
      Sql("""SELECT event_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
         json_extract_string(props, '$.missing') AS absent
         FROM events""")),
    Entry("p16_p17_const_url", (s, dir) =>
      // P16 constant provenance columns + P17 URL construction
      t(s, dir, "documents").select(col("doc_id"),
        lit("graft").as("catalog"),
        lit(1L).as("schema_version"),
        Projections.buildUrl("https://data.example.org/doc/", col("doc_id")).as("url")),
      Sql("""SELECT doc_id, 'graft' AS catalog, CAST(1 AS BIGINT) AS schema_version,
         'https://data.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url
         FROM documents""")),

    // ───────────────────────── §2.4 filters ─────────────────────────
    Entry("f1_notnull_prefix", (s, dir) =>
      Filters.notNullWithPrefix(t(s, dir, "customer"),
        Seq("c_name", "c_mktsegment"), "c_name", "Customer#00000001")
        .select(col("c_custkey"), col("c_name")),
      Sql("""SELECT c_custkey, c_name FROM customer WHERE c_name IS NOT NULL
         AND c_mktsegment IS NOT NULL AND c_name LIKE 'Customer#00000001%'""")),
    Entry("f2_validation_split", (s, dir) => {
      val (_, rejects) = Filters.validationSplit(
        t(s, dir, "documents")
          .withColumn("short_text", when(col("n_chars") < 60, lit(null)).otherwise(col("text"))),
        Seq("short_text", "lang"))
      rejects.select(col("doc_id"), col("reason"))
    },
      Sql("""SELECT doc_id,
         CASE WHEN n_chars < 60 OR text IS NULL OR trim(text) = ''
                THEN 'missing short_text'
              WHEN lang IS NULL OR trim(lang) = '' THEN 'missing lang'
         END AS reason
         FROM documents
         WHERE n_chars < 60 OR text IS NULL OR trim(text) = ''
            OR lang IS NULL OR trim(lang) = ''""")),
    Entry("f4_skip_set", (s, dir) =>
      Filters.skipSet(t(s, dir, "orders"), "o_orderstatus", Seq("F"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")),
      Sql("""SELECT o_orderstatus, COUNT(*) AS n FROM orders
         WHERE o_orderstatus NOT IN ('F') GROUP BY o_orderstatus""")),
    Entry("f5_suffix_filter", (s, dir) =>
      Filters.suffixFilter(t(s, dir, "documents"), "source", "0")
        .select(col("doc_id"), col("source")),
      Sql("SELECT doc_id, source FROM documents WHERE lower(source) LIKE '%0'")),
    Entry("f9_quarantine", (s, dir) =>
      Filters.quarantinePayload(t(s, dir, "events"),
        col("event_type") === "error", "value")
        .select(col("event_id"), col("value")),
      Sql("""SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
         FROM events""")),
    Entry("f11_json_quarantine", (s, dir) => {
      // malformed-payload quarantine (F9×P15): every 7th props gets a
      // leading-garbage corruption; parse failures label, never throw
      val corrupted = when(col("event_id") % 7 === 0,
        concat(lit("}{"), col("props"))).otherwise(col("props"))
      // quarantine on JSON VALIDITY (try_parse_json null ⇔ malformed), the
      // same predicate as the oracle's json_valid — valid JSON merely
      // missing $.k stays "ok" with a null k_val on both engines
      val valid = try_parse_json(corrupted).isNotNull
      t(s, dir, "events").select(col("event_id"),
        when(valid, get_json_object(corrupted, "$.k")).as("k_val"),
        when(valid, "ok").otherwise("quarantined").as("status"))
    },
      Sql("""WITH c AS (
           SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN '}{' || props ELSE props END AS props
           FROM events)
         SELECT event_id,
           CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k')
                ELSE NULL END AS k_val,
           CASE WHEN json_valid(props) THEN 'ok' ELSE 'quarantined' END AS status
         FROM c""")),
    Entry("f10_log_split", (s, dir) => {
      // F10 — grep-style severity split over synthesized log lines (ref
      // scripts/heal/ingest.sh:26-27); union of the tagged splits proves
      // the partition is exhaustive and exclusive on this data
      val lines = t(s, dir, "events").select(col("event_id"),
        format_string("evt %d type=%s user=%d",
          col("event_id"), upper(col("event_type")), col("user_id")).as("line"))
      val split = Filters.logSeveritySplit(lines, "line")
      Seq("ERROR", "WARNING", "OTHER")
        .map(sev => split(sev).select(col("event_id"), lit(sev).as("sev")))
        .reduce(_ union _)
    },
      Sql("""WITH lines AS (
           SELECT event_id,
             'evt ' || CAST(event_id AS VARCHAR) || ' type=' || upper(event_type)
               || ' user=' || CAST(user_id AS VARCHAR) AS line
           FROM events)
         SELECT event_id,
           CASE WHEN upper(line) LIKE '%ERROR%' THEN 'ERROR'
                WHEN upper(line) LIKE '%WARNING%' THEN 'WARNING'
                ELSE 'OTHER' END AS sev
         FROM lines""")),

    // ───────────────────────── §2.5 joins ─────────────────────────
    Entry("j1_broadcast_join", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      Joins.broadcastEquiJoin(o, c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
    },
      Sql("""SELECT c_mktsegment, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""")),
    Entry("j2_lookup_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      Joins.broadcastEquiJoin(li, p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    },
      Sql("""SELECT p_brand, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""")),
    Entry("j3_nested_collect", (s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(col("o_orderkey"))), _.cast("string")))
          .as("orderkeys"), count(lit(1)).as("n_orders")),
      Sql("""SELECT o_custkey,
         string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys,
         COUNT(*) AS n_orders FROM orders GROUP BY o_custkey""")),
    Entry("j4_enrich_region", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      val r = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      Joins.enrich(Joins.enrich(c, n, "c_nationkey"), r, "n_regionkey")
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers"))
    },
      Sql("""SELECT r_name, COUNT(*) AS n_customers FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""")),
    Entry("j5_semi_join", (s, dir) =>
      Joins.semi(t(s, dir, "customer").select(col("c_custkey")),
        t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"), "c_custkey"),
      Sql("""SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),
    Entry("j6_anti_join", (s, dir) =>
      Joins.anti(t(s, dir, "customer").select(col("c_custkey")),
        t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"), "c_custkey"),
      Sql("""SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),
    Entry("j7_outer_dispatch", (s, dir) => {
      val o = t(s, dir, "orders")
      Joins.outerDispatch(
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct(),
        o.filter(col("o_orderstatus") === "P").select(col("o_custkey")).distinct(),
        "o_custkey")
    },
      Sql("""WITH l AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus='F'),
              r AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus='P')
         SELECT COALESCE(l.k, r.k) AS o_custkey,
                CASE WHEN r.k IS NULL THEN 'left_only'
                     WHEN l.k IS NULL THEN 'right_only'
                     ELSE 'both' END AS method
         FROM l FULL OUTER JOIN r ON l.k = r.k""")),
    Entry("j8_prefix_membership", (s, dir) => {
      // J8 — prefix-scan membership (ref run_dbgap_xml_gen_fallback.py:
      // 97-104): accession-style values harvested from arbitrary columns,
      // normalized to first dot-part, semi-join against the target catalog
      val src = t(s, dir, "orders").select(
        concat(lit("acc"), col("o_custkey").cast("string"), lit(".v1")).as("scan1"),
        col("o_orderpriority").as("scan2"))
      val target = t(s, dir, "customer")
        .select(concat(lit("acc"), col("c_custkey").cast("string")).as("acc_id"),
          col("c_custkey"))
      Joins.prefixScanMembership(src, Seq("scan1", "scan2"), "acc", target, "acc_id")
        .select(col("c_custkey"))
    },
      Sql("""WITH harvested AS (
           SELECT DISTINCT split_part(v, '.', 1) AS acc_id
           FROM (SELECT unnest(['acc' || CAST(o_custkey AS VARCHAR) || '.v1',
                                o_orderpriority]) AS v
                 FROM orders)
           WHERE v LIKE 'acc%')
         SELECT c_custkey
         FROM (SELECT 'acc' || CAST(c_custkey AS VARCHAR) AS acc_id, c_custkey
               FROM customer) c
         WHERE acc_id IN (SELECT acc_id FROM harvested)""")),

    // ───────────────────────── §2.7 windows ─────────────────────────
    Entry("w1_uniquify", (s, dir) =>
      Windows.uniquify(t(s, dir, "part"), Seq("p_brand"), "p_name", "p_partkey", "uniq_name")
        .select(col("p_partkey"), col("uniq_name")),
      Sql("""SELECT p_partkey, CASE WHEN rn > 1 THEN p_name || '_' || CAST(rn-1 AS VARCHAR)
                ELSE p_name END AS uniq_name
         FROM (SELECT p_partkey, p_name,
               row_number() OVER (PARTITION BY p_brand, p_name ORDER BY p_partkey) AS rn
               FROM part)""")),
    Entry("w2_topk_per_group", (s, dir) =>
      Windows.topKPerGroup(t(s, dir, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn")),
      Sql("""SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn
         FROM (SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn <= 3""")),
    Entry("w3_top1", (s, dir) =>
      Windows.top1(t(s, dir, "orders"), col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice")),
      Sql("""SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1""")),

    // ───────────────────────── §2.8 sort / limit ─────────────────────────
    Entry("o1_topk", (s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
      Sql("""SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""")),
    Entry("o2_sorted_report", (s, dir) =>
      // O2/O3 — sorted report list per group (ref get_bdc_studies_md_from
      // _gen3.py:231-238, jq sort_by): non-distinct, duplicates kept
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(concat_ws("|", array_sort(collect_list(col("event_type"))))
          .as("event_seq"), count(lit(1)).as("n")),
      Sql("""SELECT user_id,
         array_to_string(list_sort(list(event_type)), '|') AS event_seq,
         COUNT(*) AS n
         FROM events GROUP BY user_id""")),

    // ───────────────────────── §2.9 set ops ─────────────────────────
    Entry("u1_union_distinct", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct(),
      Sql("""SELECT c_nationkey AS nationkey FROM customer
         UNION SELECT s_nationkey FROM supplier""")),
    Entry("u2_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))),
      Sql("""SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier""")),
    Entry("u3_intersect", (s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))),
      Sql("""SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier""")),
    Entry("u4_distinct", (s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Sql("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),
    Entry("u5_set_all_surface", (s, dir) => {
      // the ALL (bag-semantics) halves of the set surface — u2/u3 cover
      // the distinct halves: exceptAll keeps multiplicity DIFFERENCES,
      // intersectAll the per-value minimum. Bags compare as per-value
      // counts (deterministic; raw bag row order is not).
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sp = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.exceptAll(sp).groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n_except_all"))
        .join(c.intersectAll(sp).groupBy(col("nationkey"))
          .agg(count(lit(1)).as("n_intersect_all")), Seq("nationkey"), "full")
        .select(col("nationkey"),
          coalesce(col("n_except_all"), lit(0L)).as("n_except_all"),
          coalesce(col("n_intersect_all"), lit(0L)).as("n_intersect_all"))
    },
      Sql("""WITH ea AS (SELECT nationkey, COUNT(*) AS n FROM (
             SELECT c_nationkey AS nationkey FROM customer
             EXCEPT ALL SELECT s_nationkey FROM supplier) GROUP BY 1),
         ia AS (SELECT nationkey, COUNT(*) AS n FROM (
             SELECT c_nationkey AS nationkey FROM customer
             INTERSECT ALL SELECT s_nationkey FROM supplier) GROUP BY 1)
         SELECT COALESCE(ea.nationkey, ia.nationkey) AS nationkey,
                CAST(COALESCE(ea.n, 0) AS BIGINT) AS n_except_all,
                CAST(COALESCE(ia.n, 0) AS BIGINT) AS n_intersect_all
         FROM ea FULL JOIN ia ON ia.nationkey = ea.nationkey""")),

    // ───────────────────────── ext: text stats ─────────────────────────
    Entry("m1_scd2_merge", (s, dir) => {
      // SCD2 merge of a change batch into a versioned dimension: changed
      // keys close + re-open, no-op updates stay idempotent, new keys
      // insert, closed history passes through — one full-outer join, row
      // fan-out via inline array+explode (no second pass over the open set)
      val c = t(s, dir, "customer")
      val history = c.select(col("c_custkey"), col("c_mktsegment"),
          to_date(lit("2026-01-01")).as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        .unionByName(c.filter(col("c_custkey") % 50 === 0)
          .select(col("c_custkey"), lit("OLD").as("c_mktsegment"),
            to_date(lit("2025-01-01")).as("valid_from"),
            to_date(lit("2026-01-01")).as("valid_to")))
      val updates = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 20 === 0, "MOVED")
            .otherwise(col("c_mktsegment")).as("c_mktsegment"),
          to_date(lit("2026-06-01")).as("eff"))
        // synthetic inserted keys: strictly NEGATIVE -(k+1) — disjoint from
        // every real c_custkey >= 0 at ANY scale factor (a fixed +offset
        // collides once keys exceed it, ~SF 7; plain -k collides at k=0)
        .unionByName(c.filter(col("c_custkey") % 97 === 0)
          .select((-(col("c_custkey") + 1)).as("c_custkey"),
            lit("NEW").as("c_mktsegment"), to_date(lit("2026-06-01")).as("eff")))
      Merge.scd2Merge(history, updates, "c_custkey", Seq("c_mktsegment"),
        validate = true)
        // dates → timestamps for the cross-engine compare (a Spark DATE
        // arrives as a python date object, a DuckDB DATE as datetime64)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("valid_from").cast("timestamp").as("valid_from"),
          col("valid_to").cast("timestamp").as("valid_to"))
    },
      Sql("""WITH hist_open AS (
           SELECT c_custkey, c_mktsegment, TIMESTAMP '2026-01-01' AS valid_from,
                  CAST(NULL AS TIMESTAMP) AS valid_to FROM customer),
         hist_closed AS (
           SELECT c_custkey, 'OLD' AS c_mktsegment, TIMESTAMP '2025-01-01' AS valid_from,
                  TIMESTAMP '2026-01-01' AS valid_to FROM customer WHERE c_custkey % 50 = 0),
         upd AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 20 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment,
                  TIMESTAMP '2026-06-01' AS eff FROM customer WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT -(c_custkey + 1), 'NEW', TIMESTAMP '2026-06-01'
           FROM customer WHERE c_custkey % 97 = 0),
         j AS (SELECT o.c_custkey AS ok, o.c_mktsegment AS oseg, o.valid_from AS vf,
                      u.c_custkey AS uk, u.c_mktsegment AS useg, u.eff
               FROM hist_open o FULL OUTER JOIN upd u ON o.c_custkey = u.c_custkey)
         SELECT ok AS c_custkey, oseg AS c_mktsegment, vf AS valid_from,
                CAST(NULL AS TIMESTAMP) AS valid_to
         FROM j WHERE ok IS NOT NULL AND (uk IS NULL OR useg = oseg)
         UNION ALL
         SELECT ok, oseg, vf, eff
         FROM j WHERE ok IS NOT NULL AND uk IS NOT NULL AND useg <> oseg
         UNION ALL
         SELECT uk, useg, eff, CAST(NULL AS TIMESTAMP)
         FROM j WHERE uk IS NOT NULL AND (ok IS NULL OR useg <> oseg)
         UNION ALL
         SELECT * FROM hist_closed""")),
    Entry("m2_snapshot_diff", (s, dir) => {
      // snapshot CDC: diff two full dumps into insert/update/delete rows
      // (the incremental batch that feeds m1's merge when the source only
      // exposes full re-downloads, the reference's weekly situation)
      val c = t(s, dir, "customer")
      val oldSnap = c.select(col("c_custkey"), col("c_mktsegment"))
      val curSnap = c.filter(!(col("c_custkey") % 41 === 0))
        .select(col("c_custkey"),
          when(col("c_custkey") % 20 === 0, "MOVED")
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
        .unionByName(c.filter(col("c_custkey") % 97 === 0)
          .select((-(col("c_custkey") + 1)).as("c_custkey"), // disjoint at any SF
            lit("NEW").as("c_mktsegment")))
      Merge.snapshotDiff(oldSnap, curSnap, "c_custkey", Seq("c_mktsegment"))
    },
      Sql("""WITH oldsnap AS (SELECT c_custkey, c_mktsegment FROM customer),
         cursnap AS (
           SELECT c_custkey,
                  CASE WHEN c_custkey % 20 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
           FROM customer WHERE c_custkey % 41 <> 0
           UNION ALL
           SELECT -(c_custkey + 1), 'NEW' FROM customer WHERE c_custkey % 97 = 0)
         SELECT COALESCE(c.c_custkey, o.c_custkey) AS c_custkey,
                CASE WHEN c.c_custkey IS NOT NULL THEN c.c_mktsegment
                     ELSE o.c_mktsegment END AS c_mktsegment,
                CASE WHEN o.c_custkey IS NULL THEN 'insert'
                     WHEN c.c_custkey IS NULL THEN 'delete'
                     ELSE 'update' END AS op
         FROM oldsnap o FULL OUTER JOIN cursnap c ON o.c_custkey = c.c_custkey
         WHERE o.c_custkey IS NULL OR c.c_custkey IS NULL
            OR o.c_mktsegment IS DISTINCT FROM c.c_mktsegment""")),
    Entry("x81_profile_stats", (s, dir) => {
      // single-pass column profiling — the trust-the-new-drop summary:
      // unpivot IN the projection (one scan for all columns), ONE
      // (column, value) count aggregation, stats + exact top-3 off that
      // table; the top-K is the salted two-phase window, so n_chars
      // (near-distinct per row) spreads across tasks instead of
      // funneling one column's whole distinct set through one window
      // partition. Values compare as strings, ties value-ascending.
      val d = t(s, dir, "documents")
      graft.ops.Profile.profileColumns(
        d, Seq("lang", "source", "n_chars"), 3)
    },
      // x81: the unpivot, the (column, value) count table, and the
      // (count desc, value asc) top-3 replayed; the salted two-phase
      // engine top-K equals this plain window because the order is total
      Sql("""WITH st AS (
           SELECT 'lang' AS col, CAST(lang AS VARCHAR) AS v FROM documents
           UNION ALL
           SELECT 'source', CAST(source AS VARCHAR) FROM documents
           UNION ALL
           SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
         vc AS (SELECT col, v, COUNT(*) AS c FROM st GROUP BY 1, 2),
         stats AS (SELECT col, SUM(c) AS n_rows,
                     COALESCE(SUM(CASE WHEN v IS NULL THEN c END), 0)
                       AS n_nulls,
                     COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct
                   FROM vc GROUP BY 1),
         tops AS (SELECT col,
                    string_agg(v, '|' ORDER BY c DESC, v ASC) AS top_values
                  FROM (SELECT col, v, c, row_number() OVER (
                          PARTITION BY col ORDER BY c DESC, v) AS r
                        FROM vc WHERE v IS NOT NULL)
                  WHERE r <= 3 GROUP BY 1)
         SELECT s.col AS "column", CAST(n_rows AS BIGINT) AS n_rows,
                CAST(n_nulls AS BIGINT) AS n_nulls,
                CAST(n_distinct AS BIGINT) AS n_distinct,
                COALESCE(top_values, '') AS top_values
         FROM stats s LEFT JOIN tops USING (col)""")),
    Entry("x85_histogram", (s, dir) =>
      // the distribution view behind x81's scalar profile: equi-width
      // 16-bin histogram of n_chars in exact integer arithmetic — one
      // (min, max) aggregate broadcast back, width = range div 16 + 1,
      // ONE map-side-combining bin-key groupBy; empty bins are absent
      // rows (a 100 TB histogram materializes observed bins only).
      graft.ops.Profile.histogram(t(s, dir, "documents"), "n_chars", 16),
      // The x85 histogram oracle: the (min, max) bounds, width =
      // range // 16 + 1, the bin floor-division (operands non-negative —
      // trunc ≡ floor in both engines), and the inclusive lo/hi edges.
      Sql("""WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx
           FROM documents WHERE n_chars IS NOT NULL),
         w AS (SELECT mn, (mx - mn) // 16 + 1 AS wd FROM b),
         h AS (SELECT (n_chars - w.mn) // w.wd AS bin, COUNT(*) AS c
               FROM documents CROSS JOIN w
               WHERE n_chars IS NOT NULL GROUP BY 1)
         SELECT h.bin, w.mn + h.bin * w.wd AS lo,
                w.mn + (h.bin + 1) * w.wd - 1 AS hi,
                CAST(h.c AS BIGINT) AS c
         FROM h CROSS JOIN w"""))
  )
}
