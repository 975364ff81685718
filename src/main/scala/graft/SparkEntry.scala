package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Filters, Joins, Merge, Projections, Windows}
import graft.ext.{Curation, Dedup, Similarity, TextStats, Unigram}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is registered here as a named query over
  * the driver's parquet testdata, with a DuckDB-equivalent oracle in
  * [[oracleSql]]. Determinism rules for hash-equality across engines:
  *  - every computed column is explicitly aliased identically in both;
  *  - no bare `first()`; order-sensitive ops take an explicit tiebreak;
  *  - double aggregates go through exact decimal arithmetic, then cast back
  *    to double (order-independent ⇒ bit-identical across engines);
  *  - derived integers are cast to long (DuckDB COUNT/SUM are BIGINT/HUGEINT).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.ts is parquet timestamp[us] without timezone → Spark infers
    * TIMESTAMP_NTZ, DuckDB naive TIMESTAMP: identical wall-clock fields in
    * both engines, no session-timezone dependence. */
  private def eventTs: Column = col("ts")

  /** Shared audited frame of the privacy-release triple's diversity side
    * (x100b/c one-shots and their x100e/f ingest twins): per document,
    * the (lang) key, (source, n_chars-bucket) quasi-identifiers, and the
    * token-count bucket as the ordinal sensitive surrogate. ONE
    * definition so the twins and one-shots can only drift together. */
  private def x100bFrame(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(col("text").isNotNull &&
        graft.ext.TextStats.wsTrim(col("text")) =!= "")
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 256").as("len_bucket"),
        size(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
          .cast("long").as("_sv"))
      .withColumn("sv", expr("_sv div 8")).drop("_sv")

  /** Exact micros-since-epoch for a TIMESTAMP_NTZ column, computed in the
    * naive (wall-clock) domain so it matches DuckDB's epoch_us(ts) on the
    * same naive value regardless of either engine's session timezone —
    * a cast to TIMESTAMP would re-interpret through the session zone. */
  private def eventTsMicros: Column =
    expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")

  /** Exact, order-independent sum of a double column: cast each value to
    * decimal(18,2) (the data is 2-dp money), sum exactly, emit double. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Σ price·(1−discount) with every factor cast to decimal BEFORE the
    * multiply: a double product near a half-cent boundary rounds
    * differently across engines (Spark casts via the double's shortest
    * repr), so the product must happen in exact decimal space. */
  private def discountedRevenue(price: Column, discount: Column): Column =
    sum(price.cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - discount.cast("decimal(18,2)")))
      .cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full star-join: lineitem⋈orders⋈customer⋈nation⋈region with the
    * dimension chain broadcast, revenue per region/returnflag. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val cust = t(spark, dir, "customer")
    val nat = broadcast(t(spark, dir, "nation"))
    val reg = broadcast(t(spark, dir, "region"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("l_returnflag"))
      .agg(discountedRevenue(col("l_extendedprice"), col("l_discount"))
             .as("revenue"),
           count(lit(1)).as("n_items"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───────────────────────── §2.6 aggregations ─────────────────────────
    "q1_agg" -> ((s, dir) => {
      // TPC-H Q1 shape: l_quantity is integral ⇒ plain double sum is exact;
      // prices go through decimal.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
             moneySum(col("l_extendedprice")).as("sum_price"),
             count(lit(1)).as("n"))
    }),
    "q3_shipping" -> ((s, dir) => {
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
    }),
    "q5_region_volume" -> ((s, dir) => {
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
    }),
    "a1_dup_having" -> ((s, dir) =>
      Aggs.duplicates(t(s, dir, "lineitem"), Seq("l_orderkey"))),
    "a2_distinct_count" -> ((s, dir) =>
      Aggs.distinctCounts(t(s, dir, "lineitem"), Seq("l_partkey", "l_suppkey"))),
    // approximate-distinct by the engine's OWN deterministic HLL (p=8,
    // the x80 machinery) instead of Spark's approx_count_distinct, whose
    // sketch internals are engine-private and left this row rows-only:
    // one unpivoting scan of lineitem feeds (colname, value) registers
    // (map-side max-combine), the integer estimate replays exactly in
    // the oracle, and the exact distinct count rides as the small-SF
    // audit column — the 100 TB path when exact distinct is too
    // expensive, now hash-checked end to end.
    "a2b_approx_distinct" -> ((s, dir) => {
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
    }),
    "a4_breakdown" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))),
    "a4b_breakdown_detail" -> ((s, dir) =>
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
                x("o_custkey").cast("string")))).as("details"))),
    "a5_group_to_doc" -> ((s, dir) =>
      Aggs.groupToDoc(t(s, dir, "lineitem"), "l_orderkey", "l_returnflag", "l_linenumber")
        .withColumnRenamed("l_returnflag", "min_flag")),
    "a6_section_group" -> ((s, dir) =>
      // json_tuple: ONE parse of props for both candidate fields
      Aggs.sectionGroup(
        t(s, dir, "events").select(json_tuple(col("props"), "sec", "k").as(Seq("sec", "k"))),
        "none", col("sec"), col("k"))),
    "a10_percentiles" -> ((s, dir) =>
      // exact interpolated percentiles (integral doubles => both engines
      // interpolate identically)
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("med"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          max(col("l_quantity")).as("max_qty"))),
    // a10b_approx_percentiles (Spark's builtin t-digest-style
    // approx_percentile) is RETIRED from the catalog (r13): its sketch
    // internals are engine-specific so the row could only ever be
    // rows-only, and the x92 quantile-sketch family now answers the
    // same question deterministically — estimates AND sampling error
    // oracle-replayed. The builtin remains available to users
    // (GraftFunctions registers nothing over it; it is stock Spark).
    "a7_rollup" -> ((s, dir) =>
      Aggs.rollupCounts(
        t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey")),
        "n_name", "c_mktsegment")),
    "a8_dedup_consolidate" -> ((s, dir) =>
      Aggs.dedupConsolidate(t(s, dir, "customer"), "c_nationkey", "c_custkey", "c_mktsegment")),
    "a9_pivot" -> ((s, dir) =>
      Aggs.manualPivot(
        t(s, dir, "customer")
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey")),
        "c_mktsegment", "r_name",
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))),

    "a11_cube" -> ((s, dir) =>
      // full grouping-sets surface: cube over two dims (rollup is a7)
      t(s, dir, "lineitem").cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))),
    "s2_salted_agg" -> ((s, dir) =>
      // skew-proof two-phase aggregation must equal the plain GROUP BY —
      // proven through the oracle gate, not just a spec
      graft.ops.Scale.saltedAgg(t(s, dir, "lineitem"), Seq("l_returnflag"), 16)(
        Seq(count(lit(1)).as("n") -> sum(col("n")).cast("long").as("n"),
          sum(col("l_quantity")).as("sq") -> sum(col("sq")).as("sq")))),
    "s3_salted_join" -> ((s, dir) => {
      // salted large-large join ≡ plain join (oracle-checked): lineitem ⋈
      // part on the skew-spread (key, salt) pair, then per-brand counts
      val p = t(s, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.ops.Scale.saltedJoin(t(s, dir, "lineitem"), p, "l_partkey", 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    }),
    "s4_salted_window" -> ((s, dir) =>
      // skew-proof two-phase running sum ≡ the plain one-window form (w4)
      // — the salted-WINDOW pattern proven through the oracle gate; a hot
      // o_custkey spreads over orderkey chunks instead of one straggler
      graft.ops.Scale.saltedRunningSum(t(s, dir, "orders"),
          "o_custkey", "o_orderkey",
          col("o_totalprice").cast("decimal(18,2)"), "running_total", 100000L)
        .select(col("o_custkey"), col("o_orderkey"),
          col("running_total").cast("double").as("running_total"))),
    "s5_salted_topk" -> ((s, dir) =>
      // skew-proof two-phase top-k per group ≡ the plain one-window form
      // (w2); survivors per key are ≤ k·saltBuckets before the final rank
      graft.ops.Scale.saltedTopK(t(s, dir, "orders"), "o_custkey",
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3, 8)
        .select(col("o_custkey"), col("o_orderkey"),
          col("rnk").cast("long").as("rn"))),
    "s6_bucketed_join" -> ((s, dir) => {
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
    }),

    "s8_zorder_pruned_scan" -> ((s, dir) => {
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
      val zdir = graft.ops.Scale.tempLayoutDir("graft_zq_")
      graft.ops.Scale.writeZOrdered(o, zdir, "ck", "dk", 16)
      graft.ops.Scale.prunedRead2(s, zdir, "ck", 8, 23, "dk", 8, 23)
        .groupBy(col("ck"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    }),
    "s7_zorder_value" -> ((s, dir) =>
      // the Morton code the two-key Z-order layout (Scale.writeZOrdered)
      // range-splits and sorts by — pure shifts/masks over (custkey,
      // epoch-day), bit-identical across engines, so the clustering key
      // itself is oracle-checked; the layout's locality contract (each
      // file covers ~1/√n of BOTH key ranges) is pinned in ScaleSpec
      t(s, dir, "orders").select(col("o_orderkey"),
        graft.ops.Scale.zOrderValue(
          col("o_custkey") % (1 << 21),
          datediff(col("o_orderdate").cast("date"),
            to_date(lit("1992-01-01"))) % (1 << 21)).as("z"))),

    // ───────────────────────── §2.3 projections ─────────────────────────
    "p1_split_part" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.splitPart(col("p_name"), " ", 1).as("name_head"))),
    "p2_token_default" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.splitTokenOrDefault(col("p_name"), " ", 1, "none").as("tok2_name"),
        Projections.splitTokenOrDefault(col("p_type"), " ", 1, "none").as("tok2_type"))),
    "p3_regex_extract" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.regexGroup(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"))),
    "p5_coalesce_pref" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Projections.preferenceCoalesce("(no name)", col("lang"), col("source")).as("label"))),
    "p7_format_notes" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        Projections.formatNotes("Name: %s, segment: %s.", col("c_name"), col("c_mktsegment"))
          .as("notes"))),
    "p9_normalize_name" -> ((s, dir) =>
      t(s, dir, "part").select(col("p_partkey"),
        Projections.normalizeName(col("p_name")).as("norm_name"))),
    "p10_pipe_join" -> ((s, dir) =>
      t(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(Projections.pipeJoinSortedDistinct(collect_list(col("c_mktsegment")))
          .as("segments"))),
    "p11_map_roundtrip" -> ((s, dir) => {
      // pack lang/source into "k=v|k=v", parse back, extract — P11+P12
      val packed = concat(lit("lang="), col("lang"), lit("|source="), col("source"))
      t(s, dir, "documents").select(col("doc_id"),
        element_at(Projections.parsePackedMap(packed), "source").as("src_from_map"))
    }),
    "p12_pack_map" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Projections.packMap(map(lit("lang"), col("lang"), lit("src"), col("source")))
          .as("packed"))),
    "p13_stringified_list" -> ((s, dir) => {
      // python-literal list parse (reference eval() — we from_json, §7.4)
      val pyList = concat(lit("['"), col("lang"), lit("', '"), col("source"), lit("']"))
      t(s, dir, "documents").select(col("doc_id"),
        element_at(Projections.parseStringifiedList(pyList), 1).as("first_item"),
        size(Projections.parseStringifiedList(pyList)).cast("long").as("n_items"))
    }),
    "p14_encode_values" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        coalesce(Projections.encodeValues(col("lang"),
          Map("en" -> 1, "de" -> 2, "es" -> 3, "fr" -> 4, "zh" -> 5)), lit(0))
          .cast("long").as("lang_code"))),
    "p15_json_extract" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        Projections.jsonPath(col("props"), "$.k", "missing").as("k_val"))),
    "p4_authz_extract" -> ((s, dir) =>
      // P4 — regex program-from-authz path (ref get_bdc_studies_from_gen3
      // .py:200-208): program segment out of an authz-style resource path
      t(s, dir, "documents").select(col("doc_id"),
        Projections.regexGroup(
          concat(lit("/programs/"), col("lang"), lit("/projects/"), col("source")),
          "^/programs/([^/]+)/projects/", 1).as("program"))),
    "p6_alias_guard" -> ((s, dir) =>
      // P6 — alias-chain coalesce with raise_error when every candidate is
      // absent (never fires on this data; the firing path is spec-tested)
      t(s, dir, "documents").select(col("doc_id"),
        Projections.aliasChainOrError(
          concat(lit("no usable name for doc "), col("doc_id").cast("string")),
          col("lang"), col("source")).as("name"),
        when(nullif(col("lang"), lit("")).isNotNull, "lang")
          .when(nullif(col("source"), lit("")).isNotNull, "source")
          .otherwise("none").as("name_src"))),
    "p8_null_safe" -> ((s, dir) =>
      // P8 — null-safe stringify (ref xml_generator.py:57-61 safe_text)
      t(s, dir, "documents").select(col("doc_id"),
        Projections.nullSafeString(
          when(col("n_chars") < 60, lit(null)).otherwise(col("n_chars")), "NA")
          .as("chars_str"),
        Projections.nullSafeString(
          when(col("n_chars") < 60, lit(null)).otherwise(col("lang")), "(missing)")
          .as("lang_str"))),
    "p19_variant_extract" -> ((s, dir) =>
      // Spark 4 VARIANT path for semi-structured payloads: parse once to
      // the binary variant encoding, extract typed fields — the
      // schema-on-read shape that replaces repeated string re-parsing
      t(s, dir, "events").select(col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "long").as("k_long"),
        variant_get(try_parse_json(col("props")), "$.missing", "string")
          .as("absent"))),
    "p16_p17_const_url" -> ((s, dir) =>
      // P16 constant provenance columns + P17 URL construction
      t(s, dir, "documents").select(col("doc_id"),
        lit("graft").as("catalog"),
        lit(1L).as("schema_version"),
        Projections.buildUrl("https://data.example.org/doc/", col("doc_id")).as("url"))),

    // ───────────────────────── §2.4 filters ─────────────────────────
    "f1_notnull_prefix" -> ((s, dir) =>
      Filters.notNullWithPrefix(t(s, dir, "customer"),
        Seq("c_name", "c_mktsegment"), "c_name", "Customer#00000001")
        .select(col("c_custkey"), col("c_name"))),
    "f2_validation_split" -> ((s, dir) => {
      val (_, rejects) = Filters.validationSplit(
        t(s, dir, "documents")
          .withColumn("short_text", when(col("n_chars") < 60, lit(null)).otherwise(col("text"))),
        Seq("short_text", "lang"))
      rejects.select(col("doc_id"), col("reason"))
    }),
    "f4_skip_set" -> ((s, dir) =>
      Filters.skipSet(t(s, dir, "orders"), "o_orderstatus", Seq("F"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))),
    "f5_suffix_filter" -> ((s, dir) =>
      Filters.suffixFilter(t(s, dir, "documents"), "source", "0")
        .select(col("doc_id"), col("source"))),
    "f9_quarantine" -> ((s, dir) =>
      Filters.quarantinePayload(t(s, dir, "events"),
        col("event_type") === "error", "value")
        .select(col("event_id"), col("value"))),
    "f11_json_quarantine" -> ((s, dir) => {
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
    }),
    "f10_log_split" -> ((s, dir) => {
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
    }),

    // ───────────────────────── §2.5 joins ─────────────────────────
    "j1_broadcast_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      Joins.broadcastEquiJoin(o, c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
    }),
    "j2_lookup_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      Joins.broadcastEquiJoin(li, p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
    }),
    "j3_nested_collect" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(concat_ws(",",
          transform(array_sort(collect_list(col("o_orderkey"))), _.cast("string")))
          .as("orderkeys"), count(lit(1)).as("n_orders"))),
    "j4_enrich_region" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      val r = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      Joins.enrich(Joins.enrich(c, n, "c_nationkey"), r, "n_regionkey")
        .groupBy(col("r_name")).agg(count(lit(1)).as("n_customers"))
    }),
    "j5_semi_join" -> ((s, dir) =>
      Joins.semi(t(s, dir, "customer").select(col("c_custkey")),
        t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"), "c_custkey")),
    "j6_anti_join" -> ((s, dir) =>
      Joins.anti(t(s, dir, "customer").select(col("c_custkey")),
        t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"), "c_custkey")),
    "j7_outer_dispatch" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Joins.outerDispatch(
        o.filter(col("o_orderstatus") === "F").select(col("o_custkey")).distinct(),
        o.filter(col("o_orderstatus") === "P").select(col("o_custkey")).distinct(),
        "o_custkey")
    }),
    "j8_prefix_membership" -> ((s, dir) => {
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
    }),

    // ───────────────────────── §2.7 windows ─────────────────────────
    "w1_uniquify" -> ((s, dir) =>
      Windows.uniquify(t(s, dir, "part"), Seq("p_brand"), "p_name", "p_partkey", "uniq_name")
        .select(col("p_partkey"), col("uniq_name"))),
    "w2_topk_per_group" -> ((s, dir) =>
      Windows.topKPerGroup(t(s, dir, "orders"), Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn"))),
    "w3_top1" -> ((s, dir) =>
      Windows.top1(t(s, dir, "orders"), col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))),

    // ───────────────────────── §2.8 sort / limit ─────────────────────────
    "o1_topk" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    "o2_sorted_report" -> ((s, dir) =>
      // O2/O3 — sorted report list per group (ref get_bdc_studies_md_from
      // _gen3.py:231-238, jq sort_by): non-distinct, duplicates kept
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(concat_ws("|", array_sort(collect_list(col("event_type"))))
          .as("event_seq"), count(lit(1)).as("n"))),

    // ───────────────────────── §2.9 set ops ─────────────────────────
    "u1_union_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()),
    "u2_except" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))),
    "u3_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))),
    "u4_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct()),
    "u5_set_all_surface" -> ((s, dir) => {
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
    }),

    // ───────────────────────── time / events ─────────────────────────
    "d1_year_agg" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))),
    "d2_month_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))),
    "s1_string_surface" -> ((s, dir) =>
      // §2.10 battery: upper/reverse/lpad/translate/substr/len in one pass
      t(s, dir, "part").select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        reverse(col("p_name")).as("rname"),
        lpad(col("p_size").cast("string"), 4, "0").as("psize4"),
        translate(col("p_name"), " aeiou", "_AEIOU").as("tname"),
        substring(col("p_name"), 2, 3).as("mid3"),
        length(col("p_name")).cast("long").as("nlen"))),
    "et1_hourly_agg" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", eventTs).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total"))),
    "et2_sessions" -> ((s, dir) =>
      // event-time sessionization (10-min gap) — session_window in batch
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(eventTs, "10 minutes"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("cnt")).as("n_events"))),
    "w5_rank_surface" -> ((s, dir) => {
      // remaining ranking surface: rank/dense_rank/ntile/percent_rank in
      // one windowed pass (exact integer/ratio arithmetic cross-engine)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").select(col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"))
    }),
    "w6_value_windows" -> ((s, dir) => {
      // the VALUE-function window surface beside w5's rank family:
      // first/last/nth over a fully-specified frame and cume_dist —
      // deterministic because the (price desc, key) order is total;
      // cume_dist is one IEEE division of exact integers, bit-stable.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "orders").select(col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("top_key"),
        last(col("o_orderkey")).over(wf).as("bottom_key"),
        nth_value(col("o_orderkey"), 2).over(wf).as("second_key"),
        cume_dist().over(w).as("cd"))
    }),
    "et3_event_gaps" -> ((s, dir) => {
      // lead/lag surface: per-user inter-event gap stats. Exact integer
      // time arithmetic at MICROsecond precision (the parquet storage
      // precision, so no truncation ambiguity); a micro-level tie breaks
      // on event_id identically in both engines
      import org.apache.spark.sql.expressions.Window
      val usec = eventTsMicros
      val w = Window.partitionBy(col("user_id")).orderBy(usec, col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), (usec - lag(usec, 1).over(w)).as("gap_us"))
        .groupBy(col("user_id"))
        .agg(count(col("gap_us")).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          sum(col("gap_us")).as("sum_gap_us"))
    }),
    "et5_funnel" -> ((s, dir) => {
      // ordered conversion funnel view → click → purchase: each step's
      // time is the user's FIRST qualifying event STRICTLY AFTER the
      // previous step (sequential-funnel semantics — min-per-type would
      // count a purchase that PRECEDED the view). Exact micros; the
      // per-step tables are |users|-row and join back user-keyed, so
      // the event stream is scanned once per step and never collected.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), eventTsMicros.as("us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("us") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("us") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      s1.agg(count(lit(1)).as("n1"))
        .crossJoin(s2.agg(count(lit(1)).as("n2")))
        .crossJoin(s3.agg(count(lit(1)).as("n3")))
        .select(explode(array(
          struct(lit(1L).as("step"), lit("view").as("step_name"),
            col("n1").as("n_users"), lit(1048576L).as("conv_prev_q20")),
          struct(lit(2L).as("step"), lit("click").as("step_name"),
            col("n2").as("n_users"),
            when(col("n1") > 0, expr("(1048576L * n2) div n1"))
              .otherwise(lit(0L)).as("conv_prev_q20")),
          struct(lit(3L).as("step"), lit("purchase").as("step_name"),
            col("n3").as("n_users"),
            when(col("n2") > 0, expr("(1048576L * n3) div n2"))
              .otherwise(lit(0L)).as("conv_prev_q20")))).as("r"))
        .select(col("r.step"), col("r.step_name"), col("r.n_users"),
          col("r.conv_prev_q20"))
    }),
    "et6_retention" -> ((s, dir) => {
      // weekly cohort retention: cohort(u) = week of u's first signup
      // (weeks = FLOOR(micros / 7 days) from the fixed epoch origin — no
      // calendar ambiguity); retained at offset w iff any event falls
      // in cohort_week + w. One distinct (user, week) reduction, one
      // user-keyed cohort join, exact Q20 retention ratios. The week
      // bucket uses the floor-division idiom (Spark's `div` truncates
      // toward zero; DuckDB's `//` floors) so a pre-epoch event buckets
      // identically in both engines.
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), eventTsMicros.as("us"))
        .withColumn("wk", expr("(us div 604800000000L) - (CASE WHEN " +
          "us < 0 AND pmod(us, 604800000000L) != 0 THEN 1L ELSE 0L END)"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("n_cohort"))
      ev.select(col("user_id"), col("wk")).distinct()
        .join(cohort, "user_id").filter(col("wk") >= col("cw"))
        .groupBy(col("cw"), (col("wk") - col("cw")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(sizes, "cw")
        .select(col("cw").as("cohort_week"), col("week_offset"),
          col("n_active"), col("n_cohort"),
          expr("(1048576L * n_active) div n_cohort").as("retention_q20"))
    }),
    "j9_range_join" -> ((s, dir) => {
      // interval join as a bucketed equi-join (PlanSpec pins: no nested
      // loop) — overlapping price bands × orders containment
      val bands = s.range(0, 20).select(col("id").as("band_id"),
        (col("id") * 25000).cast("double").as("lo"),
        (col("id") * 25000 + 40000).cast("double").as("hi"))
      Joins.bucketedRangeJoin(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        bands, "o_totalprice", "lo", "hi", 25000L)
        .select(col("o_orderkey"), col("band_id"))
    }),
    "et4_asof_join" -> ((s, dir) => {
      // as-of join: every click joined to the user's latest purchase
      // at-or-before it (micros precision — see et3 note); right side
      // pre-aggregated unique per (key, ts) per the ASOF contract.
      // Oracle: DuckDB's native ASOF LEFT JOIN.
      val ev = t(s, dir, "events")
      val usec = eventTsMicros
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), usec.as("ts_us"), col("event_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), usec.as("ts_us"), col("value"))
        .groupBy(col("user_id"), col("ts_us")).agg(max(col("value")).as("value"))
      Joins.asofJoin(clicks, purchases, "user_id", "ts_us", Seq("value"))
    }),
    "w4_running_sum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
    }),

    // ───────────────────────── ext: dedup ─────────────────────────
    "x1_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")),
    "x2_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignature(t(s, dir, "documents"), "text", 4)
        .select(col("doc_id"), col("h1"), col("h2"), col("h3"), col("h4"))),
    "x3_lsh_pairs" -> ((s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", 4), "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id"))),
    "x3c_lsh_staged" -> ((s, dir) => {
      // 100 TB form of x3: signature table staged to parquet once, bands
      // and self-join read the staged table — the text corpus is scanned
      // exactly once (spec asserts no signature recompute in the plan).
      // NOTE the stage write is a CONSTRUCTION-TIME side effect, into a
      // unique per-invocation temp dir (no cross-session overwrite races).
      Dedup.lshCandidatePairsStaged(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", 4),
        "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"))
    }),
    "x28_dedup_apply" -> ((s, dir) => {
      // the dedup lifecycle end-to-end: signatures (staged once — the
      // 100 TB form, one text pass) → LSH candidates → CC clusters → DROP
      // non-keepers — the surviving corpus is the pipeline's actual
      // artifact (md5 proves surviving text bytes)
      val d = t(s, dir, "documents")
      // CC feed rides star candidates (connectivity-identical, hot-
      // bucket-linear — see x17)
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairsStaged(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2))
      Dedup.applyDedup(d, clusters, "doc_id")
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    }),
    "x27_line_dedup" -> ((s, dir) => {
      // C4-style corpus-wide line dedup over synthesized 3-token lines
      // (fixture text has no newlines — the same synthesis move as f10's
      // log lines): any line appearing more than twice across the corpus
      // is dropped, docs reassembled in original line order (md5 proves
      // byte-identical reassembly across engines)
      val d = t(s, dir, "documents")
      // tokens land in their OWN column first: the chunking lambda then
      // captures a bare attribute (O(1) read per element) instead of the
      // split tree, which an interpreted HOF would re-run per line (the
      // wordNgrams lesson — see Dedup.wordNgrams)
      val toks = col("_toks")
      val lined = d.withColumn("_toks", split(TextStats.wsTrim(col("text")), "\\s+"))
        .withColumn("text",
          concat_ws("\n", transform(
            sequence(lit(0), ((size(toks) - 1) / 3).cast("int")),
            i => concat_ws(" ", slice(toks, i * 3 + 1, lit(3))))))
        .drop("_toks")
      Dedup.dedupLinesAcrossCorpus(lined, "text", "doc_id", 2)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_lines_kept").cast("long").as("n_kept"))
    }),
    "x26_incremental_dedup" -> ((s, dir) => {
      // incremental batch dedup: the existing corpus's signatures staged
      // to parquet (construction-time side effect, unique temp dir,
      // JVM-exit cleaned), then the NEW batch (20% of docs) computes only
      // its own signatures and band-joins against the stage — corpus text
      // never rescanned, new-side bands broadcast (PlanSpec pins it).
      val d = t(s, dir, "documents")
      val stage = Dedup.stageSignatures(
        Dedup.minhashSignature(d.filter(col("doc_id") % 5 =!= 0), "text", 4))
      Dedup.lshCandidatePairsIncremental(
        Dedup.minhashSignature(d.filter(col("doc_id") % 5 === 0), "text", 4),
        stage, "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"))
    }),
    // native codegen minhash (graft.functions.MinHashSignature, the
    // engine-internal 64-bit hash family) as a COMPLETE pre-filter for
    // exact duplicates: identical text ⟹ identical signature, so
    // grouping the cheap 4-long signatures finds every candidate bucket
    // and ONLY collided buckets pay the full-content hash — at 100 TB
    // the verify pass re-reads a few percent of the corpus instead of
    // md5-ing all of it. False signature collisions fall out of the md5
    // regroup, so the answer is exact and the oracle replays it from
    // md5 alone without ever seeing an engine hash value (this row was
    // rows-only while it returned the raw signatures).
    "x2b_minhash_fast" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val sig = Dedup.minhashSignatureFast(d, "text", 4)
      val sigKeys = Seq("h1", "h2", "h3", "h4")
      val collided = sig.groupBy(sigKeys.map(col): _*)
        .agg(count(lit(1)).as("_n")).filter(col("_n") > 1).drop("_n")
      val dupIds = sig.join(collided, sigKeys, "left_semi").select(col("doc_id"))
      d.join(dupIds, "doc_id")
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
    }),
    // fast-signature LSH banding as a complete candidate source for
    // byte-identical PAIRS (identical text shares every band), verified
    // by content-hash equality — the banded candidate machinery under
    // the engine hash family, answered by an oracle that never sees a
    // hash value (was rows-only as raw candidate pairs).
    "x3b_lsh_pairs_fast" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignatureFast(d, "text", 4), "doc_id", 4, 2)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"))
      val h = d.select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("_ch"))
      cands
        .join(h.toDF("a_id", "_ha"), "a_id")
        .join(h.toDF("b_id", "_hb"), "b_id")
        .filter(col("_ha") === col("_hb"))
        .select(col("a_id"), col("b_id"))
    }),
    "x4b_jaccard_lsh" -> ((s, dir) => {
      // SCALE PATH: exact Jaccard verification of x3's LSH candidates —
      // candidates are (a_id, b_id) only; token sets join back by id, so
      // no join key fans out quadratically (PlanSpec-pinned)
      val d = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2)
      Dedup.jaccardVerify(cands, Dedup.tokenSets(d, "text", "doc_id"), "doc_id")
    }),
    "x13b_ngram_lsh" -> ((s, dir) => {
      // SCALE PATH: word-bigram Jaccard over the same LSH candidates
      val d = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2)
      Dedup.jaccardVerify(cands,
        d.select(col("doc_id"), Dedup.wordNgrams(col("text"), 2).as("gs")),
        "doc_id", "gs")
    }),
    "x13c_containment" -> ((s, dir) => {
      // doc-in-doc detection — the signal symmetric Jaccard misses: every
      // 7th doc also ships a boilerplate-WRAPPED copy (id + 100000;
      // nav-header/footer chrome around the same text — the
      // scraped-with-chrome shape). The pair's Jaccard decays with the
      // wrap ratio; containment = |∩| / min(|A|,|B|) stays ≈ 1 and
      // catches it. Candidates here are the known wrap relation (the
      // candidate SOURCE is pluggable — x13b's LSH supplies them at
      // scale); the verify is the id-keyed asymmetric containmentVerify
      // over word-bigram sets, O(|candidates|).
      val d = t(s, dir, "documents")
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("doc_id"), col("text"))
      // the +100000 wrap offset assumes doc_id < 100000 — a corpus id at
      // or past it would COLLIDE a wrapped id with a real id (engine and
      // oracle replay the same collision, so the gate would stay green
      // while the fixture's wrap relation silently degrades). Make the
      // assumption loud per row, the packedId bound discipline; the
      // oracle needs no twin because a passing run proves it never fired.
      val wrapId = when(col("doc_id") < 100000, col("doc_id") + 100000)
        .otherwise(raise_error(concat(
          lit("x13c wrap offset collision: doc_id "),
          col("doc_id").cast("string"), lit(" >= 100000"))).cast("long"))
      val wrapped = d.filter(col("doc_id") % 7 === 0)
        .select(wrapId.as("doc_id"),
          concat(lit("site navigation header menu about contact "),
            col("text"),
            lit(" footer privacy terms copyright notice legal")).as("text"))
      val sets = d.unionByName(wrapped)
        .select(col("doc_id"), Dedup.wordNgrams(col("text"), 2).as("gs"))
      val cands = d.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("a_id"), wrapId.as("b_id"))
      Dedup.containmentVerify(cands, sets, "doc_id", "gs")
    }),
    "x13d_edit_verify" -> ((s, dir) => {
      // CHARACTER-exact verify over the same LSH candidates as x13b —
      // the edit-distance tail of the verify family (set statistics
      // can't see reorderings or typo families; Levenshtein can).
      // O(|candidates|) pairs, each O(maxLen²) after the loud 128-char
      // truncation both engines replay.
      val d = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2)
      Dedup.editVerify(cands, d, "doc_id", "text", 128)
    }),
    "x4_jaccard_pairs" -> ((s, dir) => {
      // SMALL-BLOCK FIXTURE (oracle-comparison only): all-pairs within a
      // (lang, source) block is quadratic in the block — fine at sf0.1,
      // wrong at 100 TB. The scale path is x4b (LSH candidates → verify).
      val d = t(s, dir, "documents")
      val sets = Dedup.tokenSets(d, "text", "doc_id")
        .join(d.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
      val a = sets.select(col("doc_id").as("a_id"), col("toks").as("a_toks"),
        col("lang"), col("source"))
      val b = sets.select(col("doc_id").as("b_id"), col("toks").as("b_toks"),
        col("lang").as("lang_b"), col("source").as("source_b"))
      a.join(b, col("lang") === col("lang_b") && col("source") === col("source_b")
          && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("a_toks"), col("b_toks"))).cast("long").as("n_common"),
          Dedup.jaccard(col("a_toks"), col("b_toks")).as("jaccard"))
    }),
    "x13_ngram_jaccard" -> ((s, dir) => {
      // SMALL-BLOCK FIXTURE (oracle-comparison only) — scale path: x13b
      val d = t(s, dir, "documents")
      val sets = d.select(col("doc_id"), col("lang"), col("source"),
        Dedup.wordNgrams(col("text"), 2).as("gs"))
      val a = sets.select(col("doc_id").as("a_id"), col("lang"), col("source"),
        col("gs").as("a_gs"))
      val b = sets.select(col("doc_id").as("b_id"), col("lang").as("lang_b"),
        col("source").as("source_b"), col("gs").as("b_gs"))
      a.join(b, col("lang") === col("lang_b") && col("source") === col("source_b")
          && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("a_gs"), col("b_gs"))).cast("long").as("n_common"),
          Dedup.jaccard(col("a_gs"), col("b_gs")).as("jaccard"))
    }),
    "x5_simhash" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", 16)),
    "x5c_simhash_pairs" -> ((s, dir) => {
      // banded hamming LSH over 32-bit simhash signatures: candidates
      // from ANY equal 8-bit band, exact bit_count verify ≤ 3. Pigeonhole
      // (3 < 4 bands) makes the banded stage lossless, so the ORACLE is
      // the brute-force definition itself — the algorithm is pinned
      // against the math, not against a replay of its own steps.
      val sig = Dedup.simhash(t(s, dir, "documents"), "text", "doc_id", 32)
      Dedup.simhashNearDupPairs(sig, "doc_id", "simhash", 32, 4, 3)
    }),
    "x17_dup_clusters" -> ((s, dir) =>
      // dedup tail: LSH candidates → connected components → cluster
      // label = min id (the A8 keeper); oracle = recursive-CTE closure.
      // Candidates feed CC as per-bucket STARS (bucket-min ↔ member) —
      // connectivity-identical to the clique join (same closure, same
      // clusters, so the oracle is unchanged) but linear in hot-bucket
      // size where the clique is quadratic (a 10⁵-doc boilerplate
      // group is 10⁵ star edges vs 5·10⁹ clique pairs).
      Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Dedup.minhashSignature(t(s, dir, "documents"), "text", 4), "doc_id", 4, 2))
        .select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))),
    "x17b_quality_keeper" -> ((s, dir) => {
      // keeper selection the way production does it: each dup cluster
      // keeps its BEST-QUALITY member (x31's hashed score, ties to the
      // lower id), not x17's arbitrary min-id. Cluster labels join the
      // zero-exchange score projection BY ID; one cluster-keyed window
      // picks the keeper. The oracle chains the x17 recursive closure
      // with the x31 score replay, so the composed policy hash-checks.
      val d = t(s, dir, "documents")
      // same star-candidate CC feed as x17 (connectivity-identical)
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2))
      val scored = d.select(col("doc_id"),
        graft.ext.TextStats.hashedLinearScoreQ30Fast(col("text"),
          graft.ext.TextStats.seededWeightsQ30(64)).as("q30"))
      Dedup.clusterKeepers(clusters, scored, "doc_id", "q30")
        .select(col("cluster_id").cast("long").as("cluster_id"),
          col("keeper_id").cast("long").as("keeper_id"),
          col("keeper_score").as("keeper_q30"))
    }),

    // ───────────────────────── ext: similarity ─────────────────────────
    "x6_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8), "vec_id",
          "embedding", 5, (a, b) => Similarity.quantizedDot(a, b))
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"), col("rank").cast("long").as("rnk"))
    }),

    "x102_kcenter" -> ((s, dir) => {
      // DIVERSE EXEMPLAR SELECTION (greedy k-center, the SemDeDup
      // dual): 5 maximally-spread embeddings — seed at min id, then
      // farthest-point in exact Q30 squared-Euclidean, ties to the
      // smaller id. Each round is one corpus projection against ≤k
      // literal centers reduced by top-1; the oracle unrolls the same
      // rounds. mindist_q30 is the coverage-radius curve.
      graft.ext.Similarity.kCenterGreedy(
        t(s, dir, "embeddings"), "vec_id", "embedding", 5)
    }),
    "x102c_kcenter_join" -> ((s, dir) =>
      // PRODUCTION-WIDTH form of x102: the chosen centers live as a
      // parquet stage met by broadcast join (plan size independent of
      // k — the x35c/x74c convention; the literal path caps at k=64),
      // bit-parity rounds, so x102's oracle is answered VERBATIM.
      graft.ext.Similarity.kCenterJoin(
        t(s, dir, "embeddings"), "vec_id", "embedding", 5)),
    "x102d_kcenter_batch" -> ((s, dir) =>
      // PRODUCTION-DEPTH form of x102: kCenterJoin pays one driver
      // round PER CENTER; the batch picker collects the top-`batch`
      // candidates once per GLOBAL round and picks locally while the
      // pick provably dominates every point outside the batch (exact
      // greedy, the k-means‖ oversample precedent), collapsing k
      // sequential rounds to O(k/batch-yield). Bit-parity picks, so
      // x102's oracle is answered VERBATIM (batch=3 < k-1 forces the
      // threshold logic through several global rounds even at k=5).
      graft.ext.Similarity.kCenterBatch(
        t(s, dir, "embeddings"), "vec_id", "embedding", 5, 3)),
    "x104b_embedding_drift_incremental" -> ((s, dir) => {
      // the vector-drift monitor under ingest: release B's per-dim Q30
      // sums stage ONCE; a new batch folds in by re-sum (sums are
      // sums — merge ≡ one-shot bit-for-bit) and the cosine
      // re-evaluates from the merged table — answers x104's oracle
      // VERBATIM without rescanning the base (the x97b convention for
      // the third modality).
      import graft.ext.{Dedup, Similarity}
      val e = t(s, dir, "embeddings")
      val a = e.filter(col("vec_id") % 2 === 0)
      val base = e.filter(pmod(col("vec_id"), lit(4L)) === 1)
      val batch = e.filter(pmod(col("vec_id"), lit(4L)) === 3)
      val staged = Dedup.stageAndRead(
        Similarity.centroidSums(base, Seq("label"), "embedding"))
      Similarity.centroidDriftFromSums(
        Similarity.centroidSums(a, Seq("label"), "embedding"),
        Similarity.mergeCentroidSums(Seq(staged,
          Similarity.centroidSums(batch, Seq("label"), "embedding")),
          Seq("label")),
        Seq("label"))
    }),
    "x104_embedding_drift" -> ((s, dir) => {
      // the drift family's THIRD modality (tokens x97, numeric x97e-h,
      // vectors here): per label, the cosine between the two releases'
      // centroids — computed on exact Q30 per-dimension sums (cos of
      // sums ≡ cos of means, so nothing divides on the vector side),
      // one decimal→double cast + IEEE sqrt at the very end (the x7
      // convention).
      val e = t(s, dir, "embeddings")
      graft.ext.Similarity.centroidDriftCos(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        Seq("label"), "embedding")
    }),
    "x102b_kcenter_assign" -> ((s, dir) => {
      // the k-center APPLY (select→deploy, the x92c/x96b symmetry):
      // every embedding assigned to its nearest selected center in the
      // same exact Q30 distances (ties to the lower pick rank), then
      // the per-center coverage census — member counts and max radius,
      // the report that says whether k=5 covers the corpus. Centers
      // ride as ≤k plan literals; one projection + one aggregation.
      import graft.ext.Similarity
      val emb = t(s, dir, "embeddings")
      val sel = Similarity.kCenterGreedy(emb, "vec_id", "embedding", 5)
        .select(col("pick_rank"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val vecs = emb.filter(col("vec_id").isin(sel.map(_._2): _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      Similarity.kCenterAssign(emb, "vec_id", "embedding",
        sel.map { case (r, id) => (r, id, vecs(id)) })
    }),
    "x22_int8_ann" -> ((s, dir) => {
      // int8-quantized ANN: 4× smaller vectors, exact integer dot ranking
      // (deterministic floor quantization ⇒ fully oracle-checkable)
      val emb = t(s, dir, "embeddings")
      val qz = Similarity.quantizeInt8Frame(emb, "embedding", "qv")
        .select(col("vec_id"), col("qv"))
      val queries = qz.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("q_qv"))
      val scored = qz.select(col("vec_id").as("n_id"), col("qv").as("n_qv"))
        .crossJoin(broadcast(queries))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          Similarity.quantizedInt8Dot(col("q_qv"), col("n_qv")).as("score"))
      Similarity.topKPerQuery(scored, 5)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"),
          col("rank").cast("long").as("rnk"))
    }),
    "x29_pq_ann" -> ((s, dir) => {
      // product-quantization ANN (the billion-scale standard): corpus
      // compressed to 4 subspace codes/row against a deterministic
      // codebook (first-16 subvectors, the IVF-centroid convention);
      // asymmetric scoring q_m · c[m][code] in Q30 longs summed exactly —
      // an APPROXIMATE method with a bit-exact cross-engine oracle.
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", 4, 16, 64)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", cb, 5)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"), col("rank").cast("long").as("rnk"))
    }),
    "x75_ivfpq_topk" -> ((s, dir) => {
      // COMPOSED IVF-PQ (IVFADC, Jégou et al. 2011) — the actual
      // billion-scale FAISS layout: IVF cells (first-16 centroids, the
      // deterministic convention) + PQ codes over the RESIDUAL x − c(x)
      // (4 subspaces × 16 codes from the first-16 residuals). x6b and
      // x29 each exist alone; this composes them: probe top-2 cells per
      // query, ADC score = Q30(q·c_cell) + Σ_m Q30(q_m·cb[m][code]).
      // Every step — assignment argmax, exact-double residuals, encode
      // argmin, the ADC sum — is engine-portable, so the composed
      // approximate index is hash-checked end to end.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfPqTopK(emb, cents, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", 4, 16, 64, 5, 2)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"),
          col("rank").cast("long").as("rnk"))
    }),
    "x78_embed_pool" -> ((s, dir) => {
      // chunk→document embedding pooling — the standard passage-to-doc
      // aggregation (chunks embed under a context cap; the doc vector is
      // their mean), exact in Q30: quantize, sum longs, one positive-mod
      // floor division per coordinate. vec_id div 4 is the synthetic
      // parent relation (4 chunks per doc); the pooled vectors feed the
      // exact-Q30 ANN stack unchanged.
      val emb = t(s, dir, "embeddings")
        .select(expr("vec_id div 4").as("parent_id"), col("embedding"))
      // the catalog row ships the pooled vector EXPLODED to scalar
      // (parent_id, n_chunks, dim, v) rows: the driver's comparer
      // lexsorts raw columns and cannot sort an array-typed column
      // (the r12 red row) — meanPoolQ30 itself still returns the
      // array form for the ANN stack
      Similarity.meanPoolQ30(emb, "parent_id", "embedding")
        .select(col("parent_id"), col("n_chunks"),
          posexplode(col("pooled")).as(Seq("dim", "v")))
        .select(col("parent_id"), col("n_chunks"),
          col("dim").cast("long").as("dim"), col("v"))
    }),
    "x75b_ivfpq_rerank" -> ((s, dir) => {
      // two-stage retrieval (the FAISS refine pattern): the x75 ADC stage
      // widened to a 12-candidate shortlist, then the EXACT Q30 dot
      // re-scores just those pairs — recall recovers toward the IVF bound
      // while the corpus is still read as codes; the shortlist side
      // broadcasts onto the id-keyed vector fetch.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfPqRerank(emb, cents, emb.filter(col("vec_id") < 4),
          "vec_id", "embedding", 4, 16, 64, 5, 2, 12)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"),
          col("rank").cast("long").as("rnk"))
    }),
    "s11_ivfpq_layout" -> ((s, dir) => {
      // the IVF-PQ LAYOUT lifecycle (s9 precedent): encode the corpus,
      // write (id, codes) partitionBy(cid) — m code ints per row instead
      // of dim floats, AND static cell pruning — then answer x75's
      // queries FROM the layout: the probe scan prunes to the probed
      // cells (PlanSpec pins it) and scores from codes alone; vectors
      // are never stored or read. The oracle is x75's, verbatim —
      // the layout is invisible to results.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
      val res = Similarity.ivfResiduals(emb, cents, "vec_id", "embedding")
      val cb = Similarity.ivfPqCodebook(res, "vec_id", 4, 16, 64)
      val enc = Similarity.pqEncodeResiduals(res, "resid", cb)
        .select(col("vec_id").as("n_id"), col("cid"), col("codes"))
      val ldir = graft.ops.Scale.tempLayoutDir("graft_ivfpq_")
      Similarity.writeIvfPqPartitioned(enc, ldir)
      Similarity.ivfPqTopKPartitioned(ldir, cents,
          emb.filter(col("vec_id") < 4), "vec_id", "embedding", cb, 5, 2)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"),
          col("rank").cast("long").as("rnk"))
    }),
    "s11b_ivfpq_append" -> ((s, dir) => {
      // IVF-PQ CONTINUOUS INGEST (the s10/s10b lifecycle on the CODES
      // layout): quantizers train ONCE on the resident base — the base
      // holds ids 0..15, so the frozen centroids and residual codebook
      // equal x75's — then two batches encode under them and APPEND,
      // files accrete per touched cell, compaction rewrites the hot
      // cells, and the probe answers from the compacted layout. Because
      // encoding depends only on the frozen quantizers, base+appends
      // reach the one-shot state exactly: the oracle is x75's, verbatim.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
      val base = emb.filter(col("vec_id") < 16 || col("vec_id") % 5 > 1)
      val cb = Similarity.ivfPqCodebook(
        Similarity.ivfResiduals(base, cents, "vec_id", "embedding"),
        "vec_id", 4, 16, 64)
      def enc(batch: org.apache.spark.sql.DataFrame) =
        Similarity.pqEncodeResiduals(
            Similarity.ivfResiduals(batch, cents, "vec_id", "embedding"),
            "resid", cb)
          .select(col("vec_id").as("n_id"), col("cid"), col("codes"))
      val ldir = graft.ops.Scale.tempLayoutDir("graft_ivfpq_append_")
      Similarity.writeIvfPqPartitioned(enc(base), ldir)
      Similarity.appendIvfPqPartitioned(
        enc(emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 0)), ldir)
      Similarity.appendIvfPqPartitioned(
        enc(emb.filter(col("vec_id") >= 16 && col("vec_id") % 5 === 1)), ldir)
      Similarity.compactIvfCells(s, ldir, targetRowsPerFile = 1L << 20)
      Similarity.ivfPqTopKPartitioned(ldir, cents,
          emb.filter(col("vec_id") < 4), "vec_id", "embedding", cb, 5, 2)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"),
          col("rank").cast("long").as("rnk"))
    }),
    "x33_topk_similar" -> ((s, dir) => {
      // per-document top-k most-similar docs over TEXT: LSH candidates
      // (the scale path — never all-pairs), exact Jaccard verify joined
      // back BY ID, symmetrized, then bounded per-doc top-3 by
      // (jaccard desc, peer asc) — the text-side "similar items" query
      // that complements the embedding-side ANN (x6 family)
      val docs = t(s, dir, "documents")
      val cands = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(docs, "text", 4), "doc_id", 4, 2)
      val ver = Dedup.jaccardVerify(cands,
        Dedup.tokenSets(docs, "text", "doc_id"), "doc_id")
      val sym = ver.select(col("a_id").as("doc_id"), col("b_id").as("peer_id"),
          col("jaccard"))
        .unionByName(ver.select(col("b_id").as("doc_id"),
          col("a_id").as("peer_id"), col("jaccard")))
      Windows.topKPerGroup(sym, Seq("doc_id"),
          Seq(col("jaccard").desc, col("peer_id")), 3)
        .select(col("doc_id"), col("peer_id"), col("jaccard"),
          col("rn").cast("long").as("rnk"))
    }),
    "x30_semdedup" -> ((s, dir) => {
      // SemDeDup (Abbas et al. 2023): cluster embeddings to the first-64
      // centroids (the deterministic IVF convention — kMeansTrain-trained
      // centroids compose identically, ExtSpec lifecycle test; the seed
      // convention keeps THIS oracle's replay to one assignment pass),
      // compare pairs only
      // WITHIN a cell, connect cos ≥ 0.3 pairs into components, keep the
      // min-id representative. Assignment is the DATA-DRIVEN broadcast
      // join (ivfAssignJoin — plan size independent of the centroid
      // count, the knob SemDeDup's 100 TB story turns); argmax, pair
      // cosine, and the CC labels are all Q30-exact, so the oracle
      // replays the whole pipeline (assignment + within-cell cosine +
      // recursive-CTE closure) bit-identically.
      val emb = t(s, dir, "embeddings")
      Similarity.semDedupClusters(emb,
          emb.filter(col("vec_id") < 64)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          "vec_id", "embedding", 0.3)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          col("keep").cast("long").as("keep"))
    }),
    "x35b_kmeans_parallel_seed" -> ((s, dir) => {
      // k-means|| seeding (Bahmani et al. 2012) — the SCALABLE seeding
      // that replaces the first-k convention x35's trainer starts from:
      // first-k seeds can all land in one cluster (ids correlate with
      // sources), while k-means|| oversamples by squared-distance mass
      // in O(rounds) passes. Deterministic md5 draws (the mixtureSample
      // discipline) + exact Q30 distances make every round replayable:
      // the oracle unrolls both rounds, the final nearest-candidate
      // weighting, and the (weight desc, id) top-k cut.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.kMeansParallelSeed(emb, "vec_id", "embedding", 8, 8, 2)
        .select(col("cid").cast("long").as("cid"), col("cand_id"),
          col("weight"))
    }),
    "x35c_kmeans_seed_join" -> ((s, dir) => {
      // The DATA-DRIVEN k-means|| form (kMeansParallelSeedJoin): the same
      // Bahmani rounds, draws, and (weight desc, id) cut as x35b, but the
      // candidate set lives in a parquet stage and meets the corpus by
      // BROADCAST JOIN — plan size independent of the candidate count, so
      // seeding scales to the k = 10^4-10^5 cells a 100 TB IVF needs.
      // Bit-parity with the literal path is the contract: this row answers
      // x35b's oracle VERBATIM.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.kMeansParallelSeedJoin(emb, "vec_id", "embedding", 8, 8, 2)
        .select(col("cid").cast("long").as("cid"), col("cand_id"),
          col("weight"))
    }),
    "x35_kmeans_train" -> ((s, dir) => {
      // TRAIN the centroids the IVF/SemDeDup family consumes (their seeds
      // were the first-k convention; this is the Lloyd trainer): 2
      // spherical-k-means iterations in exact Q30 arithmetic from the
      // first-8 seed, then assign the corpus to the TRAINED centroids.
      // Every step — assignment argmax, per-cell Q30 element sums, exact
      // floor-div means, one float rounding — replays bit-for-bit in the
      // oracle, so even the training loop is hash-checked.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val seed = t(s, dir, "embeddings").filter(col("vec_id") < 64)
        .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cvec"))
      val trained = Similarity.kMeansTrain(emb, seed, "vec_id", "embedding", 2)
      Similarity.ivfAssignJoin(emb, trained, "vec_id", "embedding")
        .select(col("vec_id"), col("cid").cast("long").as("cid"))
    }),
    "x7b_cosine_lsh" -> ((s, dir) =>
      // SCALE PATH: sign-bucket (axis-aligned RHP) LSH candidates verified
      // with the Q30-exact cosine — fully oracle-checkable because the
      // plane set is the standard basis, not engine-internal random draws
      Similarity.signBucketNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", 10, 0.2)),
    "x7_cosine_neardup" -> ((s, dir) => {
      // SMALL-BLOCK FIXTURE (oracle-comparison only): label-blocked
      // all-pairs — quadratic within a block; the scale paths are x7b
      // (oracle-exact) and x15 (true random hyperplanes). All arithmetic
      // Q30-exact so the cosine (and the threshold compare) is
      // bit-identical across engines
      val emb = t(s, dir, "embeddings")
        .withColumn("norm", sqrt(Similarity.quantizedDot(col("embedding"), col("embedding"))))
      val a = emb.select(col("vec_id").as("a_id"), col("label"),
        col("embedding").as("a_vec"), col("norm").as("a_norm"))
      val b = emb.select(col("vec_id").as("b_id"), col("label").as("label_b"),
        col("embedding").as("b_vec"), col("norm").as("b_norm"))
      a.join(b, col("label") === col("label_b") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (Similarity.quantizedDot(col("a_vec"), col("b_vec"))
            / (col("a_norm") * col("b_norm"))).as("cos"))
        .filter(col("cos") > 0.3)
    }),

    // ───────────────────────── ext: text stats ─────────────────────────
    "x6b_ann_ivf" -> ((s, dir) => {
      // IVF scale path: centroids = first 64 vectors, probe top-2 cells,
      // on the DATA-DRIVEN assignment (ivfTopKJoin — the centroid count
      // is data, not plan). Deterministic end-to-end in Q30 arithmetic
      // (exact argmin assignment, exact probe ranking, exact candidate
      // scores), so the APPROXIMATE result set is still engine-portable
      // → full oracle.
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfTopKJoin(emb, centroids, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5, 2)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"), col("rank").cast("long").as("rnk"))
    }),
    "s9_ivf_pruned_topk" -> ((s, dir) => {
      // the IVF LAYOUT lifecycle through the driver gate (the s8 z-order
      // precedent): assign the corpus to the first-64 centroids, write it
      // partitionBy(cid) to a unique session temp dir (CONSTRUCTION-TIME
      // side effect, JVM-exit cleanup), then answer x6b's exact top-k FROM
      // the layout — the probe read folds the probed cells into an IN
      // filter on the partition column, so the file index statically
      // prunes to nProbe cells per query before any task launches
      // (PlanSpec pins the pruned partition count). Pruning must be
      // invisible to the RESULT: the oracle is x6b's, verbatim.
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val assigned = Similarity.ivfAssignJoin(
        emb.select(col("vec_id"), col("embedding")), centroids,
        "vec_id", "embedding")
      val ldir = graft.ops.Scale.tempLayoutDir("graft_ivf_layout_")
      Similarity.writeIvfPartitioned(assigned, ldir)
      Similarity.ivfTopKPartitioned(ldir, centroids,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5, 2)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"), col("rank").cast("long").as("rnk"))
    }),
    "x15_rhp_neardup" -> ((s, dir) =>
      // embedding near-dup via random-hyperplane LSH buckets (scale path).
      // Oracle-checkable: the seeded plane matrix is emitted verbatim into
      // the oracle SQL (shortest-repr doubles round-trip exactly), and both
      // the sign test and the cosine verify run in Q30 fixed point.
      Similarity.rhpNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        64, 12, 0.2)),
    "x16_curation" -> ((s, dir) =>
      graft.ext.Curation.curate(t(s, dir, "documents"), "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh")))
        .select(col("doc_id"), col("status"))),
    "x37_pretrain_build" -> ((s, dir) => {
      // CAPSTONE: the full pretrain data build as ONE lazy plan — curate
      // (quality/lang/exact-dup) → near-dup dedup (staged LSH + CC) on
      // the survivors → benchmark decontamination → domain-mixture
      // sampling → token-budget packing. Every stage is the operator its
      // own query already oracle-proves (x16/x28/x23/x32/x19); THIS row
      // proves the COMPOSITION: the oracle replays all five stages as one
      // CTE chain, so stage wiring (who feeds whom, which ids survive)
      // is hash-checked end-to-end, not just each stage in isolation.
      val d = t(s, dir, "documents")
      val ok = graft.ext.Curation.curate(d, "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh")))
        .filter(col("status") === "ok").select("doc_id")
      // STAGE the two survivor sets each consumed by 2+ downstream heads
      // (guide §1.2 don't recompute / §6): lazily, `curated` (curation
      // pass + join) re-executed once inside the staged LSH and once per
      // `train` branch, and `train` (the dedup-apply join) re-executed
      // for both the contamination probe and the clean anti-join — the
      // corpus-scale curation regexes ran 3× per run. Each stages ONCE
      // to a temp parquet (same rows, same columns — the oracle hash
      // pins identity) and every head reads the flat stage.
      val curated = Dedup.stageAndRead(d.join(ok, "doc_id"))
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairsStaged(
        Dedup.minhashSignature(curated, "text", 4), "doc_id", 4, 2))
      val train = Dedup.stageAndRead(
        Dedup.applyDedup(curated, clusters, "doc_id")
          .filter(col("doc_id") >= 10)) // ids < 10 are the benchmark split
      val contaminated = Dedup.contaminatedDocs(train,
        d.filter(col("doc_id") < 10), "text", "doc_id", 5).select("doc_id")
      val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
      val mixed = graft.ext.Curation.mixtureSample(clean, "doc_id", "source",
        Map("src0" -> 1000, "src1" -> 900, "src2" -> 750, "src3" -> 500,
          "src4" -> 250, "src5" -> 100, "src6" -> 0), 600)
      graft.ext.Curation.packByTokenBudget(
        mixed.select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok")),
        Seq("lang"), "doc_id", "n_tok", 500L)
    }),
    "x16b_curation_report" -> ((s, dir) =>
      graft.ext.Curation.report(
        graft.ext.Curation.curate(t(s, dir, "documents"), "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh"))))),
    "x20_nfc_normalize" -> ((s, dir) => {
      // unicode canonicalization: a decomposed combining acute is appended
      // so real composition happens on every row (md5 proves both engines
      // produced identical normalized BYTES, not just lengths)
      val decomposed = concat(col("text"), lit("é"))
      t(s, dir, "documents").select(col("doc_id"),
        md5(TextStats.nfcNormalize(decomposed)).as("norm_md5"),
        length(TextStats.nfcNormalize(decomposed)).cast("long").as("n_chars_norm"))
    }),
    "x21_url_host" -> ((s, dir) => {
      // web-curation shape: URL host extraction + per-domain doc counts
      // (domain blocklists/quotas are core pretrain curation)
      val url = concat(lit("https://"), col("source"),
        lit(".example.org/doc/"), col("doc_id").cast("string"))
      t(s, dir, "documents")
        .select(parse_url(url, lit("HOST")).as("host"))
        .groupBy(col("host")).agg(count(lit(1)).as("n_docs"))
    }),
    "x23_decontamination" -> ((s, dir) => {
      // benchmark-decontamination: train docs sharing any word-3-gram
      // with the (small) benchmark split, plus shared-gram counts
      val d = t(s, dir, "documents")
      Dedup.contaminatedDocs(d.filter(col("doc_id") >= 10),
        d.filter(col("doc_id") < 10), "text", "doc_id", 3)
    }),
    "x23b_contamination_frac" -> ((s, dir) => {
      // thresholded decontamination: share of each doc's distinct 3-grams
      // that appear in the benchmark split, kept when >= 0.05 — the form
      // real pipelines drop on (any-overlap x23 is the conservative
      // variant). Both counts ride one left-join aggregation; the frac
      // is a single IEEE division, identical across engines.
      val d = t(s, dir, "documents")
      Dedup.contaminationFraction(d.filter(col("doc_id") >= 10),
          d.filter(col("doc_id") < 10), "text", "doc_id", 3)
        .filter(col("frac") >= 0.05)
    }),
    "x23c_contamination_pairs" -> ((s, dir) => {
      // pair-level attribution: WHICH benchmark doc contaminated which
      // train doc (+ shared-gram evidence count) — the auditable report
      // behind x23's aggregate. Same broadcast-eval-grams posture.
      val d = t(s, dir, "documents")
      Dedup.contaminationPairs(d.filter(col("doc_id") >= 10),
        d.filter(col("doc_id") < 10), "text", "doc_id", 3)
    }),
    "x23d_bloom_decontam" -> ((s, dir) => {
      // BLOOM decontamination — x23's regime flip: when the eval side is
      // itself corpus-scale (decontaminating a new crawl against the
      // entire trained corpus), its grams can't broadcast exactly; a
      // FIXED 131072-bit bitmap (4096 32-bit words, built by one bit_or
      // aggregation) broadcasts instead. k=3 md5 positions per gram; no
      // false negatives, and the false positives are md5-DETERMINISTIC,
      // so the oracle verifies the exact flagged set including them.
      val d = t(s, dir, "documents")
      val bits = Dedup.bloomGramBits(d.filter(col("doc_id") < 10),
        "text", 3, 131072, 3)
      Dedup.contaminatedDocsBloom(d.filter(col("doc_id") >= 10), bits,
        "text", "doc_id", 3, 131072, 3)
    }),
    "x24_pii_redaction" -> ((s, dir) => {
      // PII scrub: synthetic email+phone appended per row so the redaction
      // regexes genuinely fire on every document
      val withPii = concat(col("text"), lit(" contact u"),
        col("doc_id").cast("string"), lit("@mail.example.org or (555) 010-2368"))
      t(s, dir, "documents").select(col("doc_id"),
        md5(TextStats.redactPii(withPii)).as("redacted_md5"),
        (length(withPii) - length(TextStats.redactPii(withPii)))
          .cast("long").as("n_removed_chars"))
    }),
    "x24b_luhn_redaction" -> ((s, dir) => {
      // checksum-VALIDATED card redaction: every doc carries one genuine
      // PAN (the classic 4111... test number, separator varies by doc
      // parity) and one Luhn-INVALID 16-digit decoy — the pass must
      // redact exactly the valid one and leave the decoy, which a bare
      // 16-digit regex cannot do. The oracle replays candidate
      // extraction, the full Luhn fold per candidate, and the literal
      // replacement chain.
      val card = when(col("doc_id") % 2 === 0,
        lit("4111-1111-1111-1111")).otherwise(lit("4111 1111 1111 1111"))
      val withPan = concat(col("text"), lit(" pay "), card,
        lit(" order 1234 5678 9012 3456 end"))
      // one redaction pass per row: the Luhn chain is interpreted HOF
      // work, so materialize it in a named column instead of evaluating
      // it once for the md5 and again for the length (the x66
      // parse-once lesson)
      t(s, dir, "documents")
        .select(col("doc_id"), withPan.as("_t"),
          TextStats.redactCardNumbers(withPan).as("_red"))
        .select(col("doc_id"), md5(col("_red")).as("redacted_md5"),
          (length(col("_t")) - length(col("_red")))
            .cast("long").as("n_removed_chars"))
    }),
    "x25_gopher_quality" -> ((s, dir) =>
      // Gopher/C4 repetition + degenerate-token signals
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.duplicateSentenceFraction(col("text")).as("dup_sent_frac"),
        TextStats.maxTokenLen(col("text")).cast("long").as("max_tok_len"))),
    "x73_keyword_tags" -> ((s, dir) => {
      // multi-keyword topic tagging (the FlashText use case, Spark-
      // native): the keyword dictionary is DATA — (kw, tag) rows with
      // synonym groups sharing a tag — broadcast onto the token stream;
      // each doc gets its sorted distinct tags pipe-joined (P10
      // convention) and a count, unmatched/empty docs an empty tag
      // string. One broadcast join + one id-keyed agg.
      import s.implicits._
      val kws = Seq(("join", "exec"), ("merge", "exec"), ("sort", "exec"),
        ("stream", "runtime"), ("batch", "runtime"),
        ("spark", "engine"), ("quantum", "absent")).toDF("kw", "tag")
      TextStats.keywordTags(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", kws)
    }),
    "x74_unigram_train" -> ((s, dir) =>
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
        vocabSize = 40)),
    "x74b_unigram_score" -> ((s, dir) => {
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
    }),
    "x74d_unigram_train_join" -> ((s, dir) =>
      // the fully DATA-DRIVEN trainer — the production form for 32k–50k
      // vocabularies: no maxVocabLiteral ceiling, no driver collect of
      // counts or scores; E-steps segment via the substring-edge
      // broadcast join, M-steps score in-plan, rounds stage to parquet
      // (the kMeansTrain stage-per-iteration move). Bit-parity with the
      // literal trainer is the contract: answers x74's oracle VERBATIM.
      Unigram.unigramTrainJoin(t(s, dir, "documents"), "text",
        maxPieceLen = 4, maxWordLen = 16, nSeed = 40, emRounds = 2,
        vocabSize = 40)),
    "x74c_unigram_score_join" -> ((s, dir) => {
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
    }),
    "x25b_topngram_fraction" -> ((s, dir) =>
      // Gopher's remaining repetition rule: characters covered by the
      // most frequent word bigram (all sliding windows, overlaps
      // included — degenerate token loops can exceed 1000‰, which IS the
      // signal), exact cross-multiplied per-mille, ties to the
      // lexicographically smallest gram. One (id, gram) aggregation +
      // a doc-partitioned top-1 window; the oracle replays every window,
      // the tie rule, and the floor-div.
      TextStats.topNgramCharFraction(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 2)),
    "x18_stratified_sample" -> ((s, dir) =>
      // deterministic eval-set carving: 5 docs per (lang, source) stratum
      // picked by id-hash — stable across runs and engines
      graft.ext.Curation.hashStratifiedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("source")),
        Seq("lang", "source"), "doc_id", 5)),
    "x32_mixture_sample" -> ((s, dir) =>
      // corpus mixing to target per-domain rates: salted id-hash Bernoulli
      // draw per row — deterministic across runs/engines/partitionings; a
      // pure filter, no shuffle. Rates cover full/partial/zero/default.
      graft.ext.Curation.mixtureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src0" -> 1000, "src1" -> 900, "src2" -> 750, "src3" -> 500,
          "src4" -> 250, "src5" -> 100, "src6" -> 0),
        600)),
    "m1_scd2_merge" -> ((s, dir) => {
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
    }),
    "m2_snapshot_diff" -> ((s, dir) => {
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
    }),
    "x41c_span_incremental" -> ((s, dir) => {
      // incremental repeated-span stats: the corpus's span digests staged
      // to parquet (construction-time side effect, unique temp dir,
      // JVM-exit cleaned), then the NEW batch (20% of docs) counts its
      // windows across corpus ∪ batch — corpus text never rescanned, the
      // stage filtered map-side by broadcast batch digests (PlanSpec).
      // The oracle is the PARITY CONTRACT itself: one-shot stats over all
      // docs restricted to the batch ids must be bit-identical.
      val d = t(s, dir, "documents")
      val stage = Dedup.stageSignatures(
        Dedup.spanHashes(d.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", 5))
      Dedup.repeatedSpanStatsIncremental(
        d.filter(col("doc_id") % 5 === 0), stage, "text", "doc_id", 5)
    }),
    "x41b_span_excise" -> ((s, dir) =>
      // the APPLY half of x41: remove every repeated 5-token span
      // occurrence except the corpus-wide first (min (id,pos) keeper via
      // row_number on the same digest window as the count — one exchange)
      // and reassemble surviving tokens from each doc's own array (no
      // collect_list). The oracle replays keeper + mask + rebuild.
      graft.ext.Dedup.exciseRepeatedSpans(
        t(s, dir, "documents"), "text", "doc_id", 5)),
    "x41d_shared_spans_exact" -> ((s, dir) =>
      // the span family's EXACTNESS stage: maximal shared substrings
      // between digest-collided doc pairs, boundaries token-exact via
      // per-diagonal gaps-and-islands run merging (a maximal shared
      // span matches all its interior 5-windows and none beyond), each
      // span re-verified against the actual token slices. Digest-keyed
      // self-join bounded by the occ<=64 hot-span cap; token arrays
      // join back by id only.
      graft.ext.Dedup.sharedSpansExact(
        t(s, dir, "documents"), "text", "doc_id", 5)),
    "x41f_shared_spans_incremental" -> ((s, dir) => {
      // continuous-ingest twin of x41d: the 80% base stages its span
      // digests ONCE; the 20% batch finds every maximal shared span
      // touching it (batch×base + batch×batch) while only the batch
      // pays a window pass — occurrence caps count across base ∪
      // batch, so the output answers the ONE-SHOT oracle restricted to
      // batch-touching pairs verbatim (the x86b convention).
      val d = t(s, dir, "documents")
      val batch = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val corpus = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val stage = graft.ext.Dedup.stageSignatures(
        graft.ext.Dedup.spanHashes(corpus, "text", "doc_id", 5))
      graft.ext.Dedup.sharedSpansExactIncremental(batch, corpus, stage,
        "text", "doc_id", 5)
    }),
    "x41e_span_excise_exact" -> ((s, dir) =>
      // x41d's APPLY: every verified maximal shared span excised from
      // the higher-id side with token-exact boundaries (lower id
      // keeps), masks unioned per doc, survivors reassembled in order
      // — the pairwise exact-boundary completion of the x41b
      // window-granular excision.
      graft.ext.Dedup.exciseSharedSpans(
        t(s, dir, "documents"), "text", "doc_id", 5)),
    "x41_repeated_spans" -> ((s, dir) =>
      // ExactSubstr-style span-level dedup signal (Lee et al. 2022): per
      // doc, how many of its 5-token windows repeat ANYWHERE in the
      // corpus (within- or cross-doc). Window hashes are a strict
      // zip-of-slices codegen projection; the occurrence count rides ONE
      // digest-keyed window exchange (no self-join, no second text pass)
      // then one id-keyed agg. Digests + longs only on the wire.
      graft.ext.Dedup.repeatedSpanStats(
        t(s, dir, "documents"), "text", "doc_id", 5)),
    "x40_zipf_quality" -> ((s, dir) =>
      // frequency-based quality scoring against the trained top-1000
      // vocabulary (x34's consumer): per doc, mean floor(log2 corpus
      // count) of its tokens — integer-exact via bit length (no
      // transcendental log), OOV floors to count 1, vocab broadcast so
      // the token stream never re-shuffles. One vocab shuffle +
      // TakeOrdered + per-doc agg.
      graft.ext.TextStats.zipfQuality(t(s, dir, "documents"), "text", "doc_id")),
    "x39_token_budget_mix" -> ((s, dir) =>
      // token-budget mixture — the complement of x32's rate mixture: each
      // source contributes its BUDGETED TOKEN MASS (how pretrain mixes
      // are actually specified), taken in salted-hash order with an
      // exclusive running-total cut; src2's zero budget drops the domain,
      // unlisted sources take the default. One window shuffle; fully
      // deterministic, so the oracle replays the same window + CASE cut.
      graft.ext.Curation.sampleByTokenBudget(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok")),
        "doc_id", "source", "n_tok",
        Map("src0" -> 20000L, "src1" -> 5000L, "src2" -> 0L), 1000L)),
    "x19_token_packing" -> ((s, dir) =>
      // training-batch packing: per-lang bins of ~500 whitespace tokens,
      // greedy one-pass assignment by exclusive prefix sum
      graft.ext.Curation.packByTokenBudget(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok")),
        Seq("lang"), "doc_id", "n_tok", 500L)),
    "x14_media_features" -> ((s, dir) => {
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
    }),
    "x14b_media_headers" -> ((s, dir) => {
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
    }),
    "x12_subword_count" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.subwordCount(col("text")).cast("long").as("n_subwords"))),
    "x8_lang_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextStats.meanTokenLen(col("text")).as("mean_tok_len"))),
    "x36_lang_id" -> ((s, dir) =>
      // heuristic language ID: per-language stopword-list hits over the
      // distinct lowercased tokens, argmax with alphabetical tie-break,
      // "und" when nothing hits. Zero-shuffle codegen projection; the
      // stopword table single-sources into the oracle's list_intersect
      // CASE chain (langIdListsSql), so the classifier is hash-checked.
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.langIdHeuristic(col("text"), langIdLists).as("lang_pred"))),
    "x9_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.punctRatio(col("text")).as("punct_ratio"),
        TextStats.stopwordHits(col("text"),
          Seq("the", "a", "of", "and", "or")).cast("long").as("stop_hits"))),
    "x31_quality_model" -> ((s, dir) => {
      // hashed-feature linear quality scorer (fastText-shaped): tokens
      // feature-hash (md5 prefix) into 64 Q30 weight buckets, the doc
      // score is the exact long sum — a zero-shuffle projection whose
      // oracle replays the same hash against the same literal weight
      // table (single source: TextStats.seededWeightsQ30). Runs the
      // fused native expression; the column composition is
      // property-tested identical (ExtSpec), so one oracle checks both.
      val s30 = TextStats.hashedLinearScoreQ30Fast(col("text"),
        TextStats.seededWeightsQ30(64))
      t(s, dir, "documents").select(col("doc_id"),
        (s30.cast("double") / lit(1073741824.0)).as("score"),
        (s30 > 0).cast("long").as("quality_pass"))
    }),
    "x10_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextStats.fingerprint(col("text")).as("fp"))),
    "x11_token_total" -> ((s, dir) =>
      t(s, dir, "documents")
        .agg(sum(TextStats.tokenCount(col("text"))).cast("long").as("total_tokens"),
          count(lit(1)).as("n_docs"))),
    "x38_bpe_pairs" -> ((s, dir) => {
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
    }),
    "x38b_bpe_train" -> ((s, dir) => {
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
    }),
    "x38c_bpe_encode" -> ((s, dir) => {
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
    }),
    "x76_wordpiece_train" -> ((s, dir) => {
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
    }),
    "x76b_wordpiece_encode" -> ((s, dir) => {
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
    }),
    "x76c_wordpiece_encode_join" -> ((s, dir) => {
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
    }),
    "x43c_bm25_incremental" -> ((s, dir) => {
      // the GROWING-corpus index (x26/x41c append-only staging applied to
      // retrieval): the corpus arrives as two batches (doc_id parity),
      // each appending bucket-partitioned postings + one stats row;
      // nothing global rewrites. The probe prunes to the query terms'
      // buckets, recovers term df from the pruned rows themselves (a
      // term's postings all live in its one bucket) and (N, avgdl) from
      // the per-batch stats rows — and must be bit-identical to the
      // one-shot x43 over the full corpus: the oracle is x43's, verbatim.
      val d = t(s, dir, "documents")
      val ldir = graft.ops.Scale.tempLayoutDir("graft_bm25_inc_")
      Seq(0, 1).foreach { par =>
        graft.ext.Retrieval.appendIndexBatch(
          d.filter(pmod(col("doc_id"), lit(2)) === par), "text", "doc_id", ldir)
      }
      graft.ext.Retrieval.bm25TopKStaged(ldir,
        hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long"))
    }),
    "x43d_bm25_compacted" -> ((s, dir) => {
      // the postings-layout MAINTENANCE lifecycle (the s10b IVF move
      // applied to retrieval): three append batches accrete ~1 file per
      // touched md5(tok) bucket, compactIndexBuckets rewrites every hot
      // bucket back toward one file (one pruned read + one partitionBy
      // write, rename-first commit), and the staged probe then answers
      // x43's oracle VERBATIM — compaction must be invisible to results,
      // and the ScaleSpec pins the file counts.
      val d = t(s, dir, "documents")
      val ldir = graft.ops.Scale.tempLayoutDir("graft_bm25_cmp_")
      Seq(0, 1, 2).foreach { par =>
        graft.ext.Retrieval.appendIndexBatch(
          d.filter(pmod(col("doc_id"), lit(3)) === par), "text", "doc_id", ldir)
      }
      graft.ext.Retrieval.compactIndexBuckets(s, ldir, 1L << 20)
      graft.ext.Retrieval.bm25TopKStaged(ldir, hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long"))
    }),
    "x43b_bm25_indexed" -> ((s, dir) => {
      // the retrieval LAYOUT lifecycle through the driver gate (s8/s9
      // precedent): write the md5-bucketed, dl/tdf-denormalized postings
      // index to a session temp dir (construction-time side effect,
      // JVM-exit cleanup), then answer x43's queries FROM the layout —
      // the probe scan statically prunes to the query terms' buckets
      // (PlanSpec pins the partition filter + count) and needs no
      // corpus-side join at all. Pruning must be invisible to the
      // RESULT: the oracle is x43's, verbatim.
      val d = t(s, dir, "documents")
      val ldir = graft.ops.Scale.tempLayoutDir("graft_bm25_index_")
      graft.ext.Retrieval.writeIndex(d, "text", "doc_id", ldir)
      graft.ext.Retrieval.bm25TopKIndexed(ldir,
        hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long"))
    }),
    "x47_c4_clean" -> ((s, dir) => {
      // C4-style LINE-RULE cleaning over synthesized 3-token lines (the
      // x27 move — fixture text has no newlines): keep a line iff ≥3
      // words AND no boilerplate marker ('dup' / 'slow' play the
      // 'javascript' / 'cookie' role on this vocabulary); a doc survives
      // with ≥2 kept lines. Pure zero-exchange projection — the line
      // array never leaves its row; md5 proves byte-identical reassembly.
      val d = t(s, dir, "documents")
      val toks = col("_toks")
      val lined = d.withColumn("_toks", split(TextStats.wsTrim(col("text")), "\\s+"))
        .withColumn("text",
          concat_ws("\n", transform(
            sequence(lit(0), ((size(toks) - 1) / 3).cast("int")),
            i => concat_ws(" ", slice(toks, i * 3 + 1, lit(3))))))
        .drop("_toks")
      Curation.c4LineClean(lined, "text", "doc_id",
          minWordsPerLine = 3, banned = Seq("dup", "slow"), minKeptLines = 2)
        .select(col("doc_id"), md5(col("text")).as("clean_md5"),
          col("n_kept"), col("n_dropped"))
    }),
    "x48_hybrid_rrf" -> ((s, dir) => {
      // HYBRID retrieval: the lexical (x43 BM25) and dense (x6 brute
      // cosine) top-10 lists for the same three queries, fused by
      // reciprocal-rank fusion in Q30 fixed point — exact integer
      // arithmetic end to end. The lexical list drops n_id = qid so both
      // lists exclude self identically. Fusion touches candidates only
      // (one union + one (qid,n_id) reduce + one window); the oracle
      // replays both ranker CTEs and the same floor-divs.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.ext.Retrieval.bm25TopK(docs, "text", "doc_id",
          hybridQueries, 10)
        .filter(col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("n_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), "vec_id", "embedding",
          10, (a, b) => Similarity.quantizedDot(a, b))
        .select(col("q_id").as("qid"), col("n_id"), col("rank"))
      graft.ext.Retrieval.rrfFuse(Seq(lex, dense), "qid", "n_id", "rank",
        rrfK = 60, kOut = 5)
    }),
    "x49_hard_negatives" -> ((s, dir) => {
      // hard-negative mining (DPR discipline): docs the LEXICAL ranker
      // puts in its top-10 that the DENSE ranker does not — lexically
      // plausible, semantically distant, i.e. exactly the contrastive
      // negatives a retriever trains on. Per-query anti-join of two
      // candidate-scale lists; keeps the lexical rank as the mining
      // order.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val lex = graft.ext.Retrieval.bm25TopK(docs, "text", "doc_id",
          hybridQueries, 10)
        .filter(col("doc_id") =!= col("qid"))
        .select(col("qid"), col("doc_id").as("n_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), "vec_id", "embedding",
          10, (a, b) => Similarity.quantizedDot(a, b))
        .select(col("q_id").as("qid"), col("n_id"))
      graft.ext.Retrieval.hardNegatives(lex, dense, "qid", "n_id")
        .select(col("qid"), col("n_id"), col("rank").cast("long").as("rank"))
    }),
    "x46_curriculum" -> ((s, dir) => {
      // COMPOSITION row (x37 discipline): the x45 LM score feeds a
      // quality-curriculum training order — absolute Q30 score bands
      // (zero-exchange projection; no global rank sort) with an x44-style
      // reproducible shuffle inside each band. Consuming (band desc,
      // batch, pos) anneals training clean→noisy. The oracle replays the
      // x45 CTE chain, the band arithmetic, and both window orders.
      val d = t(s, dir, "documents")
      val scored = graft.ext.TextStats.bigramLmScoreQ30(
        d, "text", "doc_id", d, "text")
      graft.ext.Curation.curriculumOrder(
          scored.select(col("doc_id"), col("lm_q30")),
          Seq("doc_id"), "lm_q30", 4, 0L, 2)
        .select(col("band"), col("batch"), col("pos"), col("doc_id"),
          col("lm_q30"))
    }),
    "x50_shard_export" -> ((s, dir) => {
      // the DELIVERY lifecycle through the driver gate (s8/x43b
      // precedent): token-balanced shard assignment — banded round-robin,
      // NO global sort, a 16-way salt bounding any hot band's window task
      // — written partitionBy(shard) to a session temp dir, then answered
      // FROM the layout: per-shard doc/token mass + an id-sum membership
      // fingerprint. The layout hop must be invisible to the RESULT, and
      // the assignment exactly replayable: the oracle recomputes
      // band/salt/rn/shard from (doc_id, text) alone, never seeing the
      // files.
      val d = t(s, dir, "documents")
      val weighted = d.select(col("doc_id"), col("lang"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      val assigned = graft.ext.Curation.assignShards(
        weighted, "doc_id", "n_tok", 8, 64L)
      val ldir = graft.ops.Scale.tempLayoutDir("graft_shards_")
      assigned.write.partitionBy("shard").mode("overwrite").parquet(ldir)
      // explicit schema: a zero-survivor layout has no data files to
      // infer from, and must read back as empty, not throw
      s.read.schema(assigned.schema).parquet(ldir)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tok_total"),
          sum(col("doc_id")).as("id_sum"))
    }),
    "x51_dataset_card" -> ((s, dir) =>
      // the corpus datasheet a release ships with: ROLLUP over
      // (source, lang) of exact-integer metrics — doc/token/char mass,
      // exact-dup counts, length extremes. Floats never appear (consumers
      // derive means from the sums), so the whole card hash-verifies.
      // One content-digest window + one rollup agg with map-side partials.
      graft.ext.Curation.datasetCard(t(s, dir, "documents"), "text",
          Seq("source", "lang"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_dup_docs"), col("min_tok"), col("max_tok"))),
    "x56_dsir_select" -> ((s, dir) =>
      // DSIR-style targeted selection (Xie et al. 2023): score every doc
      // by how much its hashed-token distribution resembles the English
      // subset (the "target"), exact Q20 probability ratios over 64 md5
      // buckets, keep the deterministic top-100. One explode + one
      // bucket-key exchange (both count columns in a single conditional
      // agg), ratio table + totals broadcast, per-doc reduce, TakeOrdered
      // top-k. The oracle replays the same integers over HUGEINT.
      graft.ext.Curation.dsirTopK(
        t(s, dir, "documents"), "text", "doc_id",
        col("lang") === "en", 64, 100)),
    "x57_prototype_prune" -> ((s, dir) => {
      // prototypicality pruning (Sorscher et al. 2022): rank embeddings by
      // cosine to their OWN centroid (first-64 convention — the trained
      // path composes via x35), drop the most prototypical 25% of each
      // cell. Assignment is the broadcast ivfAssignJoin argmax; ONE
      // cid-window exchange; cut is exact integer ceil. The oracle replays
      // assignment, cosine, rank, and cut bit-for-bit.
      val emb = t(s, dir, "embeddings")
      Similarity.prototypePrune(emb,
          emb.filter(col("vec_id") < 64)
            .select(col("vec_id").as("cid"), col("embedding").as("cvec")),
          "vec_id", "embedding", 250)
        .select(col("vec_id"), col("cid"), col("rnk"),
          col("keep").cast("long").as("keep"))
    }),
    "x58_temperature_mix" -> ((s, dir) =>
      // temperature-flattened domain mixing at α = 1/2 (the mT5/XLM-R
      // head-vs-tail rebalance): per-source rates recomputed from the
      // LIVE counts — 1000·isqrt(n_min·n_d) div n_d per-mille, exact
      // integer sqrt — then the salted id-hash Bernoulli. One small
      // domain agg + broadcast rate join; the corpus side never shuffles.
      graft.ext.Curation.sqrtTemperatureSample(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source")),
    "x55_leakage_split" -> ((s, dir) => {
      // leakage-free train/eval split: a whole near-dup CLUSTER goes to
      // one side (splitting by doc would leak eval near-dups into train
      // — the failure mode cluster-aware splits exist to prevent).
      // Cluster label = CC min-id (x17) for paired docs, own id for
      // singletons; the split is a deterministic salted draw on the
      // LABEL, so cluster members can never disagree. 10% eval.
      val d = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(Dedup.lshCandidateStarPairs(
        Dedup.minhashSignature(d, "text", 4), "doc_id", 4, 2))
      val labeled = d.select(col("doc_id"))
        .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val draw = conv(substring(md5(concat(col("cluster_id").cast("string"),
        lit(":split"))), 1, 2), 16, 10).cast("int") % 100
      labeled.withColumn("split",
        when(draw < 10, "eval").otherwise("train"))
    }),
    "x54_release_build" -> ((s, dir) => {
      // DELIVERY CAPSTONE (the x37 discipline on the OUTPUT side): curate
      // → survivors → token-balanced shard assignment → physical
      // partitionBy(shard) layout → per-(shard, lang) release card read
      // FROM the layout. Every stage is an op its own row already proves
      // (x16/x50/x51); THIS row hash-checks the delivery WIRING — who
      // survives, which shard they land in, what mass each shard attests.
      val d = t(s, dir, "documents")
      val ok = graft.ext.Curation.curate(d, "text", "doc_id", "lang",
          graft.ext.Curation.Rules(minTokens = 20,
            allowedLangs = Seq("de", "en", "es", "zh")))
        .filter(col("status") === "ok").select("doc_id")
      val survivors = d.join(ok, "doc_id")
        .select(col("doc_id"), col("lang"),
          TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      val assigned = graft.ext.Curation.assignShards(
        survivors, "doc_id", "n_tok", 8, 64L)
      val ldir = graft.ops.Scale.tempLayoutDir("graft_release_")
      assigned.write.partitionBy("shard").mode("overwrite").parquet(ldir)
      s.read.schema(assigned.schema).parquet(ldir)
        .groupBy(col("shard").cast("long").as("shard"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          sum(col("doc_id")).as("id_sum"))
    }),
    "x53_tokenizer_eval" -> ((s, dir) => {
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
    }),
    "x52_span_corrupt" -> ((s, dir) =>
      // T5-style denoising pairs: 3-token chunks masked at 15% by a
      // deterministic salted draw; k-th masked chunk → <extra_id_k> in
      // the input, sentinel-delimited spans in the target. A pure
      // zero-exchange projection (PlanSpec); the oracle replays draw,
      // sentinel ranks, and both reassemblies from (doc_id, text) alone.
      graft.ext.Curation.spanCorrupt(
          t(s, dir, "documents"), "text", "doc_id", 3, 15)
        .select(col("doc_id"), col("input"), col("target"), col("n_masked"))),
    "x51b_card_incremental" -> ((s, dir) => {
      // the GROWING-corpus datasheet (x26/x43c append-only staging
      // applied to reporting): the corpus arrives as two batches (doc_id
      // parity), each appending O(distinct-texts) card state; the card
      // reads ONLY the stage — old batches never rescan — and must be
      // bit-identical to the one-shot x51: the oracle is x51's, verbatim.
      // Cross-batch duplicate texts still mark exactly (they collide on
      // the content digest whichever batch they arrived in).
      val d = t(s, dir, "documents")
      val ldir = graft.ops.Scale.tempLayoutDir("graft_card_inc_")
      Seq(0, 1).foreach { par =>
        graft.ext.Curation.appendCardBatch(
          d.filter(pmod(col("doc_id"), lit(2)) === par), "text",
          Seq("source", "lang"), ldir)
      }
      graft.ext.Curation.datasetCardFromStaged(s, ldir, Seq("source", "lang"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_dup_docs"), col("min_tok"), col("max_tok"))
    }),
    "x45_bigram_lm" -> ((s, dir) => {
      // CCNet-style LM quality filter in exact arithmetic: self-trained
      // bigram counts, score = mean conditional token probability in Q30
      // (stupid backoff α=0.4 for unseen pairs). Training is two
      // token-key shuffles; scoring equi-joins the count tables and
      // reduces on doc_id; T rides as one broadcast row. The oracle
      // retrains and rescores the identical integers over HUGEINT.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.bigramLmScoreQ30(d, "text", "doc_id", d, "text")
    }),
    "x77_kn_bigram" -> ((s, dir) => {
      // interpolated KNESER–NEY bigram LM — the standard smoothing
      // (KenLM's default) beside x45's stupid backoff: discounted bigram
      // estimate + continuation-probability interpolation, evaluated over
      // one common denominator with ONE exact floor division per pair
      // (D = 3/4 stays rational). Self-trained like x45; the oracle
      // retrains and rescores the identical integers over HUGEINT.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.kneserNeyBigramScoreQ30(d, "text", "doc_id",
        d, "text")
    }),
    "x77b_perplexity_buckets" -> ((s, dir) => {
      // CCNet's head/middle/tail perplexity split over the x77 KN
      // scores: the corpus reduces to ≤ 2³⁰/2²² = 256 quantized score
      // bins (census-guarded), a cumulative window ranks the BINS only,
      // and the bin→bucket table broadcasts back — whole bins share a
      // bucket, so the split never consults within-bin order. Docs with
      // no bigram pair score NULL → 'unscored'.
      val d = t(s, dir, "documents")
      val kn = graft.ext.TextStats.kneserNeyBigramScoreQ30(
        d, "text", "doc_id", d, "text")
      graft.ext.TextStats.scoreBuckets(kn, "doc_id", "lm_q30",
          quantStep = 1L << 22)
        .select(col("doc_id"), col("score").as("lm_q30"), col("bucket"))
    }),
    "x79_cms_heavy_hitters" -> ((s, dir) => {
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
    }),
    "x79b_cms_incremental" -> ((s, dir) => {
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
        graft.ext.Sketch.cmsSketchStaged(baseT, "tok", 2048, 4),
        graft.ext.Sketch.cmsSketch(batchT, "tok", 2048, 4)))
      cmsHeavyTail(sketchTokens(d), sk)
    }),
    "x80_hll_distinct" -> ((s, dir) => {
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
    }),
    "x80b_hll_incremental" -> ((s, dir) => {
      // continuous-ingest HLL: staged base registers + batch registers
      // re-max into the whole-corpus state (registers are maxes — merge
      // ≡ one-shot bit-for-bit), so distinct-token tracking over a
      // growing corpus never revisits old batches. Answers x80's oracle
      // VERBATIM.
      val d = t(s, dir, "documents")
      val regs = graft.ext.Sketch.hllMerge(Seq(
        graft.ext.Sketch.hllRegistersStaged(
          langTokens(d.filter(pmod(col("doc_id"), lit(3)) =!= 2)),
          Seq("lang"), "tok", 8),
        graft.ext.Sketch.hllRegisters(
          langTokens(d.filter(pmod(col("doc_id"), lit(3)) === 2)),
          Seq("lang"), "tok", 8)), Seq("lang"))
      hllDistinctTail(langTokens(d), regs)
    }),
    "x81_profile_stats" -> ((s, dir) => {
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
    }),
    "x82_kmv_overlap" -> ((s, dir) => {
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
    }),
    "x82b_kmv_incremental" -> ((s, dir) => {
      // continuous-ingest KMV: the A-side base corpus samples ONCE into
      // a staged parquet state; a new batch samples itself and folds in
      // by re-bottom-k — the k smallest of a union are each within
      // their own side's k smallest, so merge ≡ one-shot bit-for-bit
      // and the overlap probe answers x82's oracle VERBATIM without
      // ever rescanning the base.
      val gr = overlapShingles(t(s, dir, "documents"))
      val sa = graft.ext.Sketch.kmvMerge(Seq(
        graft.ext.Sketch.kmvStateStaged(
          gr.filter(pmod(col("doc_id"), lit(4)) === 0), "g", 256),
        graft.ext.Sketch.kmvState(
          gr.filter(pmod(col("doc_id"), lit(4)) === 2), "g", 256)), 256)
      kmvOverlapTail(gr, sa,
        graft.ext.Sketch.kmvState(
          gr.filter(pmod(col("doc_id"), lit(2)) === 1), "g", 256))
    }),
    "x92_quantile_sketch" -> ((s, dir) => {
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
    }),
    "x92b_quantile_ingest" -> ((s, dir) => {
      // continuous-ingest quantile sketch: staged base state + batch
      // state re-bottom-k into the whole-corpus state — the k smallest
      // (h, v) of a union are each within their own side's k smallest,
      // so merge ≡ one-shot bit-for-bit and the percentile probe
      // answers x92's oracle VERBATIM without rescanning the base.
      val d = t(s, dir, "documents")
      val st = graft.ext.Sketch.qsMerge(Seq(
        graft.ext.Sketch.qsStateStaged(
          d.filter(pmod(col("doc_id"), lit(3)) =!= 2),
          Seq("lang"), "doc_id", "n_chars", 128),
        graft.ext.Sketch.qsState(
          d.filter(pmod(col("doc_id"), lit(3)) === 2),
          Seq("lang"), "doc_id", "n_chars", 128)), Seq("lang"), 128)
      qsQuantileTail(d, st)
    }),
    "x92c_sketch_clip" -> ((s, dir) => {
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
    }),
    "x93_cms_join_size" -> ((s, dir) => {
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
    }),
    "x93b_join_size_incremental" -> ((s, dir) => {
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
        graft.ext.Sketch.cmsSketchStaged(keys(typ, batchArm = false),
          "k", 1024, 4),
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
    }),
    "et7_windowed_quantiles" -> ((s, dir) => {
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
    }),
    "x94_char_entropy" -> ((s, dir) =>
      // character-distribution Shannon entropy per doc in exact Q8 bits
      // — the random-bytes/base64-blob quality signal beside Gopher
      // ratios and zipf slope; only (doc, char, count) rows cross the
      // exchange, and the Q8 log chain replays bit-for-bit in SQL.
      graft.ext.TextStats.charEntropyQ8(
        t(s, dir, "documents"), "doc_id", "text")),
    "x95_ngram_diversity" -> ((s, dir) => {
      // distinct-n corpus diversity (the Li et al. generation-diversity
      // metric applied to corpus slices): per language and n ∈ {1,2,3},
      // unique n-grams over total n-grams as an exact Q20 ratio —
      // repetitive/templated slices score low before any model sees
      // them. Grams keep per-doc multiplicity (that repetition IS the
      // signal); only (lang, n, gram) rows cross the exchange and the
      // distinct count is the standard two-phase partial aggregation.
      val d = t(s, dir, "documents").filter(col("text").isNotNull &&
        graft.ext.TextStats.wsTrim(col("text")) =!= "")
      (1 to 3).map { n =>
        d.select(col("lang"), lit(n.toLong).as("n"),
          explode(graft.ext.Dedup.wordNgrams(col("text"), n,
            distinct = false)).as("g"))
      }.reduce(_ unionByName _)
        .groupBy(col("lang"), col("n"))
        .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("uniq"))
        .select(col("lang"), col("n"), col("total"), col("uniq"),
          expr("(1048576L * uniq) div total").as("distinct_q20"))
    }),
    "x83_hits" -> ((s, dir) => {
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
    }),
    "x84_priority_sample" -> ((s, dir) =>
      // weight-proportional coreset: 100 docs sampled ∝ n_chars WITHOUT
      // replacement, each carrying the Duffield–Lund–Thorup Horvitz–
      // Thompson adjusted weight ŵ = max(w, τ), so char totals (or any
      // subset's) estimate unbiasedly from the sample alone — "measure
      // the 100 TB corpus from m rows". Priorities q = w·2⁴⁸ div
      // (md5₄₈(id:pri)+1) are integers, so the top-100 boundary and τ
      // (the 101st priority) replay verbatim in the oracle; the cut is
      // a TakeOrdered, never a global sort.
      graft.ext.Curation.prioritySample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", 100)),
    "x84b_priority_stratified" -> ((s, dir) =>
      // the balanced weighted coreset: an independent 20-row priority
      // sample per language with per-stratum Horvitz–Thompson weights —
      // the per-domain draw a mixture designer uses where the flat x84
      // would let one giant domain crowd out the rest. Same md5 draw as
      // x84 (a row's priority is stratification-independent), W2
      // bounded window for the per-stratum cut.
      graft.ext.Curation.prioritySampleStratified(
        t(s, dir, "documents").select(col("lang"), col("doc_id"),
          col("n_chars")),
        Seq("lang"), "doc_id", "n_chars", 20)),
    "x85_histogram" -> ((s, dir) =>
      // the distribution view behind x81's scalar profile: equi-width
      // 16-bin histogram of n_chars in exact integer arithmetic — one
      // (min, max) aggregate broadcast back, width = range div 16 + 1,
      // ONE map-side-combining bin-key groupBy; empty bins are absent
      // rows (a 100 TB histogram materializes observed bins only).
      graft.ops.Profile.histogram(t(s, dir, "documents"), "n_chars", 16)),
    "x86_allpairs_join" -> ((s, dir) => {
      // EXACT near-dup pair mining with NO false negatives — the
      // guarantee the x2/x3 LSH stack trades away: prefix-filtered
      // all-pairs join (Bayardo et al. WWW'07) over 3-word-shingle sets
      // at Jaccard ≥ 6/10. Rarest-first prefixes make the candidate
      // join sparse; every arithmetic step is an integer comparison, so
      // the oracle replays the prefix boundary and the final
      // (tNum+tDen)·i ≥ tNum·(n_a+n_b) test verbatim.
      val sets = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      graft.ext.Dedup.allPairsJoin(sets, "doc_id", "gs", 6, 10)
    }),
    "x86b_allpairs_incremental" -> ((s, dir) => {
      // continuous-ingest exact near-dup mining: the base corpus (80%)
      // stages its prefix index ONCE (prefixes + sets + FROZEN frequency
      // order); the new batch (20%) prefixes itself under the frozen
      // order (never-seen elements sort as count-0 rarest — still a
      // total order, so the no-false-negative guarantee holds) and
      // joins batch×base + batch×batch. The base corpus is never
      // rescanned; the oracle is the FULL x86 chain restricted to
      // batch-touching pairs — the lifecycle is invisible to results.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      val idx = graft.ext.Dedup.allPairsIndex(
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "gs", 6, 10)
      graft.ext.Dedup.allPairsJoinIncremental(
        d.filter(pmod(col("doc_id"), lit(5)) === 0), idx, "doc_id", "gs",
        6, 10)
    }),
    "x86c_allpairs_ingest" -> ((s, dir) => {
      // the multi-batch ingest lifecycle of the exact join: base (60%)
      // indexes once; batch₁ (doc_id%5=0) joins against it and APPENDS
      // (prefixes + sets under the frozen order; counts never move);
      // batch₂ (doc_id%5=1) then joins against base+batch₁. The union
      // of the two runs is EXACTLY the one-shot join restricted to
      // batch-touching pairs — each cross-batch pair found once, in the
      // later batch's run; the base corpus is scanned only at indexing.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      val b1 = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val b2 = d.filter(pmod(col("doc_id"), lit(5)) === 1)
      val idx0 = graft.ext.Dedup.allPairsIndex(
        d.filter(pmod(col("doc_id"), lit(5)) >= 2), "doc_id", "gs", 6, 10)
      val p1 = graft.ext.Dedup.allPairsJoinIncremental(
        b1, idx0, "doc_id", "gs", 6, 10)
      val idx1 = graft.ext.Dedup.allPairsIndexAppend(
        idx0, b1, "doc_id", "gs", 6, 10)
      val p2 = graft.ext.Dedup.allPairsJoinIncremental(
        b2, idx1, "doc_id", "gs", 6, 10)
      p1.unionByName(p2)
    }),
    "x86d_allpairs_scan" -> ((s, dir) => {
      // the PREFIX-SCAN gate form of x86b (censusInIndex = false): the
      // ingest gate censuses batch ∪ staged-base-prefix rows instead of
      // joining the narrow staged census — the measured winner on
      // provably DISJOINT-vocabulary shards (PERF.md r17 A/B; the
      // census form is the shared-vocab default). Same oracle as x86b:
      // the two gate forms must be result-invisible.
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ext.Dedup.wordNgrams(col("text"), 3).as("gs"))
      val idx = graft.ext.Dedup.allPairsIndex(
        d.filter(pmod(col("doc_id"), lit(5)) =!= 0), "doc_id", "gs", 6, 10,
        censusInIndex = false)
      graft.ext.Dedup.allPairsJoinIncremental(
        d.filter(pmod(col("doc_id"), lit(5)) === 0), idx, "doc_id", "gs",
        6, 10)
    }),
    "x87_triangles" -> ((s, dir) => {
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
    }),
    "x88_pmi_collocations" -> ((s, dir) =>
      // collocation mining: top-50 adjacent token pairs by pointwise
      // mutual information (Church & Hanks) at min pair count 5 — the
      // rare-but-exclusive ranking that inverts x38's raw-count merge
      // order; the Q20 probability ratio is integer-exact so the oracle
      // replays the scores AND the top-k boundary.
      graft.ext.TextStats.pmiCollocations(
        t(s, dir, "documents"), "text", 5, 50)),
    "x90_kcore" -> ((s, dir) => {
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
    }),
    "x14d_frame_sample" -> ((s, dir) => {
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
    }),
    "x91_components" -> ((s, dir) => {
      // generic connected components over an ARBITRARY edge list — the
      // CC engine every dedup family composes (min-label propagation,
      // fused steps, lineage-truncating materialized rounds, loud
      // non-convergence flag), exposed standalone on the sparse
      // co-purchase graph. Oracle = recursive reachability closure with
      // min-peer labels, the x17 convention.
      val li = t(s, dir, "lineitem")
        .filter(col("l_quantity") > 48)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sp"))
      val pairs = li.join(li.select(col("o"), col("sp").as("sp2")), "o")
        .filter(col("sp") < col("sp2"))
        .select(col("sp").as("a_id"), col("sp2").as("b_id")).distinct()
      graft.ext.Dedup.dupClusters(pairs)
        .select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))
    }),
    "x89b_ndcg" -> ((s, dir) => {
      // the trec_eval surface's LAST metric: NDCG@5 of the x43 BM25 run
      // against the containment qrels. The log discount is evaluated
      // once driver-side into a Q20 constant table shared verbatim with
      // the oracle (the langIdLists single-source pattern), so the
      // graded metric replays engine-exact — the reason x89 originally
      // stopped at reciprocal rank is dissolved, not worked around.
      val d = t(s, dir, "documents")
      graft.ext.Retrieval.evalNdcg(
        graft.ext.Retrieval.bm25TopK(d, "text", "doc_id", hybridQueries, 5),
        graft.ext.Retrieval.containmentQrels(d, "text", "doc_id",
          hybridQueries), 5, graft.ext.Retrieval.ndcgDiscountsQ20(5))
    }),
    "x89_retrieval_eval" -> ((s, dir) => {
      // offline ranker evaluation (the trec_eval surface) with a
      // corpus-derivable ground truth: qrels = boolean-AND containment
      // (doc holds every query token), run = the x43 BM25 top-5; per
      // query n_rel / hits / precision@5 / recall@5 / reciprocal rank,
      // all exact integers (1/rank is rational — unlike log-discounted
      // NDCG this stays engine-exact).
      val d = t(s, dir, "documents")
      graft.ext.Retrieval.evalRun(
        graft.ext.Retrieval.bm25TopK(d, "text", "doc_id", hybridQueries, 5),
        graft.ext.Retrieval.containmentQrels(d, "text", "doc_id",
          hybridQueries), 5)
    }),
    "x44_epoch_shuffle" -> ((s, dir) => {
      // deterministic training-order shuffle: two epochs (seed = epoch
      // number) of the documents corpus, each a reproducible uniform
      // permutation delivered as (batch, pos) — batch by the md5 digest's
      // leading hex pair, pos by the digest within the batch. One
      // batch-key exchange per epoch, no global sort, no RNG state; the
      // oracle replays both permutations from (seed, doc_id) alone.
      val d = t(s, dir, "documents").select(col("doc_id"))
      Seq(0L, 1L).map { ep =>
        graft.ext.Curation.epochShuffle(d, Seq("doc_id"), ep, 2)
          .withColumn("epoch", lit(ep))
      }.reduce(_ unionAll _)
        .select(col("epoch"), col("batch"), col("pos"), col("doc_id"))
    }),
    "x43_bm25_topk" -> ((s, dir) =>
      // sparse retrieval: exact rational-idf BM25 (k1=1.2, b=0.75 as the
      // integer pair 120/75 over scale 100, idf = (N-df+1)/(df+1), all
      // products in decimal(38,0), one floor-div to a Q20 long) — top-5
      // docs per query, ties to the lower doc_id. Plan: ONE (tok, doc)
      // postings shuffle; the query batch is broadcast so the postings
      // never reshuffle for the probe; scoring reduces on (qid, doc)
      // over candidates only; top-k is a per-query window on that
      // candidate frame. The oracle replays the identical integers over
      // HUGEINT.
      graft.ext.Retrieval.bm25TopK(
        t(s, dir, "documents"), "text", "doc_id",
        hybridQueries, 5)
        .withColumn("rank", col("rank").cast("long"))),
    "x42_sequence_pack" -> ((s, dir) => {
      // fixed-length sequence packing — the pretraining input shape: each
      // lang's token-id stream (docs in doc_id order, ids from the raw
      // top-50 vocab with OOV=0 so the oracle skips the BPE CTEs) chunks
      // into length-64 sequences crossing doc boundaries; the tail per
      // lang stays short (collator owns padding). Exploded stream carries
      // ints only; one lang-window + one (lang, seq_id) agg.
      val d = t(s, dir, "documents")
      val vocab = graft.ext.TextStats.trainTokenVocabDf(
        d.select(col("text")), "text", Nil, 50)
      val ids = graft.ext.TextStats.tokenIdsJoin(
        d.select(col("doc_id"), col("text")), "text", "doc_id", Nil, vocab)
      val withLang = d.select(col("doc_id"), col("lang"))
        .join(ids, Seq("doc_id")) // id-keyed equi-join, lang back onto ids
      graft.ext.Curation.packSequences(
        withLang, Seq("lang"), "doc_id", "ids", 64)
        // stringify for the gate comparator (j3 precedent) — the packed
        // array form is the operator's real output
        .withColumn("seq_ids",
          concat_ws(" ", transform(col("seq_ids"), _.cast("string"))))
    }),
    "x38d_token_ids" -> ((s, dir) => {
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
    }),
    "x34_vocab_freq" -> ((s, dir) =>
      // vocabulary building: corpus-wide token frequency + document
      // frequency, deterministic top-100 by (count desc, token asc).
      // Scale shape: explode → ONE shuffle on the token key with map-side
      // partial counts absorbing hot tokens (the Zipf head never reaches
      // the exchange as raw rows); the top-100 runs as TakeOrdered (per-
      // partition heap + driver merge, PlanSpec-pinned), never a global
      // sort. The df (doc-frequency) column is the IDF input quality
      // filters and dedup weighting draw on.
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("tok")).limit(100)),
    "x59_pagerank" -> ((s, dir) => {
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
    }),
    "x59c_pagerank_weighted" -> ((s, dir) => {
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
    }),
    "x59b_trustrank" -> ((s, dir) => {
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
    }),
    "x59d_pagerank_incremental" -> ((s, dir) => {
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
    }),
    "x59e_pagerank_multicrawl" -> ((s, dir) => {
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
    }),
    "x59g_trustrank_crawl" -> ((s, dir) => {
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
    }),
    "x59f_weighted_crawl" -> ((s, dir) => {
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
    }),
    "x60_margin_mine" -> ((s, dir) => {
      // margin-based pair mining (the LASER/CCMatrix bitext criterion):
      // even vec_ids mine their best match among odd vec_ids by margin —
      // similarity relative to BOTH sides' k=4 neighborhoods — not raw
      // top-1 (raw top-1 mines hub vectors). Exact Q30 dots, one Q20
      // floor-div; the oracle replays both kNN passes and the margin.
      val e = t(s, dir, "embeddings")
      Similarity.marginMine(
        e.filter(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding")),
        e.filter(col("vec_id") % 2 === 1).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", 4)
    }),
    "x61_host_filter" -> ((s, dir) =>
      // host-level curation (RefinedWeb's judge-the-site-first move):
      // per-source exact-dup and short-doc per-mille rates, computed over
      // digests (the corpus never shuffles), hosts over 450‰ short docs
      // (< 50 words) or any dup mass dropped WHOLESALE. Survivors carry
      // the host verdict columns for audit.
      graft.ext.Curation.hostFilter(t(s, dir, "documents"),
          "text", "source", 100, 450, 50)
        .select(col("doc_id"), col("source"), col("dup_pm"), col("short_pm"))),
    "x62_chunk_neardup" -> ((s, dir) =>
      // partial-overlap near-dup: whole-doc MinHash (x3) dilutes a shared
      // region below the banding threshold once the docs differ
      // elsewhere; chunk-level signatures restore locality. 120-char
      // chunks, k=4 hashes in 2 bands, hot bands capped at 50 chunks
      // (the boilerplate guard), doc pairs scored by distinct chunk
      // collisions. The oracle replays chunking, every min-md5 window,
      // the cap, and the hit count.
      Dedup.chunkNearDupPairs(t(s, dir, "documents"), "text", "doc_id",
          120, 4, 2, maxBandChunks = 50)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"), col("n_chunk_hits"))),
    "x62b_chunk_incremental" -> ((s, dir) => {
      // continuous-ingest partial-overlap dedup: the corpus's CHUNK
      // signatures staged to parquet (x26's append-only discipline), the
      // new batch (every 5th doc) band-joins against stage ∪ batch —
      // corpus text never rescanned, cross-batch hit counts exact, the
      // hot-band cap censuses the combined corpus. Oracle = the one-shot
      // x62 replay restricted to pairs touching the batch.
      val d = t(s, dir, "documents")
      val stage = Dedup.stageSignatures(Dedup.chunkSignatures(
        d.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", 120, 4))
      Dedup.chunkNearDupPairsIncremental(d.filter(col("doc_id") % 5 === 0),
          stage, "text", "doc_id", 120, 4, 2, maxBandChunks = 50)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"), col("n_chunk_hits"))
    }),
    "x64_copygraph_curation" -> ((s, dir) => {
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
      val sp = Dedup.stageAndRead(e0.select(col("a_h"), col("b_h")))
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
    }),
    "x63_release_delta" -> ((s, dir) => {
      // release-to-release corpus diff: v1 lacks every 7th doc, v2 drops
      // every 13th and revises every 11th (text + ' rev2') — the delta
      // card reports per-source added/removed/changed/unchanged counts
      // and the exact token-mass swing. One id-keyed full-outer join of
      // digest projections; the oracle replays both versions and the
      // rollup.
      val d = t(s, dir, "documents")
      val oldV = d.filter(col("doc_id") % 7 =!= 0)
      val newV = d.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      graft.ext.Curation.releaseDelta(oldV, newV, "text", "doc_id",
        Seq("source"))
    }),
    "x65_trained_quality" -> ((s, dir) => {
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
    }),
    "x66_html_extract" -> ((s, dir) => {
      // HTML main-content extraction — the crawl pipeline's FIRST stage,
      // upstream of x47's line rules: each doc wraps into a synthetic
      // page (title/style/script head, link-only nav, the text as a
      // paragraph, a link-dense sponsored unit on every 3rd doc, a
      // link-only footer — the x14b built-blob discipline), and
      // htmlMainContent must recover exactly the prose: script/style
      // content never leaks, the nav/footer/ad blocks fall to the
      // anchor-density rule, short fragments to the word rule. Exact
      // integer rules (cross-multiplied per-mille, no division), so the
      // oracle replays page construction AND extraction bit-for-bit.
      // Pure zero-exchange projection (PlanSpec).
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc</title><style>.x{color:red}</style>"),
        lit("<script type=\"text/javascript\">var a=1;</script></head><body>"),
        lit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></div>"),
        lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<div>sponsored <a href=\"/ad\">click here now</a> " +
            "<a href=\"/ad2\">buy today</a></div>")).otherwise(lit("")),
        lit("<div><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms</a>" +
          "</div></body></html>"))
      graft.ext.Curation.htmlMainContent(
        d.select(col("doc_id"), html.as("html")), "html", "doc_id", 3, 300)
    }),
    "x66b_crawl_clean" -> ((s, dir) => {
      // the two-stage crawl front end COMPOSED: extraction then line
      // rules. The page plants a cookie-notice PARAGRAPH — prose-shaped
      // and link-free, so the anchor-density/word rules must keep it and
      // only x47's banned-marker line rule can drop it; conversely the
      // link-only nav dies in extraction before the line stage ever sees
      // it. One zero-exchange projection chain; the oracle replays both
      // stages in one statement.
      val d = t(s, dir, "documents")
      val html = concat(
        lit("<html><head><title>Doc</title><style>.x{color:red}</style>"),
        lit("<script type=\"text/javascript\">var a=1;</script></head><body>"),
        lit("<div><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
          "<a href=\"/c\">Contact</a></div>"),
        lit("<p>"), coalesce(col("text"), lit("")), lit("</p>"),
        lit("<p>this site uses cookie tracking please accept our cookie " +
          "policy</p>"),
        lit("<div><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms</a>" +
          "</div></body></html>"))
      val extracted = graft.ext.Curation.htmlMainContent(
        d.select(col("doc_id"), html.as("html")), "html", "doc_id", 3, 300)
        .select(col("doc_id"), col("text_main").as("text"))
      graft.ext.Curation.c4LineClean(extracted, "text", "doc_id",
          minWordsPerLine = 3, banned = Seq("cookie"), minKeptLines = 1)
        .select(col("doc_id"), col("text").as("text_clean"),
          col("n_kept"), col("n_dropped"))
    }),
    "x65b_learned_curation" -> ((s, dir) => {
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
    }),
    "x65c_wide_quality" -> ((s, dir) => {
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
    }),
    "x65d_model_eval" -> ((s, dir) => {
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
    }),
    "x65e_model_auc" -> ((s, dir) => {
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
    }),
    "x96_ece_calibration" -> ((s, dir) => {
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
    }),
    "x97_release_drift" -> ((s, dir) => {
      // corpus-level drift between the two releases (the x63 even/odd
      // release-pair convention): per language, the quantized
      // Jensen-Shannon divergence of the releases' token distributions
      // — the x63 id-keyed delta says WHICH docs changed; this says
      // whether the language itself moved. One tokenize+groupBy pass
      // per release, one token-keyed full-outer join, Q8-bit outputs.
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      graft.ext.TextStats.distributionDriftQ8(
        counts(col("doc_id") % 2 === 0), counts(col("doc_id") % 2 === 1),
        Seq("lang"), "tok", "c")
    }),
    "x97c_drift_tokens" -> ((s, dir) => {
      // drift ATTRIBUTION: per language the 8 tokens with the largest
      // quantized mass shift between the releases — the report a
      // curator reads after x97 flags a slice; same quantized
      // distribution as the monitor, so the attribution is consistent
      // with the score it explains.
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      graft.ext.TextStats.driftTopTokens(
        counts(col("doc_id") % 2 === 0), counts(col("doc_id") % 2 === 1),
        Seq("lang"), "tok", "c", 8)
    }),
    "x97d_psi_alert" -> ((s, dir) => {
      // the drift monitor's PAGER WIRE: per-language Population
      // Stability Index over the same quantized release distributions
      // as x97's JSD, with a thresholded 0/1 alert column (32 Q8 ≈ the
      // conventional PSI 0.1 "investigate" line). PSI is unbounded
      // where JSD saturates at 1 bit, so it keeps resolving "how bad"
      // after the alarm fires; one-sided token mass is reported, not
      // epsilon-clipped.
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      graft.ext.TextStats.psiDriftQ8(
        counts(col("doc_id") % 2 === 0), counts(col("doc_id") % 2 === 1),
        Seq("lang"), "tok", "c", 32L)
    }),
    "x97b_drift_incremental" -> ((s, dir) => {
      // continuous-ingest drift monitor: release B's base counts stage
      // ONCE; a new batch folds in by key re-sum (counts are sums:
      // merge ≡ one-shot bit-for-bit) and the drift re-evaluates from
      // the merged distribution — answers x97's oracle VERBATIM
      // without rescanning either corpus (the x93b/x92b twin).
      val d = t(s, dir, "documents")
      def counts(p: Column) = d.filter(p)
        .filter(col("text").isNotNull &&
          graft.ext.TextStats.wsTrim(col("text")) =!= "")
        .select(col("lang"),
          explode(split(graft.ext.TextStats.wsTrim(col("text")), "\\s+"))
            .as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      val odd = col("doc_id") % 2 === 1
      val bMerged = graft.ext.TextStats.mergeTokenCounts(Seq(
        graft.ext.TextStats.tokenCountsStaged(
          counts(odd && pmod(col("doc_id"), lit(4L)) === 1L)),
        counts(odd && pmod(col("doc_id"), lit(4L)) === 3L)),
        Seq("lang"), "tok", "c")
      graft.ext.TextStats.distributionDriftQ8(
        counts(col("doc_id") % 2 === 0), bMerged, Seq("lang"), "tok", "c")
    }),
    "x98c_fleiss_kappa" -> ((s, dir) => {
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
    }),
    "x98d_fleiss_incremental" -> ((s, dir) => {
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
      val staged = s.read.parquet(graft.ext.Dedup.stageSignatures(
        graft.ext.Learn.fleissCells(
          lab.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), Seq("ra", "rb", "rc"))))
      val batch = graft.ext.Learn.fleissCells(
        lab.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), Seq("ra", "rb", "rc"))
      graft.ext.Learn.fleissKappaFromCells(
        graft.ext.Learn.mergeFleissCells(Seq(staged, batch), Seq("lang")),
        Seq("lang"), m = 3)
    }),
    "x98e_krippendorff" -> ((s, dir) => {
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
    }),
    "x99_chi2_assoc" -> ((s, dir) => {
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
    }),
    "x99b_mcnemar" -> ((s, dir) => {
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
    }),
    "x100_k_anonymity" -> ((s, dir) => {
      // RELEASE GATE beside the PII redaction family: per language,
      // how re-identifiable is the corpus under the (source,
      // length-bucket) quasi-identifier at k = 5 — group census, the
      // smallest group, and the exact Q20 row-exposure fraction.
      // (`div` and duckdb `//` both truncate toward zero, so the
      // bucket replays exactly for any sign.)
      val d = t(s, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 256"))
      graft.ext.Curation.kAnonymityAudit(d, Seq("lang"),
        Seq("source", "len_bucket"), 5L)
    }),
    "x100d_kanon_incremental" -> ((s, dir) => {
      // the release gate under ingest: the base split's QI-group counts
      // stage ONCE; a new batch's counts fold in by re-sum (counts are
      // sums over ROW shards — merge ≡ one-shot bit-for-bit) and the
      // audit re-evaluates from the merged table — answers x100's
      // oracle VERBATIM without rescanning the base (x98b convention).
      val d = t(s, dir, "documents")
        .withColumn("len_bucket", expr("n_chars div 256"))
      val staged = s.read.parquet(graft.ext.Dedup.stageSignatures(
        graft.ext.Curation.qiGroupCounts(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), Seq("source", "len_bucket"))))
      val batch = graft.ext.Curation.qiGroupCounts(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), Seq("source", "len_bucket"))
      graft.ext.Curation.kAnonymityFromCounts(
        graft.ext.Curation.mergeQiGroupCounts(Seq(staged, batch),
          Seq("lang"), Seq("source", "len_bucket")), Seq("lang"), 5L)
    }),
    "x100b_l_diversity" -> ((s, dir) => {
      // the attribute-disclosure gate k-anonymity misses: per language,
      // does every (source, length-bucket) QI group carry >= 3 distinct
      // token-count buckets (the ordinal "sensitive" surrogate the
      // corpus has)? Same report shape as x100, one audit column over.
      graft.ext.Curation.lDiversityAudit(x100bFrame(s, dir), Seq("lang"),
        Seq("source", "len_bucket"), "sv", 3L)
    }),
    "x100c_t_closeness" -> ((s, dir) => {
      // the distribution-disclosure gate l-diversity misses: per
      // language, the ordered-EMD (the t-closeness paper's distance for
      // ordinal attributes) between each QI group's token-count-bucket
      // distribution and the whole language's — exact rational CDF gaps
      // summed in decimal, ONE Q20 floor per group, alert at t = 0.25.
      // The dense (group × domain) frame is census-gated in-plan.
      graft.ext.Curation.tClosenessAudit(x100bFrame(s, dir), Seq("lang"),
        Seq("source", "len_bucket"), "sv")
    }),
    "x100e_ldiv_incremental" -> ((s, dir) => {
      // l-diversity under ingest: sensitive cells are counts over row
      // shards, so the base split's cell table stages ONCE and a batch
      // folds in by re-sum — the distinct-sensitive census per group is
      // the merged table's cell count, so merge ≡ one-shot bit-for-bit
      // and this answers x100b's oracle VERBATIM (x100d convention).
      val d = x100bFrame(s, dir)
      val keys = Seq("lang"); val qis = Seq("source", "len_bucket")
      val staged = s.read.parquet(graft.ext.Dedup.stageSignatures(
        graft.ext.Curation.lDiversityCells(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0), keys, qis, "sv")))
      val batch = graft.ext.Curation.lDiversityCells(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0), keys, qis, "sv")
      graft.ext.Curation.lDiversityFromCells(
        graft.ext.Curation.mergeLDiversityCells(Seq(staged, batch),
          keys, qis, "sv"), keys, qis, 3L)
    }),
    "x100f_tclose_incremental" -> ((s, dir) => {
      // t-closeness under ingest: same cell re-sum — the key's global
      // distribution and every group's CDF re-derive from merged cells,
      // so the ordered-EMD audit replays x100c's oracle VERBATIM without
      // rescanning the base split.
      val d = x100bFrame(s, dir)
      val keys = Seq("lang"); val qis = Seq("source", "len_bucket")
      val staged = s.read.parquet(graft.ext.Dedup.stageSignatures(
        graft.ext.Curation.tClosenessCells(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0), keys, qis, "sv")))
      val batch = graft.ext.Curation.tClosenessCells(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0), keys, qis, "sv")
      graft.ext.Curation.tClosenessFromCells(
        graft.ext.Curation.mergeTClosenessCells(Seq(staged, batch),
          keys, qis), keys, qis)
    }),
    "x99c_chi2_incremental" -> ((s, dir) => {
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
      val staged = s.read.parquet(graft.ext.Dedup.stageSignatures(
        graft.ext.Learn.chiSquareCells(
          lab.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), "source", "lenlab")))
      val batch = graft.ext.Learn.chiSquareCells(
        lab.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), "source", "lenlab")
      graft.ext.Learn.chiSquareFromCells(
        graft.ext.Learn.mergeChiSquareCells(Seq(staged, batch),
          Seq("lang")), Seq("lang"))
    }),
    "x98b_kappa_incremental" -> ((s, dir) => {
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
      val staged = s.read.parquet(graft.ext.Dedup.stageSignatures(
        graft.ext.Learn.confusionCells(
          lab.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), "ra", "rb")))
      val batch = graft.ext.Learn.confusionCells(
        lab.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), "ra", "rb")
      graft.ext.Learn.cohenKappaFromCells(
        graft.ext.Learn.mergeConfusionCells(Seq(staged, batch),
          Seq("lang")), Seq("lang"))
    }),
    "x98_cohen_kappa" -> ((s, dir) => {
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
    }),
    "x97h_wasserstein" -> ((s, dir) => {
      // the MAGNITUDE member of the drift family: earth-mover distance
      // of n_chars between the releases in VALUE units ("documents got
      // ~N characters longer") — exact on the shared ⌊v/64⌋ bins (the
      // CDF gap is constant between observed bins, so the integral is
      // a lead-width sum), one Q20 floor at the end.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.wassersteinDriftQ20(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L)
    }),
    "x97g_cliffs_delta" -> ((s, dir) => {
      // the SIGNED ordinal effect size completing the drift triple
      // (PSI density, KS distance, δ direction): Cliff's delta of
      // n_chars between the releases over the same ⌊v/64⌋ bins —
      // which release runs LONGER, and by how much dominance, exact
      // pair counts with one positive-mod Q20 floor.
      val d = t(s, dir, "documents")
      graft.ext.TextStats.cliffsDeltaQ20(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L)
    }),
    "x101b_kendall_incremental" -> ((s, dir) => {
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
      val staged = s.read.parquet(graft.ext.Dedup.stageSignatures(
        graft.ext.Learn.kendallCells(
          d.filter(pmod(col("doc_id"), lit(4L)) =!= 0),
          Seq("lang"), "xb", "yb")))
      val batch = graft.ext.Learn.kendallCells(
        d.filter(pmod(col("doc_id"), lit(4L)) === 0),
        Seq("lang"), "xb", "yb")
      graft.ext.Learn.kendallTauAFromCells(
        graft.ext.Learn.mergeKendallCells(Seq(staged, batch), Seq("lang")),
        Seq("lang"))
    }),
    "x101_kendall_tau" -> ((s, dir) => {
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
    }),
    "x97f_ks_drift" -> ((s, dir) => {
      // the CDF-shaped drift test beside x97e's density-shaped PSI:
      // two-sample Kolmogorov–Smirnov over the same ⌊n_chars/64⌋ bins
      // per language — exact integers end to end (cumulative counts
      // cross-multiplied by the totals; ONE Q20 floor at the very end),
      // alert at the conventional 0.1 line (⌊0.1·2²⁰⌋ = 104857).
      val d = t(s, dir, "documents")
      graft.ext.TextStats.ksDriftQ20(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L, 104857L)
    }),
    "x97e_psi_numeric" -> ((s, dir) => {
      // FEATURE drift beside x97d's language drift: per-language PSI of
      // the n_chars distribution between the releases, ⌊v/64⌋ bins
      // playing the token role on the identical epsilon-free machinery
      // — the classical production-PSI shape (binned numeric feature).
      val d = t(s, dir, "documents")
      graft.ext.TextStats.psiNumericQ8(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        Seq("lang"), "n_chars", 64L, 32L)
    }),
    "x96b_calibrated_scores" -> ((s, dir) => {
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
    }),
    "x96d_pav_scores" -> ((s, dir) => {
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
    }),
    "x96c_pav" -> ((s, dir) => {
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
    }),
    "x67_token_chunks" -> ((s, dir) =>
      // sliding token-window chunking (window 64, stride 48 → 16-token
      // overlap): the retrieval/embedding input shape, a pure projection
      // whose chunk ids are text-determined — the oracle replays every
      // window boundary and the reassembled chunk text
      graft.ext.Curation.chunkByTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 64, 48)),
    "x14f_audio_pcm_stats" -> ((s, dir) => {
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
    }),
    "x14e_image_neardup" -> ((s, dir) => {
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
    }),
    "x14c_pixel_stats" -> ((s, dir) => {
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
    }),
    "x72_passage_retrieval" -> ((s, dir) => {
      // the canonical RAG query: BM25 over PASSAGES (x67's 64/48 token
      // windows), each doc answered by its best passage, top-3 docs per
      // query. Passage id = doc_id·100000 + chunk_id (chunk counts are
      // tokens/48 — the multiplier holds to 4.8M-token docs); scoring
      // normalizes by PASSAGE length, which is the point of passage
      // retrieval. Two windows: best chunk per (query, doc), then the
      // doc ranking. The oracle rebuilds chunks, the passage index, and
      // both windows from the shared BM25 scoring CTE.
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val chunks = graft.ext.Curation.chunkByTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 64, 48)
        // loud pack: a >= 4.8M-token doc (chunk_id >= 100000) raises
        // instead of silently colliding into a neighboring doc's pids
        .select(graft.ext.Retrieval.packedId(col("doc_id"), col("chunk_id"),
            100000L).as("pid"),
          col("chunk_text"))
      val perDoc = graft.ext.Retrieval.bm25TopKJoin(chunks, "chunk_text", "pid",
          hybridQueries.toDF("qid", "qtext"), "qid", "qtext", 1 << 30)
        .select(col("qid"), col("doc_id").as("pid"), col("score_q20"))
        .withColumn("doc_id", expr("pid div 100000"))
        .withColumn("chunk_id", expr("pid % 100000"))
        .withColumn("_cr", row_number().over(
          Window.partitionBy(col("qid"), col("doc_id"))
            .orderBy(col("score_q20").desc, col("pid"))))
        .filter(col("_cr") === 1).drop("_cr")
      // web-scale ranking form (r15 verdict #5): the doc-ranking window
      // partitions by qid ALONE, so its input per query is every doc the
      // postings touched — unbounded at corpus scale. The salted two-
      // phase top-k bounds it: phase 1 keeps ≤3 per (qid, salt bucket),
      // so the qid-global window ranks ≤ 3·buckets survivor rows per
      // query; the order is total (score desc, doc_id), so the result is
      // row-identical to the plain window and x72's oracle replays it
      // verbatim (PlanSpec pins the bounded shape).
      graft.ops.Scale.saltedTopK(perDoc, "qid",
          Seq(col("score_q20").desc, col("doc_id")), 3, 16)
        .withColumn("rnk", col("rnk").cast("long"))
        .select(col("qid"), col("doc_id"), col("chunk_id"),
          col("score_q20"), col("rnk"))
    }),
    "x105_passage_eval" -> ((s, dir) => {
      // RETRIEVAL CAPSTONE (the x37 convention for the RAG side): the
      // offline passage-retrieval QA lifecycle as ONE lazy plan —
      // chunk (x67) → passage BM25 index + scoring (x43/x72) →
      // best-passage-per-doc ranking (x72's two windows) → graded
      // NDCG@3 against doc-level containment qrels (x89b's metric).
      // Each stage is oracle-proven by its own row; THIS row
      // hash-checks the COMPOSITION — chunk boundaries through passage
      // scores through doc dedup into the graded metric — end to end.
      val run = queries("x72_passage_retrieval")(s, dir)
        .select(col("qid"), col("doc_id"), col("rnk").as("rank"))
      val d = t(s, dir, "documents")
      graft.ext.Retrieval.evalNdcg(run,
        graft.ext.Retrieval.containmentQrels(d, "text", "doc_id",
          hybridQueries),
        3, graft.ext.Retrieval.ndcgDiscountsQ20(3))
    }),
    "x71_bootstrap_ci" -> ((s, dir) =>
      // deterministic Poisson bootstrap on the mean tokens-per-doc: 8
      // resamples as extra COLUMNS of one aggregation (no second pass,
      // no RNG state — weights are salted-md5 draws against fixed
      // Poisson(1) thresholds), each mean an exact Q6 floor-div. Row
      // b = -1 is the point estimate; rows 0..7 are the uncertainty
      // band the dataset card ships beside it. The oracle replays every
      // weight draw and every division.
      graft.ext.Curation.bootstrapMean(
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.ext.TextStats.tokenCount(col("text")).cast("long")
              .as("n_tok")),
        "n_tok", "doc_id", 8)
        // totals fit longs at gate scale; the operator's decimal(38,0)
        // internals are the 100 TB headroom
        .withColumn("w_total", col("w_total").cast("long"))
        .withColumn("v_total", col("v_total").cast("long"))),
    "x70_cdc_chunks" -> ((s, dir) =>
      // content-defined chunking (Rabin-boundary discipline on tokens):
      // boundaries fall where the local 4-token window hashes into the
      // 1/16 cut class, so an insertion shifts only the chunk it lands
      // in — downstream boundaries re-synchronize and dedup keeps
      // matching (x67's fixed windows all shift; DedupSpec pins the
      // contrast). Window hashes ride the codegen'd spanHashes explode;
      // cut positions reduce in ONE id-keyed agg; the oracle replays
      // every window hash, the cut class, and chunk reassembly.
      graft.ext.Dedup.cdcChunks(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", 4, 16)),
    "x69_bm25_prf" -> ((s, dir) => {
      // BM25 with RM3-style pseudo-relevance feedback: pass 1's top-3
      // docs per query donate their 2 heaviest non-query terms, pass 2
      // rescores with the expanded set — the classic recall lever over
      // x43's one-pass search, in the same exact Q20 integers so BOTH
      // passes (feedback pick, expansion mining, rescoring) hash-check
      // against the oracle's replay. Plan: two broadcast probes of ONE
      // postings frame; the corpus never reshuffles for either pass.
      import s.implicits._
      graft.ext.Retrieval.bm25PrfTopK(
        t(s, dir, "documents"), "text", "doc_id",
        hybridQueries.toDF("qid", "qtext"), "qid", "qtext", 5, 3, 2)
        .withColumn("rank", col("rank").cast("long"))
    }),
    "x68_char_bpe" -> ((s, dir) => {
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
      val charified = graft.ext.Dedup.stageAndRead(
        t(s, dir, "documents").select(
          graft.ext.TextStats.charify(col("text")).as("ctext")))
      val merges = graft.ext.TextStats.bpeTrain(charified, "ctext", 3)
      s.createDataFrame(merges)
        .select(col("merge_rank").cast("long").as("merge_rank"),
          col("a"), col("b"), col("n"))
    }),
    "s10_ivf_append" -> ((s, dir) => {
      // CONTINUOUS INGEST of the IVF layout (s9 is the one-shot write):
      // the resident 4/5 of the corpus writes the layout, the remaining
      // 1/5 arrives later and APPENDS into the same cid= directories —
      // no re-cluster, no rewrite of resident cells. The probe must see
      // ONE seamless index: the oracle is x6b's full-corpus query,
      // verbatim, so any row the append dropped, duplicated, or
      // mis-celled breaks the hash.
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      def assign(batch: org.apache.spark.sql.DataFrame) =
        Similarity.ivfAssignJoin(batch.select(col("vec_id"), col("embedding")),
          centroids, "vec_id", "embedding")
      val ldir = graft.ops.Scale.tempLayoutDir("graft_ivf_append_")
      Similarity.writeIvfPartitioned(
        assign(emb.filter(col("vec_id") % 5 =!= 0)), ldir)
      Similarity.appendIvfPartitioned(
        assign(emb.filter(col("vec_id") % 5 === 0)), ldir)
      Similarity.ivfTopKPartitioned(ldir, centroids,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5, 2)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"),
          col("rank").cast("long").as("rnk"))
    }),
    "s10b_ivf_compact" -> ((s, dir) => {
      // the FULL maintenance lifecycle (s10 stops at append): the
      // resident 3/5 writes the layout, TWO 1/5 batches append — files
      // accrete per touched cell — then compactIvfCells rewrites the hot
      // cells back toward one file each and the probe runs against the
      // compacted layout. Compaction must be invisible to answers: the
      // oracle is x6b's full-corpus query, verbatim, so a row dropped,
      // duplicated, or mis-celled by the rewrite breaks the hash
      // (PlanSpec pins the file-count drop itself).
      val emb = t(s, dir, "embeddings")
      val centroids = emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      def assign(batch: org.apache.spark.sql.DataFrame) =
        Similarity.ivfAssignJoin(batch.select(col("vec_id"), col("embedding")),
          centroids, "vec_id", "embedding")
      val ldir = graft.ops.Scale.tempLayoutDir("graft_ivf_compact_")
      Similarity.writeIvfPartitioned(
        assign(emb.filter(col("vec_id") % 5 > 1)), ldir)
      Similarity.appendIvfPartitioned(
        assign(emb.filter(col("vec_id") % 5 === 0)), ldir)
      Similarity.appendIvfPartitioned(
        assign(emb.filter(col("vec_id") % 5 === 1)), ldir)
      Similarity.compactIvfCells(s, ldir, targetRowsPerFile = 1L << 20)
      Similarity.ivfTopKPartitioned(ldir, centroids,
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5, 2)
        .select(col("q_id"), col("n_id"),
          col("score").cast("double").as("score"),
          col("rank").cast("long").as("rnk"))
    })
  )

  /** Shared CTE prefix of the x62/x62b oracles: 120-char chunks, per-chunk
    * min-md5 signatures, 2 bands, the ≤50 hot-band cap, distinct chunk
    * collisions as `hits(a_id, b_id, a_cidx, b_cidx)`. */
  private val chunkDedupCtes: String =
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

  /** The retrieval-family query batch (x43/x48/x49 share it; the oracle
    * inlines the same three rows as a VALUES table). qids 1–3 double as
    * the dense side's query vec_ids. */
  private val hybridQueries: Seq[(Long, String)] = Seq(
    1L -> "customer filter join", 2L -> "window merge sort",
    3L -> "vector stream batch")

  /** x17/x17b shared duplicate-closure replay: minhash signatures →
    * banded candidates → symmetric edges → recursive reachability →
    * min-label `labels (id, cluster_id)`. */
  private def dupClosureCtes: String =
    """WITH RECURSIVE sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         edges AS (SELECT a_id AS src, b_id AS dst FROM cand
                   UNION SELECT b_id, a_id FROM cand),
         reach AS (
           SELECT src AS id, dst AS peer FROM edges
           UNION
           SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
         labels AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                    FROM reach GROUP BY id)"""

  /** x5/x5c: the md5-bit SimHash replayed — the 60-bit token hash is the
    * first 15 md5 hex digits (matching Spark's conv(substring(md5,1,15)))
    * assembled digit-by-digit, bit sums per position, sign → bit. The
    * whitespace-only doc keeps its single empty token, exactly as the
    * Spark side's unfiltered explode does. */
  private def simhashSigCte(nBits: Int): String = {
    val v = (1 to 15).map(i =>
      s"(CAST(strpos('0123456789abcdef', substr(md5(tok), $i, 1)) - 1 AS BIGINT) * ${BigInt(16).pow(15 - i)})")
      .mkString("(", " + ", ")")
    val sums = (0 until nBits).map(i =>
      s"SUM(CASE WHEN (v >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n                  ")
    val sig = (0 until nBits).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""tk AS (
          SELECT doc_id, unnest(string_split_regex(
                   regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
          FROM documents WHERE text IS NOT NULL),
        tv AS (SELECT doc_id, $v AS v FROM tk),
        bs AS (SELECT doc_id,
                  $sums
               FROM tv GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bs)"""
  }

  /** One BM25 scoring CTE over a (qid, tok) term table — the exact
    * integer formula shared by x43's one-pass and both of x69's passes
    * (single-sourced so the engines can only drift together). */
  private def bm25ScoredCte(qt: String, out: String): String =
    s"""$out AS (
           SELECT $qt.qid, p.doc_id,
                  SUM(CAST((1048576::HUGEINT * (n - tdf + 1) * tf * 22000 * a)
                      // ((tdf + 1)::HUGEINT
                          * (tf * 10000 * a + 120 * (25 * a + 7500 * dl)))
                      AS BIGINT)) AS score_q20
           FROM post p JOIN $qt ON p.tok = $qt.tok
           JOIN dl USING (doc_id)
           JOIN tdf ON p.tok = tdf.tok
           CROSS JOIN stats
           GROUP BY 1, 2)"""

  /** Shared x43/x69 prefix: postings/lengths/dfs/corpus scalars, the
    * hybrid query batch, its distinct terms, and the pass-1 scores. */
  private def bm25BaseCtes: String =
    s"""WITH tk0 AS (
           SELECT doc_id, unnest(string_split_regex(
                    regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
           FROM documents),
         tk AS (SELECT doc_id, tok FROM tk0 WHERE tok <> ''),
         post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         dl AS (SELECT d.doc_id, COALESCE(x.dl, 0) AS dl
                FROM documents d
                LEFT JOIN (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1) x
                USING (doc_id)),
         tdf AS (SELECT tok, COUNT(*) AS tdf FROM post GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n,
                          (100::HUGEINT * COALESCE(SUM(dl), 0)) // COUNT(*) AS a
                   FROM dl),
         q AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                     (2, 'window merge sort'),
                                     (3, 'vector stream batch')) v(qid, qtext)),
         qt AS (SELECT DISTINCT qid, tok FROM (
                  SELECT qid, unnest(string_split_regex(
                           regexp_replace(qtext, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                  FROM q)
                WHERE tok <> ''),
         ${bm25ScoredCte("qt", "scored")}"""

  /** Stopword lists for the x36 lang-ID heuristic — the SINGLE SOURCE for
    * both the Spark classifier and the oracle SQL (same pattern as
    * TextStats.seededWeightsQ30 / the x15 plane matrix). */
  private val langIdLists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ich", "ein"),
    "es" -> Seq("el", "la", "que", "los", "se", "por", "con", "una"),
    "fr" -> Seq("le", "les", "des", "est", "pas", "pour", "qui", "dans"))

  /** x36 oracle body: per-language hit counts via list_intersect over the
    * same distinct-token set, then a CASE chain in alphabetical order —
    * lang L fires when its hits beat every LATER language and exceed 0,
    * which is exactly argmax-with-alphabetical-tie-break (the first
    * language in alphabetical order attaining the global max fires; any
    * earlier language would need >= L's hits to fire first, i.e. would
    * itself be the max). */
  private def langIdSql: String = {
    val ordered = langIdLists.toSeq.sortBy(_._1)
    val hitCols = ordered.map { case (l, ws) =>
      s"len(list_intersect(toks, [${ws.map(w => s"'$w'").mkString(", ")}])) AS h_$l"
    }.mkString(",\n               ")
    val langs = ordered.map(_._1)
    val cases = langs.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"h_$l >= h_$o") :+ s"h_$l > 0"
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }.mkString("\n                ")
    "WITH toksed AS (SELECT doc_id,\n" +
      "        list_distinct(string_split_regex(lower(regexp_replace(text, '^\\s+|\\s+$', '', 'g')), '\\s+')) AS toks\n" +
      "        FROM documents),\n" +
      s"      hits AS (SELECT doc_id,\n               $hitCols FROM toksed)\n" +
      s"      SELECT doc_id, CASE $cases\n                ELSE 'und' END AS lang_pred FROM hits"
  }

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

  /** SQL form of Similarity.signBucketSignature(·, 10): bit i = [dim i > 0]
    * packed into a BIGINT (1-based list indexing on the oracle side). */
  private def signBucketSql10: String = (0 until 10).map(i =>
    s"(CASE WHEN embedding[${i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
    .mkString(" + ")

  /** The x15 RHP plane matrix as a DuckDB VALUES table `(p, w)` — the SAME
    * seeded draws Similarity.rhpSignature folds into the Spark plan
    * (Similarity.rhpPlanes is the single source). Double.toString is
    * shortest-repr, so DuckDB's correctly-rounding parser reconstructs the
    * bit-identical doubles; the sign test is then Q30-exact on both sides. */
  private def rhpPlanesSql(dim: Int, nPlanes: Int): String =
    graft.ext.Similarity.rhpPlanes(dim, nPlanes).zipWithIndex.map {
      case (w, p) => s"($p, [${w.mkString(", ")}])"
    }.mkString(", ")

  /** The x31 weight table as DuckDB VALUES `(b, wq)` — the SAME seeded
    * Q30 longs TextStats.hashedLinearScoreQ30 folds into the Spark plan
    * (TextStats.seededWeightsQ30 is the single source). */
  private def qualityWeightsSql(n: Int): String =
    graft.ext.TextStats.seededWeightsQ30(n).zipWithIndex.map {
      case (w, b) => s"($b, $w)"
    }.mkString(", ")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. s9 answers
    * x6b's exact query from the cid-partitioned layout — partition pruning
    * must be invisible to RESULTS, so its oracle is x6b's, verbatim. */
  def oracleSql: Map[String, String] =
    oracleSqlBase +
      ("x59c_pagerank_weighted" -> oracleSqlBase("x59_pagerank")) +
      // weighted rounds ≡ expanded multiset, so the weighted crawl
      // cadence answers the unweighted incremental oracle verbatim
      ("x59f_weighted_crawl" -> oracleSqlBase("x59d_pagerank_incremental")) +
      ("s9_ivf_pruned_topk" -> oracleSqlBase("x6b_ann_ivf")) +
      ("s10_ivf_append" -> oracleSqlBase("x6b_ann_ivf")) +
      ("s10b_ivf_compact" -> oracleSqlBase("x6b_ann_ivf")) +
      ("x43b_bm25_indexed" -> oracleSqlBase("x43_bm25_topk")) +
      ("x43c_bm25_incremental" -> oracleSqlBase("x43_bm25_topk")) +
      ("x43d_bm25_compacted" -> oracleSqlBase("x43_bm25_topk")) +
      ("s11_ivfpq_layout" -> oracleSqlBase("x75_ivfpq_topk")) +
      ("s11b_ivfpq_append" -> oracleSqlBase("x75_ivfpq_topk")) +
      ("x74c_unigram_score_join" -> oracleSqlBase("x74b_unigram_score")) +
      ("x74d_unigram_train_join" -> oracleSqlBase("x74_unigram_train")) +
      ("x51b_card_incremental" -> oracleSqlBase("x51_dataset_card")) +
      ("x79b_cms_incremental" -> oracleSqlBase("x79_cms_heavy_hitters")) +
      ("x80b_hll_incremental" -> oracleSqlBase("x80_hll_distinct")) +
      ("x100d_kanon_incremental" -> oracleSqlBase("x100_k_anonymity")) +
      ("x100e_ldiv_incremental" -> oracleSqlBase("x100b_l_diversity")) +
      ("x100f_tclose_incremental" -> oracleSqlBase("x100c_t_closeness")) +
      ("x105_passage_eval" ->
        x105OracleSql(oracleSqlBase("x72_passage_retrieval"))) +
      ("x82b_kmv_incremental" -> oracleSqlBase("x82_kmv_overlap")) +
      ("x92b_quantile_ingest" -> oracleSqlBase("x92_quantile_sketch")) +
      ("x93b_join_size_incremental" -> oracleSqlBase("x93_cms_join_size"))

  /** Shared oracle CTE prefix for the hybrid-retrieval family (x48/x49):
    * the x43 lexical chain at k=10 — with the self-hit dropped AFTER
    * ranking, mirroring the Spark side's post-rank filter — plus the x6
    * dense chain at k=10 for query vec_ids 1–3. Kept as ONE string so the
    * two consumers can only drift together. */
  private val hybridOracleCtes: String =
    """WITH tk0 AS (
           SELECT doc_id, unnest(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
           FROM documents),
         tk AS (SELECT doc_id, tok FROM tk0 WHERE tok <> ''),
         post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         dl AS (SELECT d.doc_id, COALESCE(x.dl, 0) AS dl
                FROM documents d
                LEFT JOIN (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1) x
                USING (doc_id)),
         tdf AS (SELECT tok, COUNT(*) AS tdf FROM post GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n,
                          (100::HUGEINT * COALESCE(SUM(dl), 0)) // COUNT(*) AS a
                   FROM dl),
         q AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                     (2, 'window merge sort'),
                                     (3, 'vector stream batch')) v(qid, qtext)),
         qt AS (SELECT DISTINCT qid, tok FROM (
                  SELECT qid, unnest(string_split_regex(
                           regexp_replace(qtext, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
                  FROM q)
                WHERE tok <> ''),
         lexscore AS (
           SELECT qt.qid, p.doc_id,
                  SUM(CAST((1048576::HUGEINT * (n - tdf + 1) * tf * 22000 * a)
                      // ((tdf + 1)::HUGEINT
                          * (tf * 10000 * a + 120 * (25 * a + 7500 * dl)))
                      AS BIGINT)) AS score_q20
           FROM post p JOIN qt ON p.tok = qt.tok
           JOIN dl USING (doc_id)
           JOIN tdf ON p.tok = tdf.tok
           CROSS JOIN stats
           GROUP BY 1, 2),
         lexr AS (SELECT qid, doc_id, rank FROM (
                    SELECT qid, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY score_q20 DESC, doc_id) AS rank
                    FROM lexscore)
                  WHERE rank <= 10),
         lexf AS (SELECT * FROM lexr WHERE doc_id <> qid),
         dq AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
                WHERE vec_id IN (1, 2, 3)),
         dprod AS (SELECT dq.q_id, e.vec_id AS n_id,
                   unnest(dq.q_vec) AS qx, unnest(e.embedding) AS ex
                   FROM dq, embeddings e WHERE e.vec_id <> dq.q_id),
         ddp AS (SELECT q_id, n_id,
                 SUM(CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE) * 1073741824) AS BIGINT)) AS s
                 FROM dprod GROUP BY q_id, n_id),
         denser AS (SELECT q_id, n_id, rnk FROM (
                      SELECT q_id, n_id,
                             ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY s DESC, n_id) AS rnk
                      FROM ddp)
                    WHERE rnk <= 10)"""

  /** The k-means‖ seeding oracle (x35b AND x35c — the literal and
    * data-driven paths are bit-parity by contract, so one replay answers
    * both): both Bahmani rounds unrolled — Q30 distance lambdas, the
    * 4-hex md5 draw against the cross-multiplied HUGEINT inequality, the
    * final nearest-candidate weighting, and the (weight desc, id) top-k
    * cut. */
  private val kppSeedOracleSql: String = {
    def dist(a: String, b: String) =
      s"""list_sum(list_transform(generate_series(1, len($a)), i ->
          CAST(floor((CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
                     * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
                     * 1073741824) AS BIGINT)))"""
    def h16(r: Int) =
      s"""(((CAST(strpos('0123456789abcdef', substr(md5(CAST(p.vec_id AS VARCHAR) || ':kpp:$r'), 1, 1)) - 1 AS BIGINT) * 16
           + strpos('0123456789abcdef', substr(md5(CAST(p.vec_id AS VARCHAR) || ':kpp:$r'), 2, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(md5(CAST(p.vec_id AS VARCHAR) || ':kpp:$r'), 3, 1)) - 1) * 16
           + strpos('0123456789abcdef', substr(md5(CAST(p.vec_id AS VARCHAR) || ':kpp:$r'), 4, 1)) - 1)"""
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       c0 AS (SELECT vec_id AS cand_id, embedding AS cvec
              FROM e ORDER BY vec_id LIMIT 1),
       p1 AS (SELECT x.vec_id, MIN(${dist("x.embedding", "c.cvec")}) AS d2
              FROM e x CROSS JOIN c0 c GROUP BY x.vec_id),
       t1 AS (SELECT CAST(SUM(d2) AS HUGEINT) AS tot FROM p1),
       s1 AS (SELECT p.vec_id FROM p1 p, t1
              WHERE CAST(${h16(1)} AS HUGEINT) * tot
                    < 524288 * CAST(p.d2 AS HUGEINT)),
       c1 AS (SELECT cand_id, cvec FROM c0
              UNION ALL
              SELECT e.vec_id, e.embedding FROM e JOIN s1 USING (vec_id)
              WHERE e.vec_id NOT IN (SELECT cand_id FROM c0)),
       p2 AS (SELECT x.vec_id, MIN(${dist("x.embedding", "c.cvec")}) AS d2
              FROM e x CROSS JOIN c1 c GROUP BY x.vec_id),
       t2 AS (SELECT CAST(SUM(d2) AS HUGEINT) AS tot FROM p2),
       s2 AS (SELECT p.vec_id FROM p2 p, t2
              WHERE CAST(${h16(2)} AS HUGEINT) * tot
                    < 524288 * CAST(p.d2 AS HUGEINT)),
       c2 AS (SELECT cand_id, cvec FROM c1
              UNION ALL
              SELECT e.vec_id, e.embedding FROM e JOIN s2 USING (vec_id)
              WHERE e.vec_id NOT IN (SELECT cand_id FROM c1)),
       asn AS (SELECT x.vec_id, c.cand_id,
                      ROW_NUMBER() OVER (PARTITION BY x.vec_id
                        ORDER BY ${dist("x.embedding", "c.cvec")} ASC,
                                 c.cand_id ASC) AS rn
               FROM e x CROSS JOIN c2 c),
       w AS (SELECT c.cand_id, COUNT(a.vec_id) AS weight
             FROM c2 c
             LEFT JOIN (SELECT vec_id, cand_id FROM asn WHERE rn = 1) a
               USING (cand_id)
             GROUP BY c.cand_id),
       fin AS (SELECT cand_id, weight,
                      ROW_NUMBER() OVER (ORDER BY weight DESC, cand_id ASC)
                        - 1 AS cid
               FROM w)
       SELECT CAST(cid AS BIGINT) AS cid, CAST(cand_id AS BIGINT) AS cand_id,
              CAST(weight AS BIGINT) AS weight
       FROM fin WHERE cid < 8"""
  }

  /** Shared CTE prefix of the x13b/x13d oracles: the 5-char-shingle
    * minhash signatures (k=4) and the 2-band LSH candidate pairs they
    * imply — one definition so the two verifies provably run over the
    * same candidate set. */
  private val lshCandCtes: String =
    """sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4)))"""

  /** The x77/x77b Kneser–Ney model chain: bigram counts, context count +
    * left diversity, right diversity, type total, and the one-floor-div
    * interpolated score per pair rolled up per doc (doc_id, n_pairs,
    * sum_p_q30) over HUGEINT — shared verbatim by the score query and
    * the perplexity-bucket query so the two oracles can't drift. */
  private val knBigramCtes: String =
    """toks AS (
           SELECT doc_id, string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2),
         bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM w0),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         ctx AS (SELECT w1, SUM(c2) AS c1x, COUNT(*) AS n1l
                 FROM c2 GROUP BY 1),
         cr AS (SELECT w2, COUNT(*) AS n1r FROM c2 GROUP BY 1),
         nb AS (SELECT COUNT(*) AS nbt FROM c2),
         sc AS (
           SELECT bg.doc_id, COUNT(*) AS n_pairs,
                  CAST(SUM(CASE WHEN x.c1x IS NOT NULL THEN
                         CAST((1073741824::HUGEINT *
                               (CASE WHEN c2.c2 IS NOT NULL
                                  THEN (4::HUGEINT * c2.c2 - 3) * nb.nbt
                                  ELSE 0::HUGEINT END
                                + 3::HUGEINT * COALESCE(x.n1l, 0)
                                             * COALESCE(r.n1r, 0)))
                              // (4::HUGEINT * x.c1x * nb.nbt) AS BIGINT)
                       WHEN nb.nbt > 0 THEN
                         CAST((1073741824::HUGEINT * COALESCE(r.n1r, 0))
                              // nb.nbt AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sum_p_q30
           FROM bg
           LEFT JOIN c2 USING (w1, w2)
           LEFT JOIN ctx x ON bg.w1 = x.w1
           LEFT JOIN cr r ON bg.w2 = r.w2
           CROSS JOIN nb
           GROUP BY 1)"""

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
  private def hllOracleSql(srcCtes: String, keyOut: String): String = {
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

  private val x80OracleSql: String = hllOracleSql(
    """tk AS (SELECT lang, unnest(string_split_regex(
             regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
           FROM documents WHERE text IS NOT NULL),
         tks AS (SELECT lang, tok FROM tk WHERE tok <> '')""", "lang")

  private val a2bOracleSql: String = hllOracleSql(
    """tks AS (SELECT 'l_partkey' AS lang, CAST(l_partkey AS VARCHAR) AS tok
               FROM lineitem
               UNION ALL
               SELECT 'l_suppkey' AS lang, CAST(l_suppkey AS VARCHAR) AS tok
               FROM lineitem)""", "colname")

  /** The x82 KMV-overlap oracle (x82b answers it verbatim): the 3-word
    * shingle stream with the truncated-short-doc rule (concat_ws skips
    * out-of-range members — the wordNgrams zip-of-slices semantics),
    * the 48-bit 12-nibble ":kmv"-salted md5 hashes, per-side bottom-256
    * samples, the bottom-256 of their union, the membership count
    * j_num, the (k−1)·2⁴⁸ // (h₍ₖ₎+1) union estimate with the exact
    * small-regime arm, the j_num·union_est // k_eff intersection
    * estimate, and the exact union/intersection audit — every integer
    * replayed over HUGEINT. */
  private val x82OracleSql: String = {
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
  }

  /** The x84 priority-sampling oracle: the 48-bit ":pri"-salted md5
    * priorities, the (q desc, id) top-101 cut, τ = min q of a FULL
    * top-101 (0 otherwise — the take-all regime), and ŵ = max(w, τ),
    * every integer replayed over HUGEINT. */
  private val x84OracleSql: String = {
    val h12 = (1 to 12).map(i =>
      s"(CAST(strpos('0123456789abcdef', " +
        s"substr(md5(CAST(doc_id AS VARCHAR) || ':pri'), $i, 1)) " +
        s"- 1 AS BIGINT) * ${BigInt(16).pow(12 - i)})")
      .mkString("(", "\n                + ", ")")
    s"""WITH k AS (SELECT doc_id, n_chars,
             CAST((n_chars::HUGEINT * 281474976710656)
                  // ($h12 + 1) AS BIGINT) AS q
           FROM documents),
         top AS (SELECT * FROM k ORDER BY q DESC, doc_id LIMIT 101),
         tau AS (SELECT CASE WHEN COUNT(*) = 101 THEN MIN(q) ELSE 0 END AS t
                 FROM top),
         smp AS (SELECT * FROM top ORDER BY q DESC, doc_id LIMIT 100)
         SELECT smp.doc_id, smp.n_chars,
                GREATEST(smp.n_chars, tau.t) AS w_adj
         FROM smp CROSS JOIN tau"""
  }

  /** The x84b stratified-priority oracle: the same 48-bit priorities,
    * per-language rank window, per-stratum τ from the kept rank-21 row
    * (0 when the stratum fits in 20 — exact regime), ŵ = max(w, τ). */
  private val x84bOracleSql: String = {
    val h12 = (1 to 12).map(i =>
      s"(CAST(strpos('0123456789abcdef', " +
        s"substr(md5(CAST(doc_id AS VARCHAR) || ':pri'), $i, 1)) " +
        s"- 1 AS BIGINT) * ${BigInt(16).pow(12 - i)})")
      .mkString("(", "\n                + ", ")")
    s"""WITH k AS (SELECT lang, doc_id, n_chars,
             CAST((n_chars::HUGEINT * 281474976710656)
                  // ($h12 + 1) AS BIGINT) AS q
           FROM documents),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY q DESC, doc_id) AS rn FROM k),
         kept AS (SELECT * FROM r WHERE rn <= 21),
         tau AS (SELECT lang, COALESCE(MAX(CASE WHEN rn = 21 THEN q END), 0)
                          AS t
                 FROM kept GROUP BY 1)
         SELECT kept.lang, kept.doc_id, kept.n_chars,
                GREATEST(kept.n_chars, tau.t) AS w_adj
         FROM kept JOIN tau USING (lang) WHERE kept.rn <= 20"""
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

  /** x92: sketch estimates joined to the same-rank-rule exact values. */
  private val x92OracleSql: String =
    qsOracleCtes(Seq(500, 900, 990)) + s""",
         xr AS (SELECT lang, v,
                  COUNT(*) OVER (PARTITION BY lang) AS n,
                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY v) AS vr
                FROM dv),
         ex AS (SELECT lang, permille, v AS exact
                FROM xr CROSS JOIN p
                WHERE vr = GREATEST(1, (permille * n + 999) // 1000))
         SELECT est.lang, CAST(est.permille AS BIGINT) AS permille,
                CAST(est.est AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact
         FROM est JOIN ex USING (lang, permille)"""

  /** x93: the count–min inner-product join-size estimate replayed —
    * both event streams' 4×1024 cell tables from the 5-nibble md5
    * position chain, per-row Σ a·b over the cell equi-join with absent
    * rows reading 0, MIN over the 4 rows, and the exact
    * Σ_u views(u)·purchases(u) audit. */
  private val x93OracleSql: String =
    s"""WITH hs AS (SELECT h FROM generate_series(0, 3) t(h)),
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
         FROM est CROSS JOIN ex"""

  /** et7: the hourly-window quantile-sketch estimates replayed — exact
    * decimal cents, floor-division hour buckets, the ":qtl" hash chain
    * over event_id, per-window bottom-64 state, rank estimates. */
  private val et7OracleSql: String = {
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
  }

  /** x94: per-doc char-entropy replayed — per-char substr expansion,
    * (doc, char) counts, TWO Q8 log chains (counts and totals — the
    * unigram-oracle arithmetic), and the exact
    * (n·lq(n) − Σ k·lq(k)) // n fold. */
  private val x94OracleSql: String = {
    def lq(src: String, keys: String, v: String): Seq[String] = {
      val l0 = s"${src}_l0 AS MATERIALIZED (SELECT $keys, $v AS vv, " +
        s"length(bin($v)) - 1 AS e, " +
        s"($v * 256) // (1::BIGINT << (length(bin($v)) - 1)) AS m, " +
        "0::BIGINT AS a FROM " + src + ")"
      val steps = (1 to 8).map { i =>
        s"""${src}_l$i AS MATERIALIZED (SELECT $keys, vv, e,
          CASE WHEN (m*m)//256 >= 512 THEN ((m*m)//256)//2 ELSE (m*m)//256 END AS m,
          a*2 + CASE WHEN (m*m)//256 >= 512 THEN 1 ELSE 0 END AS a
          FROM ${src}_l${i - 1})"""
      }
      (l0 +: steps) :+
        s"${src}_lq AS MATERIALIZED (SELECT $keys, vv, e*256 + a AS lq FROM ${src}_l8)"
    }
    val parts = Seq(
      """ch AS MATERIALIZED (SELECT doc_id, substr(text, i, 1) AS c
         FROM (SELECT doc_id, text,
                      unnest(generate_series(1, length(text))) AS i
               FROM documents WHERE text IS NOT NULL))""",
      "cc AS MATERIALIZED (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2)") ++
      lq("cc", "doc_id, c", "k") ++
      Seq("nn AS MATERIALIZED (SELECT doc_id, SUM(k) AS n FROM cc GROUP BY 1)") ++
      lq("nn", "doc_id", "n")
    "WITH " + parts.mkString(",\n  ") + """
      SELECT s.doc_id, CAST(n.vv AS BIGINT) AS n_chars_counted,
             CAST((n.vv * n.lq - s.sc) // n.vv AS BIGINT) AS ent_q8
      FROM (SELECT doc_id, SUM(vv * lq) AS sc FROM cc_lq GROUP BY 1) s
      JOIN nn_lq n USING (doc_id)"""
  }

  /** x95: distinct-n diversity replayed — the wordNgrams slice-zip
    * semantics per n (short docs truncate, concat_ws skips the null
    * tail), per-doc multiplicity kept, Q20 unique/total ratio. */
  /** x97: quantized-JSD release drift replayed — per-release (lang, tok)
    * counts, full-outer merge, Q20 probability floors, the shared Q8
    * integer-log chain on 2·pq / 2·qq / pq+qq (arguments ≤ 2²¹), HUGEINT
    * term sums, explicit positive-mod floor divisions (duckdb's //
    * truncates toward zero on integers; trunc == floor only for the
    * non-negative intermediates, and the final sums can be negative). */
  /** x97-family shared CTEs: per-release (lang, tok) counts, full-outer
    * merge, per-lang totals, Q20 probability floors — ends at `q`. */
  private val x97BaseCtes: Seq[String] = Seq(
      s"""base AS MATERIALIZED (SELECT doc_id, lang,
           string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'),
             '\\s+') AS tk
         FROM documents WHERE text IS NOT NULL
           AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> '')""",
      """ca AS MATERIALIZED (SELECT lang, tok, COUNT(*) AS a FROM (
           SELECT lang, unnest(tk) AS tok FROM base WHERE doc_id % 2 = 0)
         GROUP BY 1, 2)""",
      """cb AS MATERIALIZED (SELECT lang, tok, COUNT(*) AS b FROM (
           SELECT lang, unnest(tk) AS tok FROM base WHERE doc_id % 2 = 1)
         GROUP BY 1, 2)""",
      """j AS MATERIALIZED (SELECT COALESCE(ca.lang, cb.lang) AS lang,
              COALESCE(ca.tok, cb.tok) AS tok,
              COALESCE(a, 0) AS a, COALESCE(b, 0) AS b
         FROM ca FULL OUTER JOIN cb
           ON ca.lang = cb.lang AND ca.tok = cb.tok)""",
      """tt AS MATERIALIZED (SELECT lang, SUM(a) AS na, SUM(b) AS nb,
              SUM(CASE WHEN a > 0 THEN 1 ELSE 0 END) AS va,
              SUM(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS vb
         FROM j GROUP BY 1)""",
      """q AS MATERIALIZED (SELECT j.lang, j.tok, j.a, j.b,
              CASE WHEN t.na > 0 THEN (1048576 * j.a) // t.na ELSE 0 END AS pq,
              CASE WHEN t.nb > 0 THEN (1048576 * j.b) // t.nb ELSE 0 END AS qq
         FROM j JOIN tt t ON t.lang = j.lang)""")

  /** Shared x41d/x41e CTE chain: md5 5-token windows, occ-capped
    * digest pairs, per-diagonal gaps-and-islands run merging, and the
    * token-slice verification — ends at
    * `ver (a_id, b_id, a_start, b_start, n_tokens, verified)` with a
    * `toks (doc_id, t)` CTE still in scope for rebuilds. */
  private val sharedSpansCtes: String =
    """WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, i, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, i, h, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM w),
         sp AS (SELECT doc_id, i, h FROM occ WHERE n_occ BETWEEN 2 AND 64),
         m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.i AS ap,
                      a.i - b.i AS diag
               FROM sp a JOIN sp b ON a.h = b.h AND a.doc_id < b.doc_id),
         r AS (SELECT a_id, b_id, diag, ap,
                 ap - row_number() OVER (PARTITION BY a_id, b_id, diag
                                         ORDER BY ap) AS isl
               FROM m),
         runs AS (SELECT a_id, b_id, diag, MIN(ap) AS a_start,
                    MAX(ap) - MIN(ap) + 5 AS n_tokens
                  FROM r GROUP BY a_id, b_id, diag, isl),
         ver AS (SELECT r.a_id, r.b_id, r.a_start,
                   r.a_start - r.diag AS b_start, r.n_tokens,
                   CASE WHEN ta.t[r.a_start+1:r.a_start+r.n_tokens]
                          = tb.t[(r.a_start-r.diag)+1:(r.a_start-r.diag)+r.n_tokens]
                        THEN 1 ELSE 0 END AS verified
                 FROM runs r JOIN toks ta ON ta.doc_id = r.a_id
                             JOIN toks tb ON tb.doc_id = r.b_id)"""

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

  /** CTE chain replaying [[graft.ext.Unigram.log2q8]] in DuckDB over a
    * (lang, tok, v) source: exponent from the bit length, 8 squaring
    * rounds for the mantissa bits — ends at `<src>_lq (lang, tok, lq)`.
    * Shared by every x97-family oracle that needs the exact Q8 log. */
  private def oracleLog2q8Ctes(src: String): Seq[String] = {
    val l0 = s"""${src}_l0 AS MATERIALIZED (SELECT lang, tok, v,
      length(bin(v)) - 1 AS e,
      (v * 256) // (1::BIGINT << (length(bin(v)) - 1)) AS m,
      0::BIGINT AS acc FROM $src)"""
    val steps = (1 to 8).map { i =>
      s"""${src}_l$i AS MATERIALIZED (SELECT lang, tok, v, e,
        CASE WHEN (m*m)//256 >= 512 THEN ((m*m)//256)//2 ELSE (m*m)//256 END AS m,
        acc*2 + CASE WHEN (m*m)//256 >= 512 THEN 1 ELSE 0 END AS acc
        FROM ${src}_l${i - 1})"""
    }
    (l0 +: steps) :+
      s"${src}_lq AS MATERIALIZED (SELECT lang, tok, e*256 + acc AS lq FROM ${src}_l8)"
  }

  private val x97OracleSql: String = {
    def lq(src: String): Seq[String] = oracleLog2q8Ctes(src)
    val parts = x97BaseCtes ++ Seq(
      "p2 AS MATERIALIZED (SELECT lang, tok, 2 * pq AS v FROM q WHERE pq >= 1)",
      "q2 AS MATERIALIZED (SELECT lang, tok, 2 * qq AS v FROM q WHERE qq >= 1)",
      "mm AS MATERIALIZED (SELECT lang, tok, pq + qq AS v FROM q WHERE pq >= 1 OR qq >= 1)") ++
      lq("p2") ++ lq("q2") ++ lq("mm") ++ Seq(
      """sp AS (SELECT q.lang,
              SUM(CAST(q.pq AS HUGEINT) * (p.lq - m.lq)) AS s
         FROM q
         JOIN p2_lq p ON p.lang = q.lang AND p.tok = q.tok
         JOIN mm_lq m ON m.lang = q.lang AND m.tok = q.tok
         GROUP BY 1)""",
      """sq AS (SELECT q.lang,
              SUM(CAST(q.qq AS HUGEINT) * (p.lq - m.lq)) AS s
         FROM q
         JOIN q2_lq p ON p.lang = q.lang AND p.tok = q.tok
         JOIN mm_lq m ON m.lang = q.lang AND m.tok = q.tok
         GROUP BY 1)""")
    "WITH " + parts.mkString(",\n  ") + """
      -- FLOOR division, spelled out: duckdb's // TRUNCATES toward zero
      -- on integers (-5 // 2^20 = 0, not -1), so the slightly-negative
      -- quantization-residue sums need the positive-mod correction the
      -- engine uses (subtract the positive mod, then divide the exact
      -- multiple — trunc == floor on multiples)
      SELECT t.lang, CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
             CAST(t.va AS BIGINT) AS vocab_a, CAST(t.vb AS BIGINT) AS vocab_b,
             CAST((COALESCE(s1.s, 0)
                   - ((COALESCE(s1.s, 0) % 1048576 + 1048576) % 1048576))
                  // 1048576 AS BIGINT) AS kl_am_q8,
             CAST((COALESCE(s2.s, 0)
                   - ((COALESCE(s2.s, 0) % 1048576 + 1048576) % 1048576))
                  // 1048576 AS BIGINT) AS kl_bm_q8,
             CAST((COALESCE(s1.s, 0) + COALESCE(s2.s, 0)
                   - (((COALESCE(s1.s, 0) + COALESCE(s2.s, 0)) % 2097152
                       + 2097152) % 2097152))
                  // 2097152 AS BIGINT) AS jsd_q8
      FROM tt t
      LEFT JOIN sp s1 ON s1.lang = t.lang
      LEFT JOIN sq s2 ON s2.lang = t.lang"""
  }

  /** The PSI oracle tail over ANY CTE prefix ending at
    * `q (lang, tok, a, b, pq, qq)` + `tt (lang, na, nb, …)`: two-sided
    * tokens only (the engine's epsilon-free convention; excluded mass
    * reported per side), exact Q8 log chains, thresholded alert at 32
    * Q8. Every term is non-negative (the quantized log is monotone),
    * so the bare `//` is floor here. Shared by the token form (x97d)
    * and the numeric-bin form (x97e). */
  private def psiOracleSql(prefix: Seq[String]): String = {
    val parts = prefix ++ Seq(
      "pp AS MATERIALIZED (SELECT lang, tok, pq AS v FROM q WHERE pq >= 1 AND qq >= 1)",
      "qp AS MATERIALIZED (SELECT lang, tok, qq AS v FROM q WHERE pq >= 1 AND qq >= 1)") ++
      oracleLog2q8Ctes("pp") ++ oracleLog2q8Ctes("qp") ++ Seq(
      """ps AS (SELECT q.lang,
              SUM(CAST(q.pq - q.qq AS HUGEINT) * (p.lq - s.lq)) AS s,
              COUNT(*) AS cm
         FROM q
         JOIN pp_lq p ON p.lang = q.lang AND p.tok = q.tok
         JOIN qp_lq s ON s.lang = q.lang AND s.tok = q.tok
         GROUP BY 1)""",
      """xm AS (SELECT lang,
              SUM(CASE WHEN NOT (pq >= 1 AND qq >= 1) THEN pq ELSE 0 END) AS xa,
              SUM(CASE WHEN NOT (pq >= 1 AND qq >= 1) THEN qq ELSE 0 END) AS xb
         FROM q GROUP BY 1)""")
    "WITH " + parts.mkString(",\n  ") + """
      SELECT t.lang, CAST(t.na AS BIGINT) AS n_a, CAST(t.nb AS BIGINT) AS n_b,
             CAST(COALESCE(ps.cm, 0) AS BIGINT) AS common_tokens,
             CAST(COALESCE(xm.xa, 0) AS BIGINT) AS onesided_mass_a_q20,
             CAST(COALESCE(xm.xb, 0) AS BIGINT) AS onesided_mass_b_q20,
             CAST(COALESCE(ps.s, 0) // 1048576 AS BIGINT) AS psi_q8,
             CAST(CASE WHEN COALESCE(ps.s, 0) // 1048576 >= 32
                  THEN 1 ELSE 0 END AS BIGINT) AS alert
      FROM tt t
      LEFT JOIN ps ON ps.lang = t.lang
      LEFT JOIN xm ON xm.lang = t.lang"""
  }

  private val x97dOracleSql: String = psiOracleSql(x97BaseCtes)

  /** x97e: the same PSI over NUMERIC bins — per-language ⌊n_chars/64⌋
    * histogram counts per release play the token role (n_chars ≥ 0, so
    * the bare `//` is floor). */
  private val x97eOracleSql: String = psiOracleSql(Seq(
    """ca AS MATERIALIZED (SELECT lang, (n_chars // 64) AS tok, COUNT(*) AS a
         FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
         GROUP BY 1, 2)""",
    """cb AS MATERIALIZED (SELECT lang, (n_chars // 64) AS tok, COUNT(*) AS b
         FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
         GROUP BY 1, 2)""") ++ x97BaseCtes.drop(3))

  /** x98/x98b: Cohen's kappa replayed — confusion cells, marginals,
    * the HUGEINT chance term, and the positive-mod floor (kappa can be
    * negative); p_e = 1 degenerates to NULL, never a fake 0. */
  private val x98OracleSql: String =
    """WITH lab AS (
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
         FROM calc"""

  /** x98c/x98d: Fleiss' kappa replayed via the binary-label shortcut
    * (labels are long/short, so n_long determines the item's whole cell
    * vector: n_short = 3 − n_long): S = Σ(n_l² + n_s²), T = 3n, pooled
    * ΣC², κ = [T(S−T) − (m−1)ΣC²] / [(m−1)(T² − ΣC²)] with m = 3 and
    * the positive-mod floor (κ can be negative); den = 0 → NULL. The
    * three labelers replay the engine's exactly (whitespace tokens ≥ 40,
    * n_chars ≥ 256 — NULL reads short both sides — spaces ≥ 39). */
  private val x98cOracleSql: String =
    """WITH lab AS (
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
         FROM kap"""

  /** x98e: Krippendorff's alpha replayed through the binary-label
    * shortcut: per item the label vector is (va always, vb, vc with the
    * single-token abstention), m_u its non-null count (items with < 2
    * pairable ratings drop), nl the long-votes; the per-item rational
    * (m² − nl² − (m−nl)²)/(m−1) clears exactly through L = lcm(1,2) = 2
    * (factor 2 at m=2, 1 at m=3); α = [den − (N−1)·Σterms]/den over
    * den = 2(N² − ΣC²), positive-mod Q20 floor (α can be negative),
    * NULL on the degenerate denominator. */
  private val x98eOracleSql: String =
    """WITH lab AS (
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
         FROM calc"""

  /** x99: Pearson chi-square replayed — cells, marginals, the censused
    * observed-label cross (zero cells carry their expectation), and the
    * SAME two-stage floor as the engine: t = ⌊d²/(R·C)⌋ then
    * ⌊2²⁰·Σt/N⌋ (both dividends ≥ 0, so the bare `//` is floor). */
  private val x99OracleSql: String =
    """WITH lab AS (
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
         FROM dd GROUP BY lang, n"""

  /** x97f: the two-sample KS replayed — the same ⌊n_chars/64⌋ bins as
    * x97e (n_chars ≥ 0, bare `//` is floor), cumulative counts per
    * language via a window sum, the gap cross-multiplied by the totals
    * in HUGEINT, and ONE Q20 floor at the end (all factors ≥ 0, so the
    * bare `//` is floor there too); a one-sided language is NULL. */
  private val x97fOracleSql: String =
    """WITH ha AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS ca
           FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         hb AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS cb
           FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         m AS (SELECT COALESCE(ha.lang, hb.lang) AS lang,
                      COALESCE(ha.bin, hb.bin) AS bin,
                      COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
               FROM ha FULL JOIN hb
                 ON ha.lang = hb.lang AND ha.bin = hb.bin),
         c AS (SELECT lang,
                 SUM(ca) OVER (PARTITION BY lang ORDER BY bin) AS cma,
                 SUM(cb) OVER (PARTITION BY lang ORDER BY bin) AS cmb,
                 SUM(ca) OVER (PARTITION BY lang) AS na,
                 SUM(cb) OVER (PARTITION BY lang) AS nb
               FROM m),
         g AS (SELECT lang, na, nb, COUNT(*) AS n_bins,
                 MAX(ABS(CAST(cma AS HUGEINT) * nb
                         - CAST(cmb AS HUGEINT) * na)) AS gap
               FROM c GROUP BY 1, 2, 3),
         k AS (SELECT lang, na, nb, n_bins,
                 CASE WHEN na = 0 OR nb = 0 THEN NULL
                      ELSE CAST((1048576::HUGEINT * gap)
                                // (CAST(na AS HUGEINT) * nb) AS BIGINT)
                 END AS ks_q20
               FROM g)
         SELECT lang, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CAST(n_bins AS BIGINT) AS n_bins, ks_q20,
                CAST(CASE WHEN ks_q20 IS NOT NULL AND ks_q20 >= 104857
                     THEN 1 ELSE 0 END AS BIGINT) AS alert
         FROM k"""

  /** x97g: Cliff's delta replayed — the same ⌊n_chars/64⌋ bins and
    * cumulative window as the KS, pair counts from (a-mass × strictly
    * lower / strictly higher B-mass), the signed positive-mod Q20
    * floor over n_a·n_b; one-sided → NULL. */
  private val x97gOracleSql: String =
    """WITH ha AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS ca
           FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         hb AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS cb
           FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         m AS (SELECT COALESCE(ha.lang, hb.lang) AS lang,
                      COALESCE(ha.bin, hb.bin) AS bin,
                      COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
               FROM ha FULL JOIN hb
                 ON ha.lang = hb.lang AND ha.bin = hb.bin),
         c AS (SELECT lang, ca, cb,
                 SUM(cb) OVER (PARTITION BY lang ORDER BY bin) AS cmb,
                 SUM(ca) OVER (PARTITION BY lang) AS na,
                 SUM(cb) OVER (PARTITION BY lang) AS nb
               FROM m),
         g AS (SELECT lang, na, nb,
                 SUM(CAST(ca AS HUGEINT) * (cmb - cb)) AS gt,
                 SUM(CAST(ca AS HUGEINT) * (nb - cmb)) AS lt
               FROM c GROUP BY 1, 2, 3),
         k AS (SELECT lang, na, nb, gt, lt,
                 1048576::HUGEINT * (gt - lt) AS x,
                 CAST(na AS HUGEINT) * nb AS dn
               FROM g)
         SELECT lang, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CAST(gt AS BIGINT) AS n_gt, CAST(lt AS BIGINT) AS n_lt,
                CASE WHEN na = 0 OR nb = 0 THEN NULL
                     ELSE CAST((x - ((x % dn + dn) % dn)) // dn AS BIGINT)
                END AS delta_q20
         FROM k"""

  /** x97h: Wasserstein-1 replayed — the shared bin/cumulative frame
    * plus a LEAD(bin) segment width; the gap is constant between
    * observed bins, the last bin contributes 0, one Q20·binWidth
    * floor (all operands ≥ 0 → bare `//`). */
  private val x97hOracleSql: String =
    """WITH ha AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS ca
           FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         hb AS (SELECT lang, (n_chars // 64) AS bin, COUNT(*) AS cb
           FROM documents WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
           GROUP BY 1, 2),
         m AS (SELECT COALESCE(ha.lang, hb.lang) AS lang,
                      COALESCE(ha.bin, hb.bin) AS bin,
                      COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
               FROM ha FULL JOIN hb
                 ON ha.lang = hb.lang AND ha.bin = hb.bin),
         c AS (SELECT lang, bin, ca, cb,
                 SUM(ca) OVER (PARTITION BY lang ORDER BY bin) AS cma,
                 SUM(cb) OVER (PARTITION BY lang ORDER BY bin) AS cmb,
                 SUM(ca) OVER (PARTITION BY lang) AS na,
                 SUM(cb) OVER (PARTITION BY lang) AS nb,
                 LEAD(bin) OVER (PARTITION BY lang ORDER BY bin) AS nx
               FROM m),
         g AS (SELECT lang, na, nb,
                 SUM(CASE WHEN nx IS NULL THEN 0
                     ELSE ABS(CAST(cma AS HUGEINT) * nb
                              - CAST(cmb AS HUGEINT) * na) * (nx - bin)
                     END) AS s
               FROM c GROUP BY 1, 2, 3)
         SELECT lang, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                CASE WHEN na = 0 OR nb = 0 THEN NULL
                     ELSE CAST((1048576::HUGEINT * 64 * s)
                               // (CAST(na AS HUGEINT) * nb) AS BIGINT)
                END AS w1_q20
         FROM g"""

  /** x101: Kendall's tau-a replayed — bucketed score cells, the
    * strict-upper cell self-join for concordant/discordant pair sums,
    * and the signed positive-mod floor over n(n−1). */
  private val x101OracleSql: String =
    """WITH lab AS (
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
         FROM calc"""

  /** x102: greedy k-center replayed — seed = min(vec_id), then four
    * unrolled farthest-point rounds: per round, pairwise Q30 squared-
    * Euclidean to every chosen center (the quantizedDistQ30 per-
    * component floor), MIN per point, argmax with id-asc ties, chosen
    * set grows by one. */
  private val kcenterDistSql: String =
    "SUM(CAST(floor((CAST(ex AS DOUBLE) - CAST(cx AS DOUBLE)) " +
      "* (CAST(ex AS DOUBLE) - CAST(cx AS DOUBLE)) * 1073741824) AS BIGINT))"

  private def kcenterCtes: String = {
    def round(r: Int): String =
      s"""pd$r AS (SELECT pid, cid, $kcenterDistSql AS d
            FROM (SELECT e.vec_id AS pid, c.vec_id AS cid,
                         unnest(e.embedding) AS ex, unnest(c.embedding) AS cx
                  FROM embeddings e, ch$r c)
            GROUP BY pid, cid),
          pk$r AS (SELECT pid, MIN(d) AS mind FROM pd$r
                   WHERE pid NOT IN (SELECT vec_id FROM ch$r)
                   GROUP BY pid
                   ORDER BY mind DESC, pid LIMIT 1),
          ch${r + 1} AS (SELECT vec_id, embedding FROM ch$r
                         UNION ALL
                         SELECT e.vec_id, e.embedding FROM embeddings e
                         JOIN pk$r ON e.vec_id = pk$r.pid)"""
    "WITH ch1 AS (SELECT vec_id, embedding FROM embeddings " +
      "WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),\n" +
      (1 to 4).map(round).mkString(",\n")
  }

  private val x102OracleSql: String =
    kcenterCtes + "\n" +
      """SELECT CAST(1 AS BIGINT) AS pick_rank,
                CAST(vec_id AS BIGINT) AS vec_id,
                CAST(NULL AS BIGINT) AS mindist_q30 FROM ch1""" +
      (1 to 4).map(r =>
        s""" UNION ALL SELECT CAST(${r + 1} AS BIGINT),
               CAST(pid AS BIGINT), CAST(mind AS BIGINT) FROM pk$r""")
        .mkString

  /** x102b: the assignment replayed — the shared selection rounds, a
    * (rank, center) table, pairwise distance to the five chosen in the
    * same Q30 integers, argmin with ties to the LOWER rank, per-center
    * census. */
  private val x102bOracleSql: String =
    kcenterCtes +
      s""",
         rk AS (SELECT CAST(1 AS BIGINT) AS r, vec_id FROM ch1
                ${(1 to 4).map(r =>
        s"UNION ALL SELECT CAST(${r + 1} AS BIGINT), pid FROM pk$r")
        .mkString("\n                ")}),
         cv AS (SELECT rk.r, e.vec_id, e.embedding
                FROM rk JOIN embeddings e ON e.vec_id = rk.vec_id),
         ad AS (SELECT pid, r, $kcenterDistSql AS d
                FROM (SELECT e.vec_id AS pid, c.r,
                             unnest(e.embedding) AS ex,
                             unnest(c.embedding) AS cx
                      FROM embeddings e, cv c)
                GROUP BY pid, r),
         asg AS (SELECT pid, r, d,
                   ROW_NUMBER() OVER (PARTITION BY pid ORDER BY d, r) AS rn
                 FROM ad)
         SELECT a.r AS pick_rank, CAST(rk.vec_id AS BIGINT) AS center_id,
                CAST(COUNT(*) AS BIGINT) AS n_members,
                CAST(MAX(a.d) AS BIGINT) AS max_dist_q30
         FROM asg a JOIN rk ON rk.r = a.r
         WHERE a.rn = 1 GROUP BY 1, 2"""

  /** x104: centroid drift replayed (shared verbatim with the x104b
    * ingest twin — per-dim sums re-sum to the one-shot table). */
  private val x104OracleSql: String =
    """WITH q AS (SELECT label, vec_id % 2 = 0 AS isa,
                  generate_subscripts(embedding, 1) AS d,
                  CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                       * 1073741824) AS BIGINT) AS q
           FROM embeddings),
         s AS (SELECT label, isa, d, SUM(q) AS s, COUNT(*) AS n
               FROM q GROUP BY 1, 2, 3),
         sa AS (SELECT label, d, s, n FROM s WHERE isa),
         sb AS (SELECT label, d, s, n FROM s WHERE NOT isa),
         m AS (SELECT COALESCE(sa.label, sb.label) AS label,
                 COALESCE(sa.s, 0) AS x, COALESCE(sb.s, 0) AS y,
                 sa.n AS na, sb.n AS nb
               FROM sa FULL JOIN sb
                 ON sb.label = sa.label AND sb.d = sa.d),
         g AS (SELECT label, SUM(CAST(x AS HUGEINT) * y) AS dot,
                 SUM(CAST(x AS HUGEINT) * x) AS naa,
                 SUM(CAST(y AS HUGEINT) * y) AS nbb,
                 MAX(na) AS n_a, MAX(nb) AS n_b
               FROM m GROUP BY 1)
         SELECT label, CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
                CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
                -- HUGEINT→DOUBLE must route through VARCHAR: duckdb's
                -- direct cast composes hi·2^64 + lo with TWO roundings
                -- (1-ulp off Spark's correctly-rounded decimal cast;
                -- caught at sf0.001 labels 3/8), while strtod rounds
                -- correctly
                CASE WHEN naa = 0 OR nbb = 0 THEN NULL
                     ELSE CAST(CAST(dot AS VARCHAR) AS DOUBLE)
                          / (sqrt(CAST(CAST(naa AS VARCHAR) AS DOUBLE))
                             * sqrt(CAST(CAST(nbb AS VARCHAR) AS DOUBLE)))
                END AS cos_centroid
         FROM g"""



  /** x89b: NDCG@5 replayed — the run/qrels CTEs of x89 plus the SHARED
    * Q20 discount table: the (rank, d, cum) literals below are the SAME
    * Scala-computed integers the engine's plan carries
    * ([[graft.ext.Retrieval.ndcgDiscountsQ20]]), so no log is ever
    * evaluated inside either engine. All operands ≥ 0 → bare `//`. */
  private val x89bOracleSql: String = {
    val d = graft.ext.Retrieval.ndcgDiscountsQ20(5)
    val cum = d.scanLeft(0L)(_ + _).tail
    val vals = (1 to 5).map(r => s"($r, ${d(r - 1)}, ${cum(r - 1)})")
      .mkString(", ")
    bm25BaseCtes +
      s""",
         run AS (SELECT qid, doc_id, rank FROM (
                   SELECT qid, doc_id,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score_q20 DESC, doc_id) AS rank
                   FROM scored)
                 WHERE rank <= 5),
         qn AS (SELECT qid, COUNT(*) AS nq FROM qt GROUP BY 1),
         qr AS (SELECT qt.qid, p.doc_id
                FROM qt JOIN post p USING (tok)
                JOIN qn ON qn.qid = qt.qid
                GROUP BY qt.qid, p.doc_id, qn.nq
                HAVING COUNT(*) = qn.nq),
         nr AS (SELECT qid, COUNT(*) AS n_rel FROM qr GROUP BY 1),
         disc AS (SELECT * FROM (VALUES $vals) v(r, d, cum)),
         per AS (SELECT r.qid,
                   COALESCE(SUM(CASE WHEN qr.doc_id IS NOT NULL
                                THEN disc.d END), 0) AS dcg
                 FROM run r
                 JOIN disc ON disc.r = r.rank
                 LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
                 GROUP BY 1)
         SELECT CAST(per.qid AS BIGINT) AS qid,
                CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
                CAST(per.dcg AS BIGINT) AS dcg_q20,
                CAST(COALESCE(di.cum, 0) AS BIGINT) AS idcg_q20,
                CASE WHEN COALESCE(di.cum, 0) > 0
                  THEN CAST((1048576 * per.dcg) // di.cum AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS ndcg_q20
         FROM per LEFT JOIN nr ON nr.qid = per.qid
         LEFT JOIN disc di ON di.r = LEAST(COALESCE(nr.n_rel, 0), 5)"""
  }

  /** The x105 capstone oracle: x72's full passage-ranking replay as a
    * nested CTE (the x86b wrapping convention), then x89b's graded-
    * metric tail at k = 3 over doc-level containment qrels — the
    * composition is what this row hash-checks. */
  private def x105OracleSql(x72Sql: String): String = {
    val d = graft.ext.Retrieval.ndcgDiscountsQ20(3)
    val cum = d.scanLeft(0L)(_ + _).tail
    val vals = (1 to 3).map(r => s"($r, ${d(r - 1)}, ${cum(r - 1)})")
      .mkString(", ")
    s"""WITH res AS ($x72Sql),
         runq AS (SELECT qid, doc_id, rnk AS rank FROM res),
         q2 AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                      (2, 'window merge sort'),
                                      (3, 'vector stream batch'))
                v(qid, qtext)),
         qt2 AS (SELECT DISTINCT qid, tok FROM (
                   SELECT qid, unnest(string_split_regex(
                     regexp_replace(qtext, '^\\s+|\\s+$$', '', 'g'),
                     '\\s+')) AS tok
                   FROM q2) WHERE tok <> ''),
         dtk AS (SELECT DISTINCT doc_id, tok FROM (
                   SELECT doc_id, unnest(string_split_regex(
                     regexp_replace(text, '^\\s+|\\s+$$', '', 'g'),
                     '\\s+')) AS tok
                   FROM documents WHERE text IS NOT NULL)
                 WHERE tok <> ''),
         qn2 AS (SELECT qid, COUNT(*) AS nq FROM qt2 GROUP BY 1),
         qr AS (SELECT qt2.qid, dtk.doc_id
                FROM qt2 JOIN dtk USING (tok)
                JOIN qn2 ON qn2.qid = qt2.qid
                GROUP BY qt2.qid, dtk.doc_id, qn2.nq
                HAVING COUNT(*) = qn2.nq),
         nr AS (SELECT qid, COUNT(*) AS n_rel FROM qr GROUP BY 1),
         disc AS (SELECT * FROM (VALUES $vals) v(r, d, cum)),
         per AS (SELECT r.qid,
                   COALESCE(SUM(CASE WHEN qr.doc_id IS NOT NULL
                                THEN disc.d END), 0) AS dcg
                 FROM runq r
                 JOIN disc ON disc.r = r.rank
                 LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
                 GROUP BY 1)
         SELECT CAST(per.qid AS BIGINT) AS qid,
                CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
                CAST(per.dcg AS BIGINT) AS dcg_q20,
                CAST(COALESCE(di.cum, 0) AS BIGINT) AS idcg_q20,
                CASE WHEN COALESCE(di.cum, 0) > 0
                  THEN CAST((1048576 * per.dcg) // di.cum AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS ndcg_q20
         FROM per LEFT JOIN nr ON nr.qid = per.qid
         LEFT JOIN disc di ON di.r = LEAST(COALESCE(nr.n_rel, 0), 3)"""
  }

  private val x95OracleSql: String = {
    def gN(n: Int): String = {
      val cat = (0 until n).map(o => s"t[i+$o]").mkString("concat_ws(' ', ", ", ", ")")
      s"""g$n AS (SELECT lang, $n AS n, $cat AS g
         FROM (SELECT lang, t,
                 unnest(generate_series(1, greatest(len(t) - ${n - 1}, 1))) AS i
               FROM tk))"""
    }
    s"""WITH tk AS (SELECT lang, string_split_regex(
             regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
           FROM documents WHERE text IS NOT NULL
             AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''),
         ${gN(1)},
         ${gN(2)},
         ${gN(3)},
         gg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2
                UNION ALL SELECT * FROM g3)
         SELECT lang, CAST(n AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS total,
                CAST(COUNT(DISTINCT g) AS BIGINT) AS uniq,
                CAST((1048576::HUGEINT * COUNT(DISTINCT g)) // COUNT(*)
                     AS BIGINT) AS distinct_q20
         FROM gg GROUP BY 1, 2"""
  }

  /** x92c: per-language p05/p95 clip bounds from the sketch estimates,
    * then the winsorized corpus roll-up. */
  private val x92cOracleSql: String =
    qsOracleCtes(Seq(50, 950)) + s""",
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
         GROUP BY 1"""

  /** The x85 histogram oracle: the (min, max) bounds, width =
    * range // 16 + 1, the bin floor-division (operands non-negative —
    * trunc ≡ floor in both engines), and the inclusive lo/hi edges. */
  private val x85OracleSql: String =
    """WITH b AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx
           FROM documents WHERE n_chars IS NOT NULL),
         w AS (SELECT mn, (mx - mn) // 16 + 1 AS wd FROM b),
         h AS (SELECT (n_chars - w.mn) // w.wd AS bin, COUNT(*) AS c
               FROM documents CROSS JOIN w
               WHERE n_chars IS NOT NULL GROUP BY 1)
         SELECT h.bin, w.mn + h.bin * w.wd AS lo,
                w.mn + (h.bin + 1) * w.wd - 1 AS hi,
                CAST(h.c AS BIGINT) AS c
         FROM h CROSS JOIN w"""

  /** The x86 all-pairs oracle: the 3-shingle sets (the x82 truncated-
    * short-doc gram rule), global rarest-first order (count asc, g asc),
    * per-doc prefix p ≤ n − ceil(6n/10) + 1, the prefix equi-join with
    * the tDen·min ≥ tNum·max size bound, and the exact-intersection
    * verify with the 16·i ≥ 6·(n_a+n_b) threshold — all integers. */
  private val x86OracleSql: String =
    """WITH tk0 AS (SELECT doc_id, string_split_regex(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
         FROM documents WHERE text IS NOT NULL),
       gr AS (SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS g
              FROM (SELECT doc_id, t,
                      unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
                    FROM tk0)),
       cnt AS (SELECT g, COUNT(*) AS c FROM gr GROUP BY 1),
       sz AS (SELECT doc_id, COUNT(*) AS n FROM gr GROUP BY 1),
       pos AS (SELECT gr.doc_id, gr.g, sz.n,
                 ROW_NUMBER() OVER (PARTITION BY gr.doc_id
                                    ORDER BY cnt.c, gr.g) AS p
               FROM gr JOIN cnt USING (g) JOIN sz USING (doc_id)),
       pref AS (SELECT doc_id, g, n FROM pos
                WHERE p <= n - ((6 * n + 9) // 10) + 1),
       cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                FROM pref a JOIN pref b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                WHERE 10 * LEAST(a.n, b.n) >= 6 * GREATEST(a.n, b.n)),
       iv AS (SELECT c.a_id, c.b_id, COUNT(*) AS i
              FROM cand c
              JOIN gr ta ON ta.doc_id = c.a_id
              JOIN gr tb ON tb.doc_id = c.b_id AND tb.g = ta.g
              GROUP BY 1, 2)
       SELECT c.a_id, c.b_id,
              CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
              CAST(iv.i AS BIGINT) AS n_inter
       FROM cand c
       JOIN sz sa ON sa.doc_id = c.a_id
       JOIN sz sb ON sb.doc_id = c.b_id
       JOIN iv ON iv.a_id = c.a_id AND iv.b_id = c.b_id
       WHERE 16 * iv.i >= 6 * (sa.n + sb.n)"""

  /** The x87 triangle oracle: the normalized co-purchase edge set, the
    * (deg, id)-ordered orientation, the apex wedge join closed by the
    * oriented (b, c) edge, the 3-way per-node attribution, and the Q20
    * clustering-coefficient floor division. */
  private val x87OracleSql: String =
    """WITH li AS (SELECT l_orderkey AS o, l_suppkey AS sp FROM lineitem
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
       FROM deg LEFT JOIN pn USING (node)"""

  /** The x88 PMI oracle: unigram and adjacent-pair counts over the
    * trimmed split, the 2²⁰·c_ab·N² // (P·c_a·c_b) ratio over HUGEINT,
    * the minCount floor, and the (score desc, w1, w2) top-50 cut. */
  private val x88OracleSql: String =
    """WITH toks AS (SELECT string_split_regex(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
         FROM documents
         WHERE text IS NOT NULL
           AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
       un AS (SELECT unnest(t) AS w FROM toks),
       c1 AS (SELECT w, COUNT(*) AS c FROM un GROUP BY 1),
       nn AS (SELECT COUNT(*) AS n FROM un),
       bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
              FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2)),
       c2 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       pp AS (SELECT SUM(c) AS p FROM c2)
       SELECT w1, w2, CAST(c2.c AS BIGINT) AS n_pair,
              CAST((1048576::HUGEINT * c2.c * nn.n * nn.n)
                   // (pp.p * a.c * b.c) AS BIGINT) AS score_q20
       FROM c2 JOIN c1 a ON a.w = c2.w1 JOIN c1 b ON b.w = c2.w2
       CROSS JOIN nn CROSS JOIN pp
       WHERE c2.c >= 5
       ORDER BY score_q20 DESC, w1, w2 LIMIT 50"""

  /** The x90 k-core oracle: the sparse co-purchase edge set, the
    * two-way adjacency, and 12 unrolled peel rounds (each a
    * both-endpoints-alive degree count + the ≥ k cut) — idempotent once
    * stable, so the fixed unroll equals the engine's adaptive loop
    * (which converges ≤ 10 rounds at every SF, ceiling-guarded). */
  private val x90OracleSql: String = {
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
  }

  /** The x83 HITS oracle: the x59 edge multiset, h₀ = 10⁹, and both
    * mutual-reinforcement rounds unrolled — each half-step one edge
    * join + sum, a left join back onto the node skeleton (absent side
    * reads 0), and the ·10⁹ // max normalization over HUGEINT. */
  private val x83OracleSql: String = {
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
  }

  /** DuckDB SQL for the first-5-hex-digit integer of md5(`e`) — the
    * engine's `conv(substring(md5(e),1,5),16,10)`: a 5-nibble positional
    * chain, 20 bits. The bloom position draw (x23d). */
  private def md5Hex5(e: String): String = {
    def nib(i: Int) = s"(strpos('0123456789abcdef', substr(md5($e), $i, 1)) - 1)"
    s"((((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)}) * 16 + ${nib(5)})"
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

  /** Shared CTE prefix of the x75/x75b oracles: IVF assignment,
    * residuals, the residual PQ codebook, encode, probes, and the ADC
    * candidate scores — one definition so the rerank oracle provably
    * widens the SAME approximate stage it refines. */
  private val ivfPqAdcCtes: String =
    """ivfc AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
           asns AS (SELECT vec_id, cid,
                    CAST(SUM(CAST(floor(CAST(ex AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                    FROM (SELECT e.vec_id, c.cid, unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                          FROM embeddings e CROSS JOIN ivfc c)
                    GROUP BY vec_id, cid),
           asn AS (SELECT vec_id, cid FROM asns
                   QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
           rese AS (SELECT vec_id, cid, ord, CAST(ex AS DOUBLE) - CAST(cx AS DOUBLE) AS rx FROM
                    (SELECT e.vec_id, a.cid, generate_subscripts(e.embedding, 1) AS ord,
                            unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                     FROM embeddings e JOIN asn a USING (vec_id)
                     JOIN ivfc c ON c.cid = a.cid)),
           resm AS (SELECT vec_id, (ord - 1) // 16 AS m,
                           ord - ((ord - 1) // 16) * 16 AS sord, rx FROM rese),
           cbr AS (SELECT m, vec_id AS code, sord, rx FROM resm WHERE vec_id < 16),
           cc AS (SELECT m, code,
                  CAST(SUM(CAST(floor(rx * rx * 1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM cbr GROUP BY m, code),
           xc AS (SELECT r.vec_id, r.m, c.code,
                  CAST(SUM(CAST(floor(r.rx * c.rx * 1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM resm r JOIN cbr c ON c.m = r.m AND c.sord = r.sord
                  GROUP BY r.vec_id, r.m, c.code),
           codes AS (SELECT vec_id, m, code FROM (
                     SELECT x.vec_id, x.m, x.code,
                            row_number() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY (c.s - 2*x.s), x.code) AS rn
                     FROM xc x JOIN cc c ON c.m = x.m AND c.code = x.code)
                     WHERE rn = 1),
           probes AS (SELECT q_id, cid FROM (
                      SELECT vec_id AS q_id, cid,
                             row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
                      FROM asns WHERE vec_id < 4) WHERE rn <= 2),
           qsub AS (SELECT vec_id AS q_id, (ord - 1) // 16 AS m,
                           ord - ((ord - 1) // 16) * 16 AS sord, qx FROM
                    (SELECT vec_id, generate_subscripts(embedding, 1) AS ord,
                            unnest(embedding) AS qx
                     FROM embeddings WHERE vec_id < 4)),
           qcb AS (SELECT q.q_id, q.m, c.code,
                   CAST(SUM(CAST(floor(CAST(q.qx AS DOUBLE) * c.rx * 1073741824) AS BIGINT)) AS BIGINT) AS s
                   FROM qsub q JOIN cbr c ON c.m = q.m AND c.sord = q.sord
                   GROUP BY q.q_id, q.m, c.code),
           adc AS (SELECT p.q_id, n.vec_id AS n_id, MAX(ct.s) + SUM(qc.s) AS s
                   FROM probes p
                   JOIN asn n ON n.cid = p.cid AND n.vec_id <> p.q_id
                   JOIN codes cd ON cd.vec_id = n.vec_id
                   JOIN qcb qc ON qc.q_id = p.q_id AND qc.m = cd.m AND qc.code = cd.code
                   JOIN asns ct ON ct.vec_id = p.q_id AND ct.cid = p.cid
                   GROUP BY p.q_id, n.vec_id)"""

  private def oracleSqlBase: Map[String, String] = Map(
    "x47_c4_clean" ->
      """WITH t AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
                    FROM documents),
           lined AS (SELECT doc_id,
             list_transform(generate_series(0, CAST((len(toks) - 1) // 3 AS BIGINT)),
               i -> array_to_string(toks[(i*3+1):(i*3+3)], ' ')) AS ls
             FROM t),
           kept AS (SELECT doc_id, len(ls) AS n_all,
             list_filter(ls, l ->
               (CASE WHEN trim(l) = '' THEN 0
                     ELSE len(string_split_regex(trim(l), '\s+')) END) >= 3
               AND NOT contains(lower(l), 'dup')
               AND NOT contains(lower(l), 'slow')) AS ks
             FROM lined)
         SELECT doc_id, md5(array_to_string(ks, chr(10))) AS clean_md5,
                CAST(len(ks) AS BIGINT) AS n_kept,
                CAST(n_all - len(ks) AS BIGINT) AS n_dropped
         FROM kept WHERE len(ks) >= 2""",
    "x48_hybrid_rrf" ->
      (hybridOracleCtes + """,
         contrib AS (SELECT qid, doc_id AS n_id,
                            1073741824 // (60 + rank) AS c FROM lexf
                     UNION ALL
                     SELECT q_id AS qid, n_id, 1073741824 // (60 + rnk) AS c
                     FROM denser),
         fused AS (SELECT qid, n_id, SUM(c) AS s FROM contrib GROUP BY 1, 2)
         SELECT CAST(qid AS BIGINT) AS qid, CAST(n_id AS BIGINT) AS n_id,
                CAST(s AS BIGINT) AS rrf_q30,
                CAST(ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY s DESC, n_id) AS BIGINT) AS rank
         FROM fused QUALIFY rank <= 5"""),
    "x49_hard_negatives" ->
      (hybridOracleCtes + """
         SELECT CAST(qid AS BIGINT) AS qid, CAST(doc_id AS BIGINT) AS n_id,
                CAST(rank AS BIGINT) AS rank
         FROM lexf
         WHERE NOT EXISTS (SELECT 1 FROM denser d
                           WHERE d.q_id = lexf.qid AND d.n_id = lexf.doc_id)"""),
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         COUNT(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q5_region_volume" ->
      """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' GROUP BY n_name""",
    "a1_dup_having" ->
      "SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1",
    "a2_distinct_count" ->
      """SELECT COUNT(DISTINCT l_partkey) AS n_l_partkey,
         COUNT(DISTINCT l_suppkey) AS n_l_suppkey FROM lineitem""",
    "a4_breakdown" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY o_orderstatus, o_orderpriority""",
    "a11_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         SUM(l_quantity) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "s2_salted_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS sq
         FROM lineitem GROUP BY l_returnflag""",
    "s3_salted_join" ->
      """SELECT p_brand, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""",
    "s4_salted_window" ->
      """SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total
         FROM orders""",
    "s5_salted_topk" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn
         FROM (SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn <= 3""",
    "s6_bucketed_join" ->
      """SELECT c_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM customer JOIN orders ON o_custkey = c_custkey
         GROUP BY c_custkey""",
    "s8_zorder_pruned_scan" ->
      """SELECT ck, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM (SELECT o_custkey % 64 AS ck,
                 datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 64 AS dk,
                 o_totalprice
               FROM orders)
         WHERE ck BETWEEN 8 AND 23 AND dk BETWEEN 8 AND 23
         GROUP BY ck""",
    // s7: the same five magic-mask spread steps as Scale.zSpread, unrolled
    // per dimension through chained CTEs (DuckDB's << & | on BIGINT match
    // Spark's shiftleft/bitwiseAND/bitwiseOR two's-complement semantics;
    // masks in decimal — DuckDB has no 0x literals)
    "s7_zorder_value" ->
      """WITH base AS (
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
         SELECT o_orderkey, a | (b << 1) AS z FROM s5""",
    "w5_rank_surface" ->
      """SELECT o_orderkey,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         percent_rank() OVER w AS pr
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)""",
    "w6_value_windows" ->
      """SELECT o_orderkey,
         first_value(o_orderkey) OVER w AS top_key,
         last_value(o_orderkey) OVER wf AS bottom_key,
         nth_value(o_orderkey, 2) OVER wf AS second_key,
         cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey),
                wf AS (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)""",
    "a5_group_to_doc" ->
      """SELECT l_orderkey, MIN(l_returnflag) AS min_flag, COUNT(*) AS n_members,
         string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY CAST(l_linenumber AS VARCHAR)) AS members
         FROM lineitem GROUP BY l_orderkey""",
    "a6_section_group" ->
      """SELECT COALESCE(NULLIF(json_extract_string(props,'$.sec'),''),
                         NULLIF(json_extract_string(props,'$.k'),''), 'none') AS section,
         COUNT(*) AS n FROM events GROUP BY 1""",
    "a10_percentiles" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med,
         quantile_cont(l_quantity, 0.9) AS p90, MAX(l_quantity) AS max_qty
         FROM lineitem GROUP BY l_returnflag""",
    "a7_rollup" ->
      """SELECT n_name, c_mktsegment, COUNT(*) AS n FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP(n_name, c_mktsegment)""",
    "a8_dedup_consolidate" ->
      """SELECT c_nationkey, MIN(c_custkey) AS c_custkey,
         string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS all_c_mktsegment
         FROM customer GROUP BY c_nationkey""",
    "a9_pivot" ->
      """SELECT c_mktsegment,
         CAST(SUM(CASE WHEN r_name='AFRICA' THEN 1 ELSE 0 END) AS BIGINT) AS "AFRICA",
         CAST(SUM(CASE WHEN r_name='AMERICA' THEN 1 ELSE 0 END) AS BIGINT) AS "AMERICA",
         CAST(SUM(CASE WHEN r_name='ASIA' THEN 1 ELSE 0 END) AS BIGINT) AS "ASIA",
         CAST(SUM(CASE WHEN r_name='EUROPE' THEN 1 ELSE 0 END) AS BIGINT) AS "EUROPE",
         CAST(SUM(CASE WHEN r_name='MIDDLE EAST' THEN 1 ELSE 0 END) AS BIGINT) AS "MIDDLE EAST"
         FROM customer JOIN nation ON c_nationkey=n_nationkey
         JOIN region ON n_regionkey=r_regionkey GROUP BY c_mktsegment""",
    "p1_split_part" ->
      "SELECT p_partkey, split_part(p_name, ' ', 1) AS name_head FROM part",
    "p2_token_default" ->
      """SELECT p_partkey,
         COALESCE(NULLIF(split_part(p_name, ' ', 2), ''), 'none') AS tok2_name,
         COALESCE(NULLIF(split_part(p_type, ' ', 2), ''), 'none') AS tok2_type FROM part""",
    "p3_regex_extract" ->
      "SELECT p_partkey, regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS brand_num FROM part",
    "p5_coalesce_pref" ->
      """SELECT doc_id, COALESCE(NULLIF(lang,''), NULLIF(source,''), '(no name)') AS label
         FROM documents""",
    "p7_format_notes" ->
      """SELECT c_custkey, 'Name: ' || c_name || ', segment: ' || c_mktsegment || '.' AS notes
         FROM customer""",
    "p9_normalize_name" ->
      """SELECT p_partkey,
         COALESCE(NULLIF(lower(regexp_replace(trim(split_part(p_name,'|',1)),'[ /]','_','g')),''),
                  'unknown_program') AS norm_name FROM part""",
    "p10_pipe_join" ->
      """SELECT c_nationkey,
         string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment) AS segments
         FROM customer GROUP BY c_nationkey""",
    "p11_map_roundtrip" -> "SELECT doc_id, source AS src_from_map FROM documents",
    "p12_pack_map" ->
      "SELECT doc_id, 'lang=' || lang || '|src=' || source AS packed FROM documents",
    "p13_stringified_list" ->
      "SELECT doc_id, lang AS first_item, CAST(2 AS BIGINT) AS n_items FROM documents",
    "p14_encode_values" ->
      """SELECT doc_id, CAST(CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'es' THEN 3
         WHEN 'fr' THEN 4 WHEN 'zh' THEN 5 ELSE 0 END AS BIGINT) AS lang_code FROM documents""",
    "p15_json_extract" ->
      """SELECT event_id, COALESCE(json_extract_string(props, '$.k'), 'missing') AS k_val
         FROM events""",
    "p4_authz_extract" ->
      """SELECT doc_id,
         regexp_extract('/programs/' || lang || '/projects/' || source,
                        '^/programs/([^/]+)/projects/', 1) AS program
         FROM documents""",
    "p6_alias_guard" ->
      """SELECT doc_id,
         COALESCE(NULLIF(lang, ''), NULLIF(source, '')) AS name,
         CASE WHEN NULLIF(lang, '') IS NOT NULL THEN 'lang'
              WHEN NULLIF(source, '') IS NOT NULL THEN 'source'
              ELSE 'none' END AS name_src
         FROM documents""",
    "p8_null_safe" ->
      """SELECT doc_id,
         COALESCE(CAST(CASE WHEN n_chars < 60 THEN NULL ELSE n_chars END AS VARCHAR),
                  'NA') AS chars_str,
         COALESCE(CASE WHEN n_chars < 60 THEN NULL ELSE lang END,
                  '(missing)') AS lang_str
         FROM documents""",
    "p19_variant_extract" ->
      """SELECT event_id,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
         json_extract_string(props, '$.missing') AS absent
         FROM events""",
    "p16_p17_const_url" ->
      """SELECT doc_id, 'graft' AS catalog, CAST(1 AS BIGINT) AS schema_version,
         'https://data.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url
         FROM documents""",
    "f1_notnull_prefix" ->
      """SELECT c_custkey, c_name FROM customer WHERE c_name IS NOT NULL
         AND c_mktsegment IS NOT NULL AND c_name LIKE 'Customer#00000001%'""",
    "f2_validation_split" ->
      """SELECT doc_id,
         CASE WHEN n_chars < 60 OR text IS NULL OR trim(text) = ''
                THEN 'missing short_text'
              WHEN lang IS NULL OR trim(lang) = '' THEN 'missing lang'
         END AS reason
         FROM documents
         WHERE n_chars < 60 OR text IS NULL OR trim(text) = ''
            OR lang IS NULL OR trim(lang) = ''""",
    "f4_skip_set" ->
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
         WHERE o_orderstatus NOT IN ('F') GROUP BY o_orderstatus""",
    "f5_suffix_filter" ->
      "SELECT doc_id, source FROM documents WHERE lower(source) LIKE '%0'",
    "f9_quarantine" ->
      """SELECT event_id, CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
         FROM events""",
    "f11_json_quarantine" ->
      """WITH c AS (
           SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN '}{' || props ELSE props END AS props
           FROM events)
         SELECT event_id,
           CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k')
                ELSE NULL END AS k_val,
           CASE WHEN json_valid(props) THEN 'ok' ELSE 'quarantined' END AS status
         FROM c""",
    "f10_log_split" ->
      """WITH lines AS (
           SELECT event_id,
             'evt ' || CAST(event_id AS VARCHAR) || ' type=' || upper(event_type)
               || ' user=' || CAST(user_id AS VARCHAR) AS line
           FROM events)
         SELECT event_id,
           CASE WHEN upper(line) LIKE '%ERROR%' THEN 'ERROR'
                WHEN upper(line) LIKE '%WARNING%' THEN 'WARNING'
                ELSE 'OTHER' END AS sev
         FROM lines""",
    "j1_broadcast_join" ->
      """SELECT c_mktsegment, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "j2_lookup_join" ->
      """SELECT p_brand, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""",
    "j3_nested_collect" ->
      """SELECT o_custkey,
         string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys,
         COUNT(*) AS n_orders FROM orders GROUP BY o_custkey""",
    "j4_enrich_region" ->
      """SELECT r_name, COUNT(*) AS n_customers FROM customer
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""",
    "j5_semi_join" ->
      """SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "j6_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "j7_outer_dispatch" ->
      """WITH l AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus='F'),
              r AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus='P')
         SELECT COALESCE(l.k, r.k) AS o_custkey,
                CASE WHEN r.k IS NULL THEN 'left_only'
                     WHEN l.k IS NULL THEN 'right_only'
                     ELSE 'both' END AS method
         FROM l FULL OUTER JOIN r ON l.k = r.k""",
    "j8_prefix_membership" ->
      """WITH harvested AS (
           SELECT DISTINCT split_part(v, '.', 1) AS acc_id
           FROM (SELECT unnest(['acc' || CAST(o_custkey AS VARCHAR) || '.v1',
                                o_orderpriority]) AS v
                 FROM orders)
           WHERE v LIKE 'acc%')
         SELECT c_custkey
         FROM (SELECT 'acc' || CAST(c_custkey AS VARCHAR) AS acc_id, c_custkey
               FROM customer) c
         WHERE acc_id IN (SELECT acc_id FROM harvested)""",
    "o2_sorted_report" ->
      """SELECT user_id,
         array_to_string(list_sort(list(event_type)), '|') AS event_seq,
         COUNT(*) AS n
         FROM events GROUP BY user_id""",
    "a4b_breakdown_detail" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         array_to_string(list_transform(
           list_sort(list(struct_pack(k := o_orderkey, c := o_custkey))),
           x -> CAST(x.k AS VARCHAR) || ':' || CAST(x.c AS VARCHAR)), ';') AS details
         FROM orders GROUP BY o_orderstatus, o_orderpriority""",
    "et3_event_gaps" ->
      """WITH g AS (
           SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           FROM events)
         SELECT user_id, COUNT(gap_us) AS n_gaps,
           MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
         FROM g GROUP BY user_id""",
    // et5: each step's first-qualifying-event-after-previous, the three
    // scalar counts, and the Q20 step-over-step conversions
    "et5_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events),
         s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
                WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, MIN(e.us) AS t2
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, MIN(e.us) AS t3
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1),
         c AS (SELECT (SELECT COUNT(*) FROM s1) AS n1,
                      (SELECT COUNT(*) FROM s2) AS n2,
                      (SELECT COUNT(*) FROM s3) AS n3)
         SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
                CAST(n1 AS BIGINT) AS n_users,
                CAST(1048576 AS BIGINT) AS conv_prev_q20 FROM c
         UNION ALL
         SELECT 2, 'click', CAST(n2 AS BIGINT),
                CASE WHEN n1 > 0
                  THEN CAST((1048576::HUGEINT * n2) // n1 AS BIGINT)
                  ELSE 0 END FROM c
         UNION ALL
         SELECT 3, 'purchase', CAST(n3 AS BIGINT),
                CASE WHEN n2 > 0
                  THEN CAST((1048576::HUGEINT * n3) // n2 AS BIGINT)
                  ELSE 0 END FROM c""",
    // et6: fixed-origin week buckets, first-signup cohorts, distinct
    // (user, week) activity, Q20 retention ratios
    "et6_retention" ->
      """WITH ev AS (SELECT user_id, event_type,
                            epoch_us(ts) // 604800000000 AS wk
           FROM events),
         co AS (SELECT user_id, MIN(wk) AS cw FROM ev
                WHERE event_type = 'signup' GROUP BY 1),
         sz AS (SELECT cw, COUNT(*) AS n_cohort FROM co GROUP BY 1),
         aw AS (SELECT DISTINCT user_id, wk FROM ev),
         act AS (SELECT co.cw, aw.wk - co.cw AS week_offset,
                        COUNT(*) AS n_active
                 FROM aw JOIN co USING (user_id)
                 WHERE aw.wk >= co.cw GROUP BY 1, 2)
         SELECT act.cw AS cohort_week, act.week_offset,
                CAST(act.n_active AS BIGINT) AS n_active,
                CAST(sz.n_cohort AS BIGINT) AS n_cohort,
                CAST((1048576::HUGEINT * act.n_active) // sz.n_cohort
                     AS BIGINT) AS retention_q20
         FROM act JOIN sz USING (cw)""",
    "j9_range_join" ->
      """WITH bands AS (
           SELECT i AS band_id, CAST(i*25000 AS DOUBLE) AS lo,
                  CAST(i*25000 + 40000 AS DOUBLE) AS hi
           FROM (SELECT unnest(generate_series(0, 19)) AS i))
         SELECT o.o_orderkey, b.band_id
         FROM orders o JOIN bands b
           ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi""",
    "et4_asof_join" ->
      """WITH clicks AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
           WHERE event_type = 'click'),
         purch AS (
           SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, epoch_us(ts))
         SELECT c.user_id, c.ts_us, c.event_id, p.value
         FROM clicks c ASOF LEFT JOIN purch p
           ON c.user_id = p.user_id AND c.ts_us >= p.ts_us""",
    "w1_uniquify" ->
      """SELECT p_partkey, CASE WHEN rn > 1 THEN p_name || '_' || CAST(rn-1 AS VARCHAR)
                ELSE p_name END AS uniq_name
         FROM (SELECT p_partkey, p_name,
               row_number() OVER (PARTITION BY p_brand, p_name ORDER BY p_partkey) AS rn
               FROM part)""",
    "w2_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn
         FROM (SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders) WHERE rn <= 3""",
    "w3_top1" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1""",
    "o1_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""",
    "u1_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
         UNION SELECT s_nationkey FROM supplier""",
    "u2_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier""",
    "u3_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier""",
    "u4_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "u5_set_all_surface" ->
      """WITH ea AS (SELECT nationkey, COUNT(*) AS n FROM (
             SELECT c_nationkey AS nationkey FROM customer
             EXCEPT ALL SELECT s_nationkey FROM supplier) GROUP BY 1),
         ia AS (SELECT nationkey, COUNT(*) AS n FROM (
             SELECT c_nationkey AS nationkey FROM customer
             INTERSECT ALL SELECT s_nationkey FROM supplier) GROUP BY 1)
         SELECT COALESCE(ea.nationkey, ia.nationkey) AS nationkey,
                CAST(COALESCE(ea.n, 0) AS BIGINT) AS n_except_all,
                CAST(COALESCE(ia.n, 0) AS BIGINT) AS n_intersect_all
         FROM ea FULL JOIN ia ON ia.nationkey = ea.nationkey""",
    "d1_year_agg" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1""",
    "d2_month_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1""",
    "s1_string_surface" ->
      """SELECT p_partkey, upper(p_name) AS uname, reverse(p_name) AS rname,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS psize4,
         translate(p_name, ' aeiou', '_AEIOU') AS tname,
         substr(p_name, 2, 3) AS mid3,
         CAST(length(p_name) AS BIGINT) AS nlen FROM part""",
    "et1_hourly_agg" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2""",
    "et2_sessions" ->
      """WITH d AS (
           SELECT user_id,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            >= INTERVAL 10 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events)
         SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
                COUNT(*) AS n_events
         FROM d GROUP BY user_id""",
    "w4_running_sum" ->
      """SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total
         FROM orders""",
    "x1_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1""",
    "x2_minhash_sig" ->
      """SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
         FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
               FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
               WHERE i <= greatest(length(text) - 4, 1))
         GROUP BY doc_id""",
    "x3_lsh_pairs" ->
      """WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id)
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))""",
    // x2b: signature-gated exact dedup — the answer is exactly the
    // multi-member content groups; the signature pre-filter is invisible
    "x2b_minhash_fast" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
                COUNT(*) AS n_dups
         FROM documents WHERE text IS NOT NULL
         GROUP BY 1 HAVING COUNT(*) > 1""",
    // x3b: LSH-fed exact-dup pairs — complete because identical text
    // shares every band; the oracle needs only content equality
    "x3b_lsh_pairs_fast" ->
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id
         FROM documents a JOIN documents b
           ON a.text IS NOT NULL AND b.text IS NOT NULL
          AND md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id""",
    "x28_dedup_apply" ->
      """WITH RECURSIVE sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         edges AS (SELECT a_id AS src, b_id AS dst FROM cand
                   UNION SELECT b_id, a_id FROM cand),
         reach AS (
           SELECT src AS id, dst AS peer FROM edges
           UNION
           SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
         clusters AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                      FROM reach GROUP BY id)
         SELECT d.doc_id, md5(d.text) AS text_md5
         FROM documents d
         WHERE d.doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)""",
    "x27_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks
                    FROM documents),
           lines AS (
             SELECT doc_id, i AS pos,
                    array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS line
             FROM t, (SELECT unnest(generate_series(0,
                  (SELECT CAST(MAX(len(toks)) AS BIGINT) FROM t))) AS i) g
             WHERE i <= (len(toks) - 1) // 3),
           counts AS (SELECT line, COUNT(*) AS n FROM lines GROUP BY line),
           kept AS (SELECT l.doc_id, l.pos, l.line
                    FROM lines l JOIN counts c USING (line) WHERE c.n <= 2)
         SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS text_md5,
                COUNT(*) AS n_kept
         FROM kept GROUP BY doc_id""",
    "x26_incremental_dedup" ->
      """WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id)
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))
           AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)""",
    "x3c_lsh_staged" ->
      """WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id)
         SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))""",
    // x5: simhash IS DuckDB-expressible after all (VERDICT r2 item 6) —
    // the md5 15-hex prefix converts to a 60-bit integer with explicit
    // digit arithmetic (strpos over the hex alphabet + shifts); bit votes
    // and sign packing are plain CASE sums, matching Dedup.simhash exactly.
    "x5_simhash" -> {
      val bitVotes = (0 until 16).map(i =>
        s"SUM(CASE WHEN (th >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
        .mkString(", ")
      val pack = (0 until 16).map(i =>
        s"(CASE WHEN b$i > 0 THEN CAST(1 AS BIGINT) << $i ELSE 0 END)")
        .mkString(" + ")
      s"""WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
           FROM documents),
         th AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(1, 15),
               i -> CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1
                         AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (15 - i)))))
               AS BIGINT) AS th
           FROM tok),
         bits AS (SELECT doc_id, $bitVotes FROM th GROUP BY doc_id)
         SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM bits"""
    },
    "x33_topk_similar" ->
      """WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         sets AS (SELECT doc_id,
             list_distinct(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS toks FROM documents),
         ver AS (SELECT c.a_id, c.b_id,
             CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.toks, sb.toks))) AS jaccard
           FROM cand c JOIN sets sa ON c.a_id = sa.doc_id
                       JOIN sets sb ON c.b_id = sb.doc_id),
         sym AS (SELECT a_id AS doc_id, b_id AS peer_id, jaccard FROM ver
                 UNION ALL
                 SELECT b_id, a_id, jaccard FROM ver)
         SELECT doc_id, peer_id, jaccard,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY jaccard DESC, peer_id) AS BIGINT) AS rnk
         FROM sym QUALIFY rnk <= 3""",
    "x4b_jaccard_lsh" ->
      """WITH sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         sets AS (SELECT doc_id,
             list_distinct(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS toks FROM documents)
         SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(sa.toks, sb.toks)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.toks, sb.toks))) AS jaccard
         FROM cand c JOIN sets sa ON c.a_id = sa.doc_id
                     JOIN sets sb ON c.b_id = sb.doc_id""",
    "x13b_ngram_lsh" ->
      s"""WITH $lshCandCtes,
         sets AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 1, 1)),
                    i -> concat_ws(' ', t[i], t[i+1]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
                 FROM documents))
         SELECT c.a_id, c.b_id,
           CAST(len(list_intersect(sa.gs, sb.gs)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(sa.gs, sb.gs)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.gs, sb.gs))) AS jaccard
         FROM cand c JOIN sets sa ON c.a_id = sa.doc_id
                     JOIN sets sb ON c.b_id = sb.doc_id""",
    // x13d: DuckDB's levenshtein counts BYTE edits where Spark counts
    // code points — equivalent on the ASCII test corpus; see the
    // editVerify scaladoc's unicode contract
    "x13d_edit_verify" ->
      s"""WITH $lshCandCtes,
         txt AS (SELECT doc_id, substr(coalesce(text, ''), 1, 128) AS t
                 FROM documents)
         SELECT c.a_id, c.b_id,
           CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS dist,
           CASE WHEN greatest(length(ta.t), length(tb.t)) = 0 THEN 1.0
                ELSE 1.0 - CAST(levenshtein(ta.t, tb.t) AS DOUBLE)
                     / greatest(length(ta.t), length(tb.t)) END AS sim
         FROM cand c JOIN txt ta ON c.a_id = ta.doc_id
                     JOIN txt tb ON c.b_id = tb.doc_id""",
    "x22_int8_ann" ->
      """WITH qs AS (
           SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS scale
           FROM embeddings),
         qz AS (
           SELECT vec_id, scale,
             list_transform(embedding, x ->
               CAST(greatest(least(floor(CAST(x AS DOUBLE) / scale), 127.0),
                             -127.0) AS BIGINT)) AS q
           FROM qs),
         q AS (SELECT vec_id AS q_id, scale AS q_scale, q AS q_q
               FROM qz WHERE vec_id < 8),
         prod AS (SELECT q.q_id, e.vec_id AS n_id, q.q_scale, e.scale AS n_scale,
                  unnest(q.q_q) AS qx, unnest(e.q) AS ex
                  FROM q, qz e WHERE e.vec_id <> q.q_id),
         dp AS (SELECT q_id, n_id,
                CAST(SUM(qx * ex) AS BIGINT) AS s,
                MIN(q_scale) AS qs2, MIN(n_scale) AS ns
                FROM prod GROUP BY q_id, n_id)
         SELECT q_id, n_id, CAST(s AS DOUBLE) * qs2 * ns AS score,
                CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY CAST(s AS DOUBLE) * qs2 * ns DESC, n_id) AS BIGINT) AS rnk
         FROM dp QUALIFY rnk <= 5""",
    "x6b_ann_ivf" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 64),
           cs AS (SELECT vec_id, cid,
                  CAST(SUM(CAST(floor(CAST(ex AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT e.vec_id, c.cid, unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                        FROM embeddings e CROSS JOIN c)
                  GROUP BY vec_id, cid),
           assign AS (SELECT vec_id, cid FROM cs
                      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
           probes AS (SELECT vec_id AS q_id, cid FROM cs WHERE vec_id < 8
                      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= 2),
           cand AS (SELECT p.q_id, a.vec_id AS n_id
                    FROM probes p JOIN assign a ON a.cid = p.cid
                    WHERE a.vec_id <> p.q_id),
           dp AS (SELECT q_id, n_id,
                  CAST(SUM(CAST(floor(CAST(qx AS DOUBLE)*CAST(nx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT cd.q_id, cd.n_id, unnest(q.embedding) AS qx, unnest(n.embedding) AS nx
                        FROM cand cd JOIN embeddings q ON q.vec_id = cd.q_id
                                     JOIN embeddings n ON n.vec_id = cd.n_id)
                  GROUP BY q_id, n_id)
         SELECT q_id, n_id, CAST(s AS DOUBLE)/1073741824 AS score,
                CAST(row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS BIGINT) AS rnk
         FROM dp QUALIFY rnk <= 5""",
    "x29_pq_ann" ->
      """WITH ms AS (SELECT unnest(generate_series(0, 3)) AS m),
           cb AS (SELECT m, vec_id AS cid, embedding[(m*16+1):(m*16+16)] AS cvec
                  FROM embeddings, ms WHERE vec_id < 16),
           cc AS (SELECT m, cid,
                  CAST(SUM(CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT m, cid, unnest(cvec) AS x FROM cb) GROUP BY m, cid),
           sub AS (SELECT vec_id, m, embedding[(m*16+1):(m*16+16)] AS sv
                   FROM embeddings, ms),
           xc AS (SELECT vec_id, m, cid,
                  CAST(SUM(CAST(floor(CAST(sx AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT s.vec_id, s.m, c.cid, unnest(s.sv) AS sx, unnest(c.cvec) AS cx
                        FROM sub s JOIN cb c ON c.m = s.m)
                  GROUP BY vec_id, m, cid),
           codes AS (SELECT vec_id, m, cid FROM (
                     SELECT x.vec_id, x.m, x.cid,
                            row_number() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY (c.s - 2*x.s), x.cid) AS rn
                     FROM xc x JOIN cc c ON c.m = x.m AND c.cid = x.cid)
                     WHERE rn = 1),
           adc AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                   CAST(SUM(q.s) AS BIGINT) AS s
                   FROM codes n JOIN xc q ON q.m = n.m AND q.cid = n.cid
                   WHERE q.vec_id < 8 AND n.vec_id <> q.vec_id
                   GROUP BY q.vec_id, n.vec_id)
         SELECT q_id, n_id, CAST(s AS DOUBLE)/1073741824 AS score,
                CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY s DESC, n_id) AS BIGINT) AS rnk
         FROM adc QUALIFY rnk <= 5""",
    // x35: two Lloyd iterations replayed verbatim — per iteration an
    // assignment (Q30 dot argmax, ties to lowest cid) and an exact-mean
    // update (per-element floor(x·2^30) longs summed per (cid, dim);
    // positive-mod floor-division IN INTEGERS (`//`, matching Spark's
    // `div` — exact at any cell size); scaled back by 2^-30; ONE rounding
    // to REAL — the same single float rounding the Spark side performs),
    // then a final assignment against the trained centroids
    // x35b: both k-means|| rounds unrolled — Q30 distance lambdas, the
    // 4-hex md5 draw against the cross-multiplied HUGEINT inequality,
    // the final nearest-candidate weighting, and the top-k cut
    // x75: the composed IVF-PQ replay — IVF assignment (Q30 argmax, ties
    // to lowest cid), exact-double residuals, residual codebook from the
    // first-16 rows, encode argmin over (c·c − 2·r·c) Q30 longs (ties to
    // lowest code), top-2 probe cells per query (s desc, cid asc), and
    // the ADC sum Q30(q·c_cell) + Σ_m Q30(q_m·cb[m][code])
    "x75_ivfpq_topk" ->
      s"""WITH $ivfPqAdcCtes
         SELECT q_id, n_id, CAST(s AS DOUBLE)/1073741824 AS score,
                CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY s DESC, n_id) AS BIGINT) AS rnk
         FROM adc QUALIFY rnk <= 5""",
    // x75b: the SAME ADC chain widened to a 12-candidate shortlist, then
    // the exact Q30 dot re-scores just those (q, n) pairs — the refine
    // stage must replay bit-for-bit on top of the approximate one
    "x75b_ivfpq_rerank" ->
      s"""WITH $ivfPqAdcCtes,
           short AS (SELECT q_id, n_id FROM (
                     SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
                       ORDER BY s DESC, n_id) AS rn FROM adc) WHERE rn <= 12),
           ex AS (SELECT q_id, n_id,
                  CAST(SUM(CAST(floor(CAST(qx AS DOUBLE)*CAST(nx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT sh.q_id, sh.n_id,
                          unnest(eq.embedding) AS qx, unnest(en.embedding) AS nx
                        FROM short sh
                        JOIN embeddings eq ON eq.vec_id = sh.q_id
                        JOIN embeddings en ON en.vec_id = sh.n_id)
                  GROUP BY q_id, n_id)
         SELECT q_id, n_id, CAST(s AS DOUBLE)/1073741824 AS score,
                CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY s DESC, n_id) AS BIGINT) AS rnk
         FROM ex QUALIFY rnk <= 5""",
    // x78: quantize → per-(parent, dim) HUGEINT sums → the same
    // positive-mod floor division; scalar per-dimension rows (duckdb's
    // generate_subscripts is 1-based, Spark's posexplode 0-based → d-1)
    "x78_embed_pool" ->
      """WITH x AS (SELECT vec_id // 4 AS parent_id,
                  generate_subscripts(embedding, 1) AS d,
                  CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1073741824)
                       AS BIGINT) AS q
           FROM embeddings),
         g AS (SELECT parent_id, d, SUM(q) AS s, COUNT(*) AS n
               FROM x GROUP BY 1, 2)
         SELECT CAST(parent_id AS BIGINT) AS parent_id,
                CAST(n AS BIGINT) AS n_chunks,
                CAST(d - 1 AS BIGINT) AS dim,
                CAST((s - ((s % n + n) % n)) // n AS BIGINT) AS v
         FROM g""",
    "x74_unigram_train" -> unigramOracleSql,
    "x74b_unigram_score" -> unigramScoreOracleSql,
    "x35b_kmeans_parallel_seed" -> kppSeedOracleSql,
    // x35c answers the SAME oracle verbatim: the data-driven join path is
    // bit-parity with the literal path by contract (ExtSpec pins it)
    "x35c_kmeans_seed_join" -> kppSeedOracleSql,
    "x35_kmeans_train" ->
      """WITH c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 64),
           s1 AS (SELECT vec_id, cid,
                  CAST(SUM(CAST(floor(CAST(ex AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT e.vec_id, c.cid, unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                        FROM embeddings e CROSS JOIN c0 c)
                  GROUP BY vec_id, cid),
           a1 AS (SELECT vec_id, cid FROM s1
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
           e1 AS (SELECT a.cid, generate_subscripts(e.embedding, 1) AS ord,
                         unnest(e.embedding) AS x
                  FROM embeddings e JOIN a1 a USING (vec_id)),
           u1 AS (SELECT cid, ord,
                  SUM(CAST(floor(CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS sq,
                  COUNT(*) AS n
                  FROM e1 GROUP BY cid, ord),
           c1 AS (SELECT cid,
                  array_agg(CAST((sq - ((sq % n + n) % n)) // n / 1073741824.0 AS REAL)
                            ORDER BY ord) AS cvec
                  FROM u1 GROUP BY cid),
           s2 AS (SELECT vec_id, cid,
                  CAST(SUM(CAST(floor(CAST(ex AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT e.vec_id, c.cid, unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                        FROM embeddings e CROSS JOIN c1 c)
                  GROUP BY vec_id, cid),
           a2 AS (SELECT vec_id, cid FROM s2
                  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
           e2 AS (SELECT a.cid, generate_subscripts(e.embedding, 1) AS ord,
                         unnest(e.embedding) AS x
                  FROM embeddings e JOIN a2 a USING (vec_id)),
           u2 AS (SELECT cid, ord,
                  SUM(CAST(floor(CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS sq,
                  COUNT(*) AS n
                  FROM e2 GROUP BY cid, ord),
           c2 AS (SELECT cid,
                  array_agg(CAST((sq - ((sq % n + n) % n)) // n / 1073741824.0 AS REAL)
                            ORDER BY ord) AS cvec
                  FROM u2 GROUP BY cid),
           s3 AS (SELECT vec_id, cid,
                  CAST(SUM(CAST(floor(CAST(ex AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT e.vec_id, c.cid, unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                        FROM embeddings e CROSS JOIN c2 c)
                  GROUP BY vec_id, cid)
         SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM s3
         QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1""",
    "x30_semdedup" ->
      """WITH RECURSIVE c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 64),
           cs AS (SELECT vec_id, cid,
                  CAST(SUM(CAST(floor(CAST(ex AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT e.vec_id, c.cid, unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                        FROM embeddings e CROSS JOIN c)
                  GROUP BY vec_id, cid),
           assign AS (SELECT vec_id, cid FROM cs
                      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
           sv AS (SELECT e.vec_id, e.embedding, a.cid
                  FROM embeddings e JOIN assign a USING (vec_id)),
           norms AS (SELECT vec_id,
                     SUM(CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS ns
                     FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
           prs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS av, b.embedding AS bv
                   FROM sv a JOIN sv b ON a.cid = b.cid AND a.vec_id < b.vec_id),
           dots AS (SELECT a_id, b_id,
                    SUM(CAST(floor(CAST(ax AS DOUBLE)*CAST(bx AS DOUBLE)*1073741824) AS BIGINT)) AS d
                    FROM (SELECT a_id, b_id, unnest(av) AS ax, unnest(bv) AS bx FROM prs)
                    GROUP BY a_id, b_id),
           cand AS (SELECT a_id, b_id FROM (
                    SELECT d.a_id, d.b_id,
                           (CAST(d.d AS DOUBLE)/1073741824)
                             / (sqrt(CAST(na.ns AS DOUBLE)/1073741824)
                                * sqrt(CAST(nb.ns AS DOUBLE)/1073741824)) AS cos
                    FROM dots d JOIN norms na ON na.vec_id = d.a_id
                                JOIN norms nb ON nb.vec_id = d.b_id)
                    WHERE cos >= 0.3),
           edges AS (SELECT a_id AS src, b_id AS dst FROM cand
                     UNION SELECT b_id, a_id FROM cand),
           reach AS (
             SELECT src AS id, dst AS peer FROM edges
             UNION
             SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
           cc AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                  FROM reach GROUP BY id)
         SELECT e.vec_id,
                CAST(COALESCE(cc.cluster_id, e.vec_id) AS BIGINT) AS cluster_id,
                CAST(CASE WHEN COALESCE(cc.cluster_id, e.vec_id) = e.vec_id
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM embeddings e LEFT JOIN cc ON cc.id = e.vec_id""",
    "x15_rhp_neardup" ->
      s"""WITH planes AS (SELECT * FROM (VALUES ${rhpPlanesSql(64, 12)}) AS t(p, w)),
           terms AS (SELECT vec_id, p,
                     CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * wx * 1073741824) AS BIGINT)) AS BIGINT) AS s
                     FROM (SELECT e.vec_id, pl.p, unnest(e.embedding) AS x, unnest(pl.w) AS wx
                           FROM embeddings e CROSS JOIN planes pl)
                     GROUP BY vec_id, p),
           sig AS (SELECT vec_id,
                   CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
                   FROM terms GROUP BY vec_id),
           sv AS (SELECT e.vec_id, e.embedding, g.sig FROM embeddings e JOIN sig g ON g.vec_id = e.vec_id),
           norms AS (SELECT vec_id,
                     SUM(CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS ns
                     FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
           pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS av, b.embedding AS bv
                     FROM sv a JOIN sv b ON a.sig = b.sig AND a.vec_id < b.vec_id),
           dots AS (SELECT a_id, b_id,
                    SUM(CAST(floor(CAST(ax AS DOUBLE)*CAST(bx AS DOUBLE)*1073741824) AS BIGINT)) AS d
                    FROM (SELECT a_id, b_id, unnest(av) AS ax, unnest(bv) AS bx FROM pairs)
                    GROUP BY a_id, b_id)
         SELECT * FROM (
           SELECT d.a_id, d.b_id,
                  (CAST(d.d AS DOUBLE)/1073741824)
                    / (sqrt(CAST(na.ns AS DOUBLE)/1073741824)
                       * sqrt(CAST(nb.ns AS DOUBLE)/1073741824)) AS cos
           FROM dots d JOIN norms na ON na.vec_id = d.a_id
                       JOIN norms nb ON nb.vec_id = d.b_id)
         WHERE cos >= 0.2""",
    "x7b_cosine_lsh" ->
      s"""WITH s AS (SELECT vec_id, embedding, $signBucketSql10 AS sig FROM embeddings),
           norms AS (SELECT vec_id,
                     SUM(CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS ns
                     FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
           pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS av, b.embedding AS bv
                     FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id),
           dots AS (SELECT a_id, b_id,
                    SUM(CAST(floor(CAST(ax AS DOUBLE)*CAST(bx AS DOUBLE)*1073741824) AS BIGINT)) AS d
                    FROM (SELECT a_id, b_id, unnest(av) AS ax, unnest(bv) AS bx FROM pairs)
                    GROUP BY a_id, b_id)
         SELECT * FROM (
           SELECT d.a_id, d.b_id,
                  (CAST(d.d AS DOUBLE)/1073741824)
                    / (sqrt(CAST(na.ns AS DOUBLE)/1073741824)
                       * sqrt(CAST(nb.ns AS DOUBLE)/1073741824)) AS cos
           FROM dots d JOIN norms na ON na.vec_id = d.a_id
                       JOIN norms nb ON nb.vec_id = d.b_id)
         WHERE cos >= 0.2""",
    "x17_dup_clusters" -> (dupClosureCtes +
      """
         SELECT id, cluster_id FROM labels"""),
    // x17b: the cluster labels join the x31 quality scores and the
    // KEEPER is the best-quality member (score desc, id asc) — the
    // production refinement of x17's arbitrary min-id representative
    "x17b_quality_keeper" -> (dupClosureCtes +
      s""",
         w AS (SELECT * FROM (VALUES ${qualityWeightsSql(64)}) AS t(b, wq)),
         toksq AS (SELECT doc_id,
                   unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                   FROM documents),
         btq AS (SELECT doc_id,
                 (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) * 16
                  + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS b
                 FROM toksq),
         scq AS (SELECT doc_id, CAST(SUM(w.wq) AS BIGINT) AS s
                 FROM btq JOIN w ON w.b = btq.b GROUP BY doc_id)
         SELECT cluster_id, id AS keeper_id, s AS keeper_q30
         FROM (SELECT l.cluster_id, l.id, scq.s,
                      ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                        ORDER BY scq.s DESC, l.id) AS rn
               FROM labels l JOIN scq ON scq.doc_id = l.id)
         WHERE rn = 1"""),
    // x55: the x17 closure labels paired docs, singletons label as
    // themselves, and the split draw reads the LABEL (2-hex md5 value %
    // 100) — so a cluster can never straddle the split
    "x56_dsir_select" ->
      """WITH toks AS (SELECT doc_id,
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
                unnest(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
              FROM documents),
         tk AS (SELECT doc_id, is_t,
                (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) * 16
                 + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS b
                FROM toks WHERE tok <> ''),
         cnt AS (SELECT b, COUNT(*) AS cr, SUM(is_t) AS ct FROM tk GROUP BY b),
         tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM cnt),
         ratio AS (SELECT b,
                   (CAST(ct + 1 AS HUGEINT) * (tr + 64) * 1048576)
                   // (CAST(cr + 1 AS HUGEINT) * (tt + 64)) AS rq20
                   FROM cnt CROSS JOIN tot),
         sc AS (SELECT t.doc_id, CAST(SUM(r.rq20) // COUNT(*) AS BIGINT) AS score_q20
                FROM tk t JOIN ratio r ON r.b = t.b GROUP BY t.doc_id)
         SELECT doc_id, score_q20 FROM sc
         ORDER BY score_q20 DESC, doc_id LIMIT 100""",
    "x57_prototype_prune" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 64),
           cs AS (SELECT vec_id, cid,
                  CAST(SUM(CAST(floor(CAST(ex AS DOUBLE)*CAST(cx AS DOUBLE)*1073741824) AS BIGINT)) AS BIGINT) AS s
                  FROM (SELECT e.vec_id, c.cid, unnest(e.embedding) AS ex, unnest(c.cvec) AS cx
                        FROM embeddings e CROSS JOIN c)
                  GROUP BY vec_id, cid),
           assign AS (SELECT vec_id, cid FROM cs
                      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
           norms AS (SELECT vec_id,
                     SUM(CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS ns
                     FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
           cnorms AS (SELECT cid,
                      SUM(CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS cns
                      FROM (SELECT cid, unnest(cvec) AS x FROM c) GROUP BY cid),
           scored AS (SELECT a.vec_id, a.cid,
                      CASE WHEN na.ns = 0 OR cn.cns = 0 THEN -2.0
                           ELSE (CAST(s.s AS DOUBLE)/1073741824)
                                / (sqrt(CAST(na.ns AS DOUBLE)/1073741824)
                                   * sqrt(CAST(cn.cns AS DOUBLE)/1073741824)) END AS cos
                      FROM assign a
                      JOIN cs s ON s.vec_id = a.vec_id AND s.cid = a.cid
                      JOIN norms na ON na.vec_id = a.vec_id
                      JOIN cnorms cn ON cn.cid = a.cid),
           ranked AS (SELECT vec_id, cid,
                      row_number() OVER (PARTITION BY cid ORDER BY cos DESC, vec_id) AS rnk,
                      COUNT(*) OVER (PARTITION BY cid) AS n
                      FROM scored)
         SELECT vec_id, CAST(cid AS BIGINT) AS cid, CAST(rnk AS BIGINT) AS rnk,
                CAST(CASE WHEN rnk > (n * 250 + 999) // 1000 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM ranked""",
    "x58_temperature_mix" ->
      """WITH cnt AS (SELECT source AS d, COUNT(*) AS n FROM documents GROUP BY source),
           mn AS (SELECT MIN(n) AS nmin FROM cnt),
           r0 AS (SELECT d, n, n * nmin AS p,
                  CAST(floor(sqrt(CAST(n * nmin AS DOUBLE))) AS BIGINT) AS c0
                  FROM cnt CROSS JOIN mn),
           r1 AS (SELECT d, n, p, CASE WHEN c0 * c0 > p THEN c0 - 1 ELSE c0 END AS c1 FROM r0),
           r2 AS (SELECT d, n, CASE WHEN (c1 + 1) * (c1 + 1) <= p THEN c1 + 1 ELSE c1 END AS c2 FROM r1),
           rates AS (SELECT d, (1000 * c2) // n AS rate FROM r2)
         SELECT doc_id, source FROM (
           SELECT dd.doc_id, dd.source, r.rate,
             (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 268435456
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
              + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) % 1000 AS draw
           FROM (SELECT doc_id, source,
                 md5(CAST(doc_id AS VARCHAR) || ':tmix') AS h FROM documents) dd
           JOIN rates r ON dd.source IS NOT DISTINCT FROM r.d)
         WHERE draw < rate""",
    "x55_leakage_split" ->
      """WITH RECURSIVE sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM documents, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         edges AS (SELECT a_id AS src, b_id AS dst FROM cand
                   UNION SELECT b_id, a_id FROM cand),
         reach AS (
           SELECT src AS id, dst AS peer FROM edges
           UNION
           SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
         cl AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                FROM reach GROUP BY id),
         lab AS (
           SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN cl ON d.doc_id = cl.id)
         SELECT doc_id, cluster_id,
           CASE WHEN ((strpos('0123456789abcdef',
                        substr(md5(CAST(cluster_id AS VARCHAR) || ':split'), 1, 1)) - 1) * 16
                      + strpos('0123456789abcdef',
                        substr(md5(CAST(cluster_id AS VARCHAR) || ':split'), 2, 1)) - 1) % 100
                     < 10
                THEN 'eval' ELSE 'train' END AS split
         FROM lab""",
    "x4_jaccard_pairs" ->
      """WITH sets AS (SELECT doc_id, lang, source,
             list_distinct(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS toks FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
         FROM sets a JOIN sets b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id""",
    "x6_ann_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8),
           prod AS (SELECT q.q_id, e.vec_id AS n_id,
                    unnest(q.q_vec) AS qx, unnest(e.embedding) AS ex
                    FROM q, embeddings e WHERE e.vec_id <> q.q_id),
           dp AS (SELECT q_id, n_id,
                  SUM(CAST(floor(CAST(qx AS DOUBLE) * CAST(ex AS DOUBLE) * 1073741824) AS BIGINT)) AS s
                  FROM prod GROUP BY q_id, n_id)
         SELECT q_id, n_id, CAST(s AS DOUBLE) / 1073741824 AS score,
                CAST(row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS BIGINT) AS rnk
         FROM dp QUALIFY rnk <= 5""",
    "x7_cosine_neardup" ->
      """WITH p AS (SELECT vec_id, label, embedding FROM embeddings),
           norms AS (SELECT vec_id,
                     SUM(CAST(floor(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)*1073741824) AS BIGINT)) AS s
                     FROM (SELECT vec_id, unnest(embedding) AS x FROM p) GROUP BY vec_id),
           pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.embedding AS av, b.embedding AS bv
                     FROM p a JOIN p b ON a.label = b.label AND a.vec_id < b.vec_id),
           dots AS (SELECT a_id, b_id,
                    SUM(CAST(floor(CAST(ax AS DOUBLE)*CAST(bx AS DOUBLE)*1073741824) AS BIGINT)) AS d
                    FROM (SELECT a_id, b_id, unnest(av) AS ax, unnest(bv) AS bx FROM pairs)
                    GROUP BY a_id, b_id)
         SELECT * FROM (
           SELECT d.a_id, d.b_id,
                  (CAST(d.d AS DOUBLE)/1073741824)
                  / (sqrt(CAST(na.s AS DOUBLE)/1073741824) * sqrt(CAST(nb.s AS DOUBLE)/1073741824)) AS cos
           FROM dots d JOIN norms na ON na.vec_id = d.a_id
           JOIN norms nb ON nb.vec_id = d.b_id)
         WHERE cos > 0.3""",
    "x13_ngram_jaccard" ->
      """WITH sets AS (
           SELECT doc_id, lang, source,
                  list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 1, 1)),
                    i -> concat_ws(' ', t[i], t[i+1]))) AS gs
           FROM (SELECT doc_id, lang, source,
                 string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t FROM documents))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_common,
           CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
         FROM sets a JOIN sets b
           ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id""",
    // x73: the keyword table, token-exact lowercase matching, distinct
    // tags sorted + pipe-joined, and the all-docs left join replayed
    "x73_keyword_tags" ->
      """WITH kw AS (SELECT * FROM (VALUES
             ('join','exec'), ('merge','exec'), ('sort','exec'),
             ('stream','runtime'), ('batch','runtime'),
             ('spark','engine'), ('quantum','absent')) v(kw, tag)),
         d AS (SELECT doc_id,
                      lower(regexp_replace(text, '^\s+|\s+$', '', 'g')) AS t
               FROM documents
               WHERE text IS NOT NULL
                 AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         toks AS (SELECT doc_id, unnest(string_split_regex(t, '\s+')) AS tok
                  FROM d),
         m AS (SELECT DISTINCT doc_id, tag
               FROM toks JOIN kw ON kw.kw = toks.tok),
         agg AS (SELECT doc_id,
                        array_to_string(list_sort(list(tag)), '|') AS tags,
                        COUNT(*) AS n_tags
                 FROM m GROUP BY doc_id)
         SELECT doc.doc_id, COALESCE(a.tags, '') AS tags,
                CAST(COALESCE(a.n_tags, 0) AS BIGINT) AS n_tags
         FROM documents doc LEFT JOIN agg a USING (doc_id)""",
    // x13c: the wrapped-copy construction, bigram sets for originals AND
    // wraps, and both ratios replayed — containment's min-side divisor
    // against Jaccard's union divisor, IEEE divisions of exact ints
    "x13c_containment" ->
      """WITH d AS (
           SELECT doc_id, regexp_replace(text, '^\s+|\s+$', '', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         corpus AS (SELECT doc_id, t FROM d
                    UNION ALL
                    SELECT doc_id + 100000,
                           'site navigation header menu about contact ' || t
                             || ' footer privacy terms copyright notice legal'
                    FROM d WHERE doc_id % 7 = 0),
         sets AS (SELECT doc_id,
                         list_distinct(list_transform(
                           generate_series(1, greatest(len(ts) - 1, 1)),
                           i -> concat_ws(' ', ts[i], ts[i+1]))) AS gs
                  FROM (SELECT doc_id, string_split_regex(t, '\s+') AS ts
                        FROM corpus)),
         cands AS (SELECT doc_id AS a_id, doc_id + 100000 AS b_id
                   FROM d WHERE doc_id % 7 = 0)
         SELECT c.a_id, c.b_id,
                CAST(len(list_intersect(a.gs, b.gs)) AS BIGINT) AS n_common,
                CAST(len(a.gs) AS BIGINT) AS n_a,
                CAST(len(b.gs) AS BIGINT) AS n_b,
                CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / least(len(a.gs), len(b.gs)) AS containment,
                CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.gs, b.gs))) AS jaccard
         FROM cands c
         JOIN sets a ON a.doc_id = c.a_id
         JOIN sets b ON b.doc_id = c.b_id""",
    // x25b: every sliding bigram window, the (count desc, gram asc) tie
    // rule, and the cross-multiplied per-mille floor-div replayed
    "x25b_topngram_fraction" ->
      """WITH d AS (
           SELECT doc_id, regexp_replace(text, '^\s+|\s+$', '', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         tok AS (SELECT doc_id, length(t) AS n_chars,
                        string_split_regex(t, '\s+') AS ts
                 FROM d),
         g AS (SELECT doc_id, n_chars,
                      unnest(list_transform(generate_series(1, len(ts) - 1),
                        i -> concat_ws(' ', ts[i], ts[i+1]))) AS gram
               FROM tok WHERE len(ts) >= 2),
         c AS (SELECT doc_id, n_chars, gram, COUNT(*) AS n_occ
               FROM g GROUP BY 1, 2, 3),
         r AS (SELECT doc_id, n_chars, gram, n_occ,
                      ROW_NUMBER() OVER (PARTITION BY doc_id
                        ORDER BY n_occ DESC, gram ASC) AS rn
               FROM c)
         SELECT doc_id, gram AS top_gram, CAST(n_occ AS BIGINT) AS n_occ,
                CAST((1000 * n_occ * length(gram)) // n_chars AS BIGINT)
                  AS frac_permille
         FROM r WHERE rn = 1""",
    "x20_nfc_normalize" ->
      """SELECT doc_id,
         md5(nfc_normalize(text || 'e' || chr(769))) AS norm_md5,
         CAST(length(nfc_normalize(text || 'e' || chr(769))) AS BIGINT) AS n_chars_norm
         FROM documents""",
    "x21_url_host" ->
      """SELECT regexp_extract('https://' || source || '.example.org/doc/'
             || CAST(doc_id AS VARCHAR), '^[a-z]+://([^/]+)', 1) AS host,
           COUNT(*) AS n_docs
         FROM documents GROUP BY 1""",
    "x24_pii_redaction" ->
      """WITH w AS (
           SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.org or (555) 010-2368' AS t
           FROM documents)
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\(\d{3}\)[ .-]?\d{3}[ .-]?\d{4}', '<PHONE>', 'g')) AS redacted_md5,
           CAST(length(t) - length(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\(\d{3}\)[ .-]?\d{3}[ .-]?\d{4}', '<PHONE>', 'g')) AS BIGINT)
             AS n_removed_chars
         FROM w""",
    // x24b: candidate extraction, the 16-digit Luhn fold per candidate
    // (double odd 1-based positions, fold >9 back by 9, sum mod 10), and
    // the literal replace chain over the VALID candidates only
    "x24b_luhn_redaction" ->
      """WITH w AS (
           SELECT doc_id,
             text || ' pay '
                  || CASE WHEN doc_id % 2 = 0 THEN '4111-1111-1111-1111'
                          ELSE '4111 1111 1111 1111' END
                  || ' order 1234 5678 9012 3456 end' AS t
           FROM documents),
         red AS (
           SELECT doc_id, t,
             list_reduce(
               list_prepend(t,
                 list_filter(
                   regexp_extract_all(t,
                     '\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b'),
                   c -> list_sum(list_transform(generate_series(1, 16), i ->
                          CASE WHEN i % 2 = 1
                            THEN CASE WHEN 2 * (ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48) > 9
                                      THEN 2 * (ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48) - 9
                                      ELSE 2 * (ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48) END
                            ELSE ascii(substr(regexp_replace(c, '[^0-9]', '', 'g'), i, 1)) - 48 END))
                        % 10 = 0)),
               (acc, c) -> replace(acc, c, '<CARD>')) AS r
           FROM w)
         SELECT doc_id, md5(r) AS redacted_md5,
                CAST(length(t) - length(r) AS BIGINT) AS n_removed_chars
         FROM red""",
    "x25_gopher_quality" ->
      """SELECT doc_id,
         1.0 - CAST(len(list_distinct(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\. ')))
                    AS DOUBLE)
             / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\. ')) AS dup_sent_frac,
         CAST(list_max(list_transform(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                                      t -> length(t))) AS BIGINT) AS max_tok_len
         FROM documents""",
    "x23_decontamination" ->
      """WITH grams AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents)),
         bg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id < 10),
         tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id >= 10)
         SELECT tg.doc_id, CAST(COUNT(DISTINCT tg.g) AS BIGINT) AS n_shared
         FROM tg JOIN bg ON tg.g = bg.g
         GROUP BY tg.doc_id""",
    // x23c: both gram lists are per-doc distinct, so each
    // (train, gram, bench) triple appears once and COUNT(*) is the
    // distinct shared-gram count per pair
    "x23c_contamination_pairs" ->
      """WITH grams AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents)),
         bg AS (SELECT doc_id AS bench_doc_id, unnest(gs) AS g
                FROM grams WHERE doc_id < 10),
         tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id >= 10)
         SELECT tg.doc_id, bg.bench_doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM tg JOIN bg USING (g)
         GROUP BY 1, 2""",
    // x23d: the bloom bitmap replayed exactly — positions from the shared
    // 5-nibble md5 chain, 32-bit words built by bit_or, the probe's
    // LEFT-join + bit test; a gram flags iff all 3 positions are set, so
    // the oracle checks the deterministic false positives too
    "x23d_bloom_decontam" ->
      s"""WITH grams AS (
           SELECT doc_id, list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gs
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
                 FROM documents)),
         bg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id < 10),
         hs AS (SELECT h FROM generate_series(1, 3) t(h)),
         bpos AS (SELECT ${md5Hex5("bg.g || ':bloom:' || h")} % 131072 AS p
                  FROM bg, hs),
         bits AS (SELECT p // 32 AS widx,
                         bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
                  FROM bpos GROUP BY 1),
         tg AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id >= 10),
         tp AS (SELECT doc_id, g,
                       ${md5Hex5("tg.g || ':bloom:' || h")} % 131072 AS p
                FROM tg, hs),
         hit AS (SELECT tp.doc_id, tp.g,
                   SUM(CASE WHEN b.bits IS NOT NULL
                             AND ((b.bits >> CAST(tp.p % 32 AS INT)) & 1) = 1
                            THEN 1 ELSE 0 END) AS nh
                 FROM tp LEFT JOIN bits b ON tp.p // 32 = b.widx
                 GROUP BY 1, 2)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
         FROM hit WHERE nh = 3
         GROUP BY doc_id""",
    // x23b: tg is distinct per (doc, gram), bg distinct — COUNT(*) is the
    // doc's gram total, COUNT(_hit-side col) the shared count (COUNT
    // skips the left-join NULLs); one division for the fraction
    "x23b_contamination_frac" ->
      """WITH tg AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS g
           FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents WHERE doc_id >= 10)),
         bg AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(
                    generate_series(1, greatest(len(t) - 2, 1)),
                    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS g
           FROM (SELECT string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                 FROM documents WHERE doc_id < 10))
         SELECT doc_id, COUNT(*) AS n_grams,
                CAST(COUNT(b.g) AS BIGINT) AS n_shared,
                CAST(COUNT(b.g) AS DOUBLE) / COUNT(*) AS frac
         FROM tg LEFT JOIN bg b ON tg.g = b.g
         GROUP BY doc_id
         HAVING CAST(COUNT(b.g) AS DOUBLE) / COUNT(*) >= 0.05""",
    "x18_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 5""",
    "x32_mixture_sample" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 268435456
              + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
              + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
              + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
              + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
              + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
              + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) % 1000 AS draw
           FROM (SELECT doc_id, source,
                 md5(CAST(doc_id AS VARCHAR) || ':mix') AS h FROM documents))
         WHERE draw < CASE source
           WHEN 'src0' THEN 1000 WHEN 'src1' THEN 900 WHEN 'src2' THEN 750
           WHEN 'src3' THEN 500 WHEN 'src4' THEN 250 WHEN 'src5' THEN 100
           WHEN 'src6' THEN 0 ELSE 600 END""",
    "m1_scd2_merge" ->
      """WITH hist_open AS (
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
         SELECT * FROM hist_closed""",
    "m2_snapshot_diff" ->
      """WITH oldsnap AS (SELECT c_custkey, c_mktsegment FROM customer),
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
            OR o.c_mktsegment IS DISTINCT FROM c.c_mktsegment""",
    "x41c_span_incremental" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM w)
         SELECT doc_id, COUNT(*) AS n_spans,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                  AS repeated_frac
         FROM occ WHERE doc_id % 5 = 0 GROUP BY doc_id""",
    "x41b_span_excise" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, i, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, i, h,
                        COUNT(*) OVER (PARTITION BY h) AS n_occ,
                        ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn
                 FROM w),
         exc AS (SELECT doc_id, unnest(generate_series(i, i + 4)) AS p
                 FROM occ WHERE n_occ >= 2 AND rn > 1),
         mask AS (SELECT doc_id AS m_id, list_distinct(list(p)) AS ps FROM exc GROUP BY doc_id)
         SELECT k.doc_id,
                COALESCE(array_to_string(list_filter(k.t,
                  (x, j) -> NOT list_contains(COALESCE(m.ps, []), j - 1)), ' '), '') AS text_clean,
                CAST(len(COALESCE(m.ps, [])) AS BIGINT) AS n_removed
         FROM toks k LEFT JOIN mask m ON k.doc_id = m.m_id""",
    // x41d: maximal shared substrings replayed — same md5 5-windows,
    // same occ-cap, pairs on digest equality, runs merged per diagonal
    // by the gaps-and-islands idiom, then re-sliced from the token
    // arrays for the verified bit
    "x41d_shared_spans_exact" -> (sharedSpansCtes +
      """
         SELECT a_id, b_id,
                CAST(a_start AS BIGINT) AS a_start,
                CAST(b_start AS BIGINT) AS b_start,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(verified AS BIGINT) AS verified
         FROM ver"""),
    // x41f: the incremental form answers the ONE-SHOT chain restricted
    // to pairs touching the doc_id % 5 = 0 batch (the x86b convention)
    "x41f_shared_spans_incremental" -> (sharedSpansCtes +
      """
         SELECT a_id, b_id,
                CAST(a_start AS BIGINT) AS a_start,
                CAST(b_start AS BIGINT) AS b_start,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(verified AS BIGINT) AS verified
         FROM ver WHERE a_id % 5 = 0 OR b_id % 5 = 0"""),
    // x41e: the apply — verified spans mask their b-side token ranges
    // (lower id keeps), masks union per doc, survivors string_agg back
    // in position order; unmasked docs pass through normalized
    "x41e_span_excise_exact" -> (sharedSpansCtes +
      """,
         mask AS (SELECT DISTINCT doc_id, p FROM (
                    SELECT b_id AS doc_id,
                           unnest(generate_series(b_start,
                             b_start + n_tokens - 1)) AS p
                    FROM ver WHERE verified = 1)),
         tokpos AS (SELECT doc_id, i - 1 AS p, t[i] AS tok
                    FROM (SELECT doc_id, t,
                            unnest(generate_series(1, len(t))) AS i
                          FROM toks)),
         kept AS (SELECT tp.doc_id, tp.p, tp.tok
                  FROM tokpos tp LEFT JOIN mask m
                    ON m.doc_id = tp.doc_id AND m.p = tp.p
                  WHERE m.doc_id IS NULL),
         rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt
                     FROM kept GROUP BY 1),
         mn AS (SELECT doc_id, COUNT(*) AS nrem FROM mask GROUP BY 1)
         SELECT t.doc_id,
                COALESCE(rb.txt, '') AS text_clean,
                CAST(COALESCE(mn.nrem, 0) AS BIGINT) AS n_removed
         FROM toks t
         LEFT JOIN rebuilt rb ON rb.doc_id = t.doc_id
         LEFT JOIN mn ON mn.doc_id = t.doc_id"""),
    "x41_repeated_spans" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         w0 AS (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS i
                FROM toks WHERE len(t) >= 5),
         w AS (SELECT doc_id, md5(array_to_string(t[i+1:i+5], ' ')) AS h FROM w0),
         occ AS (SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS n_occ FROM w)
         SELECT doc_id, COUNT(*) AS n_spans,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
                CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                  AS repeated_frac
         FROM occ GROUP BY doc_id""",
    "x40_zipf_quality" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
           FROM documents),
         tok2 AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
         vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok2
                   GROUP BY tok ORDER BY cnt DESC, tok LIMIT 1000)
         SELECT doc_id, COUNT(*) AS n_tok,
                CAST(SUM(length(bin(COALESCE(v.cnt, 1))) - 1) AS BIGINT) AS bits,
                CAST(SUM(length(bin(COALESCE(v.cnt, 1))) - 1) AS DOUBLE) / COUNT(*)
                  AS zipf_score
         FROM tok2 LEFT JOIN vocab v USING (tok)
         GROUP BY doc_id""",
    "x39_token_budget_mix" ->
      """SELECT doc_id, source, n_tok FROM (
           SELECT doc_id, source, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':budget'), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           FROM (SELECT doc_id, source,
                 CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                      ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
                 FROM documents))
         WHERE cum < CASE source WHEN 'src0' THEN 20000 WHEN 'src1' THEN 5000
                     WHEN 'src2' THEN 0 ELSE 1000 END""",
    "x19_token_packing" ->
      """SELECT doc_id, lang, n_tok,
           CAST(floor(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500) AS BIGINT) AS bin
         FROM (
           SELECT doc_id, lang,
             CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
           FROM documents)""",
    // x37: the five oracle-proven stage bodies (x16 curation CASE, x28
    // sig/cand/CC, x23 gram split, x32 draw, x19 packing window) chained
    // into one CTE pipeline — checks the stage WIRING end-to-end
    "x37_pretrain_build" ->
      """WITH RECURSIVE
         stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents),
         cur AS (SELECT doc_id FROM stats
                 WHERE dup_rank = 1 AND n_tok >= 20 AND lang IN ('de','en','es','zh')
                   AND NOT (punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0)),
         curdocs AS (SELECT d.* FROM documents d JOIN cur USING (doc_id)),
         sig AS (
           SELECT doc_id, MIN(substr(m,1,8)) AS h1, MIN(substr(m,9,8)) AS h2,
                  MIN(substr(m,17,8)) AS h3, MIN(substr(m,25,8)) AS h4
           FROM (SELECT doc_id, md5(substr(text, i, 5)) AS m
                 FROM curdocs, (SELECT unnest(generate_series(1,
                 (SELECT CAST(MAX(length(text)) AS BIGINT) FROM documents))) AS i) g
                 WHERE i <= greatest(length(text) - 4, 1))
           GROUP BY doc_id),
         cand AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id
             AND ((a.h1 = b.h1 AND a.h2 = b.h2) OR (a.h3 = b.h3 AND a.h4 = b.h4))),
         edges AS (SELECT a_id AS src, b_id AS dst FROM cand
                   UNION SELECT b_id, a_id FROM cand),
         reach AS (
           SELECT src AS id, dst AS peer FROM edges
           UNION
           SELECT r.id, e.dst FROM reach r JOIN edges e ON r.peer = e.src),
         clusters AS (SELECT id, LEAST(id, MIN(peer)) AS cluster_id
                      FROM reach GROUP BY id),
         train AS (SELECT * FROM curdocs
                   WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
                     AND doc_id >= 10),
         tgrams AS (SELECT doc_id, list_distinct(list_transform(
                      generate_series(1, greatest(len(t) - 4, 1)),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS gs
                    FROM (SELECT doc_id, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                          FROM train)),
         bgrams AS (SELECT DISTINCT unnest(gs) AS g FROM (
                      SELECT list_distinct(list_transform(
                        generate_series(1, greatest(len(t) - 4, 1)),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS gs
                      FROM (SELECT string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                            FROM documents WHERE doc_id < 10))),
         contam AS (SELECT DISTINCT tg.doc_id
                    FROM (SELECT doc_id, unnest(gs) AS g FROM tgrams) tg
                    JOIN bgrams ON tg.g = bgrams.g),
         clean AS (SELECT * FROM train
                   WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         mixed AS (SELECT doc_id, lang, text FROM (
             SELECT doc_id, lang, text, source,
               (CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 268435456
                + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
                + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
                + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
                + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) % 1000 AS draw
             FROM (SELECT doc_id, lang, text, source,
                   md5(CAST(doc_id AS VARCHAR) || ':mix') AS h FROM clean))
           WHERE draw < CASE source
             WHEN 'src0' THEN 1000 WHEN 'src1' THEN 900 WHEN 'src2' THEN 750
             WHEN 'src3' THEN 500 WHEN 'src4' THEN 250 WHEN 'src5' THEN 100
             WHEN 'src6' THEN 0 ELSE 600 END)
         SELECT doc_id, lang, n_tok,
           CAST(floor(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500) AS BIGINT) AS bin
         FROM (
           SELECT doc_id, lang,
             CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tok
           FROM mixed)""",
    "x16_curation" ->
      """WITH stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents)
         SELECT doc_id,
           CASE WHEN dup_rank > 1 THEN 'dup'
                WHEN n_tok < 20 THEN 'too_short'
                WHEN lang NOT IN ('de','en','es','zh') THEN 'bad_lang'
                WHEN punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0 THEN 'low_quality'
                ELSE 'ok' END AS status
         FROM stats""",
    "x16b_curation_report" ->
      """WITH stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents),
           curated AS (
             SELECT CASE WHEN dup_rank > 1 THEN 'dup'
                  WHEN n_tok < 20 THEN 'too_short'
                  WHEN lang NOT IN ('de','en','es','zh') THEN 'bad_lang'
                  WHEN punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0 THEN 'low_quality'
                  ELSE 'ok' END AS status
             FROM stats)
         SELECT status, COUNT(*) AS n FROM curated GROUP BY status""",
    // x14b: the blobs are built from these same doc_id formulas, so the
    // oracle states the EXPECTED decode directly; the Spark side earns the
    // match only if blob construction AND the real header parsers agree
    // byte-for-byte with the PNM/RIFF specs (corrupt rows → ok=false, 0s)
    "x14b_media_headers" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
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
         FROM documents WHERE doc_id % 2 = 1""",
    "x12_subword_count" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
           AS n_subwords
         FROM documents""",
    "x36_lang_id" -> langIdSql,
    "x8_lang_stats" ->
      """SELECT doc_id,
         CAST(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tokens,
         CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
              ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                   / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tok_len
         FROM documents""",
    "x9_quality" ->
      """SELECT doc_id,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                   AS DOUBLE) / length(text) END AS punct_ratio,
         CAST(len(list_intersect(list_distinct(string_split_regex(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+')),
              ['the','a','of','and','or'])) AS BIGINT) AS stop_hits
         FROM documents""",
    "x31_quality_model" ->
      s"""WITH w AS (SELECT * FROM (VALUES ${qualityWeightsSql(64)}) AS t(b, wq)),
           toks AS (SELECT doc_id,
                    unnest(string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                    FROM documents),
           bt AS (SELECT doc_id,
                  (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) * 16
                   + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)) % 64 AS b
                  FROM toks),
           sc AS (SELECT doc_id, CAST(SUM(w.wq) AS BIGINT) AS s
                  FROM bt JOIN w ON w.b = bt.b GROUP BY doc_id)
         SELECT doc_id, CAST(s AS DOUBLE)/1073741824 AS score,
                CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT) AS quality_pass
         FROM sc""",
    "x10_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents""",
    "x11_token_total" ->
      """SELECT CAST(SUM(CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
              ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END) AS BIGINT) AS total_tokens,
         COUNT(*) AS n_docs FROM documents""",
    "x38_bpe_pairs" ->
      """SELECT pair, COUNT(*) AS n
         FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> concat_ws(' ', t[i], t[i+1]))) AS pair
               FROM (SELECT string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
                     FROM documents
                     WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''))
         GROUP BY pair
         ORDER BY n DESC, pair LIMIT 100""",
    // x38b/x38c: the three BPE rounds unrolled through the shared CTE
    // chain (bpeRoundsCtes) — x38b reads the merge table off m1..m3,
    // x38c the final encoded corpus off t3
    "x38b_bpe_train" ->
      s"""WITH $bpeRoundsCtes
          SELECT CAST(1 AS BIGINT) AS merge_rank, a, b, CAST(n AS BIGINT) AS n FROM m1
          UNION ALL SELECT 2, a, b, n FROM m2
          UNION ALL SELECT 3, a, b, n FROM m3""",
    "x38c_bpe_encode" ->
      s"""WITH $bpeRoundsCtes
          SELECT doc_id, md5(t) AS seg_md5,
                 CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
          FROM t3""",
    "x76_wordpiece_train" -> wpTrainOracleSql,
    "x76b_wordpiece_encode" -> wpEncodeOracleSql,
    // x76c: the data-driven segmenter answers the literal form's oracle
    // VERBATIM — bit-parity is the contract
    "x76c_wordpiece_encode_join" -> wpEncodeOracleSql,
    // x68: the same round chain over the CHAR-tokenized stream — word
    // boundaries become '¤' tokens, every char a token ('\1 ' is RE2's
    // replacement backreference; Spark spells it '$1 ')
    "x68_char_bpe" ->
      s"""WITH ${bpeRoundsCtesFrom(
        "trim(regexp_replace(replace(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ', '¤'), '(.)', '\\1 ', 'g'))")}
          SELECT CAST(1 AS BIGINT) AS merge_rank, a, b, CAST(n AS BIGINT) AS n FROM m1
          UNION ALL SELECT 2, a, b, n FROM m2
          UNION ALL SELECT 3, a, b, n FROM m3""",
    // x54: the x16 status chain picks survivors, the x50 assignment
    // chain (band/salt/rn/shard, replayed over SURVIVORS only — the rn
    // is curation-dependent) shards them, and the card groups by
    // (shard, lang). The Spark side's physical layout hop must be
    // invisible to every total.
    "x54_release_build" ->
      """WITH stats AS (
           SELECT doc_id, lang, text,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS dup_rank,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS n_tok,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
                       AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN text IS NULL OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS mean_tl
           FROM documents),
         surv AS (
           -- the same first-failing-rule CASE as x16's oracle (NOT a WHERE
           -- chain: `lang IN` would drop NULL langs that Spark's curate
           -- passes through as 'ok' — its !isin condition is NULL there)
           SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
                  md5(CAST(doc_id AS VARCHAR) || ':shard') AS h
           FROM stats
           WHERE CASE WHEN dup_rank > 1 THEN 'dup'
                      WHEN n_tok < 20 THEN 'too_short'
                      WHEN lang NOT IN ('de','en','es','zh') THEN 'bad_lang'
                      WHEN punct_ratio > 0.2 OR mean_tl < 2.0 OR mean_tl > 12.0 THEN 'low_quality'
                      ELSE 'ok' END = 'ok'),
         a AS (
           SELECT doc_id, lang, n_tok, h, n_tok // 64 AS band,
             CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT)
               AS salt
           FROM surv),
         r AS (
           SELECT doc_id, lang, n_tok, band, salt,
             CAST(ROW_NUMBER() OVER (PARTITION BY band, salt
               ORDER BY h, doc_id) AS BIGINT) AS rn
           FROM a)
         SELECT CAST((band + salt + rn - 1) % 8 AS BIGINT) AS shard, lang,
                COUNT(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM r GROUP BY 1, 2""",
    // x53: byte mass reads the NORMALIZED text (t0 — merging only swaps
    // 1-byte spaces for the 1-byte sep, so t3 bytes would equal t0's, but
    // t0 is the metric's definition); token mass reads the trained
    // segmentation (t3). strlen = DuckDB's byte length (Spark octet_length)
    "x53_tokenizer_eval" ->
      s"""WITH $bpeRoundsCtes
          SELECT d.lang, COUNT(*) AS n_docs,
                 CAST(SUM(strlen(t0.t)) AS BIGINT) AS n_bytes,
                 CAST(SUM(len(string_split(t3.t, ' '))) AS BIGINT) AS n_tokens
          FROM t3 JOIN t0 USING (doc_id) JOIN documents d USING (doc_id)
          GROUP BY 1""",
    "x46_curriculum" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
         c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY 1),
         tt AS (SELECT COUNT(*) AS t FROM tok),
         w0 AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2),
         bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM w0),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         sc AS (
           SELECT bg.doc_id, COUNT(*) AS n_pairs,
                  CAST(SUM(CASE WHEN c2.c2 IS NOT NULL
                    THEN CAST((1073741824::HUGEINT * c2.c2) // u1.c1 AS BIGINT)
                    ELSE CAST((4::HUGEINT * 1073741824 * COALESCE(u2.c1, 0))
                              // (10::HUGEINT * t) AS BIGINT)
                  END) AS BIGINT) AS sum_p_q30
           FROM bg
           LEFT JOIN c2 USING (w1, w2)
           LEFT JOIN c1 u1 ON bg.w1 = u1.w
           LEFT JOIN c1 u2 ON bg.w2 = u2.w
           CROSS JOIN tt
           GROUP BY 1),
         lm AS (
           SELECT d.doc_id,
                  CAST(sc.sum_p_q30 // sc.n_pairs AS BIGINT) AS lm_q30
           FROM documents d LEFT JOIN sc USING (doc_id)),
         cu AS (
           SELECT doc_id, lm_q30,
                  least(3, greatest(0, (COALESCE(lm_q30, 0) * 4) // 1073741824))
                    AS band,
                  md5(concat_ws(':', 0, doc_id)) AS h
           FROM lm)
         SELECT band, substr(h, 1, 2) AS batch,
                CAST(ROW_NUMBER() OVER (
                       PARTITION BY band, substr(h, 1, 2)
                       ORDER BY h, doc_id) AS BIGINT) AS pos,
                doc_id, lm_q30
         FROM cu""",
    // x50: the assignment replays from (doc_id, text) alone — band by
    // 64-token width, salt = the draw's leading hex digit, round-robin
    // within (band, salt) ordered by (draw, doc_id), shard staggered by
    // band + salt. The layout write/read hop on the Spark side must not
    // change a single total.
    "x50_shard_export" ->
      """WITH w AS (
           SELECT doc_id,
             CASE WHEN text IS NULL
                    OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
               AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || ':shard') AS h
           FROM documents),
         a AS (
           SELECT doc_id, n_tok, h, n_tok // 64 AS band,
             CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT)
               AS salt
           FROM w),
         r AS (
           SELECT doc_id, n_tok, band, salt,
             CAST(ROW_NUMBER() OVER (PARTITION BY band, salt
               ORDER BY h, doc_id) AS BIGINT) AS rn
           FROM a)
         SELECT CAST((band + salt + rn - 1) % 8 AS BIGINT) AS shard,
                COUNT(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tok_total,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum
         FROM r GROUP BY 1""",
    "x51_dataset_card" ->
      """WITH b AS (
           SELECT source, lang,
             CASE WHEN text IS NULL
                    OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                  ELSE len(string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END
               AS n_tok,
             COALESCE(LENGTH(text), 0) AS nch,
             CASE WHEN text IS NOT NULL
                    AND COUNT(*) OVER (PARTITION BY md5(text)) > 1
                  THEN 1 ELSE 0 END AS dup
           FROM documents)
         SELECT source, lang, COUNT(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(nch) AS BIGINT) AS n_chars,
                CAST(SUM(dup) AS BIGINT) AS n_dup_docs,
                CAST(MIN(n_tok) AS BIGINT) AS min_tok,
                CAST(MAX(n_tok) AS BIGINT) AS max_tok
         FROM b GROUP BY ROLLUP (source, lang)""",
    // x52: the draw ((2-hex-digit value of md5(id:span:chunk)) % 100),
    // sentinel ranks (1-based list_position - 1), and both reassemblies
    // replay exactly; range(0, 0) and the blank-text guard keep
    // degenerate docs at empty input/target
    "x52_span_corrupt" ->
      """WITH base AS (
           SELECT doc_id,
             CASE WHEN text IS NULL
                    OR regexp_replace(text, '^\s+|\s+$', '', 'g') = ''
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS t
           FROM documents),
         ch AS (
           SELECT doc_id, t,
             range(0, CAST((len(t) + 2) // 3 AS BIGINT)) AS idxs,
             list_filter(range(0, CAST((len(t) + 2) // 3 AS BIGINT)),
               c -> ((strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || ':span:'
                                  || CAST(c AS VARCHAR)), 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || ':span:'
                                  || CAST(c AS VARCHAR)), 2, 1)) - 1) % 100
                    < 15) AS masked
           FROM base)
         SELECT doc_id,
           -- flatten([]) is NULL in DuckDB (Spark's is []) — coalesce both
           -- reassemblies so unmasked/degenerate docs emit '' like Spark
           COALESCE(array_to_string(flatten(list_transform(idxs,
             c -> CASE WHEN list_contains(masked, c)
                    THEN ['<extra_id_'
                          || CAST(list_position(masked, c) - 1 AS VARCHAR)
                          || '>']
                    ELSE t[c*3+1 : least((c+1)*3, len(t))] END)), ' '), '')
             AS input,
           COALESCE(array_to_string(flatten(list_transform(masked,
             c -> list_prepend('<extra_id_'
                    || CAST(list_position(masked, c) - 1 AS VARCHAR) || '>',
                  t[c*3+1 : least((c+1)*3, len(t))]))), ' '), '') AS target,
           CAST(len(masked) AS BIGINT) AS n_masked
         FROM ch""",
    "x45_bigram_lm" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(
                    regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
         c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY 1),
         tt AS (SELECT COUNT(*) AS t FROM tok),
         w0 AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                FROM toks WHERE len(t) >= 2),
         bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM w0),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
         sc AS (
           SELECT bg.doc_id, COUNT(*) AS n_pairs,
                  CAST(SUM(CASE WHEN c2.c2 IS NOT NULL
                    THEN CAST((1073741824::HUGEINT * c2.c2) // u1.c1 AS BIGINT)
                    ELSE CAST((4::HUGEINT * 1073741824 * COALESCE(u2.c1, 0))
                              // (10::HUGEINT * t) AS BIGINT)
                  END) AS BIGINT) AS sum_p_q30
           FROM bg
           LEFT JOIN c2 USING (w1, w2)
           LEFT JOIN c1 u1 ON bg.w1 = u1.w
           LEFT JOIN c1 u2 ON bg.w2 = u2.w
           CROSS JOIN tt
           GROUP BY 1)
         SELECT d.doc_id, COALESCE(sc.n_pairs, 0) AS n_pairs, sc.sum_p_q30,
                CAST(sc.sum_p_q30 // sc.n_pairs AS BIGINT) AS lm_q30
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    // x77: the KN model tables (bigram counts, context count + left
    // diversity, right diversity, type total) and the one-floor-div
    // score replayed over HUGEINT; unseen context falls to pure
    // continuation, empty train to 0
    "x77_kn_bigram" ->
      s"""WITH $knBigramCtes
         SELECT d.doc_id, COALESCE(sc.n_pairs, 0) AS n_pairs, sc.sum_p_q30,
                CAST(sc.sum_p_q30 // sc.n_pairs AS BIGINT) AS lm_q30
         FROM documents d LEFT JOIN sc USING (doc_id)""",
    // x77b: the bin census, the desc cumulative window over bins, and
    // the floor-div bucket pick replayed exactly; docs outside sc (no
    // bigram pair) fall through both LEFT joins to 'unscored'
    "x77b_perplexity_buckets" ->
      s"""WITH $knBigramCtes,
         scr AS (SELECT doc_id,
                        CAST(sum_p_q30 // n_pairs AS BIGINT) AS lm FROM sc),
         bins AS (SELECT lm // 4194304 AS qb, COUNT(*) AS c
                  FROM scr GROUP BY 1),
         tot AS (SELECT SUM(c) AS t FROM bins),
         lab AS (SELECT qb,
                   CASE CAST((3 * COALESCE(SUM(c) OVER (ORDER BY qb DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0)) // t AS INT)
                     WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                     ELSE 'tail' END AS bucket
                 FROM bins CROSS JOIN tot)
         SELECT d.doc_id, scr.lm AS lm_q30,
                COALESCE(lab.bucket, 'unscored') AS bucket
         FROM documents d
         LEFT JOIN scr USING (doc_id)
         LEFT JOIN lab ON scr.lm // 4194304 = lab.qb""",
    // x79: the 4×2048 cell build from the shared 5-nibble md5 chain,
    // the candidate probe's min-over-rows (missing cell reads 0), and
    // the 1/200 stream threshold — collision inflation replays
    // identically, so est is exact-comparable, not just bounded
    "x79_cms_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest(string_split_regex(
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
         WHERE est.est >= thr.t""",
    "x80_hll_distinct" -> x80OracleSql,
    "a2b_approx_distinct" -> a2bOracleSql,
    "x82_kmv_overlap" -> x82OracleSql,
    "x92_quantile_sketch" -> x92OracleSql,
    "x92c_sketch_clip" -> x92cOracleSql,
    "x93_cms_join_size" -> x93OracleSql,
    "et7_windowed_quantiles" -> et7OracleSql,
    "x94_char_entropy" -> x94OracleSql,
    "x97_release_drift" -> x97OracleSql,
    "x97d_psi_alert" -> x97dOracleSql,
    "x97e_psi_numeric" -> x97eOracleSql,
    // x98: Cohen's kappa replayed — confusion cells, marginals, the
    // HUGEINT chance term, and the positive-mod floor (kappa can be
    // negative); p_e = 1 degenerates to NULL, never a fake 0.
    // x98b answers the SAME oracle verbatim: confusion cells are sums,
    // so the staged-base + batch re-sum IS the one-shot cell table
    // (the x97b/x93b convention; LearnSpec pins the merge identity)
    "x98_cohen_kappa" -> x98OracleSql,
    "x98b_kappa_incremental" -> x98OracleSql,
    // x98c: Fleiss' kappa (three weak labelers) replayed through the
    // binary-label cell shortcut; x98d answers the SAME oracle verbatim
    // — Fleiss cells are item-sums, so staged-base + batch re-sum IS
    // the one-shot cell table (LearnSpec pins the merge identity)
    "x98c_fleiss_kappa" -> x98cOracleSql,
    "x98d_fleiss_incremental" -> x98cOracleSql,
    // x98e: Krippendorff's alpha — abstention-tolerant agreement, the
    // per-item rationals cleared exactly through lcm(1..m−1)
    "x98e_krippendorff" -> x98eOracleSql,
    // x99b: McNemar's paired test — the shared centroid CTE chain
    // replays training/threshold, docs re-joined for lang and the
    // char-length rival; only discordant pairs enter the statistic
    // ((b−c)² ≥ 0, so the bare // is floor); b+c = 0 → NULL
    "x99b_mcnemar" -> (centroidCtes("doc_id % 2 = 0") +
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
         FROM cm"""),
    // x100: the k-anonymity audit — QI-group census and exact Q20
    // row exposure (all operands ≥ 0; `div` and `//` agree on the
    // bucket for any sign since both truncate toward zero)
    "x100_k_anonymity" ->
      """WITH g AS (SELECT lang, source, n_chars // 256 AS lb,
                      COUNT(*) AS c
                    FROM documents GROUP BY 1, 2, 3)
         SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS n_groups,
                CAST(MIN(c) AS BIGINT) AS min_group,
                CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS groups_below_k,
                CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT)
                  AS rows_at_risk,
                CAST((1048576 * SUM(CASE WHEN c < 5 THEN c ELSE 0 END))
                     // SUM(c) AS BIGINT) AS risk_q20
         FROM g GROUP BY 1""",
    // x100b: distinct-sensitive census per QI group, l = 3
    "x100b_l_diversity" ->
      """WITH lab AS (
           SELECT lang, source, n_chars // 256 AS lb,
                  len(string_split_regex(regexp_replace(text,
                    '^\s+|\s+$', '', 'g'), '\s+')) // 8 AS sv
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         g AS (SELECT lang, source, lb, COUNT(*) AS c,
                      COUNT(DISTINCT sv) AS d
               FROM lab GROUP BY 1, 2, 3)
         SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
                CAST(COUNT(*) AS BIGINT) AS n_groups,
                CAST(MIN(d) AS BIGINT) AS min_sv_distinct,
                CAST(SUM(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
                  AS groups_below_l,
                CAST(SUM(CASE WHEN d < 3 THEN c ELSE 0 END) AS BIGINT)
                  AS rows_at_risk,
                CAST((1048576 * SUM(CASE WHEN d < 3 THEN c ELSE 0 END))
                     // SUM(c) AS BIGINT) AS risk_q20
         FROM g GROUP BY 1""",
    // x100c: ordered-EMD per QI group vs the key's distribution —
    // dense CDF windows, exact HUGEINT cross-multiplied gaps, one Q20
    // floor per group (non-negative, so // = floor)
    "x100c_t_closeness" ->
      """WITH lab AS (
           SELECT lang, source, n_chars // 256 AS lb,
                  len(string_split_regex(regexp_replace(text,
                    '^\s+|\s+$', '', 'g'), '\s+')) // 8 AS sv
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         cells AS (SELECT lang, source, lb, sv, COUNT(*) AS c
                   FROM lab GROUP BY 1, 2, 3, 4),
         gdist AS (SELECT lang, sv, SUM(c) AS g FROM cells GROUP BY 1, 2),
         gtot AS (SELECT lang, SUM(g) AS n, COUNT(*) AS m
                  FROM gdist GROUP BY 1),
         grps AS (SELECT lang, source, lb, SUM(c) AS ng
                  FROM cells GROUP BY 1, 2, 3),
         dense AS (SELECT gr.lang, gr.source, gr.lb, gr.ng, gl.sv, gl.g,
                     COALESCE(ce.c, 0) AS c, gt.n, gt.m
                   FROM grps gr
                   JOIN gdist gl ON gl.lang = gr.lang
                   LEFT JOIN cells ce ON ce.lang = gr.lang
                     AND ce.source = gr.source AND ce.lb = gr.lb
                     AND ce.sv = gl.sv
                   JOIN gtot gt ON gt.lang = gr.lang),
         cum AS (SELECT lang, source, lb, ng, n, m,
                   SUM(c) OVER (PARTITION BY lang, source, lb
                                ORDER BY sv) AS cp,
                   SUM(g) OVER (PARTITION BY lang, source, lb
                                ORDER BY sv) AS cq
                 FROM dense),
         pg AS (SELECT lang, source, lb, ng, n, m,
                  SUM(ABS(CAST(cp AS HUGEINT) * n
                          - CAST(cq AS HUGEINT) * ng)) AS s
                FROM cum GROUP BY 1, 2, 3, 4, 5, 6),
         tt AS (SELECT lang, n, m,
                  CASE WHEN m <= 1 THEN 0
                       ELSE CAST((1048576::HUGEINT * s)
                            // (CAST(ng AS HUGEINT) * n * (m - 1))
                            AS BIGINT) END AS t
                FROM pg)
         SELECT lang, CAST(MAX(n) AS BIGINT) AS n,
                CAST(MAX(m) AS BIGINT) AS m,
                CAST(COUNT(*) AS BIGINT) AS n_groups,
                CAST(MAX(t) AS BIGINT) AS max_t_q20,
                CAST(SUM(CASE WHEN t > 262144 THEN 1 ELSE 0 END) AS BIGINT)
                  AS groups_above_t
         FROM tt GROUP BY 1""",
    // x99: Pearson chi-square association, identical two-stage floors;
    // x99c answers the SAME oracle verbatim — contingency cells are
    // sums, staged-base + batch re-sum IS the one-shot cell table
    "x99_chi2_assoc" -> x99OracleSql,
    "x99c_chi2_incremental" -> x99OracleSql,
    // x97f: two-sample KS over the x97e bins — cumulative window sums,
    // HUGEINT cross-multiplied gap, one Q20 floor at the end
    "x97f_ks_drift" -> x97fOracleSql,
    // x97g: Cliff's delta — signed dominance off the same bins
    "x97g_cliffs_delta" -> x97gOracleSql,
    // x97h: Wasserstein-1 — transport cost in value units, lead-width
    // CDF-gap integral on the shared bins
    "x97h_wasserstein" -> x97hOracleSql,
    // x101: Kendall's tau-a — bucketed score cells, strict-upper sweep
    "x101_kendall_tau" -> x101OracleSql,
    "x101b_kendall_incremental" -> x101OracleSql,
    // x102: greedy k-center, four unrolled farthest-point rounds
    "x102_kcenter" -> x102OracleSql,
    "x102c_kcenter_join" -> x102OracleSql,
    "x102d_kcenter_batch" -> x102OracleSql,
    // x102b: the coverage assignment off the same selection rounds
    "x102b_kcenter_assign" -> x102bOracleSql,
    // x104: centroid drift replayed — the meanPoolQ30 quantization per
    // dimension, per-side sums, HUGEINT dot/norms, one double cast +
    // sqrt at the end; zero-norm or one-sided labels read NULL
    // x104b answers the SAME oracle verbatim: per-dim sums are sums,
    // staged-base + batch re-sum IS the one-shot sum table
    "x104b_embedding_drift_incremental" -> x104OracleSql,
    "x104_embedding_drift" -> x104OracleSql,
    // x14e: image near-dup replayed from the seeded-pattern formula —
    // 8×8 nearest-neighbor samples at idx = by·2·16 + bx·2 (w = h = 16),
    // v = (seed + idx) % 256, floor mean, strict-> bits, 16-bit bands,
    // the same band-bucket candidate join, exact Hamming ≤ 3
    // (pigeonhole: a ≤3 pair always shares one of 4 bands). Truncated
    // files (doc_id % 10 = 0) never hash.
    // x14f: PCM sample decode replayed from the seeded formula —
    // u = (doc_id + i) mod 2^16, signed = u − 2^16 above 32767;
    // every 10th file truncates one byte short → quarantine zeros
    "x14f_audio_pcm_stats" ->
      """WITH au AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents
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
         FROM st""",
    "x14e_image_neardup" ->
      """WITH img AS (SELECT doc_id, doc_id // 8 AS seed FROM documents
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
         FROM hm WHERE hamming <= 3""",
    // x89b: NDCG@5 with the shared Q20 discount literals
    "x89b_ndcg" -> x89bOracleSql,
    // x97b answers the SAME oracle verbatim: counts are sums, so the
    // staged-base + batch merge IS the one-shot count table (the
    // x93b/x35c same-oracle convention; LmSpec pins the merge identity)
    "x97b_drift_incremental" -> x97OracleSql,
    // x97c: the same quantized distribution, ranked by absolute mass
    // shift (ties token-ascending) and cut at k=8 per language
    "x97c_drift_tokens" -> ("WITH " + x97BaseCtes.mkString(",\n  ") + """,
         r AS (SELECT lang, tok, a, b, pq, qq, abs(pq - qq) AS shift,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY abs(pq - qq) DESC, tok) AS rnk
               FROM q)
         SELECT lang, tok AS token,
                CAST(a AS BIGINT) AS cnt_a, CAST(b AS BIGINT) AS cnt_b,
                CAST(pq AS BIGINT) AS p_q20, CAST(qq AS BIGINT) AS q_q20,
                CAST(shift AS BIGINT) AS shift_q20, CAST(rnk AS BIGINT) AS rnk
         FROM r WHERE rnk <= 8"""),
    "x95_ngram_diversity" -> x95OracleSql,
    "x83_hits" -> x83OracleSql,
    "x84_priority_sample" -> x84OracleSql,
    "x84b_priority_stratified" -> x84bOracleSql,
    "x85_histogram" -> x85OracleSql,
    "x86_allpairs_join" -> x86OracleSql,
    // x86b: the full x86 chain restricted to pairs touching the 20%
    // batch (doc_id % 5 = 0) — the incremental path must return exactly
    // the batch-touching slice of the one-shot join
    "x86b_allpairs_incremental" ->
      s"""WITH res AS ($x86OracleSql)
         SELECT * FROM res WHERE a_id % 5 = 0 OR b_id % 5 = 0""",
    // x86c: the slice touching EITHER ingest batch — the two-batch
    // lifecycle must accumulate exactly this, each pair once
    "x86c_allpairs_ingest" ->
      s"""WITH res AS ($x86OracleSql)
         SELECT * FROM res
         WHERE a_id % 5 <= 1 OR b_id % 5 <= 1""",
    // x86d: the prefix-scan gate form answers x86b's oracle verbatim —
    // gate layout must be result-invisible
    "x86d_allpairs_scan" ->
      s"""WITH res AS ($x86OracleSql)
         SELECT * FROM res WHERE a_id % 5 = 0 OR b_id % 5 = 0""",
    "x87_triangles" -> x87OracleSql,
    "x88_pmi_collocations" -> x88OracleSql,
    "x90_kcore" -> x90OracleSql,
    // x14d: the stride-7 frame index sequence per clip, frame counts
    // from the same n_chars derivation
    "x14d_frame_sample" ->
      """WITH clips AS (SELECT doc_id AS media_id,
             (n_chars % 40) + 1 AS n_frames FROM documents)
         SELECT media_id, CAST(n_frames AS BIGINT) AS n_frames,
                CAST(i AS BIGINT) AS frame_idx
         FROM clips,
              LATERAL (SELECT unnest(generate_series(0,
                         greatest(n_frames - 1, 0), 7)) AS i) g""",
    // x91: recursive reachability closure + min-peer labels over the
    // same sparse co-purchase edges (every node here has >= 1 edge, so
    // the closure covers all of them)
    "x91_components" ->
      """WITH RECURSIVE li AS (SELECT l_orderkey AS o, l_suppkey AS sp
             FROM lineitem WHERE l_quantity > 48),
         e0 AS (SELECT DISTINCT a.sp AS u, b.sp AS v
                FROM li a JOIN li b ON a.o = b.o AND a.sp < b.sp),
         edges AS (SELECT u AS src, v AS dst FROM e0
                   UNION SELECT v, u FROM e0),
         reach AS (SELECT src AS id, dst AS peer FROM edges
                   UNION
                   SELECT r.id, e.dst FROM reach r
                   JOIN edges e ON r.peer = e.src)
         SELECT id, LEAST(id, MIN(peer)) AS cluster_id
         FROM reach GROUP BY id""",
    // x89: the x43 ranking chain + the boolean-AND containment qrels +
    // the exact-integer metric roll-up
    "x89_retrieval_eval" -> (bm25BaseCtes +
      """,
         run AS (SELECT qid, doc_id, rank FROM (
                   SELECT qid, doc_id,
                          ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score_q20 DESC, doc_id) AS rank
                   FROM scored)
                 WHERE rank <= 5),
         qn AS (SELECT qid, COUNT(*) AS nq FROM qt GROUP BY 1),
         qr AS (SELECT qt.qid, p.doc_id
                FROM qt JOIN post p USING (tok)
                JOIN qn ON qn.qid = qt.qid
                GROUP BY qt.qid, p.doc_id, qn.nq
                HAVING COUNT(*) = qn.nq),
         nr AS (SELECT qid, COUNT(*) AS n_rel FROM qr GROUP BY 1),
         per AS (SELECT r.qid,
                   COALESCE(SUM(CASE WHEN qr.doc_id IS NOT NULL
                                THEN 1 END), 0) AS hits,
                   MIN(CASE WHEN qr.doc_id IS NOT NULL
                       THEN r.rank END) AS fr
                 FROM run r
                 LEFT JOIN qr ON qr.qid = r.qid AND qr.doc_id = r.doc_id
                 GROUP BY 1)
         SELECT CAST(per.qid AS BIGINT) AS qid,
                CAST(COALESCE(nr.n_rel, 0) AS BIGINT) AS n_rel,
                CAST(per.hits AS BIGINT) AS hits,
                CAST((1048576 * per.hits) // 5 AS BIGINT) AS prec_q20,
                CASE WHEN COALESCE(nr.n_rel, 0) > 0
                  THEN CAST((1048576 * per.hits) // nr.n_rel AS BIGINT)
                  ELSE 0 END AS recall_q20,
                CASE WHEN per.fr IS NOT NULL
                  THEN CAST(1048576 // per.fr AS BIGINT)
                  ELSE 0 END AS rr_q20
         FROM per LEFT JOIN nr ON nr.qid = per.qid"""),
    // x81: the unpivot, the (column, value) count table, and the
    // (count desc, value asc) top-3 replayed; the salted two-phase
    // engine top-K equals this plain window because the order is total
    "x81_profile_stats" ->
      """WITH st AS (
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
         FROM stats s LEFT JOIN tops USING (col)""",
    "x44_epoch_shuffle" ->
      """WITH e AS (SELECT epoch, doc_id,
                           md5(concat_ws(':', epoch, doc_id)) AS h
                    FROM (SELECT unnest([0, 1]::BIGINT[]) AS epoch)
                    CROSS JOIN documents)
         SELECT epoch, substr(h, 1, 2) AS batch,
                CAST(ROW_NUMBER() OVER (
                       PARTITION BY epoch, substr(h, 1, 2)
                       ORDER BY h, doc_id) AS BIGINT) AS pos,
                doc_id
         FROM e""",
    "x43_bm25_topk" -> (bm25BaseCtes +
      """
         SELECT CAST(qid AS BIGINT) AS qid, doc_id,
                CAST(score_q20 AS BIGINT) AS score_q20,
                CAST(rank AS BIGINT) AS rank
         FROM (SELECT qid, doc_id, score_q20,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY score_q20 DESC, doc_id) AS rank
               FROM scored)
         WHERE rank <= 5"""),
    // x69: pass 1's top-3 per query are the FEEDBACK docs; their 2
    // heaviest terms (summed tf, ties token-asc, original terms
    // excluded) expand the query; pass 2 rescores with the same exact
    // integers. UNION (distinct) mirrors Spark's unionByName+distinct.
    "x69_bm25_prf" -> (bm25BaseCtes +
      s""",
         ranked1 AS (SELECT qid, doc_id,
                            ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY score_q20 DESC, doc_id) AS r
                     FROM scored),
         fb AS (SELECT qid, doc_id FROM ranked1 WHERE r <= 3),
         expc AS (SELECT f.qid, p.tok, SUM(p.tf) AS fm
                  FROM post p JOIN fb f USING (doc_id)
                  GROUP BY 1, 2),
         expx AS (SELECT e.qid, e.tok, e.fm FROM expc e
                  LEFT JOIN qt ON qt.qid = e.qid AND qt.tok = e.tok
                  WHERE qt.tok IS NULL),
         expt AS (SELECT qid, tok FROM (
                    SELECT qid, tok, ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY fm DESC, tok) AS fr
                    FROM expx) WHERE fr <= 2),
         qt2 AS (SELECT qid, tok FROM qt UNION SELECT qid, tok FROM expt),
         ${bm25ScoredCte("qt2", "scored2")}
         SELECT CAST(qid AS BIGINT) AS qid, doc_id,
                CAST(score_q20 AS BIGINT) AS score_q20,
                CAST(rank AS BIGINT) AS rank
         FROM (SELECT qid, doc_id, score_q20,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY score_q20 DESC, doc_id) AS rank
               FROM scored2)
         WHERE rank <= 5"""),
    "x42_sequence_pack" ->
      """WITH toks AS (
           SELECT doc_id, lang, string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS tk
           FROM documents
           WHERE text IS NOT NULL AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         vocab AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS INTEGER) AS vid
                   FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok
                   ORDER BY COUNT(*) DESC, tok LIMIT 50),
         off AS (SELECT doc_id, lang, tk,
                        COALESCE(SUM(len(tk)) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
                 FROM toks),
         flat AS (SELECT lang, o + i - 1 AS idx, tk[i] AS tok
                  FROM (SELECT lang, tk, o, unnest(generate_series(1, len(tk))) AS i FROM off)),
         mapped AS (SELECT f.lang, f.idx, CAST(COALESCE(v.vid, 0) AS INTEGER) AS vid
                    FROM flat f LEFT JOIN vocab v ON f.tok = v.tok)
         SELECT lang, CAST(idx // 64 AS BIGINT) AS seq_id,
                array_to_string(list(vid ORDER BY idx), ' ') AS seq_ids,
                CAST(COUNT(*) AS BIGINT) AS n_ids
         FROM mapped GROUP BY lang, idx // 64""",
    "x38d_token_ids" ->
      s"""WITH $bpeRoundsCtes,
          seg AS (SELECT doc_id, string_split(t, ' ') AS tk FROM t3),
          vocab AS (SELECT tok,
                      CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS INTEGER) AS vid
                    FROM (SELECT unnest(tk) AS tok FROM seg)
                    GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 50),
          pos AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM seg),
          mapped AS (SELECT p.doc_id, p.i, CAST(COALESCE(v.vid, 0) AS INTEGER) AS vid
                     FROM pos p LEFT JOIN vocab v ON p.tk[p.i] = v.tok)
          SELECT doc_id, array_to_string(list(vid ORDER BY i), ' ') AS ids
          FROM mapped GROUP BY doc_id""",
    // x34: same \s+ split (Java and RE2 agree on ASCII \s), empty tokens
    // dropped, total order (n desc, tok asc) makes the LIMIT boundary
    // engine-portable
    "x34_vocab_freq" ->
      """SELECT tok, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
         FROM (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
               FROM documents)
         WHERE tok <> ''
         GROUP BY tok
         ORDER BY n DESC, tok LIMIT 100""",
    // x59: every integer step of Graphs.pageRank replayed over HUGEINT —
    // same edge multiset, same Q18 base, same floor-divisions, three
    // unrolled rounds (all values non-negative, so trunc == floor in
    // both engines)
    "x59_pagerank" -> {
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
    },
    // x59d: the x59 rounds TWICE — 3 cold rounds over the resident
    // (o_orderkey % 5 <> 0) edge set, then 2 warm rounds over the FULL
    // edge set seeded from the cold result (carried nodes keep their
    // rank, new nodes enter at the full graph's uniform base)
    "x59d_pagerank_incremental" -> {
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
    },
    // x59e: the x59d rounds over THREE growing edge sets — 3 cold on the
    // resident graph (% 5 ≥ 2), 2 warm on resident+crawl₁ (% 5 ≠ 1)
    // seeded from the cold release, 2 warm on the full set seeded from
    // crawl₁'s release
    "x59e_pagerank_multicrawl" -> {
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
    },
    // x59g: the x59b seeded rounds TWICE — 3 cold over the resident
    // (% 5 ≠ 0) edges, 2 warm over the full set seeded from the cold
    // release (carried nodes keep their rank; new nodes start at seed
    // base or zero; the seed set and therefore ns/bq never change)
    "x59g_trustrank_crawl" -> {
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
    },
    // x59b: the seeded (TrustRank) rounds — teleport and dangling mass go
    // to the seed distribution only; otherwise the x59 replay verbatim
    "x59b_trustrank" -> {
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
    },
    // x60: both kNN passes and the margin replayed — Q30 dots (floor each
    // product, exact long sums), neighborhood SUMS, one positive-mod Q20
    // floor-div, argmax by (margin desc, id)
    "x60_margin_mine" ->
      """WITH l AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
         r AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
         dots AS (SELECT qv, nv,
                    SUM(CAST(floor(CAST(qx AS DOUBLE) * CAST(nx AS DOUBLE)
                                   * 1073741824) AS BIGINT)) AS s
                  FROM (SELECT l.vec_id AS qv, r.vec_id AS nv,
                               unnest(l.embedding) AS qx,
                               unnest(r.embedding) AS nx
                        FROM l CROSS JOIN r)
                  GROUP BY qv, nv),
         fwd AS (SELECT qv, nv, s,
                   row_number() OVER (PARTITION BY qv ORDER BY s DESC, nv) AS rn
                 FROM dots),
         fs AS (SELECT qv, SUM(s) AS ls FROM fwd WHERE rn <= 4 GROUP BY qv),
         bwd AS (SELECT qv, nv, s,
                   row_number() OVER (PARTITION BY nv ORDER BY s DESC, qv) AS rn
                 FROM dots),
         bs AS (SELECT nv, SUM(s) AS rs FROM bwd WHERE rn <= 4 GROUP BY nv),
         cand AS (SELECT f.qv, f.nv,
                    (2::HUGEINT * f.s * 4 * 1048576) AS num,
                    (fs.ls + bs.rs)::HUGEINT AS den
                  FROM fwd f
                  JOIN fs ON fs.qv = f.qv
                  JOIN bs ON bs.nv = f.nv
                  WHERE f.rn <= 4 AND fs.ls + bs.rs > 0),
         marg AS (SELECT qv, nv,
                    CAST((num - ((num % den + den) % den)) // den AS BIGINT)
                      AS margin_q20
                  FROM cand),
         best AS (SELECT qv, nv, margin_q20,
                    row_number() OVER (PARTITION BY qv
                      ORDER BY margin_q20 DESC, nv) AS rn
                  FROM marg)
         SELECT qv AS q_id, nv AS n_id, margin_q20 FROM best WHERE rn = 1""",
    // x61: host verdicts replayed — same md5 digests, same \s+ word
    // count, same per-mille floor-divisions and thresholds
    "x61_host_filter" ->
      """WITH s AS (SELECT doc_id, source, md5(text) AS d,
              length(list_filter(string_split_regex(
                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                x -> x <> '')) AS wc
            FROM documents),
         v AS (SELECT source,
              (1000 * (COUNT(*) - COUNT(DISTINCT d))) // COUNT(*) AS dup_pm,
              (1000 * SUM(CASE WHEN wc < 50 THEN 1 ELSE 0 END)) // COUNT(*)
                AS short_pm
            FROM s GROUP BY source)
         SELECT s.doc_id, s.source, CAST(v.dup_pm AS BIGINT) AS dup_pm,
                CAST(v.short_pm AS BIGINT) AS short_pm
         FROM s JOIN v ON s.source = v.source
         WHERE v.dup_pm <= 100 AND v.short_pm <= 450""",
    // x62: chunking, every min-md5 window, the hot-band cap, and the
    // distinct-chunk-collision count replayed; band equality compares the
    // hash pair directly (sha1(h1|h2) equality ⇔ (h1,h2) equality — the
    // x3 precedent)
    "x62_chunk_neardup" ->
      s"""$chunkDedupCtes
         SELECT a_id, b_id, COUNT(*) AS n_chunk_hits
         FROM hits GROUP BY a_id, b_id""",
    // x62b: the incremental form answers the SAME question for pairs
    // touching the batch — the oracle is the one-shot replay filtered to
    // them (cap census = whole corpus = stage ∪ batch, exactly what the
    // incremental op censuses)
    "x62b_chunk_incremental" ->
      s"""$chunkDedupCtes
         SELECT a_id, b_id, COUNT(*) AS n_chunk_hits
         FROM hits WHERE a_id % 5 = 0 OR b_id % 5 = 0
         GROUP BY a_id, b_id""",
    // x64: the capstone replay — x62's chunk-collision CTEs, the host
    // copy-graph, three unrolled Q18 PageRank rounds, the top-3 cut,
    // and the survivor rollup, in one statement
    "x64_copygraph_curation" -> {
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
    },
    // x63: both corpus versions rebuilt, digests compared null-safely
    // (IS DISTINCT FROM ⇔ Spark's <=> negated), same \s+ word counts,
    // same rollup — all integers
    "x63_release_delta" ->
      """WITH oldv AS (SELECT doc_id, source, md5(text) AS d,
              CAST(length(list_filter(string_split_regex(
                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                x -> x <> '')) AS BIGINT) AS wc
            FROM documents WHERE doc_id % 7 <> 0),
         newt AS (SELECT doc_id, source,
              CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END
                AS text
            FROM documents WHERE doc_id % 13 <> 0),
         newv AS (SELECT doc_id, source, md5(text) AS d,
              CAST(length(list_filter(string_split_regex(
                regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                x -> x <> '')) AS BIGINT) AS wc
            FROM newt),
         j AS (SELECT COALESCE(n.source, o.source) AS source,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN o.d IS DISTINCT FROM n.d THEN 'changed'
                      ELSE 'unchanged' END AS st,
                 COALESCE(n.wc, 0) - COALESCE(o.wc, 0) AS dn
               FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id)
         SELECT source,
                CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
                CAST(SUM(dn) AS BIGINT) AS tok_delta
         FROM j GROUP BY source""",
    // x65: the centroid-threshold trainer replayed sum-for-sum — Q20
    // mean-difference weights from the class bucket sums, every doc
    // rescored, the threshold swept over the TRAINING scores (plus the
    // all-positive sentinel below them, ties to the smallest T), the
    // final SELECT the deployed predictions. All integer floors;
    // HUGEINT headroom on the products.
    "x65_trained_quality" -> (centroidCtes("TRUE") +
      """
         SELECT doc_id, CAST(s AS BIGINT) AS score,
                CAST(CASE WHEN s > (SELECT t FROM best) THEN 1 ELSE -1 END
                  AS BIGINT) AS pred
         FROM sc"""),
    // x65b: same trainer restricted to the even-id split, deployed on
    // every doc — the rollup counts predicted-keep per language, so the
    // train→deploy→curate WIRING is hash-checked
    "x65b_learned_curation" -> (centroidCtes("doc_id % 2 = 0") +
      """
         SELECT d.lang, COUNT(*) AS n_docs,
                CAST(SUM(CASE WHEN f.s > (SELECT t FROM best) THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pred_keep
         FROM sc f JOIN docs d USING (doc_id)
         GROUP BY d.lang"""),
    // x65d: the even-half trainer replay, then the held-out (odd-half)
    // confusion sums and the exact per-mille metric floor-divs
    "x65d_model_eval" -> (centroidCtes("doc_id % 2 = 0") +
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
         FROM cm"""),
    // x65e: the held-out scores collapse to per-distinct-score class
    // counts; wins rank strictly-below negatives via the cumulative
    // window, ties half-credit through the ×2 numerator
    "x65e_model_auc" -> (centroidCtes("doc_id % 2 = 0") +
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
         FROM cum"""),
    // x96: histogram-binned calibration — bin confidence from the
    // calibration quarter, observed rate from the test quarter, Q20
    // floors throughout. Bins are FLOOR-quantized with the explicit
    // positive-mod correction: duckdb's // TRUNCATES toward zero on
    // integers (the x97 sf0.1 lesson), so a bare s // q would mis-bin
    // negative scores vs Spark's floor-corrected div
    "x96_ece_calibration" -> (centroidCtes("doc_id % 2 = 0") +
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
         FROM cb"""),
    // x96b: the calibrator deployed — bin confidences from the
    // calibration quarter left-join onto the test quarter; unseen bins
    // coalesce to the global calibration rate
    "x96b_calibrated_scores" -> (centroidCtes("doc_id % 2 = 0") +
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
         WHERE NOT e.cal"""),
    // x96d: the isotonic calibrator deployed — the PAV fit over the
    // calibration quarter's bins, then DuckDB's native ASOF LEFT JOIN
    // picks each test row's largest fitted bin <= its own (the step
    // function); rows below the lowest fitted bin clamp to the first
    // step value, matching the engine's constant extrapolation
    "x96d_pav_scores" -> (centroidCtes("doc_id % 2 = 0") +
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
         ASOF LEFT JOIN pv ON e.bin >= pv.bin"""),
    // x96c: isotonic (PAV) calibration via the minimax identity —
    // iso(k) = max_{i<=k} min_{j>=k} rate(i,j) over pooled calibration
    // bin intervals; floor commutes with min/max so every interval
    // rate quantizes to its Q20 floor FIRST (HUGEINT product) and the
    // max-min over those floors IS the floor of the real isotonic fit.
    // Unseen bins fall back to the calibration prior (x96b convention).
    "x96c_pav" -> (centroidCtes("doc_id % 2 = 0") +
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
         FROM cb"""),
    // x65c: the SAME trainer replay at production width — 4096 buckets
    // on the 4-hex-digit hash; the engine side trains/scores via the
    // broadcast-joined weight TABLE, and must agree weight-for-weight
    "x65c_wide_quality" -> (centroidCtes("TRUE", 4096, 4) +
      """
         SELECT doc_id, CAST(s AS BIGINT) AS score,
                CAST(CASE WHEN s > (SELECT t FROM best) THEN 1 ELSE -1 END
                  AS BIGINT) AS pred
         FROM sc"""),
    "x66_html_extract" -> x66OracleSql,
    "x66b_crawl_clean" -> x66bOracleSql,
    // x14c: the pixel PATTERN replayed from the generator — sums and
    // extremes of (doc_id + i) mod 256 over the full raster; truncated
    // images (every 10th) quarantine to zeros
    "x14c_pixel_stats" ->
      """WITH img AS (
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
         FROM st""",
    // x14: the unified mixed-modality frame — image arm is x14c's
    // formula replay (even ids, %10==0 truncated), audio arm x14f's
    // sample formula on odd ids (%10==5 truncated), one schema
    "x14_media_features" ->
      """WITH img AS (SELECT doc_id, (doc_id % 31 + 1) * (doc_id % 17 + 1) AS n
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
         SELECT * FROM irows UNION ALL SELECT * FROM arows""",
    // x72: chunks rebuilt (x67's windows), the passage inverted index
    // and scalars over CHUNKS, the shared scoring CTE, then both
    // windows — best chunk per (query, doc), doc ranking top-3
    "x72_passage_retrieval" ->
      (s"""WITH docs AS (
           SELECT doc_id,
                  string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\\s+|\\s+$$', '', 'g') <> ''),
         st AS (SELECT doc_id, t,
                       unnest(generate_series(0, len(t) - 1, 48)) AS s
                FROM docs),
         chunks AS (SELECT doc_id * 100000 + (s // 48) AS doc_id,
                           t[s + 1 : s + 64] AS ct
                    FROM st),
         tk AS (SELECT doc_id, unnest(ct) AS tok FROM chunks),
         post AS (SELECT tok, doc_id, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
         dl AS (SELECT doc_id, len(ct) AS dl FROM chunks),
         tdf AS (SELECT tok, COUNT(*) AS tdf FROM post GROUP BY 1),
         stats AS (SELECT COUNT(*) AS n,
                          (100::HUGEINT * COALESCE(SUM(dl), 0)) // COUNT(*) AS a
                   FROM dl),
         q AS (SELECT * FROM (VALUES (1, 'customer filter join'),
                                     (2, 'window merge sort'),
                                     (3, 'vector stream batch')) v(qid, qtext)),
         qt AS (SELECT DISTINCT qid, tok FROM (
                  SELECT qid, unnest(string_split_regex(
                           regexp_replace(qtext, '^\\s+|\\s+$$', '', 'g'), '\\s+')) AS tok
                  FROM q)
                WHERE tok <> ''),
         ${bm25ScoredCte("qt", "scored")},
         best AS (SELECT qid, doc_id // 100000 AS rd, doc_id % 100000 AS cid,
                         score_q20,
                         ROW_NUMBER() OVER (PARTITION BY qid, doc_id // 100000
                           ORDER BY score_q20 DESC, doc_id) AS cr
                  FROM scored)
         SELECT CAST(qid AS BIGINT) AS qid, rd AS doc_id,
                CAST(cid AS BIGINT) AS chunk_id,
                CAST(score_q20 AS BIGINT) AS score_q20,
                CAST(rnk AS BIGINT) AS rnk
         FROM (SELECT qid, rd, cid, score_q20,
                      ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY score_q20 DESC, rd) AS rnk
               FROM best WHERE cr = 1)
         WHERE rnk <= 3"""),
    // x71: every Poisson weight draw (4-hex-digit md5 value against the
    // fixed 24109/48218/60273 thresholds), both totals, and the Q6
    // floor-div replayed; b = -1 is the unweighted point estimate
    "x71_bootstrap_ci" ->
      """WITH vals AS (
           SELECT doc_id,
                  CASE WHEN text IS NULL
                         OR regexp_replace(text, '^\s+|\s+$', '', 'g') = '' THEN 0
                       ELSE len(string_split_regex(
                              regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS v
           FROM documents),
         draws AS (
           SELECT doc_id, v, b,
                  (((CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1 AS BIGINT) * 16
                     + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
                     + strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                     + strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS h4
           FROM (SELECT doc_id, v, b,
                        md5(CAST(doc_id AS VARCHAR) || ':bs:' || CAST(b AS VARCHAR)) AS h
                 FROM vals, (SELECT unnest(generate_series(0, 7)) AS b))),
         wts AS (SELECT doc_id, v, b,
                        CASE WHEN h4 < 24109 THEN 0 WHEN h4 < 48218 THEN 1
                             WHEN h4 < 60273 THEN 2 ELSE 3 END AS w
                 FROM draws),
         agg AS (SELECT b, SUM(w)::HUGEINT AS wt, SUM(w * v)::HUGEINT AS vt
                 FROM wts GROUP BY b
                 UNION ALL
                 SELECT -1, COUNT(*)::HUGEINT, COALESCE(SUM(v), 0)::HUGEINT
                 FROM vals)
         SELECT CAST(b AS BIGINT) AS b, CAST(wt AS BIGINT) AS w_total,
                CAST(vt AS BIGINT) AS v_total,
                CASE WHEN wt > 0
                     THEN CAST((1000000 * vt) // wt AS BIGINT) END AS mean_q6
         FROM agg""",
    // x5: the signature itself; x5c: the brute-force hamming-≤3 pair
    // definition (the banded Spark path must equal it — pigeonhole)
    "x5_simhash" -> (s"WITH ${simhashSigCte(16)}\n" +
      "         SELECT doc_id, simhash FROM sig"),
    "x5c_simhash_pairs" -> (s"WITH ${simhashSigCte(32)}\n" +
      """
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""),
    // x70: every 4-token window hash, the 1/16 cut class (first two md5
    // hex digits mod 16), and chunk reassembly between consecutive cuts
    // replayed; docs shorter than the window form one chunk
    "x70_cdc_chunks" ->
      """WITH docs AS (
           SELECT doc_id,
                  string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         cutl AS (
           SELECT doc_id, t, len(t) AS n,
                  list_filter(generate_series(1, len(t) - 4), i ->
                    (CAST(strpos('0123456789abcdef',
                         substr(md5(array_to_string(t[i+1:i+4], ' ')), 1, 1)) - 1
                       AS BIGINT) * 16
                     + strpos('0123456789abcdef',
                         substr(md5(array_to_string(t[i+1:i+4], ' ')), 2, 1)) - 1)
                    % 16 = 0) AS cuts
           FROM docs),
         cp AS (SELECT doc_id, t,
                       list_concat(list_concat([0], cuts), [n]) AS ks
                FROM cutl),
         ch AS (SELECT doc_id, t, ks,
                       unnest(generate_series(1, len(ks) - 1)) AS j
                FROM cp)
         SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_id,
                CAST(ks[j+1] - ks[j] AS BIGINT) AS n_tokens,
                array_to_string(t[ks[j]+1 : ks[j+1]], ' ') AS chunk_text
         FROM ch""",
    // x67: every window start from generate_series(0, n-1, stride), the
    // slice clamped at the tail — chunk ids and text replayed exactly
    "x67_token_chunks" ->
      """WITH docs AS (
           SELECT doc_id,
                  string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND regexp_replace(text, '^\s+|\s+$', '', 'g') <> ''),
         st AS (SELECT doc_id, t,
                       unnest(generate_series(0, len(t) - 1, 48)) AS s
                FROM docs)
         SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_id,
                CAST(LEAST(64, len(t) - s) AS BIGINT) AS n_tokens,
                array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
         FROM st"""
  )

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

  /** x66/x66b shared extraction replay: the synthetic page build (the
    * `pageExpr` SQL differs per query) + the whole extraction —
    * script/style excision, block segmentation at block-tag boundaries,
    * and the two keep rules (≥3 words; cross-multiplied ≤300‰ anchor
    * density — integer compare, no division) inside list lambdas. Ends
    * with `ext` = the x66 output shape. */
  private def htmlExtractCtes(pageExpr: String): String =
    s"""WITH pages AS (
         SELECT doc_id, $pageExpr AS html
         FROM documents),
       blocked AS (
         SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '(?i)</?(p|div|br|h1|h2|h3|h4|h5|h6|li|ul|ol|table|tr|td|th|section|article|header|footer|nav|blockquote|pre|title|body|html|head)\\b[^>]*>',
             e'\\n', 'g') AS b
         FROM pages),
       blocks AS (SELECT doc_id, string_split(b, e'\\n') AS bl FROM blocked),
       scored AS (
         SELECT doc_id, bl,
           list_filter(bl, x ->
             (CASE WHEN trim(regexp_replace(x, '<[^>]*>', '', 'g')) = '' THEN 0
                   ELSE len(string_split_regex(trim(regexp_replace(x, '<[^>]*>', '', 'g')), '\\s+')) END) >= 3
             AND (len(regexp_replace(x, '<[^>]*>', '', 'g'))
                  - len(regexp_replace(regexp_replace(x, '(?is)<a\\b[^>]*>.*?</a>', '', 'g'), '<[^>]*>', '', 'g'))) * 1000
                 <= 300 * len(regexp_replace(x, '<[^>]*>', '', 'g'))) AS kept
         FROM blocks),
       ext AS (
         SELECT doc_id,
              array_to_string(list_transform(kept,
                x -> trim(regexp_replace(x, '<[^>]*>', '', 'g'))), e'\\n') AS text_main,
              CAST(len(list_filter(bl,
                x -> trim(regexp_replace(x, '<[^>]*>', '', 'g')) <> '')) AS BIGINT) AS n_blocks,
              CAST(len(kept) AS BIGINT) AS n_kept
         FROM scored)"""

  /** the x66 page: link-only nav/footer, the text as one paragraph, a
    * link-dense sponsored unit on every 3rd doc. */
  private val x66PageSql: String =
    """'<html><head><title>Doc</title><style>.x{color:red}</style>' ||
           '<script type="text/javascript">var a=1;</script></head><body>' ||
           '<div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>' ||
           '<p>' || COALESCE(text, '') || '</p>' ||
           CASE WHEN doc_id % 3 = 0
                THEN '<div>sponsored <a href="/ad">click here now</a> <a href="/ad2">buy today</a></div>'
                ELSE '' END ||
           '<div><a href="/p">Privacy</a> <a href="/t">Terms</a></div></body></html>'"""

  /** the x66b page: same chrome, but the boilerplate is a cookie-notice
    * PARAGRAPH — prose-shaped and link-free, so HTML extraction keeps it
    * and only the line rules can drop it. */
  private val x66bPageSql: String =
    """'<html><head><title>Doc</title><style>.x{color:red}</style>' ||
           '<script type="text/javascript">var a=1;</script></head><body>' ||
           '<div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div>' ||
           '<p>' || COALESCE(text, '') || '</p>' ||
           '<p>this site uses cookie tracking please accept our cookie policy</p>' ||
           '<div><a href="/p">Privacy</a> <a href="/t">Terms</a></div></body></html>'"""

  private def x66OracleSql: String =
    htmlExtractCtes(x66PageSql) +
      """
       SELECT doc_id, text_main, n_blocks, n_kept FROM ext"""

  /** x66b: extraction (which KEEPS the prose-shaped cookie notice) then
    * the C4 line rules (min 3 words, banned marker 'cookie', ≥1 kept
    * line) over the extracted text — the two-stage crawl front end. */
  private def x66bOracleSql: String =
    htmlExtractCtes(x66bPageSql) +
      """,
       lined AS (SELECT doc_id, string_split(text_main, e'\n') AS ls FROM ext),
       cleaned AS (
         SELECT doc_id, ls,
           list_filter(ls, x ->
             (CASE WHEN trim(x) = '' THEN 0
                   ELSE len(string_split_regex(trim(x), '\s+')) END) >= 3
             AND NOT contains(lower(x), 'cookie')) AS ks
         FROM lined)
       SELECT doc_id, array_to_string(ks, e'\n') AS text_clean,
              CAST(len(ks) AS BIGINT) AS n_kept,
              CAST(len(ls) - len(ks) AS BIGINT) AS n_dropped
       FROM cleaned
       WHERE len(ks) >= 1"""
}
