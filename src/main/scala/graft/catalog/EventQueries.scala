package graft
package catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.Joins
import Common._

/** The time and event-stream queries: calendar rollups, sessions, gaps,
  * funnels, retention, range and as-of joins, value windows. */
object EventQueries {

  /** events.ts is parquet timestamp[us] without timezone → Spark infers
    * TIMESTAMP_NTZ, DuckDB naive TIMESTAMP: identical wall-clock fields in
    * both engines, no session-timezone dependence. */
  private def eventTs: Column = col("ts")

  val entries: Seq[Entry] = Seq(
    Entry("d1_year_agg", (s, dir) =>
      t(s, dir, "orders").groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total")),
      Sql("""SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1""")),
    Entry("d2_month_agg", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total")),
      Sql("""SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1""")),
    Entry("s1_string_surface", (s, dir) =>
      // §2.10 battery: upper/reverse/lpad/translate/substr/len in one pass
      t(s, dir, "part").select(col("p_partkey"),
        upper(col("p_name")).as("uname"),
        reverse(col("p_name")).as("rname"),
        lpad(col("p_size").cast("string"), 4, "0").as("psize4"),
        translate(col("p_name"), " aeiou", "_AEIOU").as("tname"),
        substring(col("p_name"), 2, 3).as("mid3"),
        length(col("p_name")).cast("long").as("nlen")),
      Sql("""SELECT p_partkey, upper(p_name) AS uname, reverse(p_name) AS rname,
         lpad(CAST(p_size AS VARCHAR), 4, '0') AS psize4,
         translate(p_name, ' aeiou', '_AEIOU') AS tname,
         substr(p_name, 2, 3) AS mid3,
         CAST(length(p_name) AS BIGINT) AS nlen FROM part""")),
    Entry("et1_hourly_agg", (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", eventTs).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total")),
      Sql("""SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2""")),
    Entry("et2_sessions", (s, dir) =>
      // event-time sessionization (10-min gap) — session_window in batch
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(eventTs, "10 minutes"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("cnt")).as("n_events")),
      Sql("""WITH d AS (
           SELECT user_id,
                  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                            >= INTERVAL 10 MINUTE
                       THEN 1 ELSE 0 END AS new_s
           FROM events)
         SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
                COUNT(*) AS n_events
         FROM d GROUP BY user_id""")),
    Entry("w5_rank_surface", (s, dir) => {
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
    },
      Sql("""SELECT o_orderkey,
         CAST(rank() OVER w AS BIGINT) AS rnk,
         CAST(dense_rank() OVER w AS BIGINT) AS drnk,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         percent_rank() OVER w AS pr
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)""")),
    Entry("w6_value_windows", (s, dir) => {
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
    },
      Sql("""SELECT o_orderkey,
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
                       AND UNBOUNDED FOLLOWING)""")),
    Entry("et3_event_gaps", (s, dir) => {
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
    },
      Sql("""WITH g AS (
           SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
           FROM events)
         SELECT user_id, COUNT(gap_us) AS n_gaps,
           MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
         FROM g GROUP BY user_id""")),
    Entry("et5_funnel", (s, dir) => {
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
    },
      // et5: each step's first-qualifying-event-after-previous, the three
      // scalar counts, and the Q20 step-over-step conversions
      Sql("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
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
                  ELSE 0 END FROM c""")),
    Entry("et6_retention", (s, dir) => {
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
    },
      // et6: fixed-origin week buckets, first-signup cohorts, distinct
      // (user, week) activity, Q20 retention ratios
      Sql("""WITH ev AS (SELECT user_id, event_type,
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
         FROM act JOIN sz USING (cw)""")),
    Entry("j9_range_join", (s, dir) => {
      // interval join as a bucketed equi-join (PlanSpec pins: no nested
      // loop) — overlapping price bands × orders containment
      val bands = s.range(0, 20).select(col("id").as("band_id"),
        (col("id") * 25000).cast("double").as("lo"),
        (col("id") * 25000 + 40000).cast("double").as("hi"))
      Joins.bucketedRangeJoin(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        bands, "o_totalprice", "lo", "hi", 25000L)
        .select(col("o_orderkey"), col("band_id"))
    },
      Sql("""WITH bands AS (
           SELECT i AS band_id, CAST(i*25000 AS DOUBLE) AS lo,
                  CAST(i*25000 + 40000 AS DOUBLE) AS hi
           FROM (SELECT unnest(generate_series(0, 19)) AS i))
         SELECT o.o_orderkey, b.band_id
         FROM orders o JOIN bands b
           ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi""")),
    Entry("et4_asof_join", (s, dir) => {
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
    },
      Sql("""WITH clicks AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
           WHERE event_type = 'click'),
         purch AS (
           SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS value
           FROM events WHERE event_type = 'purchase'
           GROUP BY user_id, epoch_us(ts))
         SELECT c.user_id, c.ts_us, c.event_id, p.value
         FROM clicks c ASOF LEFT JOIN purch p
           ON c.user_id = p.user_id AND c.ts_us >= p.ts_us""")),
    Entry("w4_running_sum", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
    },
      Sql("""SELECT o_custkey, o_orderkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_total
         FROM orders"""))
  )
}
