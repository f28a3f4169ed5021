package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** Event analytics and relational queries: sessions, rolling windows,
  * bars, funnels and retention over events (ev), moments (stats), range
  * joins (rj), snapshot reconciliation (qa) and TPC-H-style joins and
  * aggregates (q).
  */
private[graft] object RelationalQueries {

  private val Cfg = PipelineConfig.Default

  /** The two snapshots the reconciliation queries compare: the live
    * events table vs a deterministic "backfill" that drops every 97th
    * event and perturbs every 101st value — so the operator must report
    * exactly those keys. Row hashes compare integerized values
    * (floor(value·1e4)); raw double rendering is not engine-stable.
    */
  private def reconcileInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val h = Reconcile.rowHash(col("user_id"), col("event_type"),
      floor(col("value") * 10000).cast("long"))
    val live = Tables.events(s, dir).select(col("event_id"), h.as("h"))
    val backfill = Tables.events(s, dir)
      .filter(col("event_id") % 97 =!= 0)
      .withColumn("value",
        when(col("event_id") % 101 === 0, col("value") + 1)
          .otherwise(col("value")))
      .select(col("event_id"), h.as("h"))
    (live, backfill)
  }

  /** SQL mirror of reconcileInputs + the full-outer key join; concat_ws
    * skips NULLs identically in both engines, and the value is
    * integerized with an explicit floor before casting.
    */
  private val ReconcileCtes: String =
    """live AS (
      |  SELECT event_id,
      |         md5(concat_ws('|', user_id::VARCHAR, event_type,
      |             CAST(floor(value * 10000) AS BIGINT)::VARCHAR)) AS h
      |  FROM events),
      |backfill AS (
      |  SELECT event_id,
      |         md5(concat_ws('|', user_id::VARCHAR, event_type,
      |             CAST(floor((CASE WHEN event_id % 101 = 0 THEN value + 1 ELSE value END) * 10000) AS BIGINT)::VARCHAR)) AS h
      |  FROM events WHERE event_id % 97 <> 0),
      |j AS (
      |  SELECT coalesce(l.event_id, b.event_id) AS event_id, l.h AS h_a, b.h AS h_b
      |  FROM live l FULL OUTER JOIN backfill b ON l.event_id = b.event_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Sessionization — the canonical event-pipeline derivation: a new
    // session starts after > 30 min of per-user inactivity; the session
    // id is the running count of boundaries. One window shuffle on
    // user_id shared by the lag and the running sum, then the groupBy
    // re-uses the same hash partitioning — at 100 TB this is one
    // exchange, not three. All outputs are integer-exact (counts,
    // epoch-µs durations), so the oracle hash cannot wobble on float
    // summation order.
    QueryDef("ev_sessionize", (s, dir) =>
      Sessions.aggregate(Tables.events(s, dir),
        "user_id", "ts", Seq("event_id"), gapSeconds = 1800),
      // lag NULL on the first row: NULL > gap is NULL -> ELSE 0, matching
      // Spark's when().otherwise(0) — session ids start at 0 in both.
      oracle = """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id))
        |              > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM sess GROUP BY 1, 2""".stripMargin),

    // Trailing 24-hour range-frame window per user — rolling activity
    // counts with an event-TIME frame (not row count), the shape behind
    // rate limits and rolling features. The frame key is epoch-µs, so
    // RANGE peers are identical across engines; count/min/max are
    // order-free (no float-sum divergence inside the frame).
    QueryDef("ev_rolling_24h", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dayUs = 24L * 3600 * 1000000
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-dayUs, 0)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_24h"),
          min(col("value")).over(w).as("min_24h"),
          max(col("value")).over(w).as("max_24h"))
    },
      oracle = """SELECT user_id, event_id, ts,
        |       count(*) OVER w AS n_24h,
        |       min(value) OVER w AS min_24h,
        |       max(value) OVER w AS max_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin),

    // QA — snapshot reconciliation: the one-row verdict (matched /
    // changed / missing / extra) of the deterministic backfill against
    // the live table. One narrow (key, hash) projection per side, one
    // co-partitioned full-outer join, partial-aggregated counts.
    QueryDef("qa_reconcile", (s, dir) => {
      val (live, backfill) = reconcileInputs(s, dir)
      Reconcile.counts(live, backfill, "event_id")
    },
      oracle = s"""WITH $ReconcileCtes
         |SELECT CAST(sum(CASE WHEN h_a = h_b THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |       CAST(sum(CASE WHEN h_a IS NOT NULL AND h_b IS NOT NULL AND h_a <> h_b THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |       CAST(sum(CASE WHEN h_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
         |       CAST(sum(CASE WHEN h_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_extra
         |FROM j""".stripMargin),

    // QA — the per-key attribution form: exactly the diverged keys with
    // their classification (the rows an on-call engineer actually reads).
    QueryDef("qa_reconcile_diff", (s, dir) => {
      val (live, backfill) = reconcileInputs(s, dir)
      Reconcile.diff(live, backfill, "event_id")
    },
      oracle = s"""WITH $ReconcileCtes
         |SELECT event_id,
         |       CASE WHEN h_a IS NULL THEN 'extra'
         |            WHEN h_b IS NULL THEN 'missing'
         |            WHEN h_a <> h_b THEN 'changed' END AS status
         |FROM j
         |WHERE h_a IS NULL OR h_b IS NULL OR h_a <> h_b""".stripMargin),

    // Bucketed rolling aggregation — the 100 TB companion to
    // ev_rolling_24h: pre-aggregate events to (user, hour) buckets,
    // then roll a 24-BUCKET range frame over the hourly counts. The
    // window shuffle carries |users × active hours| rows instead of
    // |events|, and each frame folds ≤ 24 partials instead of
    // thousands of raw rows — sliding features at scale are computed
    // this way, with ev_rolling_24h's exact per-event form as the
    // fine-grained twin (same trade as brute-force vs LSH ANN).
    QueryDef("ev_rolling_bucketed", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir)
        .groupBy(col("user_id"),
          expr("unix_micros(ts) div 3600000000").as("hour_bucket"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("hour_bucket")).rangeBetween(-23, 0)
      hourly.select(col("user_id"), col("hour_bucket"), col("n_events"),
        sum(col("n_events")).over(w).as("n_24h"))
    },
      oracle = """WITH hourly AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour_bucket,
        |         count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, hour_bucket, n_events,
        |       CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY hour_bucket
        |            RANGE BETWEEN 23 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_24h
        |FROM hourly""".stripMargin),

    // The ranking/distribution window-function family in one pass —
    // ntile, percent_rank, cume_dist, first_value, nth_value, lead over
    // a single (user_id)-partitioned sort, so one exchange serves all
    // six. Order key (value, event_id) is unique per user: rank-based
    // distributions are tie-free and deterministic in both engines.
    QueryDef("ev_window_funcs", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          ntile(4).over(w).as("quartile"),
          Rounding.stable(percent_rank().over(w), 6).as("pct_rank"),
          Rounding.stable(cume_dist().over(w), 6).as("cume"),
          first_value(col("event_id")).over(w).as("smallest_event"),
          nth_value(col("event_id"), 2).over(w).as("second_event"),
          lead(col("event_id"), 1).over(w).as("next_event"))
    },
      // ntile is BIGINT in DuckDB, IntegerType in Spark — cast to match
      oracle = s"""SELECT user_id, event_id, value,
         |       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         |       ${Rounding.stableSql("percent_rank() OVER w", 6)} AS pct_rank,
         |       ${Rounding.stableSql("cume_dist() OVER w", 6)} AS cume,
         |       first_value(event_id) OVER w AS smallest_event,
         |       nth_value(event_id, 2) OVER w AS second_event,
         |       lead(event_id, 1) OVER w AS next_event
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin),

    // Headline scan-heavy aggregation (TPC-H Q1 shape): exercises
    // predicate pushdown + partial aggregation; grouping keys carry ~6
    // groups so the shuffle is trivial at any scale.
    QueryDef("q1_lineitem_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order")),
      oracle = """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Semi/anti-join pair — customers with and without orders per
    // nation. left_semi/left_anti materialize NO right columns (the
    // probe short-circuits on first match), so the build side ships
    // only its join key — at 100 TB the difference between shuffling
    // orders' keys and shuffling orders. The two branches share the
    // customer scan; counts merge on a full outer + coalesce.
    QueryDef("q16_semi_anti", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      val ordKeys = Tables.orders(s, dir).select(col("o_custkey"))
      val semi = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with_orders"))
      val anti = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without_orders"))
      semi.join(anti, Seq("c_nationkey"), "full_outer")
        .select(col("c_nationkey"),
          coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
          coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
    },
      oracle = """WITH with_o AS (
        |  SELECT c_nationkey, count(*) AS n_with_orders
        |  FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  GROUP BY c_nationkey),
        |without_o AS (
        |  SELECT c_nationkey, count(*) AS n_without_orders
        |  FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |  GROUP BY c_nationkey)
        |SELECT c_nationkey,
        |       coalesce(n_with_orders, 0) AS n_with_orders,
        |       coalesce(n_without_orders, 0) AS n_without_orders
        |FROM with_o FULL OUTER JOIN without_o USING (c_nationkey)""".stripMargin),

    // The SQL surface — temp views + spark.sql with a CORRELATED scalar
    // subquery (TPC-H Q17 shape): Catalyst decorrelates the per-part
    // average into an aggregate + join (no per-row re-execution, which
    // is what a naive engine does and what dies at scale). The 4-dp
    // stable rounding on the threshold keeps the float boundary
    // bit-identical across engines.
    QueryDef("q17_small_order", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql(s"""
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_small,
               ${Rounding.stableSql("sum(l_extendedprice)", 2)} AS small_revenue
        FROM v_lineitem o
        WHERE l_quantity < (
          SELECT ${Rounding.stableSql("0.2 * avg(i.l_quantity)", 4)}
          FROM v_lineitem i WHERE i.l_partkey = o.l_partkey)
        GROUP BY l_partkey
      """)
    },
      oracle = s"""SELECT l_partkey,
         |       count(*) AS n_small,
         |       ${Rounding.stableSql("sum(l_extendedprice)", 2)} AS small_revenue
         |FROM lineitem o
         |WHERE l_quantity < (
         |  SELECT ${Rounding.stableSql("0.2 * avg(i.l_quantity)", 4)}
         |  FROM lineitem i WHERE i.l_partkey = o.l_partkey)
         |GROUP BY l_partkey""".stripMargin),

    // Join → aggregate → GLOBAL top-10 (TPC-H Q3 shape): the ordered
    // limit must compile to TakeOrderedAndProject (per-partition top-10
    // heaps merged on the driver), never a global sort — the difference
    // between shipping 10·partitions rows and sorting the whole
    // aggregate at scale. Ranking is on the 2-dp ROUNDED revenue
    // (+ orderkey tiebreak) so FP sum-order noise cannot reorder the
    // cut across engines.
    QueryDef("q3_top_orders", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(Rounding.stable(
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10),
      oracle = s"""SELECT l_orderkey, o_orderdate, o_orderpriority, revenue
         |FROM (
         |  SELECT l_orderkey, o_orderdate, o_orderpriority,
         |         ${Rounding.stableSql("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_shipdate > TIMESTAMP '1995-03-15' AND o_orderdate < TIMESTAMP '1995-03-15'
         |  GROUP BY 1, 2, 3)
         |ORDER BY revenue DESC, l_orderkey ASC
         |LIMIT 10""".stripMargin),

    // Multi-join aggregation (TPC-H Q5 shape): dims broadcast, one fact
    // shuffle on the join key.
    QueryDef("q5_join_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items")),
      oracle = """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // Semi-structured extraction: the JSON props column parsed ONCE per
    // row with an explicit one-field schema (Catalyst's OptimizeJsonExprs
    // prunes from_json to the accessed field — no full-document parse),
    // then a plain codegen'd aggregate. The at-scale rule: parse JSON in
    // the projection with a declared schema, never per-aggregate with
    // get_json_object repeated per field.
    QueryDef("ev_json_props", (s, dir) => {
      val schema = StructType(Seq(StructField("k", LongType)))
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), schema).getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min("k").as("min_k"),
          max("k").as("max_k"), sum("k").as("sum_k"))
    },
      oracle = """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       min(CAST(props->>'k' AS BIGINT)) AS min_k,
        |       max(CAST(props->>'k' AS BIGINT)) AS max_k,
        |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1""".stripMargin),

    // Daily OHLC bars from the raw event stream — deriving the
    // reference's own OHLCV data model (SURVEY §1.1) instead of
    // ingesting it pre-aggregated: open/close via min_by/max_by on the
    // (ts, event_id) struct (ONE hash aggregate, map-side combinable —
    // no per-bar sort, no window), high/low/volume/turnover in the same
    // pass. The aggregate form is what turns 100 TB of ticks into bars
    // with a single exchange on (user, day).
    QueryDef("ev_ohlc_bars", (s, dir) => {
      val ord = struct(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("d"),
          col("ts"), col("event_id"), col("value"))
        .groupBy(col("user_id"), col("d"))
        .agg(
          min_by(col("value"), ord).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), ord).as("close"),
          count(lit(1)).as("volume"),
          Rounding.stable(sum(col("value")), 4).as("turnover"))
    },
      // open/close re-derived through rank-1 windows (DuckDB's arg_min
      // cannot take a composite (ts, event_id) key).
      oracle = """WITH e AS (SELECT user_id, ts::DATE AS d, ts, event_id, value FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id, d ORDER BY ts, event_id) AS ra,
        |        row_number() OVER (PARTITION BY user_id, d ORDER BY ts DESC, event_id DESC) AS rd
        |      FROM e)
        |SELECT user_id, d,
        |       max(CASE WHEN ra = 1 THEN value END) AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       max(CASE WHEN rd = 1 THEN value END) AS close,
        |       CAST(count(*) AS BIGINT) AS volume,
        |       round(sum(value) * 10000) / 10000 AS turnover
        |FROM r GROUP BY 1, 2""".stripMargin),

    // Cohort retention: users bucketed by first-seen date, retention by
    // day offset — the event-analytics rollout every activity warehouse
    // runs. Two user-keyed aggregates (cohort assignment, distinct
    // active days) meet in a user-keyed join — one partitioning carried
    // through — then collapse to the tiny (cohort, offset) grid; the
    // cohort-size dim re-joins broadcast.
    QueryDef("ev_retention", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("d"))
      val cohort = ev.groupBy("user_id").agg(min(col("d")).as("cohort_date"))
      val active = ev.distinct()
      val byOffset = active.join(cohort, Seq("user_id"))
        .select(col("cohort_date"),
          datediff(col("d"), col("cohort_date")).as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_date"), col("day_offset"))
        .agg(count_distinct(col("user_id")).as("retained"))
      val sizes = cohort.groupBy("cohort_date")
        .agg(count_distinct(col("user_id")).as("cohort_size"))
      byOffset.join(broadcast(sizes), Seq("cohort_date"))
        .select(col("cohort_date"), col("day_offset"), col("retained"),
          col("cohort_size"),
          Rounding.stable(col("retained").cast("double") / col("cohort_size"), 4)
            .as("retention_rate"))
    },
      oracle = """WITH ev AS (SELECT user_id, ts::DATE AS d FROM events),
        |cohort AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY 1),
        |active AS (SELECT DISTINCT user_id, d FROM ev),
        |by_offset AS (
        |  SELECT cohort_date, date_diff('day', cohort_date, d) AS day_offset,
        |         CAST(count(DISTINCT a.user_id) AS BIGINT) AS retained
        |  FROM active a JOIN cohort c USING (user_id)
        |  GROUP BY 1, 2),
        |sizes AS (
        |  SELECT cohort_date, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
        |  FROM cohort GROUP BY 1)
        |SELECT cohort_date, CAST(day_offset AS INT) AS day_offset, retained, cohort_size,
        |       round((retained::DOUBLE / cohort_size) * 10000) / 10000 AS retention_rate
        |FROM by_offset JOIN sizes USING (cohort_date)""".stripMargin),

    // Ordered funnel (view → click-after-view → purchase-after-click):
    // each stage is a conditional min-ts aggregate co-partitioned on
    // user_id, so later stages join the previous stage's (user, ts)
    // without re-partitioning. The per-user ARRAY alternative
    // (collect_list + HOF walk) would put unbounded per-user state in a
    // CodegenFallback lambda — the multi-pass conditional aggregate is
    // the shape that survives 100 TB of events.
    QueryDef("ev_funnel", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      s1.agg(count(lit(1)).as("n_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
        .select(col("n_view"), col("n_click_after"), col("n_purchase_after"),
          Rounding.stable(col("n_click_after").cast("double") / col("n_view"), 4)
            .as("view_to_click"),
          Rounding.stable(
            col("n_purchase_after").cast("double") / col("n_click_after"), 4)
            .as("click_to_purchase"))
    },
      oracle = """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_view,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click_after,
        |       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase_after,
        |       round(((SELECT count(*) FROM s2)::DOUBLE / (SELECT count(*) FROM s1)) * 10000) / 10000 AS view_to_click,
        |       round(((SELECT count(*) FROM s3)::DOUBLE / (SELECT count(*) FROM s2)) * 10000) / 10000 AS click_to_purchase""".stripMargin),

    // Exact-moment Pearson correlation per event_type: does price move
    // (cents) track the props payload's k? The reference's Pct_Change ↔
    // Volume question in graft form — ONE codegen'd hash aggregate of
    // integer moments (map-side combined; the exchange carries 6 longs
    // per group), corr combined in double afterwards, bit-stable
    // cross-engine (operators/Stats.scala).
    QueryDef("stats_corr", (s, dir) => {
      val schema = StructType(Seq(StructField("k", LongType)))
      val ev = Tables.events(s, dir).select(col("event_type"),
        floor(col("value") * 100).cast("long").as("x"),
        from_json(col("props"), schema).getField("k").as("y"))
      Stats.corrExact(ev, Seq("event_type"), col("x"), col("y"))
    },
      // Moments as DuckDB HUGEINT sums cast to DOUBLE — sums stay < 2^53
      // here, so the doubles equal Spark's long-sum casts bit-for-bit and
      // the fixed combination expression agrees everywhere. FILTER mirrors
      // Stats.momentAggs' complete-pair guard exactly (n counts only rows
      // with BOTH sides non-null, every sum skips the same rows) while the
      // plain GROUP BY keeps all-null groups alive as (n=0, null corr).
      oracle = s"""WITH t AS (
         |  SELECT event_type,
         |         CAST(floor(value * 100) AS BIGINT) AS x,
         |         CAST(props->>'k' AS BIGINT) AS y
         |  FROM events),
         |m AS (
         |  SELECT event_type,
         |         CAST(count(*) FILTER (WHERE x IS NOT NULL AND y IS NOT NULL) AS BIGINT) AS n,
         |         CAST(sum(x)   FILTER (WHERE y IS NOT NULL) AS DOUBLE) AS sx,
         |         CAST(sum(y)   FILTER (WHERE x IS NOT NULL) AS DOUBLE) AS sy,
         |         CAST(sum(x*x) FILTER (WHERE y IS NOT NULL) AS DOUBLE) AS sxx,
         |         CAST(sum(y*y) FILTER (WHERE x IS NOT NULL) AS DOUBLE) AS syy,
         |         CAST(sum(x*y) AS DOUBLE) AS sxy
         |  FROM t GROUP BY 1)
         |SELECT event_type, n,
         |       ${Rounding.stableSql(
                   "(n*sxy - sx*sy) / (sqrt(greatest(n*sxx - sx*sx, 0.0)) * sqrt(greatest(n*syy - sy*sy, 0.0)))",
                   6)} AS corr
         |FROM m""".stripMargin),

    // Keyless range join — lineitem prices against $1000-wide supplier
    // account bands, via bin decomposition (operators/RangeJoin): the
    // `p BETWEEN lo AND hi` predicate alone would plan as a nested-loop
    // scan of every band for every lineitem; binning at the band width
    // makes it an ordinary equi-join (≤2 bins per band) and the exact
    // predicate re-filters inside the bin. Aggregated to per-band
    // counts so the output is band-sized, not match-sized.
    QueryDef("rj_price_bands", (s, dir) => {
      val pts = Tables.lineitem(s, dir).select(
        floor(col("l_extendedprice") * 100).cast("long").as("price_c"))
      val bands = Tables.supplier(s, dir).select(col("s_suppkey"),
        floor(col("s_acctbal") * 100).cast("long").as("lo"))
        .withColumn("hi", col("lo") + 100000L)
      RangeJoin.pointInInterval(pts, bands, col("price_c"),
          col("lo"), col("hi"), binWidth = 100000L)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_in_band"))
    },
      // the oracle states the SPEC form — the plain theta join the bin
      // decomposition must reproduce row-for-row
      oracle = """WITH p AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c FROM lineitem),
        |b AS (SELECT s_suppkey, CAST(floor(s_acctbal * 100) AS BIGINT) AS lo FROM supplier)
        |SELECT b.s_suppkey, CAST(count(*) AS BIGINT) AS n_in_band
        |FROM b JOIN p ON p.price_c >= b.lo AND p.price_c < b.lo + 100000
        |GROUP BY 1""".stripMargin),

    // Interval-overlap form of the keyless range join: $1000-wide
    // supplier account bands × $100-wide part price bands, each pair
    // kept only in its canonical first shared bin (no dedup pass).
    // Aggregated per supplier so output is dim-sized.
    QueryDef("rj_band_overlap", (s, dir) => {
      val sup = Tables.supplier(s, dir).select(col("s_suppkey"),
        floor(col("s_acctbal") * 100).cast("long").as("s_lo"))
        .withColumn("s_hi", col("s_lo") + 100000L)
      val par = Tables.part(s, dir).select(
        (floor(col("p_retailprice") * 100).cast("long") - 5000L).as("p_lo"))
        .withColumn("p_hi", col("p_lo") + 10000L)
      RangeJoin.intervalOverlap(sup, par, col("s_lo"), col("s_hi"),
          col("p_lo"), col("p_hi"), binWidth = 100000L)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_overlapping"))
    },
      oracle = """WITH s AS (SELECT s_suppkey, CAST(floor(s_acctbal * 100) AS BIGINT) AS s_lo FROM supplier),
        |p AS (SELECT CAST(floor(p_retailprice * 100) AS BIGINT) - 5000 AS p_lo FROM part)
        |SELECT s.s_suppkey, CAST(count(*) AS BIGINT) AS n_overlapping
        |FROM s JOIN p ON s.s_lo < p.p_lo + 10000 AND p.p_lo < s.s_lo + 100000
        |GROUP BY 1""".stripMargin),

    // Z-order layout keys — the Morton interleave of (user, hour) that
    // the write-side zOrderBy sorts by so parquet min/max stats prune
    // scans filtered on EITHER dimension. Narrow bit math, zero
    // exchanges (plan-asserted); the same step constants generate the
    // oracle SQL (operators/Layout.scala).
    QueryDef("ev_zorder", (s, dir) =>
      Tables.events(s, dir).select(col("event_id"), col("user_id"),
        expr("unix_micros(ts) div 3600000000").as("hour_bucket"))
        .withColumn("z", graft.operators.Layout.zValue(
          col("user_id"), col("hour_bucket"))),
      oracle = s"""WITH t AS (
         |  SELECT event_id, user_id,
         |         epoch_us(ts) // 3600000000 AS hour_bucket
         |  FROM events)
         |SELECT event_id, user_id, hour_bucket,
         |       ${graft.operators.Layout.zValueSql("user_id", "hour_bucket")} AS z
         |FROM t""".stripMargin),

    // Rolling 24-bucket Pearson correlation per event_type — the exact
    // integer moments composed with the bucketed-rolling frame
    // (ev_rolling_bucketed's shape): one hash aggregate to (type, hour)
    // moment partials, ONE window shuffle of six longs per bucket row,
    // each frame folds ≤ 24 partials, corr combined in double per
    // output row. Sliding correlation features at 100 TB are computed
    // this way — the window input is |types × active hours|, not the
    // fact (operators/Stats.rollingCorr).
    QueryDef("stats_rolling_corr", (s, dir) => {
      val schema = StructType(Seq(StructField("k", LongType)))
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_bucket"),
        floor(col("value") * 100).cast("long").as("x"),
        from_json(col("props"), schema).getField("k").as("y"))
      Stats.rollingCorr(ev, "event_type", "hour_bucket",
        col("x"), col("y"), lookback = 23)
    },
      // Same moment discipline as stats_corr, framed: the per-bucket
      // HUGEINT partials window-sum EXACTLY (sums stay < 2^53), the
      // double cast + fixed combination run per frame — bit-identical to
      // Spark's long window sums. FILTER guards mirror Stats.momentAggs;
      // a bucket whose pairs are all incomplete still contributes a row
      // (n0=0, null sums — window sum skips nulls in both engines).
      oracle = s"""WITH t AS (
         |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_bucket,
         |         CAST(floor(value * 100) AS BIGINT) AS x,
         |         CAST(props->>'k' AS BIGINT) AS y
         |  FROM events),
         |m AS (
         |  SELECT event_type, hour_bucket,
         |         count(*) FILTER (WHERE x IS NOT NULL AND y IS NOT NULL) AS n0,
         |         sum(x)   FILTER (WHERE y IS NOT NULL) AS sx0,
         |         sum(y)   FILTER (WHERE x IS NOT NULL) AS sy0,
         |         sum(x*x) FILTER (WHERE y IS NOT NULL) AS sxx0,
         |         sum(y*y) FILTER (WHERE x IS NOT NULL) AS syy0,
         |         sum(x*y) AS sxy0
         |  FROM t GROUP BY 1, 2),
         |w AS (
         |  SELECT event_type, hour_bucket,
         |         CAST(sum(n0)   OVER win AS BIGINT) AS n,
         |         CAST(sum(sx0)  OVER win AS DOUBLE) AS sx,
         |         CAST(sum(sy0)  OVER win AS DOUBLE) AS sy,
         |         CAST(sum(sxx0) OVER win AS DOUBLE) AS sxx,
         |         CAST(sum(syy0) OVER win AS DOUBLE) AS syy,
         |         CAST(sum(sxy0) OVER win AS DOUBLE) AS sxy
         |  FROM m
         |  WINDOW win AS (PARTITION BY event_type ORDER BY hour_bucket
         |                 RANGE BETWEEN 23 PRECEDING AND CURRENT ROW))
         |SELECT event_type, hour_bucket, n,
         |       ${Rounding.stableSql(
                   "(n*sxy - sx*sy) / (sqrt(greatest(n*sxx - sx*sx, 0.0)) * sqrt(greatest(n*syy - sy*sy, 0.0)))",
                   6)} AS corr
         |FROM w""".stripMargin),

    // Per-group z-score outlier top-50: the anomaly screen before
    // training. Group stats from one exact-moment aggregate broadcast
    // back onto the unshuffled fact scan; only k rows survive the
    // TakeOrderedAndProject cut. event_id is the deterministic tiebreak.
    QueryDef("stats_zscore_topk", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), floor(col("value") * 100).cast("long").as("x"))
      Stats.zscoreTopK(ev, Seq("event_type"), col("x"),
        keep = Seq("event_id"), k = 50, tiebreak = "event_id")
    },
      oracle = s"""WITH t AS (
         |  SELECT event_type, event_id, CAST(floor(value * 100) AS BIGINT) AS x
         |  FROM events),
         |m AS (
         |  -- count(x) not count(*): Stats.zscoreTopK counts non-null x
         |  -- only (sum() skips nulls in both engines already)
         |  SELECT event_type, CAST(count(x) AS BIGINT) AS n,
         |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x*x) AS DOUBLE) AS sxx
         |  FROM t GROUP BY 1),
         |st AS (
         |  SELECT event_type, sx / n AS mu,
         |         sqrt(greatest(n*sxx - sx*sx, 0.0)) / n AS sigma
         |  FROM m)
         |SELECT t.event_type, t.event_id, t.x,
         |       ${Rounding.stableSql("(t.x - st.mu) / st.sigma", 4)} AS z
         |FROM t JOIN st USING (event_type)
         |ORDER BY abs(z) DESC NULLS LAST, event_id ASC
         |LIMIT 50""".stripMargin),

    // Batch shadow of StreamingAlerts.thresholdAlerts — the SAME
    // baseline-anchored recurrence (alert iff ≥50% move from the last
    // alerted value) as a secondary-sorted group scan, giving the
    // streaming operator's semantics an oracle-checked row (the DuckDB
    // side walks the recurrence with a recursive CTE). value>0 filter:
    // a ratio baseline of 0 is undefined in both engines.
    QueryDef("ev_alerts_scan", (s, dir) => {
      val sp = s; import sp.implicits._
      val ticks = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value") > 0)
        .select(col("user_id").cast("string").as("key"), col("event_id"),
          col("ts"), col("value"))
        .as[graft.streaming.StreamingAlerts.IdTick]
      graft.streaming.StreamingAlerts.thresholdAlertsScan(ticks, 50.0).toDF()
    },
      // The streaming recurrence (baseline updates only on alert) walked
      // with a recursive CTE: rows advance one rank per iteration, depth =
      // max ticks per key.
      oracle = s"""WITH RECURSIVE t AS (
         |  SELECT CAST(user_id AS VARCHAR) AS key, event_id, ts, value,
         |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events WHERE event_type = 'purchase' AND value > 0),
         |walk AS (
         |  SELECT key, rn, event_id, ts, value,
         |         value AS baseline, false AS alert, CAST(NULL AS DOUBLE) AS prev_baseline
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.key, t.rn, t.event_id, t.ts, t.value,
         |         CASE WHEN abs((t.value / w.baseline - 1.0) * 100.0) >= 50.0
         |              THEN t.value ELSE w.baseline END,
         |         abs((t.value / w.baseline - 1.0) * 100.0) >= 50.0,
         |         w.baseline
         |  FROM walk w JOIN t ON t.key = w.key AND t.rn = w.rn + 1)
         |SELECT key, event_id, ts, value, prev_baseline AS baseline,
         |       ${Rounding.stableSql("(value / prev_baseline - 1.0) * 100.0", 4)} AS move_pct
         |FROM walk WHERE alert""".stripMargin)
  )
}
