package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._

/** The paper's pipeline surface (engine.py, news.py, sentiment,
  * validator.py): the trading calendar (g), pct-change, recency and
  * text transforms (t), selection and validator aggregates (a), joins
  * and the as-of YoY match (j), sentiment (m1), reason codes (k6), and
  * the composed pipeline with its acceptance gate (e1, e2). Tables map
  * per FIXTURES.md §B: events ≈ the OHLCV fact, documents ≈ headlines,
  * orders ≈ quarterly fundamentals.
  */
private[graft] object PipelineQueries {

  private val Cfg = PipelineConfig.Default

  /** The A4 selected-headline table: one winner per key from the four
    * provider×query candidate sets, via [[Recency.fallbackChain]]
    * (news.py:344-397; per-provider name≻ticker at :74-86,225-239).
    *
    * The batch shadow of the reference's live providers over `events`:
    *  - Google pool = click/view events inside the recency window (the
    *    `when:3d` server-side filter, news.py:218,226); ordering is by the
    *    STRING timestamp with unparseable→"" sorting oldest (N3,
    *    news.py:288-291,319-330) — unparseable simulated as minute%10==0;
    *  - NewsData pool = purchase/signup events inside the window with
    *    unparseable rows DROPPED (news.py:163-167);
    *  - the name-query relevance filter (title filter ON) is the
    *    event_id%5 predicate; ticker queries take the whole pool.
    *
    * Shared by a4_fallback_chain, j5_attach_provenance, k6_reason_codes
    * and e1_pipeline. Output: (user_id, headline_source, picked_event_id,
    * pub_str) — one row per key that has any candidate.
    */
  def selectedHeadlines(s: SparkSession, dir: String, asOf: String): DataFrame =
    // window pushed to the raw-nanos scan (see Tables.eventsInWindow) —
    // semantically Recency.recencyWindow, physically partition-prunable
    selectHeadlines(Tables.eventsInWindow(s, dir, asOf, Cfg.lookbackHours))

  /** [[selectedHeadlines]] over already-windowed events, from ONE pass.
    *
    * The four candidate sets are a name query and a ticker query per
    * provider, and the ticker pool contains the name pool: a relevant
    * event is a candidate twice (`google` and `google_ticker`, or
    * `newsdata` and `newsdata_ticker`), with the same `pub_str` and
    * `event_id`. Its ticker copy can never win — the fallback chain ranks
    * precedence before recency, and the name copy is the same row with
    * better precedence. So each event is tagged ONCE, with its best
    * source: the name query's if its title is relevant, the ticker
    * query's otherwise. Per key the winner is unchanged — if any relevant
    * event of a provider exists, the name source wins over the same set
    * of rows as before; if none does, the ticker source holds every event
    * of that provider, as before. One scan with a CASE tag replaces the
    * 4-branch union of scans. OperatorsSpec checks it against the union
    * form on random inputs.
    */
  private[graft] def selectHeadlines(inWindow: DataFrame): DataFrame = {
    val unparseable = minute(col("ts")) % 10 === 0
    val relevant = col("event_id") % 5 === 0
    val google = col("event_type").isin("click", "view")
    val newsd = col("event_type").isin("purchase", "signup") && !unparseable
    val cands = inWindow.filter(google || newsd)
      .withColumn("src",
        when(google, when(relevant, lit("google")).otherwise(lit("google_ticker")))
          .otherwise(when(relevant, lit("newsdata")).otherwise(lit("newsdata_ticker"))))
      .withColumn("pub_str",
        when(google && unparseable, lit(""))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
    Recency.fallbackChain(cands, Seq("user_id"), "src",
        Seq("google", "google_ticker", "newsdata", "newsdata_ticker"),
        Seq(col("pub_str").desc, col("event_id").desc))
      .select(col("user_id"), col("src").as("headline_source"),
        col("event_id").as("picked_event_id"), col("pub_str"))
  }

  /** T10: the news operator's "explain mode" (scripts/dump_news_debug.py:
    * 83-157) — every candidate from the four provider×query combos,
    * annotated with the selection flags instead of filtered, plus a
    * SELECTED marker for the fallback-chain winner. This is the same
    * candidate DataFrame as [[selectedHeadlines]] *without* the
    * `row_number===1` filter (SURVEY.md §3 E3).
    */
  def debugCandidates(s: SparkSession, dir: String, asOf: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val inWindow =
      col("ts") >= to_timestamp(lit(asOf)) - expr(s"INTERVAL ${Cfg.lookbackHours} HOURS") &&
        col("ts") <= to_timestamp(lit(asOf))
    val google = ev.filter(col("event_type").isin("click", "view"))
    val newsd = ev.filter(col("event_type").isin("purchase", "signup"))
    val tagged = google.withColumn("src", lit("google"))
      .unionByName(google.withColumn("src", lit("google_ticker")))
      .unionByName(newsd.withColumn("src", lit("newsdata")))
      .unionByName(newsd.withColumn("src", lit("newsdata_ticker")))
    val annotated = tagged.select(
      col("user_id"), col("src"), col("event_id"),
      (col("event_id") % 5 === 0).as("relevant_title"),
      inWindow.as("in_72hr_window"),
      col("src").isin("google", "newsdata").as("title_filter_applied"),
      (minute(col("ts")) % 10 =!= 0).as("parseable_date"))
    val winners = selectedHeadlines(s, dir, asOf).select(
      col("user_id"), col("headline_source").as("src"),
      col("picked_event_id").as("event_id"), lit(true).as("__w"))
    annotated.join(broadcast(winners), Seq("user_id", "src", "event_id"), "left")
      .withColumn("SELECTED", coalesce(col("__w"), lit(false)))
      .drop("__w")
  }

  /** E1 — the full pipeline (engine.py:101-214) with the error-
    * degradation channels parameterized: `newsFail` models a
    * fetch_headline exception (row kept, DEFAULT headline, news=error
    * in the log — engine.py:156-163), `sentFail` a sentiment.analyze
    * exception (row kept, Neutral/0.0, sentiment=error —
    * engine.py:165-173). e1_pipeline passes lit(false) for both (the
    * healthy run, constant-folded away); e1_pipeline_degraded injects
    * deterministic keyed failures so the degradation vocabulary is
    * itself oracle-checked.
    */
  private def e1Pipeline(s: SparkSession, dir: String,
      newsFail: org.apache.spark.sql.Column,
      sentFail: org.apache.spark.sql.Column): DataFrame = {
    val asOf = Cfg.asOf
    val daily = Tables.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("date"))
      .agg(sum(col("value")).as("close"), count(lit(1)).as("volume"))
    val withPct = PctChange.withPctChange(
      daily, Seq("user_id"), Seq(col("date")), "close")
    // calendar × keys ⋈ withPct, as a semi-join: every (user_id, date)
    // key of withPct is a distinct user of events by construction, so
    // the universe's only effect is to keep trading dates and drop null
    // keys (a null never equi-joins)
    val market = withPct.filter(col("user_id").isNotNull)
      .join(broadcast(Calendar.tradingDates(s, Cfg.marketStart, Cfg.marketEnd)),
        Seq("date"), "left_semi")
      .filter(col("pct_change").isNotNull)
    val head = selectedHeadlines(s, dir, asOf)
      .withColumn("doc_id", pmod(col("picked_event_id"), lit(500)))
      .join(Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("headline_text")),
        Seq("doc_id"), "left")
      .select(col("user_id"), col("headline_source"), col("headline_text"))
    val fund = AsOf.yoyAsOf(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_orderdate"),
          col("o_totalprice"), col("o_orderkey")),
        keyCol = "o_custkey", timeCol = "o_orderdate",
        valueCol = "o_totalprice",
        offsetMonths = 12, toleranceDays = 120, tiebreakCol = "o_orderkey")
      .select(col("o_custkey").as("user_id"), col("yoy_pct"))
    Sentiment.withAnalysis(
      market
        .join(head, Seq("user_id"), "left")
        .join(fund, Seq("user_id"), "left")
        .withColumn("Headline",
          when(newsFail, lit(Sentiment.DefaultHeadline))
            .otherwise(coalesce(col("headline_text"), lit(Sentiment.DefaultHeadline)))),
      "Headline", "__s")
      .select(
        col("date").as("Date"),
        col("user_id").as("Stock"),
        col("pct_change").as("Pct_Change"),
        col("volume").as("Volume"),
        col("Headline"),
        when(sentFail, lit("Neutral")).otherwise(col("__s.label"))
          .as("Sentiment_Label"),
        when(sentFail, lit(0.0)).otherwise(col("__s.score"))
          .as("Sentiment_Score"),
        col("yoy_pct").as("YoY_NetIncome_Pct"),
        concat_ws(" | ",
          lit("market=events"),
          concat(lit("news="), when(newsFail, lit("error"))
            .otherwise(coalesce(col("headline_source"), lit("default")))),
          concat(lit("sentiment="), when(sentFail, lit("error"))
            .otherwise(lit("lexicon"))),
          concat(lit("fundamentals="),
            when(col("yoy_pct").isNotNull, lit("orders"))
              .otherwise(lit("unavailable")))).as("Data_Source_Log"))
  }

  /** Shared oracle CTE block: the annotated candidate frame (T10) and the
    * fallback winner (sel), both at asOf 2024-01-15.
    */
  private val DebugCte =
    s"""tagged AS (
      |  SELECT user_id, event_id, ts, 'google' AS src, true AS tfa FROM events WHERE event_type IN ('click','view')
      |  UNION ALL SELECT user_id, event_id, ts, 'google_ticker', false FROM events WHERE event_type IN ('click','view')
      |  UNION ALL SELECT user_id, event_id, ts, 'newsdata', true FROM events WHERE event_type IN ('purchase','signup')
      |  UNION ALL SELECT user_id, event_id, ts, 'newsdata_ticker', false FROM events WHERE event_type IN ('purchase','signup')),
      |ann AS (
      |  SELECT user_id, src, event_id,
      |         (event_id % 5 = 0) AS relevant_title,
      |         (ts >= ${Cfg.asOfSql} - INTERVAL ${Cfg.lookbackHours} HOURS
      |          AND ts <= ${Cfg.asOfSql}) AS in_72hr_window,
      |         tfa AS title_filter_applied,
      |         (minute(ts) % 10 != 0) AS parseable_date
      |  FROM tagged),
      |wev AS (
      |  SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, (minute(ts) % 10 = 0) AS unp
      |  FROM events
      |  WHERE ts >= ${Cfg.asOfSql} - INTERVAL ${Cfg.lookbackHours} HOURS
      |    AND ts <= ${Cfg.asOfSql}),
      |wgoogle AS (SELECT * FROM wev WHERE event_type IN ('click','view')),
      |wnewsd  AS (SELECT * FROM wev WHERE event_type IN ('purchase','signup') AND NOT unp),
      |wcands AS (
      |  SELECT user_id, event_id, unp, ts_str, 'google' AS src, 0 AS prec FROM wgoogle WHERE event_id % 5 = 0
      |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'google_ticker', 1 FROM wgoogle
      |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata', 2 FROM wnewsd WHERE event_id % 5 = 0
      |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata_ticker', 3 FROM wnewsd),
      |sel AS (
      |  SELECT user_id, src, event_id
      |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
      |          ORDER BY prec ASC, CASE WHEN src LIKE 'google%' AND unp THEN '' ELSE ts_str END DESC, event_id DESC) AS rn
      |        FROM wcands)
      |  WHERE rn = 1)""".stripMargin

  /** The E1 oracle with the two error-degradation predicates injectable
    * (SQL over `m.user_id`, evaluated in the base CTE): the healthy run
    * passes literal "false" for both; the degraded shadow injects the
    * keyed provider outages.
    */
  private def e1OracleSqlWith(newsFail: String, sentFail: String): String =
    // raw interpolator: the sentiment regexes contain \b, which s"" would
    // cook into backspace characters
    raw"""WITH daily AS (
        |  SELECT user_id, ts::DATE AS date, sum(value) AS close, CAST(count(*) AS BIGINT) AS volume
        |  FROM events GROUP BY 1, 2),
        |pct AS (
        |  SELECT *, round((close / lag(close) OVER (PARTITION BY user_id ORDER BY date) - 1) * 100, 4) AS pct_change
        |  FROM daily),
        |cal AS (
        |  SELECT d::DATE AS date
        |  FROM generate_series(DATE '${Cfg.marketStart}', DATE '${Cfg.marketEnd}', INTERVAL 1 day) t(d)
        |  WHERE isodow(d::DATE) BETWEEN 1 AND 5),
        |uni AS (SELECT cal.date, u.user_id FROM cal, (SELECT DISTINCT user_id FROM events) u),
        |market AS (
        |  SELECT uni.date, uni.user_id, pct.pct_change, pct.volume
        |  FROM uni JOIN pct ON uni.user_id = pct.user_id AND uni.date = pct.date
        |  WHERE pct.pct_change IS NOT NULL),
        |ev AS (
        |  SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |         (minute(ts) % 10 = 0) AS unp
        |  FROM events
        |  WHERE ts >= ${Cfg.asOfSql} - INTERVAL ${Cfg.lookbackHours} HOURS
        |    AND ts <= ${Cfg.asOfSql}),
        |google AS (SELECT * FROM ev WHERE event_type IN ('click','view')),
        |newsd  AS (SELECT * FROM ev WHERE event_type IN ('purchase','signup') AND NOT unp),
        |cands AS (
        |  SELECT user_id, event_id, unp, ts_str, 'google' AS src, 0 AS prec FROM google WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'google_ticker', 1 FROM google
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata', 2 FROM newsd WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata_ticker', 3 FROM newsd),
        |sel AS (
        |  SELECT user_id, src AS headline_source, event_id AS picked_event_id
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY prec ASC, CASE WHEN src LIKE 'google%' AND unp THEN '' ELSE ts_str END DESC, event_id DESC) AS rn
        |        FROM cands)
        |  WHERE rn = 1),
        |head AS (
        |  SELECT sel.user_id, sel.headline_source, substr(d.text, 1, 60) AS headline_text
        |  FROM sel LEFT JOIN documents d ON d.doc_id = sel.picked_event_id % 500),
        |nn AS (SELECT * FROM orders WHERE o_totalprice IS NOT NULL),
        |latest AS (
        |  SELECT o_custkey AS k, o_orderdate::DATE AS cur_time, o_totalprice AS cur_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM nn)
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT l.k, l.cur_value, o.o_totalprice AS prev_value, o.o_orderdate::DATE AS prev_time, o.o_orderkey,
        |         abs(date_diff('day', (l.cur_time - INTERVAL 12 MONTH)::DATE, o.o_orderdate::DATE)) AS dd
        |  FROM latest l JOIN nn o ON o.o_custkey = l.k
        |  WHERE abs(date_diff('day', (l.cur_time - INTERVAL 12 MONTH)::DATE, o.o_orderdate::DATE)) <= 120),
        |fund AS (
        |  SELECT k AS user_id, round((cur_value - prev_value) / abs(prev_value) * 100, 2) AS yoy_pct
        |  FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY dd ASC, prev_time DESC, o_orderkey DESC) AS rn FROM cand)
        |  WHERE rn = 1 AND prev_value <> 0),
        |base AS (
        |  SELECT m.date, m.user_id, m.pct_change, m.volume,
        |         CASE WHEN $newsFail THEN 'No major headline available'
        |              ELSE coalesce(h.headline_text, 'No major headline available') END AS headline,
        |         h.headline_source, f.yoy_pct,
        |         ($newsFail) AS news_failed, ($sentFail) AS sent_failed
        |  FROM market m
        |  LEFT JOIN head h ON m.user_id = h.user_id
        |  LEFT JOIN fund f ON m.user_id = f.user_id),
        |scored AS (
        |  SELECT *,
        |         len(regexp_extract_all(lower(trim(headline)), '\bfast\b'))
        |           + len(regexp_extract_all(lower(trim(headline)), '\bsmall\b')) AS pos,
        |         len(regexp_extract_all(lower(trim(headline)), '\bslow\b'))
        |           + len(regexp_extract_all(lower(trim(headline)), '\bbig\b')) AS neg,
        |         (length(trim(headline)) = 0 OR trim(headline) = 'No major headline available') AS dflt
        |  FROM base)
        |SELECT date AS "Date", user_id AS "Stock", pct_change AS "Pct_Change", volume AS "Volume",
        |       headline AS "Headline",
        |       CASE WHEN sent_failed THEN 'Neutral'
        |            WHEN dflt THEN 'Neutral'
        |            WHEN pos > neg THEN 'Positive'
        |            WHEN neg > pos THEN 'Negative' ELSE 'Neutral' END AS "Sentiment_Label",
        |       CASE WHEN sent_failed THEN 0.0
        |            WHEN dflt OR pos + neg = 0 THEN 0.0
        |            WHEN pos > neg THEN round(pos / (pos + neg), 4)
        |            WHEN neg > pos THEN round(-(neg / (pos + neg)), 4)
        |            ELSE 0.0 END AS "Sentiment_Score",
        |       yoy_pct AS "YoY_NetIncome_Pct",
        |       'market=events | news='
        |         || CASE WHEN news_failed THEN 'error' ELSE coalesce(headline_source, 'default') END
        |         || ' | sentiment=' || CASE WHEN sent_failed THEN 'error' ELSE 'lexicon' END
        |         || ' | fundamentals='
        |         || CASE WHEN yoy_pct IS NOT NULL THEN 'orders' ELSE 'unavailable' END AS "Data_Source_Log"
        |FROM scored""".stripMargin

  /** The healthy E1 oracle, shared by e1_pipeline and the e2 validation
    * composition.
    */
  private val E1OracleSql: String = e1OracleSqlWith("false", "false")

  /** The M1 analyze() oracle, shared by the expression scorer
    * (m1_sentiment) and the batched inference seam
    * (m1_sentiment_batched) — one contract, two execution forms.
    */
  private val M1OracleSql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 11 = 0 THEN 'No major headline available'
      |              WHEN doc_id % 13 = 0 THEN '  ' ELSE text END AS headline
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, headline,
      |         len(regexp_extract_all(lower(trim(headline)), '\bfast\b'))
      |           + len(regexp_extract_all(lower(trim(headline)), '\bsmall\b')) AS pos,
      |         len(regexp_extract_all(lower(trim(headline)), '\bslow\b'))
      |           + len(regexp_extract_all(lower(trim(headline)), '\bbig\b')) AS neg,
      |         (headline IS NULL OR length(trim(headline)) = 0
      |          OR trim(headline) = 'No major headline available') AS dflt
      |  FROM h),
      |r AS (
      |  SELECT doc_id, headline,
      |         CASE WHEN dflt THEN 'neutral'
      |              WHEN pos > neg THEN 'positive'
      |              WHEN neg > pos THEN 'negative' ELSE 'neutral' END AS raw_label,
      |         CASE WHEN dflt OR pos + neg = 0 THEN 0.0
      |              WHEN pos > neg THEN round(pos / (pos + neg), 4)
      |              WHEN neg > pos THEN round(neg / (pos + neg), 4)
      |              ELSE 0.5 END AS raw_score
      |  FROM c)
      |SELECT doc_id, substr(headline, 1, 30) AS headline_prefix, raw_label, raw_score,
      |       CASE raw_label WHEN 'positive' THEN 'Positive'
      |                      WHEN 'negative' THEN 'Negative' ELSE 'Neutral' END AS label,
      |       CASE WHEN raw_label = 'positive' THEN round(raw_score, 4)
      |            WHEN raw_label = 'negative' THEN round(-raw_score, 4)
      |            ELSE 0.0 END AS score
      |FROM r""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // G1 — trading-calendar generation (engine.py:248-263): sequence +
    // explode + weekday filter; rows generated inside the engine.
    QueryDef("g1_trading_calendar", (s, _) =>
      Calendar.tradingDates(s, Cfg.calendarStart, Cfg.calendarEnd),
      oracle = s"""SELECT d::DATE AS date
        |FROM generate_series(DATE '${Cfg.calendarStart}', DATE '${Cfg.calendarEnd}', INTERVAL 1 day) t(d)
        |WHERE isodow(d::DATE) BETWEEN 1 AND 5""".stripMargin),

    // G2 — calendar × key-universe cross product (engine.py:98-105);
    // tiny calendar side broadcast.
    QueryDef("g2_cross_universe", (s, dir) =>
      Calendar.universe(
        Calendar.tradingDates(s, Cfg.calendarStart, Cfg.universeEnd),
        Tables.events(s, dir).select(col("user_id")).distinct()),
      oracle = s"""SELECT d::DATE AS date, u.user_id
        |FROM generate_series(DATE '${Cfg.calendarStart}', DATE '${Cfg.universeEnd}', INTERVAL 1 day) t(d),
        |     (SELECT DISTINCT user_id FROM events) u
        |WHERE isodow(d::DATE) BETWEEN 1 AND 5""".stripMargin),

    // T3+T1/T2/T4/T5 — lag/pct-change over full history, range-filter
    // AFTER the window (the Spark shape of the 10-day buffer, N6).
    QueryDef("t3_pct_change", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("user_id"), col("event_id"), col("ts"),
        col("value").cast(DoubleType).as("value"))
      PctChange.withPctChange(
          ev, Seq("user_id"), Seq(col("ts"), col("event_id")), "value")
        .filter(col("ts") >= to_timestamp(lit(Cfg.historyStart)))
        .select("user_id", "event_id", "ts", "value", "pct_change")
    },
      oracle = s"""SELECT * FROM (
        |  SELECT user_id, event_id, ts, value,
        |         round((value / lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) * 100, 4) AS pct_change
        |  FROM events)
        |WHERE ts >= TIMESTAMP '${Cfg.historyStart}'""".stripMargin),

    // A1 — top-1 by recency per key (news.py:170-185): rank-1 window.
    QueryDef("a1_top1_recency", (s, dir) =>
      Recency.top1(Tables.events(s, dir), Seq("user_id"),
          Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("value").as("last_value")),
      oracle = """SELECT user_id, event_id AS last_event_id, ts AS last_ts, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1""".stripMargin),

    // A2/N3 — top-1 by *string* timestamp where unparseable times become
    // "" and sort as oldest (news.py:288-291,319-330).
    QueryDef("a2_top1_string_recency", (s, dir) =>
      Recency.top1(
          Tables.events(s, dir).withColumn("published_str",
            when(col("event_type") === "error", lit(""))
              .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))),
          Seq("user_id"),
          Seq(col("published_str").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id").as("picked_event_id"),
          col("published_str")),
      oracle = """SELECT user_id, event_id AS picked_event_id, published_str
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY published_str DESC, event_id DESC) AS rn
        |  FROM (SELECT *, CASE WHEN event_type = 'error' THEN '' ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS published_str FROM events))
        |WHERE rn = 1""".stripMargin),

    // T8 — recency-window predicate with a parameterized asOf
    // (news.py:153,163-169) — never current_timestamp(). Uses the
    // raw-column pushdown form; Recency.recencyWindow is the same
    // predicate for already-typed timestamp columns (and streaming).
    QueryDef("t8_recency_window", (s, dir) =>
      Tables.eventsInWindow(s, dir, Cfg.recencyAsOf, Cfg.lookbackHours)
        .select("event_id", "user_id", "ts", "event_type"),
      oracle = s"""SELECT event_id, user_id, ts, event_type FROM events
        |WHERE ts >= ${Cfg.recencyAsOfSql} - INTERVAL ${Cfg.lookbackHours} HOURS
        |  AND ts <= ${Cfg.recencyAsOfSql}""".stripMargin),

    // J1 — calendar×keys INNER join the fact: missing (key,date) rows are
    // silently dropped (engine.py:130-146, N1).
    QueryDef("j1_calendar_inner_join", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("total_value"))
      Calendar.universe(
          Calendar.tradingDates(s, Cfg.calendarStart, Cfg.universeEnd),
          Tables.events(s, dir).select(col("user_id")).distinct())
        .join(daily, Seq("date", "user_id"), "inner")
    },
      oracle = s"""WITH cal AS (
        |  SELECT d::DATE AS date
        |  FROM generate_series(DATE '${Cfg.calendarStart}', DATE '${Cfg.universeEnd}', INTERVAL 1 day) t(d)
        |  WHERE isodow(d::DATE) BETWEEN 1 AND 5),
        |uni AS (SELECT cal.date, u.user_id FROM cal, (SELECT DISTINCT user_id FROM events) u),
        |daily AS (
        |  SELECT user_id, ts::DATE AS date, count(*) AS n_events, round(sum(value), 4) AS total_value
        |  FROM events GROUP BY 1, 2)
        |SELECT uni.date, uni.user_id, daily.n_events, daily.total_value
        |FROM uni JOIN daily ON uni.date = daily.date AND uni.user_id = daily.user_id""".stripMargin),

    // J2+J3 — nullable dimension left-joins + coalesce default
    // (engine.py:176-177, news_utils.py:120-131).
    QueryDef("j2_dim_left_join", (s, dir) => {
      val ordAgg = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("spend"))
      Tables.customer(s, dir)
        .join(ordAgg, col("c_custkey") === col("o_custkey"), "left")
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n_name"), lit("UNKNOWN")).as("nation_name"),
          coalesce(col("cnt"), lit(0L)).as("n_orders"),
          coalesce(col("spend"), lit(0.0)).as("total_spend"))
    },
      oracle = """SELECT c_custkey, c_name,
        |       coalesce(n_name, 'UNKNOWN') AS nation_name,
        |       coalesce(cnt, 0) AS n_orders,
        |       coalesce(spend, 0.0) AS total_spend
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt, round(sum(o_totalprice), 2) AS spend
        |           FROM orders GROUP BY 1) o ON c_custkey = o_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey""".stripMargin),

    // J4/A9/A10/N4 — as-of self-join with tolerance: latest order per
    // customer vs the order nearest to one year earlier (market.py:111-135).
    QueryDef("j4_asof_tolerance", (s, dir) =>
      AsOf.yoyAsOf(
        Tables.orders(s, dir)
          .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"),
            col("o_orderkey")),
        keyCol = "o_custkey", timeCol = "o_orderdate",
        valueCol = "o_totalprice",
        offsetMonths = 12, toleranceDays = 120, tiebreakCol = "o_orderkey"),
      oracle = """WITH nn AS (SELECT * FROM orders WHERE o_totalprice IS NOT NULL),
        |latest AS (
        |  SELECT o_custkey AS k, o_orderdate::DATE AS cur_time, o_totalprice AS cur_value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM nn)
        |  WHERE rn = 1),
        |cand AS (
        |  SELECT l.k, l.cur_time, l.cur_value,
        |         o.o_orderdate::DATE AS prev_time, o.o_totalprice AS prev_value, o.o_orderkey,
        |         abs(date_diff('day', (l.cur_time - INTERVAL 12 MONTH)::DATE, o.o_orderdate::DATE)) AS dd
        |  FROM latest l JOIN nn o ON o.o_custkey = l.k
        |  WHERE abs(date_diff('day', (l.cur_time - INTERVAL 12 MONTH)::DATE, o.o_orderdate::DATE)) <= 120)
        |SELECT k AS o_custkey, cur_time, cur_value, prev_time, prev_value,
        |       round((cur_value - prev_value) / abs(prev_value) * 100, 2) AS yoy_pct
        |FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY dd ASC, prev_time DESC, o_orderkey DESC) AS rn FROM cand)
        |WHERE rn = 1 AND prev_value <> 0""".stripMargin),

    // J4c — the SAME nearest-quarter YoY semantics as j4_asof_tolerance,
    // but through the native as-of join in NEAREST direction: the
    // per-key latest row probes (target = latest − 12 months) against
    // unique per-(key, date) totals; the merge walk picks the closer of
    // the backward/forward neighbors, ties to the later date — exactly
    // the reference's argmin over date-descending candidates
    // (market.py:111-135). One shuffle per side, no per-key history
    // fan-out; prev == 0 rejected after the pick (market.py:130-132).
    QueryDef("j4c_asof_nearest", (s, dir) => {
      val quarters = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("k"), col("o_orderdate").as("t"))
        .agg(Rounding.stable(sum(col("o_totalprice")), 2).as("v"))
      val latest = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("k")).orderBy(col("t").desc)
        quarters.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("k").as("lk"), col("t").as("cur_time"), col("v").as("cur_value"),
            add_months(col("t"), -12).cast("timestamp").as("target_ts"))
      }
      AsOf.asOfJoin(latest,
          quarters.select(col("k"), col("t").cast("timestamp").as("rt"), col("v")),
          "lk", "k", "target_ts", "rt",
          java.time.Duration.ofDays(120), "nearest")
        .filter(col("v").isNotNull && col("v") =!= 0)
        .select(col("lk").as("o_custkey"), col("cur_time"), col("cur_value"),
          col("rt").cast("date").as("prev_time"), col("v").as("prev_value"),
          Rounding.stable(
            (col("cur_value") - col("v")) / abs(col("v")) * 100, 2).as("yoy_pct"))
    },
      // nearest = rank by (distance ASC, later-date-first); the native
      // exec's microsecond distances order identically to day diffs on
      // midnight dates, and tolerance 120 days is the same boundary
      oracle = s"""WITH q AS (
         |  SELECT o_custkey AS k, o_orderdate::DATE AS t,
         |         ${Rounding.stableSql("sum(o_totalprice)", 2)} AS v
         |  FROM orders GROUP BY 1, 2),
         |latest AS (
         |  SELECT k, t AS cur_time, v AS cur_value
         |  FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY t DESC) AS rn FROM q)
         |  WHERE rn = 1),
         |cand AS (
         |  SELECT l.k, l.cur_time, l.cur_value, q.t AS prev_time, q.v AS prev_value,
         |         abs(date_diff('day', (l.cur_time - INTERVAL 12 MONTH)::DATE, q.t)) AS dd
         |  FROM latest l JOIN q ON q.k = l.k
         |  WHERE abs(date_diff('day', (l.cur_time - INTERVAL 12 MONTH)::DATE, q.t)) <= 120)
         |SELECT k AS o_custkey, cur_time, cur_value, prev_time, prev_value,
         |       ${Rounding.stableSql("(cur_value - prev_value) / abs(prev_value) * 100", 2)} AS yoy_pct
         |FROM (SELECT *, row_number() OVER (PARTITION BY k ORDER BY dd ASC, prev_time DESC) AS rn FROM cand)
         |WHERE rn = 1 AND prev_value <> 0""".stripMargin),

    // A5–A8 — the validator as ONE multi-aggregate pass (validator.py:25-100).
    QueryDef("a5a8_validator", (s, dir) =>
      Validator.measure(Tables.lineitem(s, dir), Validator.Rules(
        rangeCol = "l_discount", rangeMin = 0.0, rangeMax = 1.0,
        nonNullCols = Seq("l_quantity", "l_extendedprice"),
        nullRateCol = "l_tax", nullRateMax = 0.33)),
      oracle = """SELECT CAST(count(*) AS BIGINT) AS row_count,
        |       CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS range_violations,
        |       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_nulls,
        |       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_extendedprice_nulls,
        |       round(avg(CASE WHEN l_tax IS NULL THEN 1.0 ELSE 0.0 END), 4) AS null_rate
        |FROM lineitem""".stripMargin),

    // T6 — corporate-suffix strip (news_utils.py:23-37). Company-name
    // fixtures are built from the documents corpus (6 suffix variants,
    // mixed case/punctuation) so the regex runs over real data.
    QueryDef("t6_suffix_strip", (s, dir) => {
      val variant = col("doc_id") % 6
      val raw = concat(substring(col("text"), 1, 12),
        when(variant === 0, lit(" Limited"))
          .when(variant === 1, lit(" Ltd."))
          .when(variant === 2, lit(", ltd"))
          .when(variant === 3, lit(" CORPORATION"))
          .when(variant === 4, lit(" Corp."))
          .otherwise(lit(" corp  ")))
      Tables.documents(s, dir).select(col("doc_id"), raw.as("raw_name"),
        Text.stripSuffix(raw).as("stripped_name"))
    },
      oracle = """SELECT doc_id, raw_name,
        |       trim(regexp_replace(raw_name, '(?i)[\s,]+(limited|ltd\.|ltd|corporation|corp\.|corp)[\s.]*$', '')) AS stripped_name
        |FROM (
        |  SELECT doc_id,
        |         substr(text, 1, 12) ||
        |         CASE doc_id % 6
        |           WHEN 0 THEN ' Limited'  WHEN 1 THEN ' Ltd.'
        |           WHEN 2 THEN ', ltd'     WHEN 3 THEN ' CORPORATION'
        |           WHEN 4 THEN ' Corp.'    ELSE ' corp  ' END AS raw_name
        |  FROM documents)""".stripMargin),

    // T7 — title-relevance predicate (news_utils.py:40-79): standalone
    // phrase match with the preceding-char-not-letter rule. The comma-
    // rewritten title exercises the punctuation-prefix acceptance branch;
    // the plain title only accepts at string start.
    QueryDef("t7_relevance", (s, dir) => {
      val lowerText = lower(col("text"))
      val commaTitle = lower(regexp_replace(col("text"), lit(" "), lit(", ")))
      Tables.documents(s, dir).select(col("doc_id"),
        Text.relevantTitle(col("text"), "Hash Value Limited", "spark").as("relevant"),
        Text.standaloneMatch(lowerText, "hash value").as("rel_name"),
        Text.standaloneMatch(commaTitle, "spark").as("rel_comma_spark"),
        Text.standaloneMatch(lowerText, "spark").as("rel_plain_spark"))
    },
      oracle = """SELECT doc_id,
        |       (regexp_matches(lower(text), '(?:^\s*|[^\p{L}\s]\s*)\bhash value limited\b')
        |        OR regexp_matches(lower(text), '(?:^\s*|[^\p{L}\s]\s*)\bhash value\b')
        |        OR regexp_matches(lower(text), '(?:^\s*|[^\p{L}\s]\s*)\bspark\b')) AS relevant,
        |       regexp_matches(lower(text), '(?:^\s*|[^\p{L}\s]\s*)\bhash value\b') AS rel_name,
        |       regexp_matches(regexp_replace(lower(text), ' ', ', ', 'g'), '(?:^\s*|[^\p{L}\s]\s*)\bspark\b') AS rel_comma_spark,
        |       regexp_matches(lower(text), '(?:^\s*|[^\p{L}\s]\s*)\bspark\b') AS rel_plain_spark
        |FROM documents""".stripMargin),

    // T7 (native expression) — the dynamic-name case: company name and
    // ticker are per-row columns from a broadcast dimension, so the
    // pattern is not plan-time foldable; the custom Catalyst expression
    // (graft.expressions.RelevantTitle, with codegen + per-thread pattern
    // cache) evaluates it without UDF boxing.
    QueryDef("t7_relevance_native", (s, dir) => {
      import s.implicits._
      val dim = Seq(
        ("HASHVAL", "Hash Value Limited"),
        ("SPARKCO", "Spark Co"),
        ("WINMERGE", "Window Merge Corp.")).toDF("ticker", "long_name")
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .crossJoin(broadcast(dim))
        .select(col("doc_id"), col("ticker"),
          graft.expressions.RelevantTitle(
            col("text"), col("long_name"), col("ticker")).as("relevant"))
    },
      oracle = """SELECT d.doc_id, c.ticker,
        |       CASE c.ticker
        |         WHEN 'HASHVAL' THEN
        |           (regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bhash value limited\b')
        |            OR regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bhash value\b')
        |            OR regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bhashval\b'))
        |         WHEN 'SPARKCO' THEN
        |           (regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bspark co\b')
        |            OR regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bsparkco\b'))
        |         ELSE
        |           (regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bwindow merge corp\.\b')
        |            OR regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bwindow merge\b')
        |            OR regexp_matches(lower(d.text), '(?:^\s*|[^\p{L}\s]\s*)\bwinmerge\b'))
        |       END AS relevant
        |FROM documents d,
        |     (SELECT * FROM (VALUES ('HASHVAL'), ('SPARKCO'), ('WINMERGE')) t(ticker)) c""".stripMargin),

    // T9 — empty-title filter (news.py:157-159,285-287); every 7th title
    // is blanked so the predicate has real selectivity.
    QueryDef("t9_empty_title", (s, dir) => {
      val title = when(col("doc_id") % 7 === 0, lit("   ")).otherwise(col("text"))
      Tables.documents(s, dir).select(col("doc_id"), title.as("title"))
        .filter(Text.nonEmptyTitle(col("title")))
        .select(col("doc_id"), substring(col("title"), 1, 40).as("title_prefix"))
    },
      oracle = """SELECT doc_id, substr(title, 1, 40) AS title_prefix
        |FROM (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN '   ' ELSE text END AS title FROM documents)
        |WHERE length(trim(title)) > 0""".stripMargin),

    // M1 + T11/T12/T13 — deterministic sentiment scorer with the full
    // analyze() contract (sentiment.py:73-159): default short-circuit,
    // label canonicalization, signed 4-dp normalization. Every 11th doc
    // carries the default placeholder, every 13th a blank headline.
    QueryDef("m1_sentiment", (s, dir) => {
      val headline = when(col("doc_id") % 11 === 0, lit(Sentiment.DefaultHeadline))
        .when(col("doc_id") % 13 === 0, lit("  "))
        .otherwise(col("text"))
      Sentiment.withAnalysis(
        Tables.documents(s, dir)
          .select(col("doc_id"), headline.as("headline")), "headline", "s")
        .select(col("doc_id"),
          substring(col("headline"), 1, 30).as("headline_prefix"),
          col("s.raw_label").as("raw_label"), col("s.raw_score").as("raw_score"),
          col("s.label").as("label"), col("s.score").as("score"))
    },
      oracle = M1OracleSql),

    // M1 through the inference seam: the same analyze() contract routed
    // via SentimentInference.withBatchedAnalysis — per-partition model
    // init + fixed-size batches, the mapPartitions shape a real
    // ONNX/DJL FinBERT drops into (sentiment.py:100-140). Shares
    // m1_sentiment's oracle: the two execution forms must hash
    // identically.
    QueryDef("m1_sentiment_batched", (s, dir) => {
      val headline = when(col("doc_id") % 11 === 0, lit(Sentiment.DefaultHeadline))
        .when(col("doc_id") % 13 === 0, lit("  "))
        .otherwise(col("text"))
      SentimentInference.withBatchedAnalysis(
        Tables.documents(s, dir)
          .select(col("doc_id"), headline.as("headline")),
        "doc_id", "headline",
        () => new SentimentInference.LexiconModel())
        .select(col("doc_id"),
          substring(col("headline"), 1, 30).as("headline_prefix"),
          col("raw_label"), col("raw_score"), col("label"), col("score"))
    },
      // identical by contract: the batched inference seam must reproduce
      // the expression scorer's rows bit-for-bit
      oracle = M1OracleSql),

    // A4/N8/N3 — the coalesce-fallback precedence chain as a live query
    // (news.py:344-397): google name ≻ google ticker ≻ newsdata name ≻
    // newsdata ticker, most-recent within the winning source.
    QueryDef("a4_fallback_chain", (s, dir) =>
      selectedHeadlines(s, dir, Cfg.asOf),
      oracle = s"""WITH ev AS (
        |  SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |         (minute(ts) % 10 = 0) AS unp
        |  FROM events
        |  WHERE ts >= ${Cfg.asOfSql} - INTERVAL ${Cfg.lookbackHours} HOURS
        |    AND ts <= ${Cfg.asOfSql}),
        |google AS (SELECT * FROM ev WHERE event_type IN ('click','view')),
        |newsd  AS (SELECT * FROM ev WHERE event_type IN ('purchase','signup') AND NOT unp),
        |cands AS (
        |  SELECT user_id, event_id, unp, ts_str, 'google' AS src, 0 AS prec FROM google WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'google_ticker', 1 FROM google
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata', 2 FROM newsd WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata_ticker', 3 FROM newsd),
        |w AS (
        |  SELECT user_id, src, event_id,
        |         CASE WHEN src LIKE 'google%' AND unp THEN '' ELSE ts_str END AS pub_str, prec
        |  FROM cands),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY prec ASC, pub_str DESC, event_id DESC) AS rn FROM w)
        |SELECT user_id, src AS headline_source, event_id AS picked_event_id, pub_str
        |FROM r WHERE rn = 1""".stripMargin),

    // J5 + T14/N2 — attach the per-key selected headline to every date of
    // the calendar universe (left + default-fill, engine.py:149-162) and
    // assemble the pipe-delimited provenance column (engine.py:136-188).
    // The selected-headline side is one row per key — small today, but
    // NOT hint-forced: AQE broadcasts it from the RUNTIME size, so at
    // 100× key cardinality the same plan degrades to a shuffle join
    // instead of OOMing the driver (ExplainAuditSpec pins the runtime
    // broadcast).
    QueryDef("j5_attach_provenance", (s, dir) => {
      val selected = selectedHeadlines(s, dir, Cfg.asOf)
      Calendar.universe(
          Calendar.tradingDates(s, Cfg.marketStart, Cfg.provenanceEnd),
          Tables.events(s, dir).select(col("user_id")).distinct())
        .join(selected, Seq("user_id"), "left")
        .select(col("date"), col("user_id"),
          coalesce(col("headline_source"), lit("default")).as("headline_source"),
          when(col("picked_event_id").isNull, lit(Sentiment.DefaultHeadline))
            .otherwise(concat(lit("event:"), col("picked_event_id"))).as("headline"),
          concat_ws(" | ",
            lit("market=events"),
            concat(lit("news="), coalesce(col("headline_source"), lit("default"))),
            lit("sentiment=lexicon")).as("data_source_log"))
    },
      oracle = s"""WITH ev AS (
        |  SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |         (minute(ts) % 10 = 0) AS unp
        |  FROM events
        |  WHERE ts >= ${Cfg.asOfSql} - INTERVAL ${Cfg.lookbackHours} HOURS
        |    AND ts <= ${Cfg.asOfSql}),
        |google AS (SELECT * FROM ev WHERE event_type IN ('click','view')),
        |newsd  AS (SELECT * FROM ev WHERE event_type IN ('purchase','signup') AND NOT unp),
        |cands AS (
        |  SELECT user_id, event_id, unp, ts_str, 'google' AS src, 0 AS prec FROM google WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'google_ticker', 1 FROM google
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata', 2 FROM newsd WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata_ticker', 3 FROM newsd),
        |w AS (
        |  SELECT user_id, src, event_id,
        |         CASE WHEN src LIKE 'google%' AND unp THEN '' ELSE ts_str END AS pub_str, prec
        |  FROM cands),
        |sel AS (
        |  SELECT user_id, src AS headline_source, event_id AS picked_event_id
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY prec ASC, pub_str DESC, event_id DESC) AS rn FROM w)
        |  WHERE rn = 1),
        |cal AS (
        |  SELECT d::DATE AS date
        |  FROM generate_series(DATE '${Cfg.marketStart}', DATE '${Cfg.provenanceEnd}', INTERVAL 1 day) t(d)
        |  WHERE isodow(d::DATE) BETWEEN 1 AND 5),
        |uni AS (SELECT cal.date, u.user_id FROM cal, (SELECT DISTINCT user_id FROM events) u)
        |SELECT uni.date, uni.user_id,
        |       coalesce(sel.headline_source, 'default') AS headline_source,
        |       CASE WHEN sel.picked_event_id IS NULL THEN 'No major headline available'
        |            ELSE 'event:' || sel.picked_event_id END AS headline,
        |       'market=events | news=' || coalesce(sel.headline_source, 'default') || ' | sentiment=lexicon' AS data_source_log
        |FROM uni LEFT JOIN sel ON uni.user_id = sel.user_id""".stripMargin),

    // E1 — the flagship end-to-end pipeline: the reference's whole batch
    // run as ONE DataFrame DAG producing the 9-column PipelineRow schema
    // (engine.py:62-112; header :33-37). Composition semantics per N1/N2:
    //   daily market fact with full-history lag (T3/N6; first-ever day ⇒
    //            row DROPPED, N1)
    //   ⋉ semi   broadcast trading calendar — the calendar × keys (G2)
    //            inner join, minus the cross product: the fact's keys
    //            ARE the key universe, so only the date filter remains
    //            (missing (key,date) ⇒ no row, N1)
    //   ⟕ left   per-key selected headline + document text (A4+J5, N2) —
    //            one row per key ⇒ AQE broadcasts from runtime size
    //   ⟕ left   as-of YoY fundamentals (J4) — dimension ⇒ same; no
    //            hard hint, so 100× key cardinality degrades to a
    //            shuffle join instead of an OOM
    //   → sentiment projection (M1/T11-T13), provenance (T14), rounding.
    QueryDef("e1_pipeline", (s, dir) =>
      e1Pipeline(s, dir, newsFail = lit(false), sentFail = lit(false)),
      oracle = E1OracleSql),

    // E1d — fault-injection shadow of e1_pipeline: the engine-level
    // error degradation the reference wraps in try/except around
    // fetch_headline and sentiment.analyze (engine.py:156-173). A
    // failed news fetch keeps the row with the DEFAULT headline and
    // logs news=error; a failed scoring call keeps the row with
    // Neutral/0.0 and logs sentiment=error — degrade, never drop.
    // Failures are injected deterministically per key (provider outages
    // are call-level, so a keyed predicate is the bounded-data stand-in)
    // to make the degradation TOKEN VOCABULARY itself oracle-hashed;
    // at scale a real try_-null scoring signal lands in the same
    // branches.
    QueryDef("e1_pipeline_degraded", (s, dir) =>
      e1Pipeline(s, dir,
        newsFail = pmod(col("user_id"), lit(11)) === 3,
        sentFail = pmod(col("user_id"), lit(11)) === 7),
      oracle = e1OracleSqlWith("m.user_id % 11 = 3", "m.user_id % 11 = 7")),

    // K6 — the structured-log reason taxonomy (README.md:191,
    // news.py:131,274,400-405): one row per key in the degraded run's
    // universe classifying its headline outcome —
    //   INFRA_FAILURE: the provider call itself failed (the injected
    //     outage, same `% 11 = 3` branch as e1_pipeline_degraded;
    //     news.py's requests/feedparser exception paths);
    //   COVERAGE_GAP: providers ran but no candidate survived the
    //     filters (no selection row → default headline, news.py:404);
    //   SOURCE_ISSUE: a candidate was selected but its content is
    //     malformed (winner carries the unparseable-date '' pub_str —
    //     the RSS bozo/parse-warning shape);
    //   OK: healthy selection (the reference logs no reason code).
    // Scale shape: universe ⟕ one-row-per-key selection (AQE runtime
    // broadcast, same as j5) + a constant-folded CASE — no new shuffle.
    QueryDef("k6_reason_codes", (s, dir) => {
      val newsFail = pmod(col("user_id"), lit(11)) === 3
      val sel = selectedHeadlines(s, dir, Cfg.asOf)
      Tables.events(s, dir).select(col("user_id")).distinct()
        .join(sel, Seq("user_id"), "left")
        .select(col("user_id"),
          when(newsFail, lit("error"))
            .otherwise(coalesce(col("headline_source"), lit("default")))
            .as("headline_source"),
          when(newsFail, lit("INFRA_FAILURE"))
            .when(col("picked_event_id").isNull, lit("COVERAGE_GAP"))
            .when(col("pub_str") === "", lit("SOURCE_ISSUE"))
            .otherwise(lit("OK")).as("reason"))
    },
      // K6 — same selection CTE chain as a4_fallback_chain, classified
      // into the structured reason vocabulary.
      oracle = s"""WITH ev AS (
        |  SELECT *, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |         (minute(ts) % 10 = 0) AS unp
        |  FROM events
        |  WHERE ts >= ${Cfg.asOfSql} - INTERVAL ${Cfg.lookbackHours} HOURS
        |    AND ts <= ${Cfg.asOfSql}),
        |google AS (SELECT * FROM ev WHERE event_type IN ('click','view')),
        |newsd  AS (SELECT * FROM ev WHERE event_type IN ('purchase','signup') AND NOT unp),
        |cands AS (
        |  SELECT user_id, event_id, unp, ts_str, 'google' AS src, 0 AS prec FROM google WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'google_ticker', 1 FROM google
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata', 2 FROM newsd WHERE event_id % 5 = 0
        |  UNION ALL SELECT user_id, event_id, unp, ts_str, 'newsdata_ticker', 3 FROM newsd),
        |w AS (
        |  SELECT user_id, src, event_id,
        |         CASE WHEN src LIKE 'google%' AND unp THEN '' ELSE ts_str END AS pub_str, prec
        |  FROM cands),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY prec ASC, pub_str DESC, event_id DESC) AS rn FROM w),
        |sel AS (
        |  SELECT user_id, src AS headline_source, event_id AS picked_event_id, pub_str
        |  FROM r WHERE rn = 1),
        |uni AS (SELECT DISTINCT user_id FROM events)
        |SELECT uni.user_id,
        |       CASE WHEN uni.user_id % 11 = 3 THEN 'error'
        |            ELSE coalesce(sel.headline_source, 'default') END AS headline_source,
        |       CASE WHEN uni.user_id % 11 = 3 THEN 'INFRA_FAILURE'
        |            WHEN sel.picked_event_id IS NULL THEN 'COVERAGE_GAP'
        |            WHEN sel.pub_str = '' THEN 'SOURCE_ISSUE'
        |            ELSE 'OK' END AS reason
        |FROM uni LEFT JOIN sel ON uni.user_id = sel.user_id""".stripMargin),

    // T10 — annotated candidate dump: the debug/explain view of the news
    // selection (flags, no filtering; dump_news_debug.py:83-136).
    QueryDef("t10_debug_annotations", (s, dir) =>
      debugCandidates(s, dir, Cfg.asOf),
      oracle = s"""WITH $DebugCte
         |SELECT ann.user_id, ann.src, ann.event_id, ann.relevant_title,
         |       ann.in_72hr_window, ann.title_filter_applied, ann.parseable_date,
         |       (sel.user_id IS NOT NULL) AS "SELECTED"
         |FROM ann LEFT JOIN sel
         |  ON ann.user_id = sel.user_id AND ann.src = sel.src AND ann.event_id = sel.event_id""".stripMargin),

    // A3 — per-(key, query) counting aggregates over the debug frame
    // (dump_news_debug.py:149-157).
    QueryDef("a3_debug_counts", (s, dir) =>
      debugCandidates(s, dir, Cfg.asOf)
        .groupBy(col("user_id"), col("src"))
        .agg(count(lit(1)).as("total_fetched"),
          sum(when(col("relevant_title") && col("in_72hr_window") &&
            col("parseable_date"), 1L).otherwise(0L)).as("relevant_in_window")),
      oracle = s"""WITH $DebugCte
         |SELECT user_id, src, CAST(count(*) AS BIGINT) AS total_fetched,
         |       CAST(sum(CASE WHEN relevant_title AND in_72hr_window AND parseable_date THEN 1 ELSE 0 END) AS BIGINT) AS relevant_in_window
         |FROM ann GROUP BY 1, 2""".stripMargin),

    // J4b — the native whole-operator as-of join (custom LogicalPlan →
    // AsOfJoinStrategy → AsOfJoinExec via GraftExtensions): every daily
    // close picks the latest order total of the same key within 30 days.
    // One shuffle per side + a linear merge walk — no window stage, no
    // per-key history fan-out.
    QueryDef("j4b_asof_native", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d_ts"))
        .agg(Rounding.stable(sum(col("value")), 4).as("close"))
      val ord = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("o_key"),
          col("o_orderdate").cast("timestamp").as("o_ts"))
        .agg(Rounding.stable(sum(col("o_totalprice")), 2).as("o_total"))
      AsOf.asOfJoin(daily, ord, "user_id", "o_key", "d_ts", "o_ts",
          java.time.Duration.ofDays(30))
        .select(col("user_id"), col("d_ts"), col("close"),
          col("o_ts"), col("o_total"))
    },
      oracle = s"""WITH l AS (
         |  SELECT user_id, date_trunc('day', ts) AS d_ts,
         |         ${Rounding.stableSql("sum(value)", 4)} AS close
         |  FROM events GROUP BY 1, 2),
         |r AS (
         |  SELECT o_custkey AS o_key, o_orderdate::TIMESTAMP AS o_ts,
         |         ${Rounding.stableSql("sum(o_totalprice)", 2)} AS o_total
         |  FROM orders GROUP BY 1, 2),
         |m AS (
         |  SELECT l.user_id AS u, l.d_ts AS d, r.o_ts, r.o_total,
         |         row_number() OVER (PARTITION BY l.user_id, l.d_ts ORDER BY r.o_ts DESC) AS rn
         |  FROM l JOIN r ON r.o_key = l.user_id
         |    AND r.o_ts <= l.d_ts AND r.o_ts >= l.d_ts - INTERVAL 30 DAY)
         |SELECT l.user_id, l.d_ts, l.close, m.o_ts, m.o_total
         |FROM l LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
         |  ON m.u = l.user_id AND m.d = l.d_ts""".stripMargin),

    // E2 — the acceptance query: the reference's validator run over the
    // full pipeline output as ONE composed plan (validator.py:25-100 over
    // engine.py's CSV; here over the e1 DAG directly — no materialization
    // between pipeline and gate).
    QueryDef("e2_validate_pipeline", (s, dir) =>
      Validator.measure(
        e1Pipeline(s, dir, newsFail = lit(false), sentFail = lit(false)),
        Validator.Rules(
          rangeCol = "Sentiment_Score", rangeMin = -1.0, rangeMax = 1.0,
          nonNullCols = Seq("Pct_Change", "Volume"),
          nullRateCol = "YoY_NetIncome_Pct", nullRateMax = 0.5)),
      // NOTE: concatenation, not interpolation into a stripMargin string —
      // the embedded E1 SQL contains lines starting with "||" whose leading
      // "|" an outer stripMargin would eat.
      oracle = ("WITH e1 AS (SELECT * FROM (" + E1OracleSql + "\n) t)\n" +
        """SELECT CAST(count(*) AS BIGINT) AS row_count,
          |       CAST(sum(CASE WHEN "Sentiment_Score" IS NULL OR "Sentiment_Score" < -1.0 OR "Sentiment_Score" > 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS range_violations,
          |       CAST(sum(CASE WHEN "Pct_Change" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "Pct_Change_nulls",
          |       CAST(sum(CASE WHEN "Volume" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS "Volume_nulls",
          |       round(avg(CASE WHEN "YoY_NetIncome_Pct" IS NULL THEN 1.0 ELSE 0.0 END), 4) AS null_rate
          |FROM e1""".stripMargin)),

    // Blocked edit-distance record linkage over the part-name domain —
    // the entity-resolution primitive for dirty string keys. Scale
    // order: collapse the fact stream to DISTINCT names first (the
    // quadratic term then depends on the name domain, not the table),
    // block on the last token (equi-join, hash-partitioned — never
    // all-pairs) with the hot-block cap dropping degenerate shared-
    // final-token blocks before the quadratic stage, length-prefilter
    // (pure pruning: every edit moves length by ≤ 1), and compare with
    // the BANDED 3-arg levenshtein (O(maxDist·n) per pair). Payload:
    // per-name part counts, so the linkage is actionable as a merge plan.
    QueryDef("j6_fuzzy_join", (s, dir) => {
      val names = Tables.part(s, dir)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_parts"))
      Fuzzy.linkage(names, "name", Seq("n_parts"), Cfg.fuzzyMaxDist,
        Cfg.fuzzyMaxBlock)
    },
      // Same blocking as the plan (string_split(...)[-1]) and the same
      // hot-block cap (blocks above fuzzyMaxBlock drop before pairing);
      // no length prefilter — it is pure pruning on the Spark side.
      oracle = s"""WITH names AS (
         |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts
         |  FROM part GROUP BY 1),
         |blocked AS (
         |  SELECT block, name, n_parts FROM (
         |    SELECT string_split(name, ' ')[-1] AS block, name, n_parts,
         |           count(*) OVER (PARTITION BY string_split(name, ' ')[-1]) AS bn
         |    FROM names)
         |  WHERE bn <= ${Cfg.fuzzyMaxBlock})
         |SELECT a.block, a.name AS name_a, b.name AS name_b,
         |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
         |       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
         |FROM blocked a JOIN blocked b ON a.block = b.block AND a.name < b.name
         |WHERE levenshtein(a.name, b.name) <= ${Cfg.fuzzyMaxDist}""".stripMargin),

    // Recall gate for the blocked linkage (the sim_lsh_recall pattern):
    // last-token blocking misses pairs whose edits touch the final token
    // BY DESIGN — this measures the miss instead of asserting it away.
    // Ground truth is the unblocked banded-levenshtein join over a
    // BOUNDED name slice (p_partkey <= fuzzyRecallKeys pushes to the
    // scan, so the all-pairs truth term is O(slice²) at any corpus
    // size). missed_cross_block counts truth pairs whose last tokens
    // differ — hash-equal to missed_pairs exactly when the blocked path
    // found every same-block pair, so the row cross-checks the linkage
    // plumbing (length prefilter, banding) as well as measuring recall.
    QueryDef("j6_fuzzy_recall", (s, dir) => {
      val names = Tables.part(s, dir)
        .filter(col("p_partkey") <= Cfg.fuzzyRecallKeys)
        .select(col("p_name").as("name")).distinct()
      val truth = names.select(col("name").as("name_a"))
        .join(broadcast(names.select(col("name").as("name_b"))),
          col("name_a") < col("name_b"))
        .filter(abs(length(col("name_a")) - length(col("name_b")))
          <= Cfg.fuzzyMaxDist)
        .filter(levenshtein(col("name_a"), col("name_b"), Cfg.fuzzyMaxDist) >= 0)
        .withColumn("cross_block",
          (Fuzzy.lastTokenBlock(col("name_a")) =!=
            Fuzzy.lastTokenBlock(col("name_b"))).cast("long"))
        .agg(count(lit(1)).as("true_pairs"),
          coalesce(sum(col("cross_block")), lit(0L)).as("missed_cross_block"))
      val found = Fuzzy
        .linkage(names, "name", Seq.empty, Cfg.fuzzyMaxDist, Cfg.fuzzyMaxBlock)
        .agg(count(lit(1)).as("found_pairs"))
      truth.crossJoin(found)
        .withColumn("missed_pairs", col("true_pairs") - col("found_pairs"))
        .withColumn("recall_pct_floor",
          when(col("true_pairs") === 0, lit(100L))
            .otherwise(expr("found_pairs * 100L div true_pairs")))
        .select("true_pairs", "found_pairs", "missed_pairs",
          "missed_cross_block", "recall_pct_floor")
    },
      // Blocking is identical to j6_fuzzy_join's; the truth join is
      // unblocked over the same bounded slice. Integer counts only.
      oracle = s"""WITH names AS (
         |  SELECT DISTINCT p_name AS name FROM part
         |  WHERE p_partkey <= ${Cfg.fuzzyRecallKeys}),
         |truth AS (
         |  SELECT CASE WHEN string_split(a.name,' ')[-1] <> string_split(b.name,' ')[-1]
         |              THEN 1 ELSE 0 END AS cb
         |  FROM names a JOIN names b ON a.name < b.name
         |  WHERE levenshtein(a.name, b.name) <= ${Cfg.fuzzyMaxDist}),
         |blocked AS (
         |  SELECT name, block FROM (
         |    SELECT name, string_split(name, ' ')[-1] AS block,
         |           count(*) OVER (PARTITION BY string_split(name, ' ')[-1]) AS bn
         |    FROM names)
         |  WHERE bn <= ${Cfg.fuzzyMaxBlock}),
         |f AS (
         |  SELECT CAST(count(*) AS BIGINT) AS found_pairs
         |  FROM blocked a JOIN blocked b ON a.block = b.block AND a.name < b.name
         |  WHERE levenshtein(a.name, b.name) <= ${Cfg.fuzzyMaxDist}),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS true_pairs,
         |         CAST(coalesce(sum(cb), 0) AS BIGINT) AS missed_cross_block
         |  FROM truth)
         |SELECT t.true_pairs, f.found_pairs,
         |       CAST(t.true_pairs - f.found_pairs AS BIGINT) AS missed_pairs,
         |       t.missed_cross_block,
         |       CAST(CASE WHEN t.true_pairs = 0 THEN 100
         |            ELSE f.found_pairs * 100 // t.true_pairs END AS BIGINT)
         |         AS recall_pct_floor
         |FROM t, f""".stripMargin)
  )
}
