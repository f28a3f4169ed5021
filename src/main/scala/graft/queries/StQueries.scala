package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.Shared._
import graft.sources.Artifacts

/** Streaming-shaped scans (st*): each streaming operator's batch shadow
  * over a deterministic micro-batch, plus the live-ingest screens
  * e8/e9 and the standing indexes they read.
  */
private[graft] object StQueries {

  private val Cfg = PipelineConfig.Default

  /** Standing binary index for the live-ingest screens — the
    * [[SimQueries.standingCodebooks]] discipline applied to the cheapest
    * index in the house: the first call per (sf dir, bands, data mtime) runs
    * [[Similarity.writeBinaryIndex]] (packed sign codes + band-
    * partitioned postings) under the JVM temp dir; every later call —
    * the next bench pass, the next micro-batch of a standing ingest —
    * scans the two small artifacts instead of re-deriving sign bits
    * from the full-precision corpus. Inline ≡ prebuilt bit-for-bit
    * (the slicing is static per-row arithmetic; spec-pinned), so
    * st17/e8's oracle CTEs need no change.
    */
  private def standingBinaryIndex(s: SparkSession, dir: String,
      emb: DataFrame): DataFrame = {
    // fmt 2: postings denormalize the code halves (ADVICE r19) — the
    // key bump makes a pre-bump /tmp artifact unreachable, not misread
    val art = Artifacts.standingArtifact("graft_binidx",
      Seq(dir, 2, Cfg.binaryBands, Artifacts.dataMtime(dir, "embeddings.parquet")),
      Seq("codes/_SUCCESS", "bands/_SUCCESS")) { tmp =>
      Similarity.writeBinaryIndex(emb, "id", "vec", tmp, Cfg.binaryBands)
    }
    // fanned (r22): the band directories are byte-small (8 tiny files
    // pack into ONE scan split) but the screen's posting-join + hamming
    // kernel fuses into this scan — JobProfile read it as a 1-task
    // ~1.1 s-CPU stage in e8. Identity at any real index size (Fan).
    Fan.out(s.read.parquet(s"$art/bands")
      .select(col("id"), col("band").cast("int").as("band"), col("band_val"),
        col("code_lo"), col("code_hi")))
  }

  /** The live-ingest screen's base corpus: embeddings as (id, vec).
    * Fanned (r22): the asDouble transform is an interpreted HOF per
    * row and the byte-small scan packs into one split — JobProfile
    * read the fused scan+project as a 1-task ~0.8 s-CPU stage in e8.
    */
  private def screenBase(s: SparkSession, dir: String): DataFrame =
    // null-filter on the RAW column: `transform` preserves nullness, so
    // this admits exactly the rows `vec.isNotNull` did — but a filter on
    // the derived column pushes BELOW the fan and re-evaluates the
    // interpreted per-element cast on the 1-split scan (guide §4.4's
    // duplicated-evaluation trap; JobProfile: a 1-task ~0.9 s-CPU stage)
    Fan.out(Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull))
      .select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vec"))

  /** The arriving micro-batch fixture st17_binary_scan and
    * e8_ingest_screen share: bounded re-encodes of the base — ids
    * %3==0 fully negated (novel, ~Hamming 64 from everything), the
    * rest with ONLY the first component's sign flipped (Hamming ≤ 1 —
    * inside the pigeonhole radius, near-exact cosine to their source).
    * Exact IEEE negation (`-x`) so both engines compute identical
    * doubles; mirrored literally by the shared oracle CTE prefix.
    */
  private def screenArrivals(emb: DataFrame): DataFrame =
    // eagerly checkpointed (r22): the arrival batch is a bounded
    // fixture, but its derived vec column otherwise re-evaluates the
    // interpreted negate-transform chain once per consumer — and
    // binaryCodes' null guard PUSHES that evaluation below every fan
    // onto the 1-split scan (guide §4.4; JobProfile: a 1-task ~1.3
    // s-CPU scan stage in e8). A ~hundred-row checkpoint is free and
    // is a pushdown barrier.
    emb.filter(col("id") < Cfg.binaryScreenArrivals)
      .select((col("id") + lit(100000L)).as("id"),
        when(col("id") % 3 === 0,
          transform(col("vec"), x => -x))
        .otherwise(concat(
          array(-element_at(col("vec"), 1)),
          slice(col("vec"), 2, 63))).as("vec"))
      .localCheckpoint(eager = true)

  /** Standing frame-signature index for the live-ingest video screen —
    * the [[standingBinaryIndex]] discipline on the frame plane: the
    * first call per (sf dir, blockTokens, dfCap, data mtime) builds the
    * df-capped postings under the JVM temp dir
    * ([[Multimodal.writeFrameSigIndex]]); every later call scans the
    * artifact instead of re-deriving signatures from the full corpus.
    * Indexed ≡ inline df-capped postings bit-for-bit (spec-pinned), so
    * the oracle CTEs stay on the inline form.
    */
  private def standingFrameSigIndex(s: SparkSession, dir: String): DataFrame = {
    val art = Artifacts.standingArtifact("graft_framesigidx",
      Seq(dir, 1, Cfg.paraBlockTokens, Cfg.videoSigDfCap,
        Artifacts.dataMtime(dir, "documents.parquet")),
      Seq("postings/_SUCCESS")) { tmp =>
      Multimodal.writeFrameSigIndex(
        Multimodal.frameSignatures(Multimodal.attachVideoPayload(
          Tables.documents(s, dir), Cfg.paraBlockTokens)),
        tmp, Cfg.paraBlockTokens, Cfg.videoSigDfCap)
    }
    s.read.parquet(s"$art/postings").select(col("doc_id"), col("frame_sig"))
  }

  /** The arriving-upload fixture st19_video_scan screens: ids %10==0
    * re-upload a CLIP (the first two blocks of the source video, new id
    * +2·10⁶ — every clip frame exists in the base by construction);
    * ids %10==5 are NOVEL uploads (synthetic text, id +3·10⁶ — their
    * single frame collides with nothing). Deterministic string
    * construction on both sides, mirrored literally by the oracle.
    */
  private def videoArrivals(docs: DataFrame): DataFrame = {
    val nn = docs.filter(col("text").isNotNull)
    val clips = nn.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1,
          2 * Cfg.paraBlockTokens)).as("text"))
    val novel = nn.filter(col("doc_id") % 10 === 5)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"),
        concat(lit("novel upload "), col("doc_id").cast("string")).as("text"))
    clips.unionByName(novel)
  }

  /** st17_binary_scan: the stateless banded screen's oracle — base and
    * arrival sign codes ([[binaryHalfSql]]), both sliced into band
    * cells with the SAME shift/mask arithmetic as
    * [[SimQueries.bandedCandCtes]],
    * equi-joined on (band, band_val), one row per colliding cell whose
    * XOR+popcount hamming clears the bands−1 pigeonhole radius. The
    * arrival fixture mirrors the plan: ids %3==0 fully negated (novel),
    * the rest with only v[1]'s sign flipped (Hamming ≤ 1 — must
    * surface). `aid` aliasing avoids DuckDB's lateral-alias ambiguity
    * between the shifted output id and the source id the CASE reads.
    */
  /** The CTE prefix st17_binary_scan and e8_ingest_screen share:
    * eb (base), arr (the re-encode arrival fixture, `aid` to dodge
    * DuckDB lateral-alias ambiguity), bc/ac (sign codes), bb/ab (band
    * cells, the [[SimQueries.bandedCandCtes]] shift/mask arithmetic).
    */
  private def binaryScreenCtes: String = {
    val bands = Cfg.binaryBands
    require(bands >= 2 && bands % 2 == 0 && 64 % bands == 0,
      s"binaryScreenCtes: bands must split the two 32-bit halves evenly, got $bands")
    val perHalf = bands / 2
    val w = 64 / bands
    val mask = (1L << w) - 1
    def bandCte(src: String) =
      s"""SELECT id, code_lo, code_hi, t.b AS band,
         |       CASE WHEN t.b < $perHalf THEN (code_lo >> ($w * t.b)) & $mask
         |            ELSE (code_hi >> ($w * (t.b - $perHalf))) & $mask END AS band_val
         |FROM $src CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) t"""
    s"""eb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings WHERE embedding IS NOT NULL),
       |arr AS (
       |  SELECT id + 100000 AS aid,
       |         CASE WHEN id % 3 = 0 THEN list_transform(v, x -> -x)
       |              ELSE list_concat([-v[1]], v[2:64]) END AS v
       |  FROM eb WHERE id < ${Cfg.binaryScreenArrivals}),
       |bc AS (SELECT id, ${binaryHalfSql(0)} AS code_lo, ${binaryHalfSql(32)} AS code_hi FROM eb),
       |ac AS (SELECT aid AS id, ${binaryHalfSql(0)} AS code_lo, ${binaryHalfSql(32)} AS code_hi FROM arr),
       |bb AS (${bandCte("bc")}),
       |ab AS (${bandCte("ac")})"""
  }

  private def binaryScreenSql: String = {
    val bands = Cfg.binaryBands
    s"""WITH $binaryScreenCtes
       |SELECT a.id AS new_id, b.id AS base_id, CAST(a.band AS INT) AS band,
       |       CAST(bit_count(xor(a.code_lo, b.code_lo)) + bit_count(xor(a.code_hi, b.code_hi)) AS INT) AS hamming
       |FROM ab a JOIN bb b ON a.band = b.band AND a.band_val = b.band_val
       |WHERE bit_count(xor(a.code_lo, b.code_lo)) + bit_count(xor(a.code_hi, b.code_hi)) <= ${bands - 1}""".stripMargin
  }

  /** e8_ingest_screen: the screen's DISTINCT candidate pairs, exact
    * 6-dp cosine over only those pairs, per-arrival argmax
    * (cos DESC, lower base_id) + candidate count, and the admission
    * verdict against semanticThreshold — the SQL twin of the
    * screen→verify→admit DAG.
    */
  private def ingestScreenSql: String = {
    val bands = Cfg.binaryBands
    s"""WITH $binaryScreenCtes,
       |cand AS (
       |  SELECT DISTINCT a.id AS new_id, b.id AS base_id
       |  FROM ab a JOIN bb b ON a.band = b.band AND a.band_val = b.band_val
       |  WHERE bit_count(xor(a.code_lo, b.code_lo)) + bit_count(xor(a.code_hi, b.code_hi)) <= ${bands - 1}),
       |sc AS (
       |  SELECT c.new_id, c.base_id, ${sqlCos("av.v", "bv.v")} AS cos
       |  FROM cand c
       |  JOIN (SELECT aid AS id, v FROM arr) av ON av.id = c.new_id
       |  JOIN eb bv ON bv.id = c.base_id),
       |best AS (
       |  SELECT new_id, base_id AS best_id, cos AS best_cos
       |  FROM (SELECT *, row_number() OVER (PARTITION BY new_id ORDER BY cos DESC, base_id ASC) AS rn FROM sc)
       |  WHERE rn = 1),
       |cnt AS (SELECT new_id, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY new_id)
       |SELECT a.aid AS id,
       |       CAST(coalesce(cnt.n_cand, 0) AS BIGINT) AS n_cand,
       |       CAST(coalesce(best.best_id, -1) AS BIGINT) AS best_id,
       |       coalesce(best.best_cos, 0.0) AS best_cos,
       |       coalesce(best.best_cos, 0.0) < ${Cfg.semanticThreshold} AS admit
       |FROM arr a
       |LEFT JOIN cnt ON cnt.new_id = a.aid
       |LEFT JOIN best ON best.new_id = a.aid""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ST1 — the streaming recency operator's batch shadow as an oracle
    // query: windowedLatestAgg is the exact aggregation behind
    // StreamingRecency.windowedLatest (minus the watermark, which only
    // bounds lateness, not results) — so the DuckDB check pins the
    // streaming semantics.
    QueryDef("st1_windowed_latest", (s, dir) =>
      graft.streaming.StreamingRecency.windowedLatestAgg(
        Tables.events(s, dir)
          .withColumn("headline", concat(lit("event:"), col("event_id"))),
        "user_id", "ts", "headline", "1 day"),
      // (ts DESC, headline DESC) ordering mirrors windowedLatestAgg's
      // deterministic (ts, headline) max_by tie-break for equal-ts rows
      // (DuckDB arg_max has no composite key, so rank instead).
      oracle = """SELECT user_id, window_start, ts, headline
        |FROM (SELECT user_id, date_trunc('day', ts) AS window_start, ts,
        |             'event:' || CAST(event_id AS VARCHAR) AS headline,
        |             row_number() OVER (
        |               PARTITION BY user_id, date_trunc('day', ts)
        |               ORDER BY ts DESC, 'event:' || CAST(event_id AS VARCHAR) DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin),

    // ST2 — stream-stream interval join, batch shadow: news attached to
    // market rows of the same key with n_ts ∈ (m_ts − 24h, m_ts]. The
    // streaming form (StreamingJoin.streamIntervalJoin) is this exact
    // plan plus watermarks; the oracle pins the shared semantics.
    QueryDef("st2_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val market = ev.select(col("user_id").as("m_key"),
        col("ts").as("m_ts"), col("event_id").as("m_event_id"))
      val news = ev.filter(pmod(col("event_id"), lit(97)) === 0)
        .select(col("user_id").as("n_key"), col("ts").as("n_ts"),
          concat(lit("event:"), col("event_id")).as("headline"))
      graft.streaming.StreamingJoin
        .intervalJoin(market, news, "m_key", "n_key", "m_ts", "n_ts", "24 hours")
        .select(col("m_key").as("user_id"), col("m_event_id"),
          col("m_ts"), col("n_ts"), col("headline"))
    },
      oracle = """SELECT m.user_id, m.event_id AS m_event_id, m.ts AS m_ts, n.ts AS n_ts,
        |       'event:' || CAST(n.event_id AS VARCHAR) AS headline
        |FROM events m JOIN events n
        |  ON m.user_id = n.user_id
        | AND n.event_id % 97 = 0
        | AND n.ts > m.ts - INTERVAL 24 HOUR
        | AND n.ts <= m.ts""".stripMargin),

    // ST3 — Spark's native session_window (the streaming-capable
    // sessionizer: the same expression runs under a watermark in append
    // mode). Boundary semantics differ from ev_sessionize's lag form: a
    // session extends [ts, ts+gap), so a NEW session starts at diff >=
    // gap (ev_sessionize splits at diff > gap). The oracle derives the
    // identical sessions independently with the lag construction at the
    // >= boundary — pinning the builtin against first principles.
    QueryDef("st3_session_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"),
          col("n_events")),
      // session boundary at diff >= gap; window end = last event + gap
      oracle = """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
        |                (PARTITION BY user_id ORDER BY ts, event_id))
        |              >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts,
        |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS w_start,
        |       max(ts) + INTERVAL 30 MINUTE AS w_end,
        |       count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin),

    // ST4 — batch shadow of StreamingDedup.exactWithinWatermark:
    // first-seen-wins exact dedup over the re-crawled corpus with a
    // deterministic event time (base copy at doc_id seconds past
    // 2024-01-01, re-crawl one hour later), so the watermark operator's
    // "emit each distinct text once" semantics get a hash-checked
    // oracle row per distinct text.
    QueryDef("st4_dedup_scan", (s, dir) => {
      val withTs = recrawl(s, dir).withColumn("ts", timestamp_seconds(
        lit(1704067200L) + (col("doc_id") % 1000000) +
          expr("doc_id div 1000000") * 3600))
      graft.streaming.StreamingDedup.firstSeenScan(withTs, "doc_id", "text", "ts")
    },
      // first-seen-wins re-derived through a rank-1 window (DuckDB's
      // arg_min cannot take the composite (ts, doc_id) key).
      oracle = s"""WITH $RecrawlCte,
         |tsd AS (
         |  SELECT doc_id, text,
         |         make_timestamp((1704067200 + doc_id % 1000000 + (doc_id // 1000000) * 3600) * 1000000) AS ts
         |  FROM corpus),
         |r AS (
         |  SELECT md5(text) AS text_hash, doc_id, ts,
         |         row_number() OVER (PARTITION BY md5(text) ORDER BY ts, doc_id) AS rn
         |  FROM tsd)
         |SELECT text_hash,
         |       max(CASE WHEN rn = 1 THEN doc_id END) AS doc_id,
         |       min(ts) AS first_ts,
         |       CAST(count(*) AS BIGINT) AS dup_count
         |FROM r GROUP BY 1""".stripMargin),

    // ST5 — batch shadow of StreamingNearDedup.nearDupPairs: the same
    // banding + signature-agreement estimate (matching positions / nSig
    // ≥ 0.5) the streaming buckets apply, as a bounded-table scan the
    // oracle re-derives from the shared minhash CTEs.
    QueryDef("st5_neardedup_scan", (s, dir) =>
      graft.streaming.StreamingNearDedup.nearDupPairsScan(
        recrawl(s, dir), "doc_id", "text",
        numBands = Cfg.numBands, rowsPerBand = Cfg.rowsPerBand, minEstJaccard = 0.5,
        maxBucket = Cfg.maxBucket),
      oracle = (s"WITH ${minhashCtes(Cfg.numBands, Cfg.rowsPerBand, "a.doc_id < b.doc_id", "doc_a", "doc_b",
        Some(Cfg.maxBucket))},\n" +
        s"""est AS (
           |  SELECT p.doc_a, p.doc_b,
           |         ${Rounding.stableSql(
                        "(" + (0 until Cfg.nSig).map(k =>
                          s"(CASE WHEN a.sig_$k = b.sig_$k THEN 1 ELSE 0 END)")
                          .mkString(" + ") + s")::DOUBLE / ${Cfg.nSig}.0", 4)} AS est_jaccard
           |  FROM pairs p JOIN sig a ON a.doc_id = p.doc_a JOIN sig b ON b.doc_id = p.doc_b)
           |SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5""".stripMargin)),

    // ST6 — batch shadow of StreamingFunnel.stageAdvances: one advance
    // row per (user, stage) via the secondary-sort scan, oracle-checked
    // against the conditional-min-ts stage recurrence.
    QueryDef("st6_funnel_scan", (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .as[graft.streaming.StreamingFunnel.IdEv]
      graft.streaming.StreamingFunnel.stageAdvancesScan(
        ev, Seq("view", "click", "purchase")).toDF()
    },
      oracle = """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(ts) AS t
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(ts) AS t
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT user_id, CAST(1 AS INT) AS stage, 'view' AS event_type, t AS ts FROM s1
        |UNION ALL
        |SELECT user_id, CAST(2 AS INT) AS stage, 'click' AS event_type, t AS ts FROM s2
        |UNION ALL
        |SELECT user_id, CAST(3 AS INT) AS stage, 'purchase' AS event_type, t AS ts FROM s3""".stripMargin),

    // ST7 — batch shadow of StreamingBars.bars: the SAME barsAgg the
    // append-mode stream runs (6-hour tumbling candlesticks, min_by/
    // max_by open/close on the (ts, event_id) struct), so backfill and
    // live bars are pinned to one definition by the oracle.
    QueryDef("st7_bars_scan", (s, dir) =>
      graft.streaming.StreamingBars.barsAgg(
        Tables.events(s, dir), "user_id", "ts", "value", "event_id", "6 hours"),
      // 6-hour tumbling buckets via epoch-µs floor division (Spark's
      // window() start is epoch-aligned); open/close re-derived through
      // rank-1 windows as in ev_ohlc_bars.
      oracle = """WITH e AS (
        |  SELECT user_id,
        |         make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS bar_start,
        |         ts, event_id, value
        |  FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id, bar_start ORDER BY ts, event_id) AS ra,
        |        row_number() OVER (PARTITION BY user_id, bar_start ORDER BY ts DESC, event_id DESC) AS rd
        |      FROM e)
        |SELECT user_id, bar_start,
        |       max(CASE WHEN ra = 1 THEN value END) AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       max(CASE WHEN rd = 1 THEN value END) AS close,
        |       CAST(count(*) AS BIGINT) AS volume
        |FROM r GROUP BY 1, 2""".stripMargin),

    // ST8 — batch shadow of StreamingQuota.admitUpTo: first sourceCap
    // arrivals per source (arrival = (ts, doc_id)); min-quota via the
    // k-bounded aggregate on negated event-time micros, never a
    // per-source window sort.
    QueryDef("st8_quota_scan", (s, dir) => {
      val withTs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      graft.streaming.StreamingQuota.admitScan(
        withTs, "source", "doc_id", "ts", Cfg.sourceCap)
    },
      // Streaming quota's batch twin: first sourceCap arrivals per source
      // in (ts, doc_id) order — the window form of the plan's k-bounded
      // min-(ts,id) aggregate.
      oracle = s"""WITH t AS (
         |  SELECT doc_id, source,
         |         make_timestamp((1704067200 + doc_id) * 1000000) AS ts
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, ts,
         |         row_number() OVER (PARTITION BY source ORDER BY ts, doc_id) AS rn
         |  FROM t)
         |SELECT source, doc_id, ts, CAST(rn AS INT) AS adm_rank
         |FROM r WHERE rn <= ${Cfg.sourceCap}""".stripMargin),

    // ST10 — batch shadow of StreamingContainment.collisions + the
    // prescribed downstream aggregation: arrival-capped posting
    // enrollment (first dfCap docs per shingle by (ts, doc_id) — the
    // stream cannot retroactively drop a hot shingle like batch
    // dedup_containment does), collisions between enrolled
    // (earlier, later) pairs, containment = capped-collision count /
    // contained side's shingle-set size, both directions.
    QueryDef("st10_containment_scan", (s, dir) => {
      val withTs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      graft.streaming.StreamingContainment.containmentScan(
        withTs, "doc_id", "text", "ts",
        Cfg.containmentDfCap, Cfg.containmentThreshold)
    },
      // Same shingle CTEs as dedup_containment, with the ARRIVAL-capped
      // posting index (rank ≤ dfCap by (ts, doc_id) per shingle) instead
      // of the batch retroactive df drop, and the collision-count ratio
      // instead of the full-set intersect — the streaming lower bound.
      oracle = s"""WITH tvals AS (
         |  SELECT doc_id, $TokenValsSql AS tv FROM documents),
         |d AS (
         |  SELECT doc_id, $ShingleValsSql AS sh,
         |         make_timestamp((1704067200 + doc_id) * 1000000) AS ts
         |  FROM tvals),
         |post AS (
         |  SELECT doc_id, g, nsh, r FROM (
         |    SELECT doc_id, g, nsh,
         |           row_number() OVER (PARTITION BY g ORDER BY ts, doc_id) AS r
         |    FROM (SELECT doc_id, ts, unnest(sh) AS g, len(sh) AS nsh FROM d) p0)
         |  WHERE r <= ${Cfg.containmentDfCap}),
         |hits AS (
         |  SELECT a.doc_id AS early, b.doc_id AS late, count(*) AS h,
         |         any_value(a.nsh) AS early_nsh, any_value(b.nsh) AS late_nsh
         |  FROM post a JOIN post b ON a.g = b.g AND a.r < b.r
         |  GROUP BY 1, 2),
         |dirs AS (
         |  SELECT late AS doc_a, early AS doc_b,
         |         ${Rounding.stableSql("h::DOUBLE / late_nsh", 4)} AS containment
         |  FROM hits
         |  UNION ALL
         |  SELECT early AS doc_a, late AS doc_b,
         |         ${Rounding.stableSql("h::DOUBLE / early_nsh", 4)} AS containment
         |  FROM hits)
         |SELECT doc_a, doc_b, containment FROM dirs
         |WHERE containment >= ${Cfg.containmentThreshold}""".stripMargin),

    // ST9 — batch shadow of StreamingParagraphDedup.firstSeenParagraphs
    // + reassembly: each distinct paragraph admitted at first ARRIVAL
    // (ts, doc, pos) over the re-crawled corpus with the st4 event-time
    // layout (base copy at doc_id seconds past 2024-01-01, re-crawl one
    // hour later). Arrival order INTERLEAVES by ts — base doc 4000
    // arrives after re-crawl doc 1000005 — so the kept copies genuinely
    // differ from batch dedup_paragraph's (doc, pos) rule, and the
    // oracle pins exactly that divergence.
    QueryDef("st9_paragraph_scan", (s, dir) => {
      val withTs = recrawl(s, dir).withColumn("ts", timestamp_seconds(
        lit(1704067200L) + (col("doc_id") % 1000000) +
          expr("doc_id div 1000000") * 3600))
      graft.streaming.StreamingParagraphDedup.firstSeenParagraphScan(
        withTs, "doc_id", col("text"), "ts", Cfg.paraBlockTokens)
    },
      // Same paragraph CTE shapes as dedup_paragraph, with event time
      // LEADING the first-occurrence rank — the streaming arrival rule.
      oracle = {
        val b = Cfg.paraBlockTokens
        s"""WITH $RecrawlCte,
           |tsd AS (
           |  SELECT doc_id, text,
           |         make_timestamp((1704067200 + doc_id % 1000000 + (doc_id // 1000000) * 3600) * 1000000) AS ts
           |  FROM corpus),
           |pdt AS (SELECT doc_id, ts, string_split(text, ' ') AS tv
           |        FROM tsd WHERE text IS NOT NULL),
           |pde AS (SELECT doc_id, ts, tv,
           |               UNNEST(generate_series(0, (len(tv) - 1) // $b)) AS para_id
           |        FROM pdt),
           |pdp AS (SELECT doc_id, ts, para_id,
           |               array_to_string(tv[para_id*$b+1 : para_id*$b+$b], ' ') AS para_text
           |        FROM pde),
           |pdr AS (SELECT *, row_number() OVER (PARTITION BY md5(para_text)
           |                                     ORDER BY ts, doc_id, para_id) AS rn
           |        FROM pdp),
           |pd AS (SELECT doc_id, count(*) AS n_paras,
           |              count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
           |              coalesce(string_agg(CASE WHEN rn = 1 THEN para_text END, ' ' ORDER BY para_id), '') AS clean_text
           |       FROM pdr GROUP BY doc_id)
           |SELECT doc_id, n_paras, n_kept, clean_text FROM pd""".stripMargin
      }),

    // ST14 — batch shadow of StreamingSoftWeights.occurrenceWeights:
    // the live SoftDeDup rule — every copy admitted with weight
    // 1/arrival-rank of its content hash (batch dedup_soft weights the
    // FINISHED cluster uniformly at 1/|cluster|; a stream can't see
    // future copies, so mass is front-loaded instead — the scan pins
    // that divergence). st9's arrival layout: re-crawl copies an hour
    // after their originals.
    QueryDef("st14_soft_scan", (s, dir) => {
      val withTs = recrawl(s, dir).withColumn("ts", timestamp_seconds(
        lit(1704067200L) + (col("doc_id") % 1000000) +
          expr("doc_id div 1000000") * 3600))
      graft.streaming.StreamingSoftWeights.occurrenceWeightScan(
        withTs, "doc_id", col("text"), "ts")
    },
      // ST14 — occurrence rank per content hash in arrival order; weight
      // 1/rank (the stream's front-loaded SoftDeDup mass).
      oracle = s"""WITH $RecrawlCte,
         |tsd AS (
         |  SELECT doc_id, md5(text) AS text_hash,
         |         make_timestamp((1704067200 + doc_id % 1000000 + (doc_id // 1000000) * 3600) * 1000000) AS ts
         |  FROM corpus),
         |r AS (
         |  SELECT doc_id, text_hash,
         |         CAST(row_number() OVER (PARTITION BY text_hash ORDER BY ts, doc_id) AS BIGINT) AS occurrence
         |  FROM tsd)
         |SELECT doc_id, text_hash, occurrence,
         |       ${Rounding.stableSql("1.0 / occurrence", 6)} AS weight
         |FROM r""".stripMargin),

    // ST15 — batch shadow of StreamingMatcher.matches: the standing
    // BM25 query scored live against FROZEN calibration stats (a
    // stateless narrow map — no state store, no watermark). The scan
    // self-calibrates on the table it scores, so the oracle re-derives
    // df/N/avgdl relationally and hashes identical matches.
    QueryDef("st15_match_scan", (s, dir) => {
      val withTs = Tables.documents(s, dir)
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      graft.streaming.StreamingMatcher.matchScan(withTs, "doc_id", "text",
        "ts", Cfg.bm25Terms, Cfg.bm25K1, Cfg.bm25B, Cfg.matchThresholdU)
    },
      // ST15 — the per-doc BM25 sum (bm25 CTE chain's `agg`) thresholded;
      // ts is the st8 arrival layout.
      oracle = s"""WITH $bm25CtesSql
         |SELECT doc_id,
         |       make_timestamp((1704067200 + doc_id) * 1000000) AS ts,
         |       CAST(score_u AS DOUBLE) / 1000000.0 AS bm25
         |FROM agg WHERE score_u >= ${Cfg.matchThresholdU}""".stripMargin),

    // ST16 — batch shadow of StreamingBloom.screen: the live-ingest
    // membership screen against the STATIC (w, m) filter table — the
    // verdict computed by BloomHashes stream-static equi-joins folded
    // into one AND projection (stateless, append-mode; the aggregate
    // form would put unbounded doc keys in streaming state). Same
    // fixture and columns as dedup_bloom/dedup_bloom_sharded, so all
    // three forms — literal map, join+agg, stateless join chain — hash
    // against the SAME oracle.
    QueryDef("st16_bloom_scan", (s, dir) => {
      val base = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
      val batch = base.select((col("doc_id") + 1000000).as("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" novel "), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      graft.streaming.StreamingBloom.screenScan(base, batch, "doc_id", "text",
        math.max(Dedup.BloomWords.toLong, 4L * base.count()))
    },
      // The streaming screen's batch shadow computes the identical verdict
      // set a third way (stateless per-position join chain) — same oracle.
      oracle = bloomOracleSql),

    // ST17 — batch shadow of StreamingBinaryScreen.screen: the live
    // banded-binary candidate screen (multi-index Hamming probe as a
    // stateless stream-static equi-join against the standing code/band
    // postings — st16's discipline applied to the ANN side). Arrivals
    // are bounded re-encodes of the base: ids %3==0 fully negated
    // (novel — Hamming ~64, cut by the radius filter) and the rest
    // with ONLY the first component's sign flipped (Hamming ≤ 1 —
    // inside the pigeonhole radius, so the screen MUST surface them).
    // One row per colliding band cell within hamming ≤ bands−1; no
    // cross-band distinct (that dedup belongs to the bounded verify
    // stage — a streaming distinct would be unbounded pair state).
    // The base side comes from the STANDING index artifact
    // ([[standingBinaryIndex]] — built once per corpus, scanned per
    // micro-batch); inline ≡ prebuilt bit-for-bit, spec-pinned.
    QueryDef("st17_binary_scan", (s, dir) => {
      val emb = screenBase(s, dir)
      graft.streaming.StreamingBinaryScreen.screen(screenArrivals(emb),
        standingBinaryIndex(s, dir, emb),
        bands = Cfg.binaryBands, maxHamming = Cfg.binaryBands - 1)
    },
      // Stateless banded-binary candidate screen: colliding band cells
      // within the pigeonhole radius, per (arrival, base, band).
      oracle = binaryScreenSql),

    // ST19 — stateless streaming video frame-reuse screen: arriving
    // uploads decode into per-frame signatures (stateless per-partition
    // flatMap) and stream-static join the STANDING df-capped posting
    // index ([[standingFrameSigIndex]] — built once per corpus,
    // frozen-layout append, measured df-drift gate). One row per
    // (arrival frame, base posting) collision; no pair aggregation (an
    // unbounded pair keyspace would be streaming state — scoring
    // belongs to the bounded verify stage, e8's discipline). Clip
    // re-uploads surface on every shared frame; novel uploads emit
    // nothing; boilerplate emission is bounded at the source by the
    // index's build-time cap.
    QueryDef("st19_video_scan", (s, dir) =>
      graft.streaming.StreamingVideoScreen.screen(
        Multimodal.attachVideoPayload(
          videoArrivals(Tables.documents(s, dir)), Cfg.paraBlockTokens),
        standingFrameSigIndex(s, dir)),
      // Streaming video screen: arrival clips/novels rebuilt literally
      // (token-slice and synthetic-string construction mirror the plan),
      // joined against the inline df-capped postings (indexed ≡ inline,
      // spec-pinned).
      oracle = {
        val b = Cfg.paraBlockTokens
        s"""WITH ${frameBlockCtes(b)},
           |$FrameSigCte,
           |${frameSigPostCtes(Cfg.videoSigDfCap)},
           |arrc AS (SELECT doc_id + 2000000 AS new_id, tv[1 : ${2 * b}] AS tv2
           |         FROM vt WHERE doc_id % 10 = 0),
           |arrn AS (SELECT doc_id + 3000000 AS new_id,
           |                string_split('novel upload ' || doc_id, ' ') AS tv2
           |         FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 5),
           |arr AS (SELECT * FROM arrc UNION ALL SELECT * FROM arrn),
           |ae AS (SELECT new_id, tv2,
           |              UNNEST(generate_series(0, (len(tv2) - 1) // $b)) AS fid
           |       FROM arr),
           |asig AS (SELECT new_id, CAST(fid AS INT) AS frame_id,
           |                substr(md5(array_to_string(tv2[fid*$b+1 : fid*$b+$b], ' ')), 1, 14) AS frame_sig
           |         FROM ae)
           |SELECT new_id, frame_id, post.doc_id AS base_id, frame_sig
           |FROM asig JOIN post USING (frame_sig)""".stripMargin
      }),

    // ST18 — stateless streaming twin of mm_audio_segments: each upload
    // arrives WHOLE, so the gaps-and-islands fold happens inside the
    // row (one flatMap — zero shuffle, zero state store, no watermark;
    // the live plan is strictly narrower than the batch window form,
    // whose per-doc sort exists only because batch fans the windows
    // out as rows first). Bit-identical output by construction; shares
    // the batch oracle (the st16 bloom discipline).
    QueryDef("st18_audio_scan", (s, dir) =>
      graft.streaming.StreamingAudioSegments.segments(
        Multimodal.attachAudioPayload(Tables.documents(s, dir),
          Cfg.paraBlockTokens),
        Cfg.audioEnergyThreshold.toLong),
      // The streaming per-row fold computes the identical segment set a
      // second way (single-pass flatMap inside the row) — same oracle,
      // the st16 bloom discipline.
      oracle = audioSegmentsSql),

    // E8 — the daily-ingest admission flagship: the st17 banded screen
    // composed with the bounded exact-verify stage it feeds, one DAG.
    // Candidates (colliding band cells within the pigeonhole radius)
    // are DISTINCT-collapsed to pairs — a batch aggregate the stream
    // deliberately defers to exactly this stage — then ONLY those
    // pairs' full-precision vectors are read for the 6-dp exact
    // cosine (k·candidates rows, never |arrivals|·|base|); per
    // arrival, the best match (cos DESC, lower base_id on ties) and
    // the verdict: admit unless a match clears semanticThreshold —
    // incremental SemDeDup against a standing corpus, the admission
    // gate a 100 TB ingest runs on every micro-batch. Near twins
    // (first-dim flip, cos ≈ 1) are rejected with their source as
    // best match; negated arrivals generate zero candidates and admit.
    QueryDef("e8_ingest_screen", (s, dir) => {
      val emb = screenBase(s, dir)
      val arrivals = screenArrivals(emb)
      val cand = graft.streaming.StreamingBinaryScreen.screen(arrivals,
          standingBinaryIndex(s, dir, emb), bands = Cfg.binaryBands,
          maxHamming = Cfg.binaryBands - 1)
        .select(col("new_id"), col("base_id")).distinct()
      val av = arrivals.select(col("id").as("new_id"), col("vec").as("a_v"))
      val bv = emb.select(col("id").as("base_id"), col("vec").as("b_v"))
      val scored = cand.join(bv, Seq("base_id")).join(broadcast(av), Seq("new_id"))
        .withColumn("cos", round(Similarity.cosine(col("a_v"), col("b_v")), 6))
      // argmax by (cos desc, base_id asc) via one min-struct aggregate
      val best = scored.groupBy(col("new_id"))
        .agg(min(struct((lit(0.0) - col("cos")).as("nc"),
            col("base_id").as("b"))).as("m"),
          count(lit(1)).as("n_cand"))
        .select(col("new_id"), col("n_cand"), col("m.b").as("best_id"),
          (lit(0.0) - col("m.nc")).as("best_cos"))
      arrivals.select(col("id").as("new_id")).join(best, Seq("new_id"), "left")
        .select(col("new_id").as("id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("best_id"), lit(-1L)).as("best_id"),
          coalesce(col("best_cos"), lit(0.0)).as("best_cos"),
          (coalesce(col("best_cos"), lit(0.0)) < lit(Cfg.semanticThreshold))
            .as("admit"))
    },
      // The ingest-admission flagship: screen → exact verify → admit.
      oracle = ingestScreenSql),

    // E9 — the cross-modal curation flagship: one admission verdict per
    // upload from three independent per-doc modality signals — (1) text
    // heuristic quality, (2) corpus-wide duplicated-video-frame
    // fraction (the shared videoDupRollup), (3) audio speech-window
    // fraction — folded through a k6-style first-failure reason-code
    // chain (low_quality → dup_video → low_speech → ok). Each signal is
    // per-doc bounded (the only corpus-wide exchange is the frame-sig
    // canonical election inside the rollup); the three joins are all
    // doc_id-keyed co-partitioned hash joins, so at 100 TB the whole
    // verdict is one frame-sig shuffle plus doc-keyed merges — no
    // signal ever shuffles another's intermediate state.
    QueryDef("e9_av_curation", (s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val q = TextAnalysis.qualityColumns(col("text")).toMap
      val tq = docs.select(col("doc_id"), q("quality").as("quality"))
      // ONE payload attach feeds both binary-plane signals — the
      // md5-per-block hashing is the query's most expensive narrow
      // stage, and the audio payload IS the video payload. The lazy
      // checkpoint is what actually shares it: un-cached subplans are
      // re-evaluated per join branch (three consumers here), and the
      // materialization measured 1.44 s → 1.0 s solo at sf0.1.
      val pay = Multimodal.attachVideoPayload(docs, Cfg.paraBlockTokens)
        .localCheckpoint(false)
      val vid = videoDupRollupFrom(pay).select(col("doc_id"), col("dup_frac"))
      val aud = speechFracPerDoc(pay)
      tq.join(vid, Seq("doc_id")).join(aud, Seq("doc_id"))
        .withColumn("reason",
          when(col("quality") < lit(Cfg.avQualityMin), "low_quality")
            .when(col("dup_frac") >= lit(Cfg.mmDupFrameMax), "dup_video")
            .when(col("speech_frac") < lit(Cfg.avSpeechFracMin), "low_speech")
            .otherwise(lit("ok")))
        .select(col("doc_id"), col("quality"), col("dup_frac"),
          col("speech_frac"), col("reason"),
          (col("reason") === "ok").as("keep"))
    },
      // The cross-modal curation flagship: the three per-doc modality
      // signals re-derived relationally — video dup fraction via the
      // frame-sig row_number (the min-struct election's window form),
      // audio speech fraction via the nibble-decoded window energies,
      // text quality via the shared quality CTE — folded through the
      // same first-failure CASE chain as the plan.
      oracle = {
        val dupFrac = Rounding.stableSql("n_dup::DOUBLE / n_frames", 4)
        val speechFrac = Rounding.stableSql(
          s"count(CASE WHEN energy >= ${Cfg.audioEnergyThreshold} THEN 1 END)::DOUBLE / count(*)", 4)
        s"""WITH ${frameBlockCtes(Cfg.paraBlockTokens)},
           |$FrameSigCte,
           |vr AS (SELECT *, row_number() OVER (PARTITION BY frame_sig
           |                                    ORDER BY doc_id, frame_id) AS rn
           |       FROM vs),
           |vd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
           |              CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dup
           |       FROM vr GROUP BY doc_id),
           |vf AS (SELECT doc_id, $dupFrac AS dup_frac FROM vd),
           |ae AS (SELECT doc_id, CAST($NibbleSumSql AS BIGINT) AS energy
           |       FROM vm),
           |af AS (SELECT doc_id, $speechFrac AS speech_frac
           |       FROM ae GROUP BY doc_id),
           |tq0 AS (
           |${qualityCteSql("documents")}
           |  WHERE text IS NOT NULL),
           |tq AS (SELECT doc_id, $QualitySql AS quality FROM tq0),
           |j AS (SELECT doc_id, quality, dup_frac, speech_frac,
           |             CASE WHEN quality < ${Cfg.avQualityMin} THEN 'low_quality'
           |                  WHEN dup_frac >= ${Cfg.mmDupFrameMax} THEN 'dup_video'
           |                  WHEN speech_frac < ${Cfg.avSpeechFracMin} THEN 'low_speech'
           |                  ELSE 'ok' END AS reason
           |      FROM tq JOIN vf USING (doc_id) JOIN af USING (doc_id))
           |SELECT doc_id, quality, dup_frac, speech_frac, reason,
           |       reason = 'ok' AS keep
           |FROM j""".stripMargin
      }),

    // ST11 — batch shadow of StreamingSpans.firstSeenWindows + the span
    // merge: dedup_spans' boilerplate fixture with st8's arrival layout
    // (doc_id seconds past 2024-01-01), every window occurrence EXCEPT
    // its hash's first arrival a hit. The arrival-earliest copy of each
    // boilerplate phrase reads clean here while batch dedup_spans flags
    // all copies — the oracle pins exactly that divergence.
    QueryDef("st11_spans_scan", (s, dir) => {
      val boiler = concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(
          " subscribe to our newsletter for the latest updates and follow us on all social media platforms today"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(
          " this article is for informational purposes only and not professional advice"))
          .otherwise(lit("")))
      val withTs = Tables.documents(s, dir)
        .select(col("doc_id"), boiler.as("text"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      graft.streaming.StreamingSpans.firstSeenSpanScan(
        withTs, "doc_id", col("text"), "ts", Cfg.spanWindowTokens)
    },
      // ST11 — dedup_spans' window/island chain with hit = every window
      // occurrence EXCEPT its hash's first arrival (rn > 1 over
      // (ts, doc, p), ts = doc_id seconds past 2024-01-01).
      oracle = {
        val w = Cfg.spanWindowTokens
        s"""WITH base AS (
           |  SELECT doc_id,
           |         text || CASE WHEN doc_id % 3 = 0 THEN ' subscribe to our newsletter for the latest updates and follow us on all social media platforms today' ELSE '' END
           |              || CASE WHEN doc_id % 5 = 0 THEN ' this article is for informational purposes only and not professional advice' ELSE '' END AS text
           |  FROM documents WHERE text IS NOT NULL),
           |toks AS (SELECT doc_id, $TokenValsSql AS tv FROM base),
           |wins AS (
           |  SELECT doc_id, p,
           |         md5(array_to_string(list_transform(tv[p : p+${w - 1}], x -> CAST(x AS VARCHAR)), '|')) AS whash
           |  FROM (SELECT doc_id, tv, unnest(generate_series(1, len(tv) - ${w - 1})) AS p
           |        FROM toks WHERE len(tv) >= $w) w0),
           |arr AS (
           |  SELECT doc_id, p,
           |         row_number() OVER (PARTITION BY whash
           |                            ORDER BY 1704067200 + doc_id, doc_id, p) AS rn
           |  FROM wins),
           |hits AS (SELECT doc_id, p FROM arr WHERE rn > 1),
           |isl AS (
           |  SELECT doc_id, p,
           |         sum(CASE WHEN prev IS NULL OR p > prev + ${w - 1} THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY doc_id ORDER BY p) AS island
           |  FROM (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM hits) h0),
           |spans AS (
           |  SELECT doc_id, island, count(*) AS nh, max(p) + ${w - 1} - min(p) + 1 AS len
           |  FROM isl GROUP BY 1, 2),
           |perdoc AS (
           |  SELECT doc_id, sum(nh) AS n_dup_windows, count(*) AS n_spans,
           |         sum(len) AS dup_tokens, max(len) AS max_span_tokens
           |  FROM spans GROUP BY 1)
           |SELECT t.doc_id,
           |       CAST(CASE WHEN len(t.tv) >= $w THEN len(t.tv) - $w + 1 ELSE 0 END AS BIGINT) AS n_windows,
           |       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           |       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
           |       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           |       CAST(coalesce(p.max_span_tokens, 0) AS BIGINT) AS max_span_tokens
           |FROM toks t LEFT JOIN perdoc p USING (doc_id)""".stripMargin
      }),

    // ST12 — batch shadow of StreamingMix.admitToTargets: per-source
    // √-temperature document targets frozen from the corpus's own counts
    // (ta_mix_temperature's skewed head/mid/tail fixture), admission =
    // first target_s arrivals per source by (ts, doc_id). Bounded
    // output: at most mixBudget rows at any corpus size.
    QueryDef("st12_mix_scan", (s, dir) => {
      val withTs = Tables.documents(s, dir).select(
          when(col("doc_id") % 2 === 0, "head")
            .when(col("doc_id") % 4 === 1, "mid")
            .when(col("doc_id") % 8 === 3, "tail_a")
            .otherwise("tail_b").as("source"),
          col("doc_id"))
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      graft.streaming.StreamingMix.mixAdmitScan(
        withTs, "source", "doc_id", "ts", Cfg.mixBudget)
    },
      // ST12 — ta_mix_temperature's √-weight derivation in COUNT form
      // (target = least(n, (budget·w) // Σw), HUGEINT end-to-end), then
      // the first target_s arrivals per source by (ts, doc_id).
      oracle = s"""WITH s0 AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 2 = 0 THEN 'head'
         |              WHEN doc_id % 4 = 1 THEN 'mid'
         |              WHEN doc_id % 8 = 3 THEN 'tail_a'
         |              ELSE 'tail_b' END AS source
         |  FROM documents),
         |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s0 GROUP BY 1),
         |w AS (SELECT source, n, CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS w FROM c),
         |t AS (SELECT sum(w) AS tot FROM w),
         |tgt AS (SELECT source,
         |               least(CAST(n AS HUGEINT), (CAST(${Cfg.mixBudget} AS HUGEINT) * w) // tot) AS target
         |        FROM w, t),
         |arr AS (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY 1704067200 + doc_id, doc_id) AS rn
         |  FROM s0)
         |SELECT a.source, CAST(g.target AS BIGINT) AS target, a.doc_id,
         |       CAST(a.rn AS INT) AS adm_rank
         |FROM arr a JOIN tgt g USING (source)
         |WHERE a.rn <= g.target""".stripMargin),

    // ST13 — batch shadow of StreamingWinnow.firstSeenFingerprints +
    // the per-doc rollup: docs arrive in doc_id order (st8's layout —
    // doc_id seconds past 2024-01-01), a fingerprint's owner is its
    // earliest arrival, and a doc is flagged when any of its winnow
    // fingerprints was deposited earlier — the crawl-time
    // contamination screen over the same fingerprint layer ta_winnow
    // summarizes.
    QueryDef("st13_winnow_scan", (s, dir) => {
      val withTs = Tables.documents(s, dir)
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      graft.streaming.StreamingWinnow.winnowContaminationScan(
        withTs, "doc_id", "text", "ts", Cfg.winnowK, Cfg.winnowW)
    },
      // Mirrors StreamingWinnow.winnowContaminationScan: a fingerprint's
      // owner is its lexicographic-min [arrival, doc] pair (DuckDB list
      // compare ≡ Spark's min-struct), every other occurrence is shared.
      oracle = s"""WITH ${winnowCtes(withAt = true)},
         |x AS (SELECT doc_id, at, unnest(fps) AS fp FROM f),
         |o AS (SELECT fp, min([at, doc_id]) AS ofirst FROM x GROUP BY 1),
         |r AS (
         |  SELECT x.doc_id,
         |         CAST(count(*) AS BIGINT) AS n_fps,
         |         CAST(sum(CASE WHEN [x.at, x.doc_id] <> o.ofirst
         |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |  FROM x JOIN o USING (fp) GROUP BY 1)
         |SELECT doc_id, n_fps, n_shared, n_shared > 0 AS flagged FROM r""".stripMargin)
  )
}
