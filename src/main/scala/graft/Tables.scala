package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.TimestampType

/** Loaders for the driver-provided star-schema parquet tables
  * (`/root/testdata/sf*`, see TESTDATA.md). All schemas are declared by the
  * parquet footers, read in-process without a Spark job (see
  * [[acquire]]); we never infer from CSV (SURVEY.md §1.3).
  *
  * At cluster scale the same entry points would read a partitioned table
  * root (e.g. `.../lineitem/` bucketed by join key); the single-file layout
  * here is the local-mode shadow of that.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan-side retry seam (M2 parity at the SOURCE boundary): the
    * reference decorates both of its market fetches with `@with_retries`
    * (src/providers/market.py:26,84); the Spark equivalent of that
    * external call is ACQUIRING the DataFrame from the source connector
    * — the driver-side listing/footer read here, a JDBC/HTTP handshake
    * for a live quotes connector. Every [[apply]] acquisition runs
    * through [[graft.sources.Resilience.withRetry]] with this policy.
    * The default is ZERO retries and no sleeps — `withRetry` then
    * rethrows the first failure immediately, so plans, timings, and
    * oracles are untouched; a deployment fronting a flaky source
    * installs a policy once at startup (e.g. the reference's 3×/2 s/×2
    * via `Resilience.RetryPolicy()`).
    */
  @volatile var scanRetry: graft.sources.Resilience.RetryPolicy =
    graft.sources.Resilience.RetryPolicy(maxRetries = 0, initialDelayMillis = 0L)
  @volatile var scanSleeper: graft.sources.Resilience.Sleeper =
    graft.sources.Resilience.SystemSleeper

  /** The raw source acquisition behind the retry seam; ResilienceSpec
    * swaps in a flaky double to exercise recovery and exhaustion without
    * a real flaky filesystem.
    *
    * Acquisition launches no Spark job: the schema Spark would infer is
    * read from one footer in-process
    * ([[org.apache.spark.sql.GraftPlanBridge.parquetSchema]]) and handed
    * to the reader, so building a query costs a footer read per table
    * instead of a schema-inference job each. The schema is the inferred
    * one by construction (same file, same converter), so plans and
    * results are unchanged; SchemaCanarySpec pins the equality for every
    * table and layout. Nothing is cached: each call reads the footer
    * afresh, so a rewritten table is never seen with a stale schema.
    */
  @volatile private[graft] var acquire: (SparkSession, String, String) => DataFrame =
    (spark, sfDir, name) => {
      val path = s"$sfDir/$name.parquet"
      org.apache.spark.sql.GraftPlanBridge.parquetSchema(spark, path)
        .fold(spark.read)(spark.read.schema).parquet(path)
    }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.Resilience.withRetry(scanRetry, scanSleeper)(
      acquire(spark, sfDir, name))

  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")

  /** `events.ts` has shipped in two parquet encodings across testdata
    * generations, so the loader is schema-adaptive on the footer type:
    *
    *  - TIMESTAMP(MICROS) without UTC adjustment (current generator): Spark
    *    loads `TIMESTAMP_NTZ`; we cast to session-zone `TimestampType`.
    *    Every session in this repo pins `spark.sql.session.timeZone=UTC`,
    *    so the cast relabels the same micros value — downstream epoch-µs
    *    arithmetic and the DuckDB oracle's `epoch_us(ts)` agree exactly.
    *  - TIMESTAMP(NANOS) (older generator), which Spark 4 refuses by
    *    default: with `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    every session builder here — NOT mutated by this loader; a loader
    *    must not have session-global side effects) the column arrives as a
    *    long and we rebuild a microsecond TimestampType (`div 1000` was
    *    lossless: that generator emitted µs-clean values).
    *
    * Any other physical type fails fast with a one-line diagnosis instead
    * of 35 scattered analysis errors downstream.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = apply(spark, dir, "events")
    tsKind(raw) match {
      case TsMicrosNtz  => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TsTimestamp  => raw
      case TsNanosLong  => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    }
  }

  /** Events restricted to a recency window, with the predicate applied to
    * the RAW scanned column BEFORE any rebuild/cast — a filter on a derived
    * column cannot push into the parquet scan (observed: only IsNotNull
    * pushed), which at 100 TB means a full-history read for a 72-hour
    * window. Here the scan shows `PushedFilters: [GreaterThanOrEqual(ts,...),
    * LessThanOrEqual(ts,...)]` and row groups outside the window never
    * leave disk. The literal is typed to the scanned column: a
    * `LocalDateTime` (TIMESTAMP_NTZ) literal for the current µs testdata,
    * an epoch-nanos long for the legacy nanos layout.
    * `asOf` is UTC (session timezone), inclusive on both ends — identical
    * semantics to [[graft.operators.Recency.recencyWindow]].
    */
  def eventsInWindow(spark: SparkSession, dir: String,
      asOf: String, lookbackHours: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val hiLdt = java.time.LocalDateTime.parse(asOf.replace(' ', 'T'))
    val loLdt = hiLdt.minusHours(lookbackHours.toLong)
    val raw = apply(spark, dir, "events")
    tsKind(raw) match {
      case TsMicrosNtz =>
        raw.filter(col("ts") >= lit(loLdt) && col("ts") <= lit(hiLdt))
          .withColumn("ts", col("ts").cast(TimestampType))
      case TsTimestamp =>
        raw.filter(col("ts") >= lit(hiLdt.toInstant(java.time.ZoneOffset.UTC)
            .minusSeconds(lookbackHours * 3600L))
          && col("ts") <= lit(hiLdt.toInstant(java.time.ZoneOffset.UTC)))
      case TsNanosLong =>
        val hiNanos = hiLdt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000000L
        val loNanos = hiNanos - lookbackHours * 3600L * 1000000000L
        raw.filter(col("ts") >= loNanos && col("ts") <= hiNanos)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    }
  }

  /** The physical layouts `events.ts` is known to arrive in. */
  private sealed trait TsKind
  private case object TsMicrosNtz extends TsKind
  private case object TsTimestamp extends TsKind
  private case object TsNanosLong extends TsKind

  private def tsKind(raw: DataFrame): TsKind =
    raw.schema("ts").dataType match {
      case _: org.apache.spark.sql.types.TimestampNTZType => TsMicrosNtz
      case _: org.apache.spark.sql.types.TimestampType    => TsTimestamp
      case org.apache.spark.sql.types.LongType            => TsNanosLong
      case other => throw new IllegalStateException(
        s"testdata changed: events.ts is now $other (expected TIMESTAMP_NTZ, " +
        "TIMESTAMP, or legacy nanos-as-long) — update Tables.events")
    }
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
