package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Dedup, Stage}

/** Streaming MinHash-LSH near-duplicate detection — the streaming twin
  * of [[graft.operators.Dedup.minhashPairsBetween]]: every arriving doc
  * is checked against the docs already seen in its LSH band buckets,
  * and a candidate pair is emitted when their minhash signatures agree
  * on at least `minEstJaccard` of the positions.
  *
  * Shape: a narrow per-row map derives the b·r signature values and the
  * b band keys (same constants and arithmetic as the batch operator, so
  * a doc ingested by the stream bands identically to one scanned in
  * batch), then `flatMapGroupsWithState` keyed on (band, key) holds the
  * bucket's (doc_id, signature) residents as state. Signature agreement
  * is the standard streaming ESTIMATE of Jaccard — the exact verify of
  * the batch operator needs both shingle sets and runs as a downstream
  * batch join over the emitted candidates at scale.
  *
  * State bounds (the 100 TB/day contract): per bucket, residents live
  * until the event-time timeout `retention` past the bucket's newest
  * doc — the same watermark-driven expiry as
  * [[StreamingDedup.exactWithinWatermark]], so state is (docs per
  * bucket per retention window), never the corpus. A pair colliding in
  * several bands is emitted once per band, exactly like the batch
  * banding before its `dropDuplicates` — dedup the pair stream
  * downstream (`dropDuplicatesWithinWatermark` on a pair key, or the
  * batch verify join).
  */
object StreamingNearDedup {

  case class BandedDoc(bucket: String, doc_id: Long,
      ts: java.sql.Timestamp, sigs: Seq[Long])
  case class CandidatePair(doc_a: Long, doc_b: Long, est_jaccard: Double)
  // public: Janino-generated encoder code cannot access private classes
  case class BucketState(residents: List[(Long, Seq[Long])])

  /** The per-doc minhash signature array, staged one expensive derived
    * column per projection: multi-referenced lambda expressions
    * otherwise re-evaluate per reference (no CSE across the sig/band
    * expressions). Same constants and arithmetic as
    * [[graft.operators.Dedup.minhashPairs]], so a doc ingested by the
    * stream bands identically to one scanned in batch.
    *
    * @return (doc_id [, passthrough cols], sigs)
    */
  def sigArray(df: DataFrame, idCol: String, textCol: String,
      passthrough: Seq[String], nSig: Int): DataFrame = {
    val pass = passthrough.map(col)
    // fanned before the per-token md5 kernel — identity on streaming
    // frames and at scale (see Fan); the batch scan twin otherwise
    // runs the dominant CPU stage on the 2-split recrawl scan (r22)
    graft.operators.Fan.out(df)
      .select(col(idCol).as("doc_id") +: pass :+
        Dedup.tokenValues(col(textCol)).as("tv"): _*)
      .select(col("doc_id") +: pass :+
        Dedup.shingleValuesFromTokens(col("tv")).as("sh"): _*)
      .select(col("doc_id") +: pass :+
        array((0 until nSig).map(k => Dedup.minhashSig(col("sh"), k)): _*).as("sigs"): _*)
  }

  /** The banding derivation shared by the streaming operator and its
    * batch scan twin: per input row, one output row per band with
    * (bucket, doc_id [, passthrough cols], sigs).
    */
  def bandedSigs(df: DataFrame, idCol: String, textCol: String,
      passthrough: Seq[String], numBands: Int, rowsPerBand: Int): DataFrame =
    bandedSigsFromStaged(
      sigArray(df, idCol, textCol, passthrough, numBands * rowsPerBand),
      passthrough, numBands, rowsPerBand)

  /** Banding over an already-staged [[sigArray]] frame — lets a plan
    * that uses the signatures several times (the scan twin reads them
    * on four subtrees) compute them ONCE behind a [[graft.operators.Stage]].
    */
  def bandedSigsFromStaged(staged: DataFrame, passthrough: Seq[String],
      numBands: Int, rowsPerBand: Int): DataFrame = {
    val pass = passthrough.map(col)
    staged
      .select(col("doc_id") +: pass :+ col("sigs") :+
        posexplode(array((0 until numBands).map { b =>
          md5(concat_ws("|", (0 until rowsPerBand).map(r =>
            element_at(col("sigs"), b * rowsPerBand + r + 1).cast("string")): _*))
        }: _*)).as(Seq("band_id", "band_key")): _*)
      .select(concat_ws("#", col("band_id"), col("band_key")).as("bucket") +:
        col("doc_id") +: pass :+ col("sigs"): _*)
  }

  /** @param df streaming (idCol: Long, textCol: String, timeCol: Timestamp)
    * @param watermark lateness bound on `timeCol`
    * @param retention how long a doc stays pair-matchable after the
    *                  bucket's newest event time
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      timeCol: String,
      numBands: Int = 4,
      rowsPerBand: Int = 3,
      minEstJaccard: Double = 0.5,
      watermark: String = "1 hour",
      retention: java.time.Duration = java.time.Duration.ofHours(1),
      maxBucket: Int = Dedup.DefaultMaxBucket): Dataset[CandidatePair] = {
    import df.sparkSession.implicits._
    val nSig = numBands * rowsPerBand

    val banded = bandedSigs(
      df.select(col(idCol).as("doc_id"), col(timeCol).as("ts"), col(textCol).as("__text")),
      "doc_id", "__text", Seq("ts"), numBands, rowsPerBand)
      .as[BandedDoc]

    val retentionMs = retention.toMillis
    banded
      .withWatermark("ts", watermark)
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, CandidatePair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, docs: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // event-time order (doc_id tiebreak) so replays emit
            // identical pair direction regardless of batch slicing
            val arriving = docs.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))
            val out = Seq.newBuilder[CandidatePair]
            var residents = state.getOption.map(_.residents).getOrElse(Nil)
            var nResidents = residents.size
            for (d <- arriving) {
              // hot-bucket guard (the streaming face of
              // Dedup.DefaultMaxBucket): once a bucket holds maxBucket
              // residents it is degenerate (boilerplate key) — arriving
              // docs neither pair nor enroll, bounding BOTH state size
              // and per-doc comparisons at maxBucket. Batch retroactively
              // drops the whole hot bucket; a stream cannot retract
              // already-emitted pairs, so saturation-stop is the
              // streaming analog (downstream exact verify dedups).
              if (nResidents < maxBucket) {
                for ((pid, psigs) <- residents if pid != d.doc_id) {
                  val matching = psigs.iterator.zip(d.sigs.iterator)
                    .count { case (a, b) => a == b }
                  val est = matching.toDouble / nSig
                  if (est >= minEstJaccard)
                    out += CandidatePair(math.min(pid, d.doc_id),
                      math.max(pid, d.doc_id),
                      graft.operators.Rounding.stableVal(est, 4))
                }
                // enroll each doc_id once: an at-least-once source
                // re-delivering one doc must not eat the bucket budget
                // (1000 re-deliveries would saturate the cap and
                // suppress real pairs); the scan is O(|bucket|), same
                // as the pairing loop above
                if (!residents.exists(_._1 == d.doc_id)) {
                  residents = (d.doc_id, d.sigs) :: residents
                  nResidents += 1
                }
              }
            }
            state.update(BucketState(residents))
            val newest = arriving.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(newest + retentionMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Batch twin of [[nearDupPairs]] so the driver's DuckDB oracle can
    * hash-check the streaming operator's semantics: the SAME banding
    * and signature-agreement estimate over a bounded corpus —
    * within-bucket pairs (a < b) kept at est ≥ `minEstJaccard`, one row
    * per DISTINCT pair (the streaming form emits once per colliding
    * band; est is pair-determined, so `distinct` is the downstream
    * pair-dedup it prescribes). Candidates come from an equality join
    * on the bucket key — never all-pairs — the same 100 TB contract as
    * the batch minhash operator.
    */
  def nearDupPairsScan(df: DataFrame, idCol: String, textCol: String,
      numBands: Int = 4, rowsPerBand: Int = 3,
      minEstJaccard: Double = 0.5,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val nSig = numBands * rowsPerBand
    val renamed = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
    // the staged signatures feed FOUR subtrees (both banding sides of
    // the bucket self-join + both estimate sides) — one staged
    // computation instead of four tokenize+md5+agg runs (the same
    // sharing as the batch dedup queries)
    val withSigs = Stage.share(sigArray(renamed, "doc_id", "__text", Nil, nSig))
    // candidate generation shuffles ONLY (bucket, doc_id) — the
    // signature arrays must never ride the explode+self-join (the same
    // discipline as Dedup.minhashPairs: at scale they would serialize
    // numBands× through two exchanges); they are joined back per side
    // below, with both shuffles hashing on the id so the exchange is
    // reused between the two join builds.
    // hot-bucket guard (Dedup.DefaultMaxBucket): a degenerate bucket's
    // pair volume is |bucket|² — drop buckets above the cap before the
    // self-join. Window count over the bucket key shares the shuffle
    // join's hash partitioning and sort (see Dedup.dropHotBuckets).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    val keys = bandedSigsFromStaged(withSigs, Nil,
      numBands, rowsPerBand).select(col("bucket"), col("doc_id"))
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket).drop("__bn")
    val pairs = keys.select(col("bucket"), col("doc_id").as("doc_a"))
      .join(keys.select(col("bucket"), col("doc_id").as("doc_b")), Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
      lit(0), (acc, v) => acc + v).cast("double") / nSig
    pairs
      .join(withSigs.select(col("doc_id").as("doc_a"), col("sigs").as("sig_a")),
        Seq("doc_a"))
      .join(withSigs.select(col("doc_id").as("doc_b"), col("sigs").as("sig_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        graft.operators.Rounding.stable(est, 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }
}
