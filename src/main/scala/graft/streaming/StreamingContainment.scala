package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.{Dedup, Rounding}

/** Streaming asymmetric-containment detection — the live-crawl form of
  * [[graft.operators.Dedup.containmentPairs]]' inverted-index candidate
  * generation: every arriving document enrolls in the posting bucket of
  * each of its word-3-gram shingles and collides with the bucket's
  * earlier residents; a downstream aggregation counts distinct
  * colliding shingles per (earlier, later) pair and turns the count
  * into the containment ratio (both directions — containment is not
  * symmetric).
  *
  * Divergence from batch, and why: batch drops a shingle from the index
  * RETROACTIVELY once its document frequency exceeds dfCap, and
  * verifies candidates with a full shingle-set intersect. A stream can
  * do neither (it cannot retract collisions already emitted, nor hold
  * every document's shingle set next to every posting) — so enrollment
  * saturates at dfCap residents per shingle (the
  * [[StreamingNearDedup]] hot-bucket rule), and the ratio counts
  * CAPPED-BUCKET collisions only: a conservative lower bound that
  * equals the exact containment whenever no shared shingle sat in a
  * saturated bucket. State per shingle is ≤ dfCap (doc_id, setSize)
  * pairs; per-arrival work is O(residents) per shingle — both bounded
  * by the same quadratic guard as batch.
  */
object StreamingContainment {

  case class ShingleIn(g: Long, doc_id: Long, n_sh: Int,
      ts: java.sql.Timestamp)
  case class Collision(g: Long, early_id: Long, early_nsh: Int,
      late_id: Long, late_nsh: Int)
  // public: Janino-generated encoder code cannot access private classes
  case class PostingState(residents: List[(Long, Int)])

  /** Use with `outputMode("append")`; feed one row per (document,
    * distinct shingle). Rows inside a micro-batch are processed in
    * (ts, doc_id) order per shingle, so replays are deterministic.
    * Downstream: `groupBy(early_id, late_id).count()` → containment =
    * count / n_sh of the direction's contained side (see
    * [[containmentScan]] for the exact prescription).
    */
  def collisions(ds: Dataset[ShingleIn], dfCap: Int): Dataset[Collision] = {
    require(dfCap >= 1, s"dfCap must be >= 1, got $dfCap")
    import ds.sparkSession.implicits._
    ds.groupByKey(_.g)
      .flatMapGroupsWithState[PostingState, Collision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (g: Long, rows: Iterator[ShingleIn], state: GroupState[PostingState]) =>
          var residents = state.getOption.map(_.residents).getOrElse(Nil)
          var n = residents.size
          val out = Seq.newBuilder[Collision]
          // The per-batch group is buffered and sorted for deterministic
          // replay (transient memory is one micro-batch's arrivals for ONE
          // shingle — bounded by trigger sizing, not by dfCap); iteration
          // then STOPS at saturation: once n == dfCap no later-sorted
          // arrival can enroll or pair, so a hot boilerplate shingle costs
          // its sort and nothing further.
          val it = rows.toSeq.sortBy(x => (x.ts.getTime, x.doc_id)).iterator
          while (n < dfCap && it.hasNext) {
            val r = it.next()
            // saturation-stop at dfCap: a boilerplate shingle's bucket
            // neither pairs nor enrolls past the cap, bounding state
            // and per-arrival comparisons (batch drops the whole
            // shingle retroactively; a stream cannot retract)
            for ((pid, pnsh) <- residents if pid != r.doc_id)
              out += Collision(g, pid, pnsh, r.doc_id, r.n_sh)
            if (!residents.exists(_._1 == r.doc_id)) {
              residents = (r.doc_id, r.n_sh) :: residents
              n += 1
            }
          }
          state.update(PostingState(residents))
          out.result().iterator
      }
  }

  /** Batch twin of [[collisions]] + the prescribed downstream
    * aggregation, so the driver's DuckDB oracle can hash-check the
    * streaming semantics over a bounded table: posting enrollment is
    * the first dfCap arrivals per shingle (rank by (ts, id) — the
    * arrival-capped index, NOT batch's retroactive df drop), a
    * collision is an (earlier, later) enrolled pair sharing the
    * shingle, and each direction's containment is
    * sharedCappedShingles / |contained side's shingle set|.
    *
    * @return (doc_a, doc_b, containment) — doc_a's shingles covered by
    *         doc_b at ratio ≥ threshold, both directions reported
    *         independently, collision-count ratio per the streaming
    *         lower-bound rule above.
    */
  def containmentScan(df: DataFrame, idCol: String, textCol: String,
      timeCol: String, dfCap: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one consumer (the posting explode below) and no intersect stage —
    // unsorted shingles, no stage (the batch containmentPairs stages
    // its shingles because its verify re-joins the frame per side; this
    // scan counts collisions instead)
    val d = df.select(col(idCol).as("id"), col(timeCol).as("ts"),
        Dedup.tokenValues(col(textCol)).as("tv"))
      .select(col("id"), col("ts"),
        Dedup.shingleValuesFromTokens(col("tv")).as("sh"))
    // arrival rank within each shingle's posting; the row_number sort
    // rides the same hash exchange on g as the self-join below
    val post = d.select(col("id"), col("ts"), explode(col("sh")).as("g"),
        size(col("sh")).as("nsh"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("ts"), col("id"))))
      .filter(col("__r") <= dfCap)
    val hits = post.select(col("g"), col("id").as("early"),
        col("nsh").as("early_nsh"), col("__r").as("ra"))
      .join(post.select(col("g"), col("id").as("late"),
        col("nsh").as("late_nsh"), col("__r").as("rb")), Seq("g"))
      .filter(col("ra") < col("rb"))
      .groupBy(col("early"), col("late"))
      .agg(count(lit(1)).as("__h"),
        first(col("early_nsh")).as("early_nsh"),
        first(col("late_nsh")).as("late_nsh"))
    val lateInEarly = hits.select(col("late").as("doc_a"),
      col("early").as("doc_b"),
      Rounding.stable(col("__h").cast("double") / col("late_nsh"), 4)
        .as("containment"))
    val earlyInLate = hits.select(col("early").as("doc_a"),
      col("late").as("doc_b"),
      Rounding.stable(col("__h").cast("double") / col("early_nsh"), 4)
        .as("containment"))
    lateInEarly.unionByName(earlyInLate)
      .filter(col("containment") >= threshold)
  }
}
