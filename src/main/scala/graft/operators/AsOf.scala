package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of self-join with tolerance — the YoY quarter match (reference:
  * src/providers/market.py:111-135).
  *
  * Reference semantics reproduced exactly (SURVEY.md J4/N4):
  *   1. per key, `current` = the latest non-null row (date desc);
  *   2. target = current.time − `offsetMonths`;
  *   3. candidate rows within `toleranceDays` of target;
  *   4. pick the minimal |Δ|; the reference's `argmin` takes the FIRST
  *      minimal diff in date-DESCENDING order, so ties break to the later
  *      date (market.py:111,121-125);
  *   5. previous value exactly 0 is rejected (market.py:130-132);
  *   6. yoy = (cur − prev) / abs(prev) × 100, 2 dp (N4: abs denominator).
  *
  * Spark has no native tolerance as-of join; this is the compose-built-ins
  * path (SURVEY.md §7.3) as two windows over ONE partitioning on `key`:
  *   - `current` = `max(struct(time, tiebreak, value)) OVER (PARTITION BY
  *     key)`: the greatest (time, tiebreak) with nulls lowest, which is
  *     the rank-1 row of step 1 under (time desc, tiebreak desc) — desc
  *     sorts nulls last (value breaks exact duplicates deterministically);
  *   - the rank-1 row by (|Δ| asc, time desc, tiebreak desc) among the
  *     rows within tolerance.
  * Both windows cluster on `key`, so the plan scans the fact once and
  * shuffles it once — no `latest ⋈ fact` self-join. Rows with a null key
  * or time are dropped first: the self-join form dropped them too (a null
  * key never joins; a null time never wins step 1 — desc puts nulls last
  * — and never lands within tolerance). OperatorsSpec checks the two
  * forms agree row for row on random inputs. The band predicate is
  * applied per row (per-key row counts are small — quarters; for dense
  * per-key history, bucket the time axis first).
  */
object AsOf {

  /** @param fact  (key, time, value) rows; `time` date/timestamp
    * @return one row per key that has a tolerable match:
    *         (key, cur_time, cur_value, prev_time, prev_value, yoy_pct)
    */
  def yoyAsOf(
      fact: DataFrame,
      keyCol: String,
      timeCol: String,
      valueCol: String,
      offsetMonths: Int = 12,
      toleranceDays: Int = 20,
      tiebreakCol: String = ""): DataFrame = {

    val tb = if (tiebreakCol.nonEmpty) Seq(col("tb")) else Nil
    val base = fact
      .select((Seq(col(keyCol).as("k"), to_date(col(timeCol)).as("t"),
        col(valueCol).as("v")) ++
        (if (tiebreakCol.nonEmpty) Seq(col(tiebreakCol).as("tb")) else Nil)): _*)
      .filter(col("k").isNotNull && col("t").isNotNull && col("v").isNotNull)

    val cur = max(struct((col("t") +: tb :+ col("v")): _*))
      .over(Window.partitionBy(col("k")))
    val dd = abs(datediff(col("t"), add_months(col("cur_time"), -offsetMonths)))
    val cand = base
      .withColumn("__cur", cur)
      .withColumn("cur_time", col("__cur.t"))
      .withColumn("cur_value", col("__cur.v"))
      .withColumn("__dd", dd)
      .filter(col("__dd") <= toleranceDays)

    val wPick = Window.partitionBy(col("k"))
      .orderBy((col("__dd").asc +: col("t").desc +: tb.map(_.desc)): _*)

    cand.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1 && col("v") =!= 0)
      .select(
        col("k").as(keyCol),
        col("cur_time"),
        col("cur_value"),
        col("t").as("prev_time"),
        col("v").as("prev_value"),
        round((col("cur_value") - col("v")) / abs(col("v")) * 100, 2).as("yoy_pct"))
  }

  /** The native whole-operator as-of join (preference (c) of SURVEY.md
    * §7.3): every left row picks the latest right row of the same key
    * with rightTime ≤ leftTime and a gap ≤ `tolerance`; no match → right
    * columns null. Plans as [[graft.plans.AsOfJoinExec]] — one shuffle
    * per side + a linear merge walk per partition, vs the window+join
    * composition's extra window shuffle and per-key history fan-out.
    *
    * Requires [[graft.GraftExtensions]] (the planner strategy). Rows
    * with a null key or time are dropped on BOTH sides before the join
    * (the physical merge walk compares keys and reads raw time micros,
    * so a null would NPE / compare garbage — the non-null contract is
    * enforced here, not assumed). Both time columns must be
    * TimestampType. Right-side (key, time) should be unique for a
    * deterministic pick (ties take the last in sort order).
    */
  /** @param direction "backward" (latest right ≤ t, the default),
    *                   "forward" (earliest right > t) or "nearest"
    *                   (closer of the two, ties to the later row —
    *                   the reference's J4 argmin semantics)
    */
  def asOfJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      tolerance: java.time.Duration,
      direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val lf = left.filter(left.col(leftKey).isNotNull && left.col(leftTime).isNotNull)
    val rf = right.filter(right.col(rightKey).isNotNull && right.col(rightTime).isNotNull)
    val lp = lf.queryExecution.analyzed
    // A self-join (right derived from the same DataFrame as left) carries
    // the left side's exprIds into the right plan; binding would then
    // silently resolve right columns against the left side. Re-alias the
    // right output with fresh exprIds whenever the two sides overlap —
    // the same dedup built-in joins get from DeduplicateRelations.
    val rp = {
      val analyzed = rf.queryExecution.analyzed
      if (lp.outputSet.intersect(analyzed.outputSet).isEmpty) analyzed
      else Project(analyzed.output.map(a => Alias(a, a.name)()), analyzed)
    }
    val (lt, rt) = (attr(lp, leftTime), attr(rp, rightTime))
    // the physical merge reads the raw long micros — a DateType (int
    // days) column would silently compare garbage
    for (t <- Seq(lt, rt))
      require(t.dataType == org.apache.spark.sql.types.TimestampType,
        s"asOfJoin time column ${t.name} must be TimestampType, got ${t.dataType}")
    org.apache.spark.sql.GraftPlanBridge.ofRows(left.sparkSession,
      graft.plans.AsOfJoin(lp, rp,
        attr(lp, leftKey), attr(rp, rightKey), lt, rt,
        tolerance.toNanos / 1000L,
        graft.plans.AsOfDirection.parse(direction)))
  }
}
