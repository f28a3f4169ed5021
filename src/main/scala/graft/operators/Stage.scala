package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.storage.StorageLevel

/** The one way to stage a frame: compute a subplan once and let every
  * consumer read its blocks. Two verbs, no knobs; the policy is stated
  * here once instead of at each site.
  *
  * [[share]] is the default — any frame read by more than one consumer
  * (both sides of a self-join, a band join and its verify, a loop body
  * that re-reads it every round). It materializes EAGERLY: in r22 the
  * lazy form let consumer jobs on the broadcast pool race to compute the
  * same blocks and serialize on the block-compute lock (JobProfile:
  * e7's layout/offsets/final-join broadcasts ran 8-task stages at run ≈
  * 3.5–4 s vs cpu ≈ 0.1 s; st5's signature broadcast 1.38 s run vs 7 ms
  * cpu; e4's verify stage 22.5 s run vs 9.9 s cpu). One synchronous pass
  * before any consumer plans costs the same compute and removes the
  * race. It KEEPS lineage: the rows are persisted `MEMORY_AND_DISK`, so
  * a lost block is recomputed from the plan instead of failing the query.
  *
  * [[truncate]] is only for a frame a loop reassigns every round, whose
  * plan and lineage would otherwise grow per round (iterative joins stack
  * plans exponentially). It is a lazy `localCheckpoint`: the round's own
  * action fills it, and a lost block fails the query with Spark's
  * "Checkpoint block … not found" — a loud error, never a partial answer.
  *
  * Both return a frame over a `LogicalRDD` (`Scan ExistingRDD`) with the
  * staged plan's output partitioning, ordering and size statistics, so
  * the plans above the boundary, and [[Fan]]'s widths, do not depend on
  * the verb. Staged blocks live until their RDD is unpersisted (Bench
  * and perfbench unpersist every persisted RDD between queries).
  */
object Stage {
  def share(df: DataFrame): DataFrame = GraftPlanBridge.atCaller(df) {
    GraftPlanBridge.stageRows(df, "share") { rows =>
      val kept = rows.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      kept.count()
      kept
    }
  }

  def truncate(df: DataFrame): DataFrame =
    GraftPlanBridge.atCaller(df)(df.localCheckpoint(false))
}
