package graft.perfbench

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observer: a SparkListener for jobs, stages and tasks
  * plus a QueryExecutionListener for Catalyst planning time. Both only
  * record spans; attaching and detaching them between passes lets one run
  * measure its own overhead.
  *
  * Jobs are parented by the job group the harness sets around each op
  * phase (`pass/op/phase`). Planning spans carry no parent: the query
  * planning tracker reports wall-clock phase times, and the derivation
  * assigns each to the op phase that contains its start.
  */
final class Trace(spans: Spans) extends SparkListener with QueryExecutionListener {
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobStart = TrieMap.empty[Int, (Long, String, Int)]
  private val maxTaskMs = TrieMap.empty[(Int, Int), Long]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
    val group = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStart.put(js.jobId, (js.time, group, js.stageIds.size))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobStart.remove(je.jobId).foreach { case (start, group, stages) =>
      spans.add("job", s"j${je.jobId}", group, start, je.time,
        "stages" -> stages, "ok" -> (je.jobResult == JobSucceeded))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(te.taskMetrics).foreach { m =>
      val k = (te.stageId, te.stageAttemptId)
      maxTaskMs.put(k, math.max(maxTaskMs.getOrElse(k, 0L), m.executorRunTime))
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    val parent = stageJob.get(si.stageId).map(j => s"j$j").getOrElse("")
    val maxTask = maxTaskMs.remove((si.stageId, si.attemptNumber())).getOrElse(0L)
    spans.add("stage", s"s${si.stageId}.${si.attemptNumber()}", parent,
      si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L),
      "tasks" -> si.numTasks,
      "run_ms" -> m.executorRunTime,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "max_task_ms" -> maxTask,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "failed" -> si.failureReason.isDefined)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planSpan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    planSpan(qe)

  private def planSpan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
      .filter { case (name, _) => name != "parsing" }.values
    if (phases.nonEmpty)
      spans.add("plan", s"q${System.identityHashCode(qe)}", "",
        phases.map(_.startTimeMs).min, phases.map(_.endTimeMs).max,
        "plan_ms" -> phases.map(_.durationMs).sum)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Block until the listener bus has delivered every posted event, so
    * a pass's spans are complete before the next pass starts. The bus
    * accessor is package-private in Spark; it is public in bytecode.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
