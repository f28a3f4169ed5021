package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool (r21): per-JOB wall-clock attribution for one query — the
  * stand-in for the Spark UI's Jobs/Stages pages in this headless
  * sandbox (guide §7.1). Runs the named query exactly like Bench
  * (same session conf, noop sink, untimed q1 warmup, two passes so
  * the second is warm), then prints every Spark job the warm pass
  * submitted: duration, stage/task counts, and the callsite — the
  * evidence for "this query is N small actions" vs "one big stage".
  *
  * Usage (same classpath as scripts/solo_bench.py):
  *   java ... graft.JobProfile [sfDir] <query> [query ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.builder(cpus).getOrCreate()

    case class Job(id: Int, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, site: String)
    case class Stg(id: Int, name: String, tasks: Int, runMs: Long,
      cpuMs: Long, wallMs: Long)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]()
    val stgs = new scala.collection.mutable.ArrayBuffer[Stg]()
    val open = new scala.collection.concurrent.TrieMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        val j = Job(js.jobId, js.time, site = site)
        open(js.jobId) = j
        jobs.synchronized { jobs += j }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        open.remove(je.jobId).foreach(_.end = je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        jobs.synchronized {
          jobs.lastOption.foreach { j =>
            j.stages += 1; j.tasks += si.numTasks
          }
        }
        val tm = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        // the callsite name alone is useless for broadcast-pool stages
        // ("$anonfun$withThreadLocalCaptured"); the first graft frame in
        // the stage's long-form details names the operator
        val site = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("JobProfile"))
          .map(_.trim.stripPrefix("at ").take(70)).getOrElse("")
        // RDD scopes name the SQL operators the stage actually runs —
        // the only attribution available for broadcast-pool stages
        val scopes = si.rddInfos.flatMap(_.scope)
          .map(_.name.takeWhile(_ != '\n')).distinct.mkString("|").take(160)
        stgs.synchronized {
          stgs += Stg(si.stageId,
            (si.name.takeWhile(_ != '\n').take(20) + "  " +
              (if (site.nonEmpty) site else scopes)).take(180),
            si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000,
            wall)
        }
      }
    })

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    def cleanup(): Unit = try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }

    // Bench-identical warmup
    try { materialize("q1_lineitem_agg"); cleanup() }
    catch { case _: Throwable => () }

    for (q <- names) {
      // cold pass (pays codegen/JIT like bench pass 1), then warm pass
      val t0c = System.nanoTime(); materialize(q); cleanup()
      val coldMs = (System.nanoTime() - t0c) / 1e6
      var warmMs = Double.MaxValue
      for (_ <- 1 to 3) {
        jobs.synchronized { jobs.clear() }
        stgs.synchronized { stgs.clear() }
        val t0 = System.nanoTime()
        materialize(q)
        val ms = (System.nanoTime() - t0) / 1e6
        cleanup()
        if (ms < warmMs) warmMs = ms
      }
      println(f"===== $q cold=$coldMs%.0f ms warm(min3)=$warmMs%.0f ms")
      val snap = jobs.synchronized { jobs.toVector }
      val done = snap.filter(_.end > 0)
      println(f"jobs=${done.size} sum_job_ms=${done.map(j => j.end - j.start).sum}")
      done.sortBy(_.id).foreach { j =>
        println(f"  job ${j.id}%4d ${j.end - j.start}%6d ms stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site}")
      }
      val sv = stgs.synchronized { stgs.toVector }
      println("stages by executorRunTime:")
      sv.sortBy(-_.runMs).take(15).foreach { s =>
        println(f"  stage ${s.id}%4d wall=${s.wallMs}%6d run=${s.runMs}%6d cpu=${s.cpuMs}%6d tasks=${s.tasks}%3d  ${s.name}")
      }
    }
    spark.stop()
  }
}
