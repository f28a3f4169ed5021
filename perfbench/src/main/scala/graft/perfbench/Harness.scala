package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}
import graft.sources.Sinks

/** The benchmark's JVM: one closed-loop client running one workload's ops
  * one at a time, the way the pipeline itself runs: build the session,
  * run a cold pass, then warm passes for `--seconds`.
  *
  * Every op writes its output, as a user's run would: the CSV op through
  * the pipeline's sink, every other op as parquet. Each pass overwrites
  * the previous pass's files, and the last pass's files are what the
  * oracle check reads.
  *
  * Every measurement is written to `<out>/spans.jsonl` when the run ends;
  * `perfbench/run.py` turns spans into metrics and checks the outputs.
  * With `--trace 1` warm passes alternate between untraced and traced
  * (listeners attached), so the run also measures its own overhead.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toLong
    val cores = opt("cores").toInt
    val spark = session(cores)
    try run(spark, opt, launchMs, System.currentTimeMillis())
    finally spark.stop()
  }

  /** The session every graft main builds (Bench/Verify), at `local[cores]`. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(spark: SparkSession, opt: Map[String, String],
      launchMs: Long, readyMs: Long): Unit = {
    val ops = opt("ops").split(",").toSeq.map { spec =>
      val parts = spec.split(":")
      Workloads.Op(parts(0), csv = parts.contains("csv"))
    }
    val dataDir = opt("data")
    val out = new File(opt("out"))
    val traced = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val minWarm = opt("min-warm").toInt
    val sc = spark.sparkContext
    val spans = new Spans
    val trace = new Trace(spans)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def artifacts(): Int =
      Option(tmp.list()).map(_.count(_.startsWith("graft_"))).getOrElse(0)

    // Table acquisition (listing + footer read) is timed through the
    // loader's own seam; spans are recorded only while tracing.
    @volatile var tracing = false
    val acquire = Tables.acquire
    Tables.acquire = (s, dir, name) => {
      val t0 = System.currentTimeMillis()
      try acquire(s, dir, name)
      finally if (tracing) spans.add("tables", s"t$t0/$name", "", t0,
        System.currentTimeMillis(), "table" -> name)
    }

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs(): Long = gcs.map(_.getCollectionTime).sum
    def now(): Long = System.currentTimeMillis()

    def cleanup(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }

    def phase[T](id: String, parent: String, kind: String)(body: => T): T = {
      sc.setJobGroup(id, id, interruptOnCancel = false)
      val t0 = now()
      try body
      finally spans.add(kind, id, parent, t0, now())
    }

    val outputs = new File(out, "outputs")

    /** One op: construct the query, write its output, then clean up the
      * frames it staged.
      */
    def runOp(passId: String, op: Workloads.Op): Unit = {
      val id = s"$passId/${op.name}"
      val arts0 = artifacts()
      val t0 = now()
      var error = ""
      var persisted = 0
      try {
        val df = phase(s"$id/construct", id, "construct")(
          SparkEntry.queries(op.name)(spark, dataDir))
        phase(s"$id/execute", id, "execute") {
          val path = new File(outputs, op.name).toString
          if (op.csv) Sinks.writeFinalCsv(df, path)
          else df.write.mode("overwrite").parquet(path)
        }
      } catch { case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      } finally {
        persisted = sc.getPersistentRDDs.size
        phase(s"$id/cleanup", id, "cleanup")(cleanup())
        sc.clearJobGroup()
      }
      spans.add("op", id, passId, t0, now(), "op" -> op.name,
        "persisted_rdds" -> persisted, "artifact_builds" -> (artifacts() - arts0),
        "error" -> error)
    }

    def runPass(index: Int, kind: String, withTrace: Boolean): Unit = {
      if (withTrace) trace.attach(spark)
      tracing = withTrace
      val passId = s"p$index"
      val (cpu0, gc0, jit0) = (os.getProcessCpuTime, gcMs(), jit.getTotalCompilationTime)
      val steal0 = stealMs()
      val t0 = now()
      ops.foreach(runOp(passId, _))
      val t1 = now()
      if (withTrace) trace.detach(spark)
      tracing = false
      spans.add("pass", passId, "run", t0, t1, "kind" -> kind, "traced" -> withTrace,
        "cpu_ms" -> (os.getProcessCpuTime - cpu0) / 1e6,
        "gc_ms" -> (gcMs() - gc0), "jit_ms" -> (jit.getTotalCompilationTime - jit0),
        "steal_ms" -> (stealMs() - steal0))
    }

    val runStart = now()
    spans.add("setup", "setup", "run", launchMs, readyMs)
    runPass(0, "cold", traced)
    // Warm passes until the measured window is spent. When tracing, warm
    // passes run untraced, traced, traced, untraced (repeating), so the
    // two halves see the same JVM warm-up on average.
    val warmStart = now()
    var index = 1
    while (index <= minWarm || now() - warmStart < seconds * 1000) {
      runPass(index, "warm", traced && index % 4 >= 2)
      index += 1
    }
    spans.add("rss", "rss", "run", now(), now(), "vm_hwm_kb" -> vmHwmKb())

    if (traced && opt("operators") == "1") {
      trace.attach(spark)
      tracing = true
      val probes = Workloads.operatorProbes(spark, dataDir)
      for (rep <- 1 to 3; (name, probe) <- probes) {
        val id = s"operators/$name/$rep"
        phase(id, "operators", "operator")(probe())
        sc.clearJobGroup()
      }
      tracing = false
      trace.detach(spark)
      cleanup()
    }
    spans.add("run", "run", "", runStart, now(), "cores" -> opt("cores"), "traced" -> traced)
    val oracle = ops.map(op => s"${Spans.q(op.name)}:${Spans.q(SparkEntry.oracleSql(op.name))}")
      .mkString("{", ",", "}")
    Files.write(Paths.get(outputs.toString, "oracle_sql.json"), oracle.getBytes(UTF_8))
    spans.write(Paths.get(out.toString, "spans.jsonl"))
  }

  /** CPU time the hypervisor took from this VM, summed over its CPUs
    * (Linux `/proc/stat` steal, in USER_HZ ticks of 10 ms); 0 elsewhere.
    */
  private def stealMs(): Long = try {
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong * 10
  } catch { case _: Exception => 0L }

  /** Peak resident set size of this JVM (Linux `VmHWM`), 0 elsewhere. */
  private def vmHwmKb(): Long = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  } catch { case _: java.io.IOException => 0L }
}
