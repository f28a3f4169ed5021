package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line on stdout for the driver.
  *
  * Measurement notes (VERDICT r1 "What's wrong" #1/#7):
  *  - each query is materialized with a `noop` write, which evaluates EVERY
  *    output column — `.count()` let Catalyst prune the very window columns
  *    a query exists to compute;
  *  - one untimed warmup query runs first so JVM/Spark startup cost does not
  *    land on whichever query happens to be first in map order;
  *  - a failing query is NOT swallowed to a fast `-1`: it records -1 AND the
  *    error string, and the process exits non-zero after still printing the
  *    JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(cpus).getOrCreate()
    // A task finishing AFTER its query execution completed reports its
    // (now-unregistered) SQL-metric accumulators and DAGScheduler logs
    // "Failed to update accumulator ... non-existent accumulator" at
    // ERROR — benign for results (observed only in the full suite,
    // never solo; exit stays 0), but a multi-line stack in the output
    // tail can push the JSON line out of the driver's parse window
    // (VERDICT r11). Suppress ONLY that message — a blanket FATAL on
    // DAGScheduler would also hide the task-lost/stage-failure lines
    // that make a genuine mid-bench failure diagnosable. Genuine job
    // failures still reach the bench loop as exceptions and are
    // reported via the errors array + exit 1.
    locally {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val conf = ctx.getConfiguration
      val lname = "org.apache.spark.scheduler.DAGScheduler"
      val lc = {
        val existing = conf.getLoggerConfig(lname)
        if (existing.getName == lname) existing
        else {
          val fresh = new org.apache.logging.log4j.core.config.LoggerConfig(
            lname, null, true)
          conf.addLogger(lname, fresh)
          fresh
        }
      }
      lc.addFilter(new org.apache.logging.log4j.core.filter.AbstractFilter() {
        override def filter(event: LogEvent): Filter.Result = {
          val m = event.getMessage
          val s = if (m == null) null else m.getFormattedMessage
          if (s != null && s.contains("Failed to update accumulator"))
            Filter.Result.DENY
          else Filter.Result.NEUTRAL
        }
      })
      ctx.updateLoggers()
    }

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Warmup: exercise scan + shuffle + codegen paths once, untimed.
    try materialize("q1_lineitem_agg") catch { case _: Throwable => () }
    // The q1 warmup touches none of the vector-family hot classes — the
    // native dot/cosine/l2sq codegen kernels, the typed TopKByScore
    // aggregate's ser/de, the Lloyd crossJoin+max_by shape, or the PQ
    // encode argmin — so every sim_* measurement (solo runs included:
    // solo_bench invokes this same main per query) was paying their
    // first-use JIT+codegen inside its timed window (~3-4 s cold vs
    // warm: sim_ivfpq_ann's train/search/brute phases timed on a first
    // and a repeated pass in one JVM). Warm them on a 64-row slice,
    // untimed, exactly like q1 warms the scan/agg paths.
    try {
      import org.apache.spark.sql.functions.col
      val emb = graft.operators.Stage.share(
        spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
          .select(col("vec_id").as("id"), col("embedding").as("vec")))
      graft.operators.Similarity.topKBrute(emb.limit(4), emb, 3)
        .write.format("noop").mode("overwrite").save()
      val (cents, cw) = graft.operators.Similarity.trainIvfPqConcurrently(
        emb, coarseK = 2, iters = 2, trainBound = Long.MaxValue,
        m = 2, subDim = 32, codewords = 2)
      graft.operators.Similarity.topKIvfPq(emb.limit(2), emb, cw,
          k = 2, m = 2, subDim = 32, rerank = 2, centroids = cents,
          nProbe = 2)
        .write.format("noop").mode("overwrite").save()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    } catch { case _: Throwable => () }

    // Dev-only: SPARK_GRAFT_ONLY=q1,q2 times a subset while iterating on
    // one operator; the driver never sets it, so the round bench is full.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var errors = List.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // Solo one-JVM-per-query baselines (scripts/solo_bench.py): the
    // outlier-retry reference. Only trusted when the dump's "sf" matches
    // the SF being benched — sf0.1 baselines against an sf1 run would
    // flag every long query as "stalled" and double the whole long tail.
    // Absence (out-of-repo cwd, sf mismatch) degrades to
    // retry-everything-over-20s=never, i.e. the pre-r12 behavior.
    val soloMs: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SOLO", "BENCH_SOLO.json"))),
        java.nio.charset.StandardCharsets.UTF_8)
      val soloSf = """"sf":\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
      if (!soloSf.contains(sfName)) Map.empty
      else """"([a-z0-9_]+)":\s*([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap - "round"
    } catch { case _: Throwable => Map.empty }
    // Suite-order de-contention (VERDICT r13 #1: alphabetical order packed
    // the ta_/dedup_ heavy blocks back-to-back; 8 queries measured >3x their
    // solo baseline and the suite read 214 s against a 94.7 s clean run).
    // With solo baselines available, interleave heaviest-lightest from both
    // ends of the solo-sorted list so no two expensive queries run
    // back-to-back; without baselines, keep alphabetical (deterministic).
    val ordered: Seq[String] =
      if (soloMs.isEmpty) names
      else {
        val bySolo = names.sortBy(n => (-soloMs.getOrElse(n, 0.0), n)).toIndexedSeq
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0; var j = bySolo.length - 1
        while (i <= j) {
          out += bySolo(i)
          if (i != j) out += bySolo(j)
          i += 1; j -= 1
        }
        out.toSeq
      }
    // Cross-query state cleanup, run OUTSIDE the timed window: queries that
    // stage frames (graft.operators.Stage: e4_curation_full,
    // dedup_clusters, ...) leave their blocks in the block manager after
    // the noop write completes; ~95
    // queries in, the accumulated residents turn into GC pressure and
    // eviction churn that lands on whoever runs next (the r13 sidecar's
    // 27x ta_token_setops). Blocking unpersist also serializes straggler
    // tasks from the previous query out of the next measurement window.
    def cleanup(): Unit = try {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }
    // per-query times in MILLISECONDS (VERDICT r8 #4: the old 1-s
    // resolution made a 13.6 s total swing unattributable to any query)
    // ADVICE r16: the stall-retry takes min over up to three passes, which
    // filters noise only in the slow direction — a suite-vs-suite
    // comparison must be able to see which numbers are best-of-3 versus
    // single-pass. Record actual pass counts per query for the sidecar.
    val passCounts = scala.collection.mutable.Map.empty[String, Int]
    val results = ordered.map { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        materialize(name)
        val ms = (System.nanoTime() - t0) / 1e6
        cleanup()
        passCounts(name) = passCounts.getOrElse(name, 0) + 1
        ms
      }
      // GC debt from the previous query must not bill to this one's
      // window; only worth the pause before queries whose solo baseline
      // says the measurement is long enough to care about.
      if (soloMs.get(name).exists(_ > 1500.0)) System.gc()
      try {
        // min-of-2 to damp transient machine noise. Queries past 20 s
        // normally run once (the second pass would double the long
        // tail) — UNLESS the first pass blew 3× past the query's solo
        // baseline, the signature of a transient machine stall during
        // the measurement window (VERDICT r11: one polluted window
        // fabricated a 2.5× "regression" that a retry would have
        // caught; r15's sim_ivfpq_recall sat at 4.5× — under the old 5×
        // trigger — and shipped contended). A genuine code regression
        // reproduces on the retry and still reports slow.
        val first = once()
        val stalled = soloMs.get(name).exists(base => first > 3.0 * base)
        var best =
          if (first < 20000.0 || stalled) math.min(first, once()) else first
        // If BOTH passes still read >3× solo (r15: t8_recency_window's
        // two back-to-back windows were equally polluted — 26× solo on a
        // 279 ms scan), the contention is not transient on this query's
        // timescale: pause long enough for whatever neighbors the box
        // is running to drain, force a full GC, and take one recovery
        // pass. Self-limiting — on a clean box the >3× branch never
        // fires, and a genuine regression still reports slow after it.
        if (soloMs.get(name).exists(base => best > 3.0 * base)) {
          Thread.sleep(2000); System.gc(); Thread.sleep(500)
          best = math.min(best, once())
        }
        name -> best
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        errors ::= name
        name -> -1.0
      }
    }
    def fmt(v: Double, dp: Int): String =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble.toString
    val total = results.collect { case (_, v) if v >= 0 => v }.sum / 1e3
    val errJson =
      if (errors.isEmpty) ""
      else errors.map("\"" + _ + "\"").mkString(""","errors":[""", ",", "]")
    // Full detail goes to a sidecar FILE (committed with the round): every
    // query at 0.1 ms resolution, slowest first — this is where a
    // regression is attributed. Stdout cannot carry it: the driver parses
    // the JSON line out of the LAST ~2000 chars of stdout (round 4's
    // full-precision line overflowed the window and recorded
    // `parsed: null`), and ~95 query names alone are ~1.4 KB.
    val bySlowest = results.sortBy { case (_, v) => -v }
    // relative to the working directory (sbt forks `run` in the project
    // base), overridable for out-of-repo invocations; the stdout line
    // advertises whatever path was actually used
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")
    try {
      val detail = bySlowest.map { case (k, v) =>
        s"""  "$k": ${fmt(v, 1)}""" }.mkString("{\n", ",\n", "\n}")
      // Contention flags: suite/solo ratio per query where a solo
      // baseline exists, listing queries > 3x solo. The alphabetical
      // run order packs text-heavy ta_* queries back-to-back, and r12
      // showed 7-13x suite inflation there that reads as a regression
      // unless the solo evidence rides along — this sidecar lets a
      // suite-vs-suite comparison skip contended rows instead of
      // re-adjudicating them every round.
      val contended = bySlowest.collect {
        case (k, v) if v > 0 && soloMs.get(k).exists(b => b > 0 && v > 3.0 * b) =>
          s"""  "$k": ${fmt(v / soloMs(k), 1)}"""
      }
      val contJson =
        if (soloMs.isEmpty) "" // no baselines for this sf: flag nothing
        else contended.mkString(""","contended_over_3x_solo":{""" + "\n", ",\n", "\n}")
      // Pass-count methodology record (ADVICE r16): every query's actual
      // number of timed passes — 2 is the normal min-of-2, 1 the >20 s
      // single-pass, 3 means the stall-retry/GC-recovery fired and the
      // figure is a best-of-3.
      val passJson = bySlowest.map { case (k, _) =>
        s"""  "$k": ${passCounts.getOrElse(k, 0)}""" }
        .mkString(""","passes":{""" + "\n", ",\n", "\n}")
      val body =
        s"""{"sf":"$sfName","total_sec":${fmt(total, 3)},"unit":"ms","queries_ms":$detail$contJson$passJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail sidecar write failed: ${e.getMessage}") }
    // Stdout line: total at ms precision + the TOP-N slowest queries at
    // integer ms (any swing worth attributing lands in the top 20; the
    // rest are sub-second noise, fully listed in the sidecar). Degrade N
    // before precision if the map ever outgrows the tail window.
    def line(topN: Int): String = {
      val qs = bySlowest.take(topN)
        .map { case (k, v) => "\"" + k + "\":" + math.round(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries_unit":"ms","queries":$qs,"queries_listed":$topN,"detail":"$detailPath"$errJson,"sf":"$sfName"}"""
    }
    val out = Seq(20, 12, 6).iterator.map(line).find(_.length <= 1850)
      .getOrElse(line(6))
    println(out)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
