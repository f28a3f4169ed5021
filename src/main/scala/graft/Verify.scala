package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (scripts/selfcheck.py).
  * A query or sink that throws is named on stderr and fails the run
  * (exit 1) once the dump is complete — a silently missing result must
  * never read green.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(cpus).getOrCreate()
    new java.io.File(outDir).mkdirs()
    // Dev-only: SPARK_GRAFT_ONLY=q1,q2 dumps a subset while iterating on
    // one operator (the driver never sets it — it always dumps all).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    var failed = List.empty[String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
      }
    }
    // Drive the sink surface each round: K1/T15 (final CSV, null→"" for
    // the one nullable column) and K5 (debug JSON dump of the annotated
    // candidates). Written OUTSIDE outDir: the driver treats every outDir
    // subdirectory as a query's parquet result, so csv/json dumps there
    // register as broken queries (CORRECTNESS_r02 e1_pipeline_csv /
    // news_debug_json errors). Skipped for filtered dev runs that don't
    // select the feeding queries — the stage re-runs e1 and costs more
    // than the one-operator loop it would be riding on (the driver's
    // full run always executes it).
    try {
      // each sink gates on ITS OWN feeder being selected, so a
      // t10-only dev loop never re-runs e1 (and vice versa); a full
      // run exercises both
      def sel(q: String): Boolean = only.forall(_(q))
      if (sel("e1_pipeline") || sel("t10_debug_annotations")) {
        val sinkDir = Files.createTempDirectory("graft_sinks").toString
        if (sel("e1_pipeline"))
          graft.sources.Sinks.writeFinalCsv(
            SparkEntry.queries("e1_pipeline")(spark, sfDir), s"$sinkDir/e1_pipeline_csv")
        if (sel("t10_debug_annotations"))
          graft.sources.Sinks.writeJsonDim(
            SparkEntry.queries("t10_debug_annotations")(spark, sfDir),
            s"$sinkDir/news_debug_json")
        System.err.println(s"[verify] sink surface exercised under $sinkDir")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] sink stage failed: ${e.getMessage}")
      failed ::= "sink stage"
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A subset dump goes to a DISTINCT file: if a stale outDir from a
    // filtered dev run were later consumed by the full driver gate, a
    // filtered oracle_sql.json would silently check fewer queries.
    val oracleFile =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    // the sibling dump is stale the moment this one lands — delete it so
    // a checker can never validate fresh parquet against old SQL
    val sibling =
      if (only.isDefined) "oracle_sql.json" else "oracle_sql.partial.json"
    Files.deleteIfExists(Paths.get(s"$outDir/$sibling"))
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] FAILED (${failed.size}): ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
