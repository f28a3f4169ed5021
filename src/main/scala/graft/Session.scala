package graft

import org.apache.spark.sql.SparkSession

/** The one definition of how a graft SparkSession is set up. Every main
  * (Bench, Verify, Explain, JobProfile, StreamDemo) and the test fixture
  * start from [[builder]], add only what is theirs (an app name, a
  * warehouse dir) and call `getOrCreate()`. `SessionSpec` fails if a
  * second builder chain appears under `src/`.
  */
object Session {
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // legacy testdata stores events.ts as TIMESTAMP(NANOS); read it as a
    // long, which Tables.events converts (current data is NTZ micros)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // InferFiltersFromGenerate inlines a computed explode input into a
    // size()>0 filter BELOW the projection, re-evaluating the whole
    // array expression ~8x per row (ta_decontam: 86s -> 1s without it);
    // the inferred filter is defensive only - explode of an empty
    // array already emits nothing.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .config("spark.ui.enabled", "false")
    .config("spark.log.level", "WARN")
}
