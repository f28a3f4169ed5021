package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The query registry: the contract of SURVEY.md §7.
  *
  * Each [[QueryDef]] in [[registry]] implements one operator row from
  * SURVEY.md §2 over the star-schema test tables and carries its ANSI-SQL
  * oracle, runnable by DuckDB over the same parquet tables. The
  * definitions live by family under `graft/queries/`, each plan next to
  * its oracle; [[queries]] and [[oracleSql]] are the two lookup views
  * that Verify, Bench, Explain, JobProfile, the specs and the benchmark
  * harness read, built once from the registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("e1_pipeline")(spark, "/root/testdata/sf0.001")

  val registry: Seq[QueryDef] =
    PipelineQueries.defs ++ StQueries.defs ++ DedupQueries.defs ++
      SimQueries.defs ++ TaQueries.defs ++ CurationQueries.defs ++
      MmQueries.defs ++ RelationalQueries.defs

  require(registry.map(_.name).distinct.size == registry.size,
    "duplicate query names: " + registry.groupBy(_.name)
      .collect { case (n, ds) if ds.size > 1 => n }.toSeq.sorted.mkString(", "))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.plan).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
