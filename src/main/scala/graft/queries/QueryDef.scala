package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over a testdata directory and
  * its DuckDB-runnable ANSI SQL oracle over the same parquet tables.
  * The oracle's column names and aliases match the Spark output exactly
  * (the checker sorts columns by name before hashing).
  */
final case class QueryDef(name: String,
    plan: (SparkSession, String) => DataFrame, oracle: String)
