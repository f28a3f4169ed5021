package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `private[sql]` session internals — the standard
  * extension-library pattern for turning a custom LogicalPlan (here
  * [[graft.plans.AsOfJoin]]) into a user-facing DataFrame, and for
  * reading a parquet schema with the session's own conversion rules.
  * This is the only file outside the `graft` namespace.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The schema `spark.read.parquet(path)` infers (schema merging off),
    * read from ONE footer in-process instead of by a Spark job. It is
    * the same file Spark's non-merging inference touches
    * (`ParquetUtils.inferSchema`): `_common_metadata`, else `_metadata`,
    * else the first data file in path order, after the listing's
    * hidden-file filter. The footer's Spark row-metadata schema wins;
    * otherwise the parquet schema goes through
    * `ParquetToSparkSchemaConverter` under the session conf (binaryAsString,
    * int96AsTimestamp, inferTimestampNTZ, nanosAsLong). `None` when the
    * path is missing or holds no file to read — the caller then lets
    * Spark raise its own error.
    */
  def parquetSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.parquet._
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => org.apache.spark.util.HadoopFSUtils
          .shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    // ParquetUtils.splitFiles' choice (private to Spark): path order,
    // summary files by name
    val files = (try leaves(fs.getFileStatus(root))
      catch { case _: java.io.FileNotFoundException => Nil })
      .sortBy(_.getPath.toString)
    val summary = Seq("_common_metadata", "_metadata")
    summary.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summary.contains(f.getPath.getName)))
      .map { f =>
        val footer = ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(session.sessionState.conf))
      }
  }

  /** Drop a function from ONE session's registry (test support: simulates
    * a session built without GraftExtensions to exercise builtin
    * fallbacks; `sessionState` is private[sql], hence it lives here).
    */
  def dropSessionFunction(spark: SparkSession, name: String): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
}
