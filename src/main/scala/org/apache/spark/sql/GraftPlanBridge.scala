package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `private[sql]` session internals — the standard
  * extension-library pattern for turning a custom LogicalPlan (here
  * [[graft.plans.AsOfJoin]]) into a user-facing DataFrame, for staging
  * a frame's rows behind a `LogicalRDD` ([[graft.operators.Stage]]), and
  * for reading a parquet schema with the session's own conversion rules.
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

  /** [[graft.operators.Stage]]'s plumbing: hand `df`'s physical rows
    * to `stage` inside one SQL execution (as `Dataset`'s own actions
    * run), and wrap the RDD it returns in the `LogicalRDD` that
    * `Dataset`'s own checkpoints build — same output partitioning,
    * ordering and size statistics, so plans above the boundary read a
    * `Scan ExistingRDD` either way.
    */
  def stageRows(df: DataFrame, name: String)(
      stage: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =>
        org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      classic.Dataset.ofRows(ds.sparkSession,
        execution.LogicalRDD.fromDataset(stage(qe.toRdd), ds, ds.isStreaming))
    }
  }

  /** Run `body` with the call site set to the first frame outside Spark,
    * Scala and `Stage`, so a staged RDD — and the job that fills it —
    * names the line that staged it rather than `Stage.scala`.
    */
  def atCaller[T](df: DataFrame)(body: => T): T = {
    import org.apache.spark.util.{CallSite, Utils}
    val sc = df.sparkSession.sparkContext
    val keys = Seq(CallSite.SHORT_FORM, CallSite.LONG_FORM)
    val saved = keys.map(sc.getLocalProperty)
    sc.setCallSite(Utils.getCallSite(c => c.startsWith("org.apache.spark.") ||
      c.startsWith("scala.") || c.startsWith("graft.operators.Stage")))
    try body
    finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Drop a function from ONE session's registry (test support: simulates
    * a session built without GraftExtensions to exercise builtin
    * fallbacks; `sessionState` is private[sql], hence it lives here).
    */
  def dropSessionFunction(spark: SparkSession, name: String): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .dropFunction(org.apache.spark.sql.catalyst.FunctionIdentifier(name))
}
