package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sink surface (reference: src/pipeline/engine.py:191-243).
  *
  *  - K1 [[writeFinalCsv]]  — engine.py:191-212: header + one row per
  *    PipelineRow, overwrite each run, and the T15 null convention:
  *    null→"" applies ONLY to the YoY column (engine.py:207-210); market
  *    columns are mandatory so they are never null by construction (N1).
  *  - K2 [[writePerKeyCsv]] — engine.py:227-233: per-key audit dump
  *    (`ohlcv_<STOCK>.csv` → `partitionBy(key)` directory layout).
  *  - K3 [[writeJsonDim]]   — engine.py:235-243: small-dimension JSON dump.
  *
  * Scale notes: K1's `coalesce(1)` mirrors the reference's single-file
  * contract and is correct for report-sized outputs; for a 100 TB result
  * set the caller passes `singleFile = false` and gets one file per
  * partition (the only scalable shape — a single CSV is a driver
  * bottleneck by definition). K2 relies on dynamic partition overwrite
  * semantics of `partitionBy`; the key column becomes the directory key,
  * which is exactly the per-stock file layout of the reference.
  */
object Sinks {

  /** K1 + T15. `yoyCol` is stringified with null→"" — the one nullable
    * column of the schema; all other columns pass through unchanged.
    */
  def writeFinalCsv(df: DataFrame, path: String,
      yoyCol: String = "YoY_NetIncome_Pct", singleFile: Boolean = true): Unit = {
    val encoded = df.withColumn(yoyCol,
      coalesce(col(yoyCol).cast("string"), lit("")))
    (if (singleFile) encoded.coalesce(1) else encoded)
      .write.mode("overwrite").option("header", "true")
      // bare empty field, not the default quoted "" — csv.DictWriter
      // writes nothing for an empty string (engine.py:207-210)
      .option("emptyValue", "")
      // Spark's CSV writer trims both ends of every value by default;
      // csv.DictWriter writes a headline's blanks as they are
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
  }

  /** K2: one directory per key value (`key=<value>/part-*.csv`). */
  def writePerKeyCsv(df: DataFrame, path: String, keyCol: String): Unit =
    df.write.partitionBy(keyCol)
      .mode("overwrite").option("header", "true").csv(path)

  /** K3: JSON dump of a small dimension (one object per line). */
  def writeJsonDim(df: DataFrame, path: String, singleFile: Boolean = true): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").json(path)
}
