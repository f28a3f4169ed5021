package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{PipelineConfig, SparkEntry, Tables}
import graft.operators.{AsOf, Calendar, PctChange, Sentiment, Validator}

/** The benchmark's operations and the premarket operator probes. The
  * workloads themselves (which ops, in which order) are defined once, in
  * `perfbench/run.py`, and passed to the harness.
  */
object Workloads {

  /** One operation of a pass: a registered query (`SparkEntry.queries`).
    * `csv` ops write through the pipeline's real sink
    * (`Sinks.writeFinalCsv`); every other op writes parquet.
    */
  final case class Op(name: String, csv: Boolean = false)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The premarket pipeline operators, each timed alone on inputs that
    * were staged (computed and checkpointed) before timing starts. The
    * arguments are the ones `e1_pipeline` passes.
    */
  def operatorProbes(spark: SparkSession, dataDir: String): Seq[(String, () => Unit)] = {
    val cfg = PipelineConfig.Default
    val events = Tables.events(spark, dataDir)
    val keys = events.select(col("user_id")).distinct().localCheckpoint(eager = true)
    val daily = events
      .groupBy(col("user_id"), to_date(col("ts")).as("date"))
      .agg(sum(col("value")).as("close"), count(lit(1)).as("volume"))
      .localCheckpoint(eager = true)
    val orders = Tables.orders(spark, dataDir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"), col("o_orderkey"))
      .localCheckpoint(eager = true)
    val headlines = Tables.documents(spark, dataDir)
      .select(col("doc_id"), substring(col("text"), 1, 60).as("Headline"))
      .localCheckpoint(eager = true)
    val pipelineOut = SparkEntry.queries("e1_pipeline")(spark, dataDir)
      .localCheckpoint(eager = true)
    Seq(
      "Calendar" -> (() => noop(Calendar.universe(
        Calendar.tradingDates(spark, cfg.marketStart, cfg.marketEnd), keys))),
      "PctChange" -> (() => noop(PctChange.withPctChange(
        daily, Seq("user_id"), Seq(col("date")), "close"))),
      "Recency" -> (() => noop(SparkEntry.queries("a4_fallback_chain")(spark, dataDir))),
      "AsOf" -> (() => noop(AsOf.yoyAsOf(orders,
        keyCol = "o_custkey", timeCol = "o_orderdate", valueCol = "o_totalprice",
        offsetMonths = 12, toleranceDays = 120, tiebreakCol = "o_orderkey"))),
      "Sentiment" -> (() => noop(Sentiment.withAnalysis(headlines, "Headline", "__s"))),
      "Validator" -> (() => noop(Validator.measure(pipelineOut, Validator.Rules(
        rangeCol = "Sentiment_Score", rangeMin = -1.0, rangeMax = 1.0,
        nonNullCols = Seq("Pct_Change", "Volume"),
        nullRateCol = "YoY_NetIncome_Pct", nullRateMax = 0.5)))))
  }
}
