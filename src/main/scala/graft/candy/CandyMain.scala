package graft.candy

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.forecast.Forecaster

/** CLI entry point covering the reference's orchestration surface
  * (src/main.py:141-219 + candy_dag.py): each stage is an idempotent
  * command, so any scheduler (cron/Airflow/dagster) can run
  * `process` → `forecast` as separate tasks without shared state —
  * unlike the reference DAG, whose every task re-runs the whole
  * pipeline (candy_dag.py:80-126).
  *
  * Usage:
  *   CandyMain process  [--strict-float-parity] <productsCsv> <transactionsGlob> <outputDir>
  *   CandyMain forecast <dailySummaryCsv> <outputDir> [horizonDays]
  *   CandyMain all      [--strict-float-parity] <productsCsv> <transactionsGlob> <outputDir>
  *
  * `--strict-float-parity` reproduces the reference's float
  * accumulation order in the daily money sums for byte-for-byte
  * parity with its daily_summary.csv (CandyConfig.strictFloatParity —
  * the knowingly non-scalable path); the default uses exact
  * integer-cents sums, which can differ from the reference by one
  * trailing cent on rounding-boundary days.
  *
  * `all` writes the four exports and the forecast concurrently (see
  * CandyPipeline.concurrently) and fits the forecast on the in-memory
  * daily summary; `forecast` alone reads daily_summary.csv.
  */
object CandyMain {

  def main(args: Array[String]): Unit = {
    val spark = graft.Session("candy-pipeline")
    try run(spark, args.toList) finally spark.stop()
  }

  def run(spark: SparkSession, args: List[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    flags.filterNot(_ == "--strict-float-parity") match {
      case Nil => ()
      case bad => throw new IllegalArgumentException(s"unknown flags: $bad")
    }
    val cfg = CandyConfig(strictFloatParity = flags.contains("--strict-float-parity"))
    positional match {
      case "process" :: products :: txns :: out :: Nil =>
        process(spark, products, txns, out, cfg)
      case "forecast" :: summaryCsv :: out :: rest =>
        // reject rather than silently ignore: the flag only affects
        // the process stage's daily sums
        if (flags.nonEmpty)
          throw new IllegalArgumentException(
            s"forecast takes no flags (got $flags)")
        val h = horizon(rest) // before the summary is read
        forecast(CandySources.readDailySummary(spark, summaryCsv), out, h)
      case "all" :: products :: txns :: out :: Nil =>
        val o = CandyPipeline.run(spark, products, txns, cfg)
        CandyPipeline.concurrently(CandyPipeline.exports(o, out) :+
          ("forecast" -> (() => forecast(o.dailySummary, out, 1))))
      case other =>
        throw new IllegalArgumentException(s"unknown command: $other")
    }
  }

  /** The forecast's optional trailing argument: a positive day count,
    * default 1. Anything else is rejected before a file is read — a
    * zero horizon would write a header-only forecast, and a dropped
    * extra argument would go unnoticed. */
  private def horizon(rest: List[String]): Int = rest match {
    case Nil => 1
    case h :: Nil if h.toIntOption.exists(_ > 0) => h.toInt
    case _ => throw new IllegalArgumentException(
      s"forecast takes one optional horizon, a positive day count (got $rest)")
  }

  private def process(spark: SparkSession, products: String, txns: String,
      out: String, cfg: CandyConfig): Unit =
    CandyPipeline.save(CandyPipeline.run(spark, products, txns, cfg), out)

  private def forecast(summary: DataFrame, out: String, horizon: Int): Unit = {
    val spark = summary.sparkSession
    val r = Forecaster.forecastWithMetrics(summary, horizon)
    SingleFileCsv.write(r.forecast, out, "sales_profit_forecast.csv")
    // in-sample fit metrics, reported per model like the reference's
    // training log (data_processor.py:118-142) and persisted next to
    // the forecast so a scheduler can track model quality over reruns
    import spark.implicits._
    val m = Seq(
      ("total_sales", r.salesMetrics.mae, r.salesMetrics.mse),
      ("total_profit", r.profitMetrics.mae, r.profitMetrics.mse))
    m.foreach { case (series, mae, mse) =>
      println(f"forecast[$series] in-sample MAE=$mae%.4f MSE=$mse%.4f")
    }
    SingleFileCsv.write(m.toDF("series", "mae", "mse"), out, "forecast_metrics.csv")
  }
}
