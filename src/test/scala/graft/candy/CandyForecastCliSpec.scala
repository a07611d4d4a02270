package graft.candy

import graft.SparkSpec
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** `CandyMain forecast <dailySummaryCsv> <outputDir> [horizonDays]` on a
  * daily summary written in-test: the horizon must be one positive day
  * count, checked before any file is read, and the summary is read with
  * an explicit schema whose header must match. */
class CandyForecastCliSpec extends SparkSpec {

  private def summary(header: String): Path = {
    val d = Files.createTempDirectory("candy_forecast")
    val rows = (1 to 10).map(i => f"2024-01-$i%02d,${20 + i},${100.0 + 7 * i}%.2f,${40.0 + i}%.1f")
    Files.write(d.resolve("daily_summary.csv"), (header +: rows).asJava)
  }

  private val header = "date,num_orders,total_sales,total_profit"

  test("a horizon that is not one positive day count is rejected before any read") {
    val out = Files.createTempDirectory("candy_forecast_out").resolve("out")
    // the summary does not exist: reading it first would fail with
    // PATH_NOT_FOUND instead
    val missing = out.resolveSibling("missing.csv").toString
    Seq(List("0"), List("-3"), List("two"), List("1", "junk")).foreach { rest =>
      val e = intercept[IllegalArgumentException](
        CandyMain.run(spark, "forecast" :: missing :: out.toString :: rest))
      assert(e.getMessage.contains("horizon"), rest)
    }
    assert(!Files.exists(out))
  }

  test("forecast writes one row per horizon day after the summary's last date") {
    val in = summary(header)
    val out = in.resolveSibling("out")
    CandyMain.run(spark, List("forecast", in.toString, out.toString, "3"))
    val fc = Files.readAllLines(out.resolve("sales_profit_forecast.csv")).asScala.toSeq
    assert(fc.head === "date,forecasted_sales,forecasted_profit")
    assert(fc.tail.map(_.split(",")(0)) === Seq("2024-01-11", "2024-01-12", "2024-01-13"))
    assert(Files.exists(out.resolve("forecast_metrics.csv")))
  }

  test("a summary whose header does not match the schema fails") {
    // read positionally, swapped columns would forecast profit as sales
    val in = summary("date,num_orders,total_profit,total_sales")
    val e = intercept[Exception](
      CandyMain.run(spark, List("forecast", in.toString, in.resolveSibling("out").toString)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("header")), e.toString)
  }
}
