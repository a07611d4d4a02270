package graft.candy

import graft.SparkSpec
import scala.io.Source
import java.nio.file.{Files, Paths}

/** The full `CandyMain all` CLI on the seeded CandyFixture — the one
  * orchestration path a scheduler actually invokes (process →
  * forecast through the PUBLIC entry, reading the process stage's
  * daily_summary.csv from disk, exactly as two separate scheduler
  * tasks would). Asserts every artifact the command
  * contracts to produce: the four process CSVs, the forecast, and the
  * fit-metrics sidecar. Piecewise stage content is pinned in depth by
  * CandyGoldenSpec; this spec pins that the CLI wiring delivers it
  * end-to-end. Where the reference's dataset_22 exists, the CLI's
  * orders.csv on it must also equal the golden output. */
class CandyCliSpec extends SparkSpec {

  private val refData = "/root/reference/data/dataset_22"
  private val refGolden = "/root/reference/data/output"

  private def lines(p: String): Vector[String] = {
    val src = Source.fromFile(p)
    try src.getLines().toVector finally src.close()
  }

  private def runAll(data: String): String = {
    val out = Files.createTempDirectory("candy_cli_all").toString
    CandyMain.run(spark, List("all", "--strict-float-parity",
      s"$data/products.csv", s"$data/transactions_*.json", out))
    out
  }

  test("CandyMain all produces the four CSVs + forecast + metrics sidecar") {
    val out = runAll(CandyFixture.write())

    // all six contracted artifacts exist with a header + data rows
    val artifacts = Seq("orders.csv", "order_line_items.csv",
      "daily_summary.csv", "products_updated.csv",
      "sales_profit_forecast.csv", "forecast_metrics.csv")
    artifacts.foreach { f =>
      assert(Files.exists(Paths.get(s"$out/$f")), s"missing $f")
      assert(lines(s"$out/$f").length > 1, s"$f has no data rows")
    }

    // forecast: exactly horizon=1 row, dated the day after the last
    // summary day, with finite predictions
    val fc = lines(s"$out/sales_profit_forecast.csv")
    assert(fc.head === "date,forecasted_sales,forecasted_profit")
    assert(fc.tail.length === 1)
    val Array(d, fs, fp) = fc(1).split(",")
    val lastDay = lines(s"$out/daily_summary.csv").last.split(",")(0)
    assert(java.time.LocalDate.parse(d) ===
      java.time.LocalDate.parse(lastDay).plusDays(1))
    assert(!fs.toDouble.isNaN && !fp.toDouble.isNaN)

    // metrics sidecar: one row per fitted series, finite MAE/MSE
    val m = lines(s"$out/forecast_metrics.csv")
    assert(m.head === "series,mae,mse")
    val bySeries = m.tail.map { l => val a = l.split(","); a(0) -> (a(1).toDouble, a(2).toDouble) }.toMap
    assert(bySeries.keySet === Set("total_sales", "total_profit"))
    bySeries.values.foreach { case (mae, mse) =>
      assert(mae >= 0 && mse >= 0 && !mae.isNaN && !mse.isNaN)
    }

    // the process stage through the CLI equals the golden output
    // (byte-exact for orders; the strongest single content check)
    if (Files.isDirectory(Paths.get(refData)))
      assert(lines(s"${runAll(refData)}/orders.csv") === lines(s"$refGolden/orders.csv"))
  }
}
