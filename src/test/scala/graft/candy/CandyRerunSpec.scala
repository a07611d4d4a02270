package graft.candy

import graft.SparkSpec
import scala.io.Source
import java.nio.file.Files

/** Scheduled-rerun behavior: a scheduler (cron/Airflow/dagster) that
  * fires `process` then `forecast` repeatedly — including into the SAME
  * output directory — must get identical outputs every time, with no
  * state leaking between runs (the reference DAG re-runs its whole
  * pipeline per task, candy_dag.py:80-126; our stages must be safely
  * re-runnable for that schedule to be correct). Runs on the seeded
  * CandyFixture.
  */
class CandyRerunSpec extends SparkSpec {

  private lazy val data = CandyFixture.write()

  private def lines(p: String): Vector[String] = {
    val src = Source.fromFile(p)
    try src.getLines().toVector finally src.close()
  }

  test("process → forecast reruns into the same directory are byte-identical") {
    val out = Files.createTempDirectory("candy_rerun").toString
    val args = List("all", s"$data/products.csv",
      s"$data/transactions_*.json", out)

    CandyMain.run(spark, args)
    val first = Seq("orders.csv", "order_line_items.csv", "daily_summary.csv",
      "sales_profit_forecast.csv", "forecast_metrics.csv")
      .map(f => f -> lines(s"$out/$f")).toMap

    // second scheduled firing: same inputs, same (already-populated)
    // output dir — must overwrite cleanly and reproduce every file
    CandyMain.run(spark, args)
    first.foreach { case (f, expected) =>
      assert(lines(s"$out/$f") === expected, s"rerun changed $f")
    }
  }
}
