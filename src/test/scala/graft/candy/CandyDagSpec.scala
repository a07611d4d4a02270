package graft.candy

import graft.SparkSpec
import graft.util.StageResult
import java.nio.file.{Files, Paths}

/** CandyDag on the seeded CandyFixture: the four-stage chain produces
  * the full artifact set, and a re-run is all marker-skips.
  */
class CandyDagSpec extends SparkSpec {

  private lazy val data = CandyFixture.write()

  test("load >> process >> forecast >> cleanup produces all artifacts; rerun skips") {
    val out = Files.createTempDirectory("candy_dag_out").toString
    val dag = CandyDag.build(spark,
      s"$data/products.csv", s"$data/transactions_*.json", out)
    val r1 = dag.run().toMap
    assert(r1.values.forall(_ === StageResult.Ran), r1.toString)
    Seq("daily_summary.csv", "sales_profit_forecast.csv", "forecast_metrics.csv")
      .foreach { f =>
        assert(Files.exists(Paths.get(out, f)), s"missing artifact $f")
      }
    // second run: resume logic finds every stage done
    val r2 = CandyDag.build(spark,
      s"$data/products.csv", s"$data/transactions_*.json", out).run().toMap
    assert(r2.values.forall(_ === StageResult.SkippedDone), r2.toString)
  }

  test("a bad input fails load_data and skips the whole chain") {
    val out = Files.createTempDirectory("candy_dag_bad").toString
    val txns = s"$out/no_such_*.json"
    val r = CandyDag.build(spark, s"$data/products.csv", txns, out).run().toMap
    // the products exist: load_data must fail on the transactions glob
    r("load_data") match {
      case StageResult.Failed(e) => assert(e.getMessage.contains(txns), e.getMessage)
      case other => fail(s"load_data: $other")
    }
    assert(r("process_data") === StageResult.SkippedUpstreamFailed)
    assert(r("generate_forecast") === StageResult.SkippedUpstreamFailed)
    assert(r("cleanup") === StageResult.SkippedUpstreamFailed)
  }
}
