package graft.candy

import org.apache.spark.sql.SparkSession
import graft.util.{Dag, StageResult}

/** The candy pipeline as an explicit DAG — the engine-side artifact
  * matching the reference's Airflow definition (candy_dag.py:136-164:
  * load_data >> process_data >> generate_forecast >> cleanup). Same
  * four stages, same chain, two deliberate differences:
  *
  *  - each stage does ONLY its own work against the previous stage's
  *    persisted outputs (the reference's every task re-runs the whole
  *    pipeline from scratch — candy_dag.py:80-126);
  *  - stages drop done-markers under the output dir, so a re-run after
  *    a mid-pipeline failure resumes from the first incomplete stage
  *    (CandyRerunSpec separately pins that re-RUNNING a stage is
  *    idempotent, so markers are an optimization, not a correctness
  *    requirement).
  *
  * `load` validates the inputs exist and parse (the reference's
  * load_data materializes them into the session; here sources are
  * read by the stage that uses them — a Spark-first pipeline has no
  * session-resident tables to preload); `cleanup` is where a real
  * deployment would drop staging state, kept as an explicit no-op
  * stage to preserve the reference's shape.
  */
object CandyDag {

  def build(spark: SparkSession, products: String, txns: String, out: String): Dag = {
    new Dag(markerDir = Some(out))
      .stage("load_data") {
        // fail fast (before any compute) if inputs are missing/garbled
        require(spark.read.option("header", "true").csv(products).columns
          .nonEmpty, s"unreadable products csv at $products")
        // explicit schema: no inference pass over every file
        require(!CandySources.readTransactions(spark, txns).isEmpty,
          s"no transactions matched $txns")
      }
      .stage("process_data", "load_data") {
        CandyPipeline.save(CandyPipeline.run(spark, products, txns, CandyConfig()), out)
      }
      .stage("generate_forecast", "process_data") {
        CandyMain.run(spark,
          List("forecast", s"$out/daily_summary.csv", out, "1"))
      }
      .stage("cleanup", "generate_forecast") {
        () // session lifecycle belongs to the caller; staging state: none
      }
  }

  /** CLI: CandyDag <productsCsv> <transactionsGlob> <outputDir> */
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: CandyDag <productsCsv> <txnsGlob> <outDir>")
    val spark = graft.Session("candy-dag")
    try {
      val results = build(spark, args(0), args(1), args(2)).run()
      results.foreach { case (name, r) => println(s"stage $name: $r") }
      if (results.exists(_._2.isInstanceOf[StageResult.Failed]))
        sys.exit(1)
    } finally spark.stop()
  }
}
