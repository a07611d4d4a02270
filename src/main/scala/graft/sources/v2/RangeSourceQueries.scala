package graft.sources.v2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Exact
import graft.QueryDef

/** Declared query over the custom DSv2 source — the proof that the
  * connector's pushdown contracts actually fire in a real plan. */
object RangeSourceQueries extends graft.QueryModule {

  /** q101: aggregate over the DSv2 generated table with an id-range
    * predicate. The filter is PUSHED INTO THE SOURCE: the scan's
    * generation range narrows from [0, 1e6) to [250000, 750000) — half
    * the rows are never materialized, and no residual Filter node
    * remains (pinned by RangeSourceSpec). Column pruning reaches the
    * generator too: `label` is never produced. The oracle regenerates
    * the same table in DuckDB with generate_series. */
  def rangeSourceAgg(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.v2.DeterministicRangeSource")
      .option("start", "0").option("end", "1000000").option("slices", "32")
      .load()
      .filter(col("id") >= lit(250000L) && col("id") < lit(750000L))
      .groupBy(col("m7"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("id")).as("sum_id"),
        Exact.sumMoney(col("val")).as("sum_val"))
      .orderBy("m7")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q101_dsv2_source", rangeSourceAgg, Some(
      """SELECT id % 7 AS m7, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id,
        | CAST(CAST(sum(id*37 % 10000) AS BIGINT) / 100.0 AS DOUBLE) AS sum_val
        |FROM generate_series(250000, 749999) t(id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)))
}
