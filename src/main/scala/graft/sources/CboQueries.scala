package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Cost-based-optimizer surface: ANALYZE TABLE statistics driving plan
  * choice — the one Catalyst subsystem file-path scans never exercise
  * (they plan from file sizes alone).
  *
  * Why this matters at 100 TB: a selective dimension filter
  * (`c_mktsegment = 'BUILDING'` keeps ~1/5 of customers) is invisible
  * to size-only estimation — the filter's output is costed at the FULL
  * table size, so a dimension that would fit under the broadcast
  * threshold after filtering gets shuffled anyway. Column statistics
  * (NDV from ANALYZE ... FOR COLUMNS) let FilterEstimation cost the
  * equality at 1/ndv, the filtered dim drops under the threshold, and
  * the fact-side shuffle disappears. CboSpec pins the flip both ways
  * (same query: sort-merge without CBO, broadcast-hash with) using
  * thresholds derived from the engine's own estimates, so the pin
  * can't rot when fixture sizes change.
  *
  * The declared query q203 runs with CBO enabled — the production
  * setting the reference pipeline would use on a real warehouse — and
  * its DuckDB oracle computes the same aggregate over the raw parquet
  * tables: statistics must change the plan, never the answer.
  */
object CboQueries extends graft.QueryModule {

  private val nextId = new java.util.concurrent.atomic.AtomicInteger()

  /** Returns catalog table names (orders, customer) with full table +
    * column statistics computed, staged once per (app, source dir). */
  private[sources] def analyzedTables(s: SparkSession, dir: String): (String, String) =
    Staged.once(s, dir, "cbo") {
      val root = graft.util.TempDirs.create("graft_cbo_").toString
      val id = nextId.incrementAndGet()
      val (ot, ct) = (s"graft_orders_cbo_$id", s"graft_customer_cbo_$id")
      Tables(s, dir, "orders")
        .write.option("path", s"$root/orders").saveAsTable(ot)
      Tables(s, dir, "customer")
        .write.option("path", s"$root/customer").saveAsTable(ct)
      // table stats (rowCount/totalSize) + per-column NDV/min/max —
      // the inputs FilterEstimation and join costing read. At 100 TB
      // this is the nightly post-load step; here it is part of the
      // one-off staging the memo amortizes.
      s.sql(s"ANALYZE TABLE $ot COMPUTE STATISTICS FOR ALL COLUMNS")
      s.sql(s"ANALYZE TABLE $ct COMPUTE STATISTICS FOR ALL COLUMNS")
      (ot, ct)
    }

  /** The declared join, built against the analyzed catalog tables with
    * an explicit CBO setting. The CBO confs are set on a SESSION CLONE
    * (own SQLConf, shared SparkContext + catalog — so the clone sees
    * the ANALYZE'd statistics), never on the caller's session: the
    * save/restore-on-the-shared-conf pattern this replaces has a TOCTOU
    * under concurrent callers (A saves false and sets true; B saves A's
    * true; B "restores" true — the flag leaks permanently). A declared
    * query must not leak conf changes into whoever runs next, including
    * a concurrent next — ConcurrencySpec pins it. Planning is still
    * forced eagerly (QueryExecution memoizes its lazy executedPlan), so
    * the returned DataFrame keeps the CBO-chosen plan no matter when
    * the caller executes it. */
  private[sources] def statsJoinPlanned(s: SparkSession, dir: String,
      cbo: Boolean): DataFrame = {
    val (ot, ct) = analyzedTables(s, dir) // staged + ANALYZE'd once, base session
    val ss = org.apache.spark.sql.graft.SessionClone(s)
    ss.conf.set("spark.sql.cbo.enabled", cbo.toString)
    ss.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
    val df = ss.table(ot)
      .join(ss.table(ct), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment") === "BUILDING")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
    df.queryExecution.executedPlan // force planning under the clone's conf
    df
  }

  /** q203: revenue by order priority for one market segment, planned
    * by the cost-based optimizer over ANALYZE'd catalog tables. */
  def cboStatsJoin(s: SparkSession, dir: String): DataFrame =
    statsJoinPlanned(s, dir, cbo = true)

  /** Oracle over the ORIGINAL tables — statistics must change the
    * plan, never the answer. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q203_cbo_stats_join", cboStatsJoin, Some(
      """SELECT o_orderpriority, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      stage = true))
}
