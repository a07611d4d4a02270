package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Change-data-capture and event-sequence operators.
  *
  * The reference's inventory replay (src/data_processor.py:357-414) is a
  * special case of the general problem every warehouse solves nightly:
  * APPLY a keyed change-set (inserts / updates / deletes) to a base
  * table — MERGE INTO in SQL engines. Spark has no MERGE over plain
  * parquet, but the operation is one full-outer join on the key plus a
  * row-level decision, which is exactly how Delta/Iceberg execute the
  * non-matched paths under the hood: one co-partitioned shuffle of base
  * and changes, no driver-side state, scales linearly at 100 TB.
  */
object CdcOps extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** q97: CDC merge (MERGE INTO semantics) of a deterministic change-set
    * into `customer`:
    *   - per customer with 1995 orders: DELETE if their last-status
    *     aggregate is 'F' (max status), else UPDATE adding the year's
    *     spend to the account balance;
    *   - synthetic INSERTs (every 97th custkey re-keyed to -(k+1), the
    *     negative key space) — rows whose key does not exist in the
    *     base at ANY scale factor (a fixed positive offset would start
    *     colliding with real custkeys once the table outgrows it).
    * Semantics (standard MERGE):
    *   matched + D → drop; matched + U → update; unmatched change + I →
    *   insert; unmatched change that is not an insert → ignored (nothing
    *   to update/delete); unmatched base rows pass through.
    *
    * Money stays in integer cents through the arithmetic (Exact.cents)
    * so the merged balance is bit-identical to the oracle's. The join is
    * a full-outer on the key: the changes side is usually much smaller
    * but a full-outer cannot broadcast, so this is one sort-merge
    * shuffle co-partitioned on c_custkey — the plan MERGE compiles to in
    * every lakehouse engine.
    */
  def cdcMerge(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"),
        Exact.cents(col("c_acctbal")).as("bal_cents"))
    val updates = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1996-01-01"))
      .groupBy(col("o_custkey").as("k"))
      .agg(
        when(max(col("o_orderstatus")) === "F", lit("D")).otherwise(lit("U")).as("op"),
        sum(Exact.cents(col("o_totalprice"))).as("delta_cents"))
    val inserts = t(s, dir, "customer")
      .filter(col("c_custkey") % 97 === 0)
      .select((-col("c_custkey") - 1L).as("k"),
        lit("I").as("op"), lit(0L).as("delta_cents"))
    base
      .join(updates.unionByName(inserts), col("c_custkey") === col("k"), "full_outer")
      // matched deletes go; a change row with no base match only
      // survives if it IS an insert (nothing to update/delete)
      .filter(coalesce(col("op"), lit("")) =!= "D" &&
        !(col("c_custkey").isNull && col("op") =!= "I"))
      .select(
        coalesce(col("c_custkey"), col("k")).as("c_custkey"),
        coalesce(col("c_name"), concat(lit("new#"), col("k").cast("string"))).as("c_name"),
        ((coalesce(col("bal_cents"), lit(0L)) + coalesce(col("delta_cents"), lit(0L)))
          / lit(100.0)).cast("double").as("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** q100: event funnel — for every `view` event, did the same user
    * `purchase` within 30 minutes? The naive formulation is a per-user
    * time-range self-join (quadratic in events-per-user); this one is a
    * single window: sort each user's events once and take a running
    * conditional min of the purchase timestamp. The frame direction
    * matters for the SAME reason the self-join does: Spark executes an
    * [unboundedPreceding, currentRow] frame as a running aggregate
    * (O(n) per partition) but re-aggregates a [currentRow,
    * unboundedFollowing] frame from scratch for every row (O(n²) —
    * UnboundedFollowingWindowFunctionFrame has no inverse-merge), so
    * "min over my suffix in ascending order" is computed as "running
    * min over my prefix in DESCENDING order". One shuffle on user_id,
    * one sort, no pair blow-up — the funnel plan that survives
    * web-scale event tables where power users have millions of rows.
    * Output: per-day view counts and 30-minute view→purchase
    * conversions.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // total order within user (ts, event_id) makes the window — and so
    // the conversion flag on ties — engine-independent
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nextPurchase = min(
      when(col("event_type") === "purchase", col("ts"))).over(w)
    ev.withColumn("next_purchase_ts", nextPurchase)
      .filter(col("event_type") === "view")
      .withColumn("converted",
        col("next_purchase_ts").isNotNull &&
          col("next_purchase_ts") <= col("ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(
        count(lit(1)).as("n_views"),
        count(when(col("converted"), 1)).as("n_converted"))
      .orderBy("event_date")
  }

  /** q105: table diff — reconstruct a change-set by comparing two
    * versions of a keyed table (the inverse of q97's MERGE, and the
    * backbone of snapshot-based CDC when the upstream system emits no
    * change log). One co-partitioned full-outer join on the key;
    * a row is 'added' (key only in the new version), 'removed' (only
    * in the old), or 'changed' (both sides present, any compared
    * column differs — null-safe comparison, so NULL→value and
    * value→NULL both register). Here the 'new version' is exactly
    * q97's merged output, so the diff must recover q97's effective
    * change-set — the oracle recomputes both sides and their diff in
    * SQL. */
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val oldV = t(s, dir, "customer")
      .select(col("c_custkey").as("k"),
        col("c_name").as("old_name"),
        (Exact.cents(col("c_acctbal")) / 100.0).cast("double").as("old_bal"))
    val newV = cdcMerge(s, dir)
      .select(col("c_custkey").as("k2"),
        col("c_name").as("new_name"), col("c_acctbal").as("new_bal"))
    oldV.join(newV, col("k") === col("k2"), "full_outer")
      .withColumn("change_type",
        when(col("k").isNull, "added")
          .when(col("k2").isNull, "removed")
          .when(!(col("old_name") <=> col("new_name")) ||
            !(col("old_bal") <=> col("new_bal")), "changed"))
      .filter(col("change_type").isNotNull)
      .select(
        coalesce(col("k"), col("k2")).as("c_custkey"),
        col("change_type"), col("old_bal"), col("new_bal"))
      .orderBy("c_custkey")
  }

  /** q107: retention cohorts — the classic product-analytics matrix:
    * users grouped by signup week (ISO Monday truncation), counted as
    * active in each subsequent week. Two aggregations and one join on
    * user_id: the cohort dim derives from the same event table (min
    * signup ts per user), activity weeks come from every event, and the
    * week offset is exact integer arithmetic on week-truncated dates
    * (always a multiple of 7 days, so the division is engine-exact).
    * The join key is the user — high cardinality, full parallelism;
    * nothing here is driver-side. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    ev.join(cohort, "user_id")
      .withColumn("week_offset",
        (datediff(to_date(date_trunc("week", col("ts"))), col("cohort_week")) / 7)
          .cast("int"))
      .filter(col("week_offset").between(0, 8))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** q108: trailing 7-day per-user spend — a RANGE window frame, the
    * one frame mode the rest of the surface doesn't exercise. A ROWS
    * frame counts physical rows; a RANGE frame is defined on the ORDER
    * value itself (here microseconds), so it expresses "everything in
    * the last 7 days" regardless of how many events that is, and ties
    * on the sort key all see the same frame — deterministic without a
    * tie-break column. Spark executes it as a sliding frame over each
    * user's sorted events: one shuffle, O(n) per partition. Sums in
    * integer cents (exact, order-independent). */
  def movingWindow(s: SparkSession, dir: String): DataFrame = {
    val sevenDaysUs = 7L * 86400000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-sevenDaysUs, 0)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .withColumn("trailing_cents", sum(Exact.cents(col("value"))).over(w))
      .select(col("event_id"), col("user_id"),
        (col("trailing_cents") / 100.0).cast("double").as("trailing_7d_value"))
      .orderBy("event_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q97_cdc_merge", cdcMerge, Some(
      """WITH upd AS (
        |  SELECT o_custkey AS k,
        |   CASE WHEN max(o_orderstatus) = 'F' THEN 'D' ELSE 'U' END AS op,
        |   CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS delta_cents
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
        |  GROUP BY o_custkey),
        |chg AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT -c_custkey - 1, 'I', 0 FROM customer WHERE c_custkey % 97 = 0)
        |SELECT coalesce(c.c_custkey, g.k) AS c_custkey,
        | coalesce(c.c_name, 'new#' || CAST(g.k AS STRING)) AS c_name,
        | CAST((coalesce(CAST(round(c.c_acctbal*100) AS BIGINT), 0)
        |       + coalesce(g.delta_cents, 0)) / 100.0 AS DOUBLE) AS c_acctbal
        |FROM customer c FULL OUTER JOIN chg g ON c.c_custkey = g.k
        |WHERE coalesce(g.op, '') <> 'D'
        |  AND NOT (c.c_custkey IS NULL AND g.op <> 'I')
        |ORDER BY 1""".stripMargin)),
    QueryDef("q105_table_diff", tableDiff, Some(
      """WITH upd AS (
        |  SELECT o_custkey AS k,
        |   CASE WHEN max(o_orderstatus) = 'F' THEN 'D' ELSE 'U' END AS op,
        |   CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS delta_cents
        |  FROM orders
        |  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
        |  GROUP BY o_custkey),
        |chg AS (
        |  SELECT * FROM upd
        |  UNION ALL
        |  SELECT -c_custkey - 1, 'I', 0 FROM customer WHERE c_custkey % 97 = 0),
        |merged AS (
        |  SELECT coalesce(c.c_custkey, g.k) AS c_custkey,
        |   coalesce(c.c_name, 'new#' || CAST(g.k AS STRING)) AS c_name,
        |   CAST((coalesce(CAST(round(c.c_acctbal*100) AS BIGINT), 0)
        |         + coalesce(g.delta_cents, 0)) / 100.0 AS DOUBLE) AS c_acctbal
        |  FROM customer c FULL OUTER JOIN chg g ON c.c_custkey = g.k
        |  WHERE coalesce(g.op, '') <> 'D'
        |    AND NOT (c.c_custkey IS NULL AND g.op <> 'I')),
        |oldv AS (
        |  SELECT c_custkey AS k, c_name AS old_name,
        |   CAST(CAST(round(c_acctbal*100) AS BIGINT) / 100.0 AS DOUBLE) AS old_bal
        |  FROM customer)
        |SELECT * FROM (
        |  SELECT coalesce(o.k, m.c_custkey) AS c_custkey,
        |   CASE WHEN o.k IS NULL THEN 'added'
        |        WHEN m.c_custkey IS NULL THEN 'removed'
        |        WHEN o.old_name IS DISTINCT FROM m.c_name
        |          OR o.old_bal IS DISTINCT FROM m.c_acctbal THEN 'changed'
        |   END AS change_type,
        |   o.old_bal, m.c_acctbal AS new_bal
        |  FROM oldv o FULL OUTER JOIN merged m ON o.k = m.c_custkey)
        |WHERE change_type IS NOT NULL
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("q107_retention_cohorts", retentionCohorts, Some(
      """WITH cohort AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT cohort_week,
        | CAST((epoch(CAST(date_trunc('week', e.ts) AS DATE)) - epoch(cohort_week)) / 604800 AS INT) AS week_offset,
        | count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN cohort USING (user_id)
        |WHERE (epoch(CAST(date_trunc('week', e.ts) AS DATE)) - epoch(cohort_week)) / 86400 BETWEEN 0 AND 56
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q108_moving_window", movingWindow, Some(
      """SELECT event_id, user_id,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) OVER (
        |   PARTITION BY user_id ORDER BY epoch_us(ts)
        |   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) / 100.0
        |  AS DOUBLE) AS trailing_7d_value
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("q100_funnel", funnel, Some(
      """WITH flagged AS (
        |  SELECT ts, event_type,
        |   min(CASE WHEN event_type = 'purchase' THEN ts END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_ts
        |  FROM events)
        |SELECT CAST(ts AS DATE) AS event_date,
        | count(*) AS n_views,
        | CAST(count(*) FILTER (WHERE next_purchase_ts IS NOT NULL
        |   AND next_purchase_ts <= ts + INTERVAL 30 MINUTE) AS BIGINT) AS n_converted
        |FROM flagged WHERE event_type = 'view'
        |GROUP BY event_date ORDER BY event_date""".stripMargin)))
}
