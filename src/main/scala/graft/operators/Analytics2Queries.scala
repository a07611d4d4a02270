package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}

/** Round-4 surface extensions, part 2: TPC-H-depth decorrelation
  * (Q21/Q13/Q20 shapes), robust statistics (MAD outliers, chi-square
  * contingency, grouped OLS trend), sequence analytics (Markov
  * transitions, inter-event gaps, last-touch attribution), and the
  * operational primitives every warehouse runs (deterministic sampling,
  * FK integrity audit, month-over-month growth). Reference analog:
  * none (the reference's only filter is main.py:110) — these are
  * capability extensions per SURVEY §2's "what a real user hits next".
  *
  * Every query keeps the repo's exactness contract: money and values
  * sum as integer cents (Exact.cents), medians/quantiles interpolate
  * exact integers, each double is produced by ONE closing IEEE
  * expression evaluated identically by Spark and DuckDB, and every
  * output carries a total-order ORDER BY.
  */
object Analytics2Queries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** TPC-H Q21 shape — the hardest decorrelation pattern in the
    * benchmark: EXISTS and NOT EXISTS correlated against the SAME fact
    * table. "Lone returner" suppliers: finished orders where this
    * supplier's line came back RETURNED while every OTHER supplier on
    * the (multi-supplier) order shipped clean. Catalyst rewrites the
    * EXISTS into a left-semi and the NOT EXISTS into a left-anti join
    * on the order key with the supplier-inequality as a residual
    * condition (pinned in PlanSpec: no subquery survives to the
    * physical plan) — three co-partitioned joins on l_orderkey at any
    * scale, never per-row probes. */
  def loneReturnerSuppliers(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("supplier", "lineitem", "orders")) { v =>
      s"""SELECT s_name, count(*) AS numwait
         |FROM ${v("supplier")} JOIN ${v("lineitem")} l1 ON s_suppkey = l1.l_suppkey
         |JOIN ${v("orders")} ON o_orderkey = l1.l_orderkey
         |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
         |  AND EXISTS (
         |    SELECT 1 FROM ${v("lineitem")} l2
         |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM ${v("lineitem")} l3
         |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
         |      AND l3.l_returnflag = 'R')
         |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin
    }

  /** TPC-H Q13 shape — customer order-count distribution INCLUDING the
    * zero bucket: the left outer join with a predicate in the ON clause
    * (not WHERE — the filter must not turn the outer join inner), a
    * per-customer count of the nullable side, then the count-of-counts
    * rollup. Two keyed shuffles; the histogram is dimension-sized. */
  def orderCountDistribution(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("customer", "orders")) { v =>
      s"""SELECT c_count, count(*) AS custdist FROM (
         |  SELECT c_custkey, count(o_orderkey) AS c_count
         |  FROM ${v("customer")} LEFT OUTER JOIN ${v("orders")}
         |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         |  GROUP BY c_custkey) cc
         |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin
    }

  /** TPC-H Q20 shape — NESTED IN subqueries with a grouped HAVING
    * inside: suppliers who moved serious volume (> 2300 units since
    * 1997) of large parts (p_size ≥ 40). The inner IN prunes lineitem
    * against the part dimension (a semi join Catalyst can broadcast),
    * the HAVING aggregates per supplier, and the outer IN is another
    * semi join — the whole pyramid decorrelates to joins + one
    * aggregate, no row-at-a-time evaluation (pinned in PlanSpec). */
  def bigVolumeSuppliers(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("supplier", "lineitem", "part")) { v =>
      s"""SELECT s_name, s_acctbal FROM ${v("supplier")}
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM ${v("lineitem")}
         |  WHERE l_partkey IN (
         |      SELECT p_partkey FROM ${v("part")} WHERE p_size >= 40)
         |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY l_suppkey HAVING sum(l_quantity) > 2300)
         |ORDER BY s_name""".stripMargin
    }

  /** Robust outlier detection via Median Absolute Deviation — the
    * companion to q128's z-score that survives the outliers it hunts
    * (mean/stddev are themselves corrupted by heavy tails; the median
    * pair is not). Modified z-score 0.6745·|x−med|/MAD > 3.5 (the
    * standard Iglewicz-Hoban gate, folded to |x−med| > (3.5/0.6745)·MAD
    * so each row is one compare). Median and MAD interpolate EXACT
    * integer cents — both engines' (n−1)·p rule lands on an integer or
    * a .5 midpoint, exact in doubles — so the gate compares identical
    * doubles and cannot flake on a boundary. Plan: the fact table is
    * scanned ONCE into a (type, value, count) rollup — median, MAD and
    * the outlier count all derive from that value-cardinality-bounded
    * table via FREQUENCY-WEIGHTED percentiles (Spark's
    * percentile(col, p, freq) is defined as percentile over the value
    * repeated freq times, so the math is identical to the raw-multiset
    * form the oracle computes) — where the naive three-pass form costs
    * three fact scans and exact per-group sorted state. */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    // one fact scan; everything below runs on the distinct-value rollup
    val freq = graft.util.Checkpoints.truncate(
      t(s, dir, "events")
        .groupBy(col("event_type"), Exact.cents(col("value")).as("c"))
        .agg(count(lit(1)).as("cnt")))
    val med = freq.groupBy(col("event_type"))
      .agg(expr("percentile(c, 0.5D, cnt)").as("med_c"))
    val mad = freq.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), col("med_c"))
      .agg(expr("percentile(abs(c - med_c), 0.5D, cnt)").as("mad_c"))
    freq.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"), col("med_c"), col("mad_c"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(abs(col("c") - col("med_c")) > (lit(3.5) / lit(0.6745)) * col("mad_c"),
          col("cnt")).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"),
        round(col("med_c") / 100.0, 3).as("median_value"),
        round(col("mad_c") / 100.0, 3).as("mad_value"),
        col("n_outliers"))
      .orderBy("event_type")
  }

  /** Chi-square contingency analysis — event_type × ISO weekday: the
    * independence test every experimentation/seasonality pipeline runs.
    * Observed cell counts come from ONE groupBy over the fact table;
    * row/column/grand totals are window sums over the DIMENSION-SIZED
    * cell rollup (35 rows — the windows cost nothing and the fact table
    * shuffles once). Expected count rt·ct/n and the per-cell chi²
    * contribution are each one IEEE closing expression over exact
    * integer counts; contributions are reported PER CELL (ordered, not
    * summed) so no cross-cell float accumulation order exists to
    * disagree on. Spark's weekday() and DuckDB's isodow()−1 both map
    * Monday→0. */
  def chisqWeekday(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "events")
      .groupBy(col("event_type"), expr("weekday(ts)").cast("long").as("dow"))
      .agg(count(lit(1)).as("obs"))
    val rt = Window.partitionBy(col("event_type"))
    val ct = Window.partitionBy(col("dow"))
    val all = Window.partitionBy()
    val exp_ = sum(col("obs")).over(rt).cast("double") * sum(col("obs")).over(ct) /
      sum(col("obs")).over(all)
    cells
      .select(col("event_type"), col("dow"), col("obs"),
        round(exp_, 6).as("expected"),
        round(pow(col("obs") - exp_, 2) / exp_, 6).as("chi2_part"))
      .orderBy("event_type", "dow")
  }

  /** Grouped OLS trend — per-nation daily-revenue slope by the closed
    * form b = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²). x is the epoch-day
    * index, y the day's revenue in EXACT integer cents; all five
    * regression sums are integer aggregations (decimal(38,0) guards the
    * cross products past Long range at high sf), the two closing
    * products stay below 2^53, and the slope is ONE IEEE division —
    * engine-exact with no iterative fitting. Shape: fact shuffle to
    * (nation, day) rollup, then a nation-sized aggregate — the
    * distributed-regression pattern that needs no ML runtime. The
    * engine's own Forecaster (forecast/Forecaster.scala) uses the same
    * normal-equation algebra driver-side; this is its fully-distributed
    * grouped form. */
  def groupOlsTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).as("x"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("y"))
    val d38 = DecimalType(38, 0)
    daily.groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum((col("x") * col("y")).cast(d38)).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("nationkey"), col("n").as("n_days"),
        round((col("n").cast(d38) * col("sxy") - col("sx").cast(d38) * col("sy")).cast("double") /
          (col("n").cast(d38) * col("sxx").cast(d38) - col("sx").cast(d38) * col("sx")).cast("double") /
          lit(100.0), 6).as("slope_per_day"))
      .orderBy("nationkey")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences — the session-modeling primitive (what follows what, and
    * how often). lead() over (user, time) gives each event its
    * successor in ONE window shuffle keyed by user; the (src,dst)
    * rollup is |types|² rows, and the per-src row-normalization window
    * runs over that dimension-sized matrix for free. prob = n/Σn is
    * one IEEE division of exact counts. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cnt = t(s, dir, "events")
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(byUser).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    cnt
      .withColumn("prob",
        round(col("n").cast("double") / sum(col("n")).over(Window.partitionBy(col("src"))), 6))
      .orderBy("src", "dst")
  }

  /** Inter-event gap statistics — time-to-next-event per event type:
    * the latency/engagement primitive behind retention curves and
    * anomaly alerts. Gaps are EXACT integer microseconds (unix_micros /
    * epoch_us on both engines) from the same one-window-shuffle lead()
    * as q142; avg and max close with one IEEE division each. A null
    * lead (each user's last event) drops out of count/sum/max
    * uniformly on both engines. */
  def interEventGaps(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_type"),
        (lead(unix_micros(col("ts")), 1).over(byUser) - unix_micros(col("ts"))).as("gap"))
      .groupBy(col("event_type"))
      .agg(count(col("gap")).as("n_gaps"),
        round(sum(col("gap")).cast("double") / count(col("gap")) / lit(1e6), 6).as("avg_gap_s"),
        round(max(col("gap")).cast("double") / lit(1e6), 6).as("max_gap_s"))
      .orderBy("event_type")
  }

  /** Last-touch attribution — every purchase's value credited to the
    * DAY of the user's most recent preceding click: the marketing
    * attribution join, done as one running window max (frame ends at
    * 1 PRECEDING, so a purchase can never attribute to itself even if
    * event taxonomies later overlap) instead of a self-join. One
    * window shuffle on user; purchases with no prior click land in the
    * NULL bucket — reported, not dropped, because unattributed revenue
    * is the number marketing actually argues about. */
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .withColumn("last_click",
        max(when(col("event_type") === "click", col("ts"))).over(byUser))
      .filter(col("event_type") === "purchase")
      .groupBy(col("last_click").cast("date").as("touch_day"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum(Exact.cents(col("value"))) / lit(100.0)).as("attributed_revenue"))
      .orderBy(asc_nulls_first("touch_day"))
  }

  /** Deterministic per-group sampling — top-3 rows per event type by
    * md5(event_id‖salt): the reproducible-sample primitive (code
    * review, eyeballing, golden fixtures) that rand() cannot give —
    * every engine, every run, every partitioning draws the SAME
    * sample, and the md5 rank is uniform over the group. Same portable
    * md5-bucket device as q39/q75; one window shuffle keyed by type.
    * At 100 TB the rank-3 cut runs as a streaming window top-k —
    * nothing accumulates beyond the frame. */
  def deterministicSample(s: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(col("event_id").cast("string"), lit(":s145")))
    val w = Window.partitionBy(col("event_type")).orderBy(h, col("event_id"))
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      // filter on the raw rank (keeps Catalyst's WindowGroupLimit
      // pattern-match intact), widen to long only in the projection
      .filter(col("rn") <= 3)
      .select(col("event_type"), col("rn").cast("long").as("rn"), col("event_id"),
        round(col("value"), 2).as("value"))
      .orderBy("event_type", "rn")
  }

  /** Referential-integrity audit — orphan counts for every FK edge of
    * the star schema in one report: the data-quality gate run before
    * any pipeline promotes a batch. Each CHILD TABLE is scanned ONCE,
    * left-joined to every parent it references (parent keys
    * deduplicated so a dirty parent cannot duplicate child rows;
    * dimension parents broadcast), and all of its edges' orphan counts
    * come out of one conditional aggregate — lineitem's three edges
    * cost one fact scan + one co-partitioned join + two broadcasts,
    * not three anti-join passes (a naive per-edge formulation scanned
    * lineitem six times, measured). A clean batch reads all zeros —
    * the AUDIT is the product, the zero is the evidence. */
  def fkOrphanAudit(s: SparkSession, dir: String): DataFrame = {
    def key(df: DataFrame, c: String, flag: String): DataFrame =
      df.select(col(c)).distinct().withColumn(flag, lit(1))
    val liAudit = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .join(key(t(s, dir, "orders"), "o_orderkey", "f_o"),
        col("l_orderkey") === col("o_orderkey"), "left")
      .join(broadcast(key(t(s, dir, "part"), "p_partkey", "f_p")),
        col("l_partkey") === col("p_partkey"), "left")
      .join(broadcast(key(t(s, dir, "supplier"), "s_suppkey", "f_s")),
        col("l_suppkey") === col("s_suppkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("f_o").isNull, 1L).otherwise(0L)).as("o_orph"),
        sum(when(col("f_p").isNull, 1L).otherwise(0L)).as("p_orph"),
        sum(when(col("f_s").isNull, 1L).otherwise(0L)).as("s_orph"))
      .select(expr(
        "stack(3, 'lineitem->orders', n, o_orph, 'lineitem->part', n, p_orph, " +
          "'lineitem->supplier', n, s_orph) AS (fk, n_child, n_orphans)"))
    def dimEdge(fk: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame =
      child.select(col(childKey))
        .join(broadcast(key(parent, parentKey, "f")),
          col(childKey) === col(parentKey), "left")
        .agg(count(lit(1)).as("n_child"),
          sum(when(col("f").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(fk).as("fk"), col("n_child"), col("n_orphans"))
    liAudit
      .unionByName(dimEdge("orders->customer", t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .unionByName(dimEdge("customer->nation", t(s, dir, "customer"), "c_nationkey",
        t(s, dir, "nation"), "n_nationkey"))
      .orderBy("fk")
  }

  /** Month-over-month growth — the first chart on every revenue
    * dashboard: monthly rollup (exact cents), then lag() for absolute
    * and relative deltas. The monthly series is dimension-sized, so
    * the unpartitioned lag window is free; delta is exact integer
    * subtraction and pct is ONE IEEE division of exact cents. First
    * month reports NULL deltas (no prior) — both engines agree. */
  def momGrowth(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("rev_c"), count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("month"))
    m.withColumn("prev_c", lag(col("rev_c"), 1).over(w))
      .select(col("month"), col("n_orders"),
        (col("rev_c") / lit(100.0)).as("revenue"),
        ((col("rev_c") - col("prev_c")) / lit(100.0)).as("mom_delta"),
        round((col("rev_c") - col("prev_c")).cast("double") / col("prev_c"), 6).as("mom_pct"))
      .orderBy("month")
  }

  /** Time-hierarchy ROLLUP — year → quarter → month drill-down totals
    * in one statement: the BI cube primitive over the natural calendar
    * hierarchy (q10/q11/q25 cover flat rollup/cube/grouping-sets over
    * attributes; this is the time axis every dashboard drills).
    * grouping() bits disambiguate subtotal rows from genuine NULL
    * keys; Spark plans the rollup as ONE expand + aggregate — the
    * fact table shuffles once, and each row expands to its 4
    * hierarchy levels map-side. */
  def timeRollup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      year(col("o_orderdate")).cast("long").as("yr"),
      quarter(col("o_orderdate")).cast("long").as("qtr"),
      month(col("o_orderdate")).cast("long").as("mon"),
      Exact.cents(col("o_totalprice")).as("cents"))
    base.rollup(col("yr"), col("qtr"), col("mon"))
      .agg(
        // grouping() must live inside the Aggregate that owns the rollup
        (grouping(col("yr")) + grouping(col("qtr")) * 2 + grouping(col("mon")) * 4)
          .cast("long").as("gid"),
        count(lit(1)).as("n_orders"), (sum(col("cents")) / lit(100.0)).as("revenue"))
      .select(col("gid"), col("yr"), col("qtr"), col("mon"),
        col("n_orders"), col("revenue"))
      .orderBy(col("gid"), asc_nulls_first("yr"), asc_nulls_first("qtr"),
        asc_nulls_first("mon"))
  }

  /** Spearman rank correlation per group — quantity vs price monotonic
    * association per brand. Ties take AVERAGE ranks (the standard
    * definition), computed exactly as INTEGER double-ranks
    * 2·rank + tiecount − 1 (Pearson is scale-invariant, so doubling
    * clears the .5s); all five correlation sums are integer
    * aggregations in decimal(38,0) and rho closes with one
    * multiply/sqrt/divide chain over their exact double images —
    * engine-identical. Shape: two rank windows per axis keyed on
    * brand; rank statistics are inherently sort-based, and every sort
    * here is partitioned by the group key, never global. */
  def spearmanCorr(s: SparkSession, dir: String): DataFrame = {
    val j = t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    def dblRank(v: String) =
      (rank().over(Window.partitionBy(col("p_brand")).orderBy(col(v))).cast("long") * 2 +
        count(lit(1)).over(Window.partitionBy(col("p_brand"), col(v))) - 1)
    val d38 = DecimalType(38, 0)
    j.select(col("p_brand"), dblRank("x").as("rx"), dblRank("y").as("ry"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx").cast(d38)).as("sx"), sum(col("ry").cast(d38)).as("sy"),
        sum((col("rx") * col("ry")).cast(d38)).as("sxy"),
        sum((col("rx") * col("rx")).cast(d38)).as("sxx"),
        sum((col("ry") * col("ry")).cast(d38)).as("syy"))
      .select(col("p_brand"), col("n"),
        round((col("n").cast(d38) * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n").cast(d38) * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n").cast(d38) * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("spearman_rho"))
      .orderBy("p_brand")
  }

  /** Key-distribution skew audit — the diagnostic run BEFORE a big
    * join to decide broadcast/salt/AQE strategy (the 100 TB
    * operational primitive behind q70's salted join): per candidate
    * join key, the cardinality, hottest-key frequency, median
    * frequency, and the max/median skew ratio. One groupBy per key
    * column (each a map-side-combined count), then a dimension-sized
    * percentile over the frequency table. All counts exact; the two
    * ratios are single IEEE divisions. */
  def skewAudit(s: SparkSession, dir: String): DataFrame = {
    // ONE fact scan melted to (col, key) rows — a per-column groupBy
    // trio would scan lineitem three times; the melt triples the
    // pre-combine row count but map-side combine collapses it to the
    // same per-key partials, and at 100 TB one scan beats three
    t(s, dir, "lineitem")
      .select(expr(
        "stack(3, 'l_partkey', l_partkey, 'l_suppkey', l_suppkey, " +
          "'l_orderkey', l_orderkey) AS (col, k)"))
      .groupBy(col("col"), col("k"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_freq"),
        round(expr("percentile(cnt, 0.5)"), 1).as("p50_freq"))
      .select(col("col"), col("n_keys"), col("n_rows"), col("max_freq"), col("p50_freq"),
        round(col("max_freq").cast("double") / col("n_rows"), 6).as("top1_share"),
        round(col("max_freq").cast("double") / col("p50_freq"), 6).as("skew_ratio"))
      .orderBy("col")
  }

  /** Fixed-width value histogram — 20 decade-wide bins over the event
    * value, top bin open (clamped): the distribution sketch behind
    * every metrics dashboard. Binning is INTEGER division of exact
    * cents (cents div 1000 — no float boundary can flake a count into
    * the wrong bin, unlike floor(value/10) on doubles); one map-side
    * combined groupBy, 20 output rows. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(least(expr(s"${Exact.centsSql("value")} div 1000"), lit(19L)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"), (col("bin") * 10.0).as("lo"),
        when(col("bin") === 19, lit(null).cast("double"))
          .otherwise(col("bin") * 10.0 + 10.0).as("hi"),
        col("n"))
      .orderBy("bin")

  /** Higher-order array kernels — per-vector L2 norm, positive-count,
    * max-|x| and mean computed entirely with Spark's codegen'd array
    * HOFs (transform / filter / aggregate / array_max): the declared
    * surface for lambda-function array work next to the engine's
    * native Catalyst kernels (cosine_sim etc. — functions/
    * VectorKernels.scala). Folds run in array order on both engines
    * (Spark aggregate() and DuckDB list_sum are sequential), so the
    * float→double sums are bit-identical. Per-row map work, no
    * shuffle except the top-100 sort. */
  def arrayHof(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        round(sqrt(expr(
          "aggregate(transform(embedding, x -> cast(x as double) * x), 0D, (a, x) -> a + x)")), 6)
          .as("l2_norm"),
        expr("size(filter(embedding, x -> x > 0))").cast("long").as("n_pos"),
        round(expr("array_max(transform(embedding, x -> abs(cast(x as double))))"), 6)
          .as("max_abs"),
        round(expr("aggregate(transform(embedding, x -> cast(x as double)), 0D, (a, x) -> a + x)") /
          size(col("embedding")), 6).as("mean"))
      .orderBy("vec_id")
      .limit(100)

  /** Regex token mining — regexp_extract_all + explode over the corpus:
    * the pattern-extraction primitive (log mining, PII-shaped token
    * pulls, URL/domain harvesting — q79 scrubs with the same machinery,
    * this one MINES). All matches per document (not just the first),
    * exploded and rolled up to global and per-doc frequencies. One
    * corpus scan, one aggregation shuffle; the regex runs codegen'd
    * per row. */
  def regexTokenMine(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(text, '\\\\bs[a-z]+', 0)")).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n").desc, col("tok"))

  /** Windowed deduplication (throttle) — keep the FIRST event per
    * (user, type) inside each 10-minute tumbling window, report
    * kept/dropped mass per type: the rate-limiting primitive every
    * event pipeline runs before fan-out (q92 is its streaming
    * at-least-once sibling). Window id is INTEGER division of exact
    * epoch microseconds — no float boundary, identical on both
    * engines; one window shuffle keyed (user, type, win). */
  def windowedDedup(s: SparkSession, dir: String): DataFrame = {
    val win = expr("unix_micros(ts) div 600000000")
    val w = Window.partitionBy(col("user_id"), col("event_type"), col("win"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("win", win)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
      .orderBy("event_type")
  }

  /** Time-bounded conversion — clicks that led to a purchase by the
    * same user within 30 minutes, as a correlated EXISTS with a RANGE
    * predicate: the attribution-funnel metric (q144 assigns revenue;
    * this measures the conversion window). Catalyst decorrelates the
    * range-EXISTS into a left-semi join equi-keyed on user with the
    * time bounds as residual conditions — per-user match sets stay
    * key-bounded exactly like the q135 PIT join, never a nested-loop
    * probe. */
  def conversionWindow(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.sqlOn(s, dir, Seq("events")) { v =>
      s"""WITH clicks AS (
         |  SELECT event_id, user_id, ts FROM ${v("events")} WHERE event_type = 'click'),
         |conv AS (
         |  SELECT c.event_id, CAST(c.ts AS DATE) AS day,
         |   EXISTS (SELECT 1 FROM ${v("events")} p WHERE p.event_type = 'purchase'
         |           AND p.user_id = c.user_id AND p.ts > c.ts
         |           AND unix_micros(p.ts) - unix_micros(c.ts) <= 1800000000) AS converted
         |  FROM clicks c)
         |SELECT day, count(*) AS n_clicks,
         | sum(CASE WHEN converted THEN 1 ELSE 0 END) AS n_converted,
         | round(CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |  AS conv_rate
         |FROM conv GROUP BY day ORDER BY day""".stripMargin
    }

  /** TPC-H Q3 shape — top unshipped-revenue orders: the classic
    * 3-table shipping-priority query (segment-filtered customers ⋈
    * orders before the cutoff ⋈ lines shipped after it). Revenue is
    * the discounted price in exact integer cents; top-10 rides a
    * TakeOrdered, never a global sort materialization. The customer
    * dimension broadcasts; the fact-fact join co-partitions on the
    * order key. */
  def tpchQ3(s: SparkSession, dir: String): DataFrame = {
    val disc = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
      .cast("long")
    t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
      .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("orderdate"),
        col("o_orderpriority"))
      .agg((sum(disc) / lit(100.0)).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q6 shape — the pure scan-pushdown probe: one table, three
    * range predicates (date window, discount band, quantity cap), two
    * aggregates, ZERO joins and ZERO shuffles past the single partial/
    * final aggregate exchange. The query exists to pin that every
    * predicate reaches the parquet scan (PlanSpec) — at 100 TB this is
    * the difference between reading a year and reading the decade. */
  def tpchQ6(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg((sum(round(col("l_extendedprice") * col("l_discount") * 100).cast("long")) /
        lit(100.0)).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q14 shape — promo revenue share: conditional aggregation
    * over a month of shipments joined to the part dimension
    * (broadcast). Numerator and denominator are exact integer cent
    * sums from the SAME pass; the percentage is one IEEE closing
    * division. */
  def tpchQ14(s: SparkSession, dir: String): DataFrame = {
    val disc = round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
      .cast("long")
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type").startsWith("PROMO"), disc).otherwise(0L)).cast("double") /
        sum(disc).cast("double"), 6).as("promo_revenue_pct"))
  }

  /** Event-path trigrams — the top 3-step behavioral sequences across
    * all users (q142's Markov matrix generalized one order up): two
    * leads over ONE user-keyed window sort, a (a,b,c) rollup bounded
    * by |types|³, top-20. The sequence-mining primitive behind funnel
    * discovery — at 100 TB still one window shuffle + one
    * dimension-sized aggregate. */
  def eventTrigrams(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_type").as("a"),
        lead(col("event_type"), 1).over(byUser).as("b"),
        lead(col("event_type"), 2).over(byUser).as("c"))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a"), col("b"), col("c"))
      .limit(20)
  }

  /** Mergeable binned-quantile sketch — p50/p95/p99 per event type from
    * a fixed-width histogram (500-cent bins) with linear interpolation
    * inside the crossing bin: the SCALABLE answer to the exact-
    * percentile caveat q139's scaladoc records. Exact `percentile`
    * keeps per-group sorted state (unbounded memory at 100 TB); the
    * bin rollup is a plain mergeable count aggregation — map-side
    * combined, bounded by the bin count, and the quantile estimate is
    * deterministic arithmetic over exact integer counts (NOT an
    * approx-sketch whose internals differ per engine — DuckDB runs the
    * identical binned math, so the gate checks it hash-exact).
    * Rank error is bounded by the bin mass; est vs exact p95 agrees
    * within ~1% on the fixture. */
  def sketchQuantiles(s: SparkSession, dir: String): DataFrame = {
    val bins = t(s, dir, "events")
      .groupBy(col("event_type"),
        expr(s"${Exact.centsSql("value")} div 500").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy(col("event_type"))
    // materialize the dimension-sized bin table once — the quantile
    // pick and the interpolation joinback both consume it, and without
    // the truncate each would re-scan the fact table (measured: 2
    // events scans → 1)
    val c = graft.util.Checkpoints.truncate(bins
      .withColumn("cum", sum(col("cnt")).over(byType.orderBy(col("bin"))))
      .withColumn("n", sum(col("cnt")).over(byType)))
    val ps = explode(array(lit(0.5), lit(0.95), lit(0.99))).as("p")
    val pick = c.select(col("event_type"), col("bin"), col("cum"), col("n"), ps)
      .filter(col("cum") >= col("p") * col("n"))
      .groupBy(col("event_type"), col("p")).agg(min(col("bin")).as("qbin"))
    pick.join(c.withColumnRenamed("bin", "qbin"), Seq("event_type", "qbin"))
      .select(col("event_type"), col("p"),
        round((col("qbin") * 500 +
          lit(500.0) * (col("p") * col("n") - (col("cum") - col("cnt"))) / col("cnt")) /
          lit(100.0), 6).as("est_value"))
      .orderBy("event_type", "p")
  }

  /** Inter-arrival burstiness — coefficient of variation of per-user
    * event gaps, by type: CV ≈ 1 is Poisson traffic, > 1 bursty, < 1
    * regular — the traffic-shape diagnostic behind capacity planning
    * and anomaly baselines (q143 gives first moments; this adds the
    * second). Gaps truncate to exact integer SECONDS (integer division
    * — declared semantics, keeps Σgap² under 2^53 through sf1 so the
    * one hugeint/decimal→double conversion per group is exact), the
    * moment sums are integer aggregations, and mean/sd/cv each close
    * with one IEEE expression. Same single user-keyed window shuffle
    * as q142/q143. */
  def gapBurstiness(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val d38 = DecimalType(38, 0)
    val g = t(s, dir, "events")
      .select(col("event_type"),
        ((lead(unix_micros(col("ts")), 1).over(byUser) - unix_micros(col("ts")))
          .cast("long") / lit(1000000L)).cast("long").as("gap"))
      .filter(col("gap").isNotNull)
    g.groupBy(col("event_type"))
      .agg(count(col("gap")).cast("double").as("n"),
        sum(col("gap")).cast("double").as("s1"),
        sum((col("gap").cast(d38) * col("gap")).cast(d38)).cast("double").as("s2"))
      .select(col("event_type"), col("n").cast("long").as("n_gaps"),
        round(col("s1") / col("n"), 6).as("mean_gap_s"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1.0)), 6)
          .as("sd_gap_s"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1.0)) /
          (col("s1") / col("n")), 6).as("cv"))
      .orderBy("event_type")
  }

  /** Cross-source corpus overlap — pairwise 5-gram Jaccard between
    * SOURCES (not documents): the dataset-contamination matrix a
    * training-data pipeline checks before mixing corpora (q82
    * decontaminates against a benchmark; this measures source-level
    * redundancy wholesale). Each source's distinct gram-hash set is
    * built once (md5 grams — the q78 portable device), sources meet in
    * an equi-join ON THE GRAM HASH (each hash joins only the sources
    * containing it — never an all-pairs document join), and set sizes
    * broadcast back for the |A∩B|/|A∪B| closing division. Output is
    * |sources|² rows. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // materialize the distinct (source, gram-hash) set ONCE: four
    // consumers re-derive this subtree otherwise (both self-join sides
    // + both size lookups = 8 corpus scans, measured), and Spark's
    // exchange reuse does not collapse them across the differing
    // projections. Same device as q132's token rollup
    // (Checkpoints.truncate — reliable under spark.graft.checkpointDir).
    val g = graft.util.Checkpoints.truncate(
      Ops.spread(t(s, dir, "documents")) // per-gram md5 ≫ row copy — see Ops.spread
        .filter(length(col("text")) >= 5)
        .select(col("source"), explode(sequence(lit(1), length(col("text")) - 4)).as("i"),
          col("text"))
        .select(col("source"), md5(expr("substring(text, i, 5)")).as("h"))
        .distinct())
    val sz = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val ix = g.select(col("source").as("src_a"), col("h"))
      .join(g.select(col("source").as("src_b"), col("h")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_common"))
    ix.join(broadcast(sz.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"), col("n_b"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Systematic weight-proportional sampling — ~100 documents drawn
    * with probability proportional to length, DETERMINISTICALLY: a doc
    * is selected once per multiple of (total_weight/100) its
    * cumulative-weight interval covers. This is how a training-data
    * pipeline draws a mixing sample "by tokens, not by docs" while
    * staying reproducible across engines, runs, and partitionings
    * (rand()-based weighted sampling is none of those). n_hits > 1
    * marks docs heavier than the stride — the honest signal that
    * sampling WITH replacement would repeat them. The cumulative sum
    * is one global-ordered window: at 100 TB the same statement runs
    * on range-partitioned sort; the q130 scaladoc's approx-cut note
    * applies identically. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("doc_id"))
    val all = Window.partitionBy()
    val step = sum(col("wt")).over(all).cast("double") / lit(100)
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").as("wt"))
      .withColumn("cum", sum(col("wt")).over(w))
      .withColumn("hits",
        floor(col("cum").cast("double") / step) -
          floor((col("cum") - col("wt")).cast("double") / step))
      .filter(col("hits") >= 1)
      .select(col("doc_id"), col("wt"), col("hits").cast("long").as("n_hits"))
      .orderBy("doc_id")
  }

  /** Percent-of-parent across the calendar hierarchy — each month's
    * share of its quarter and of its year: the drill-down ratio view
    * q148's ROLLUP totals feed. One monthly rollup (exact cents), then
    * two window sums over the DIMENSION-SIZED month table (80 rows) —
    * the shares are single IEEE divisions of exact integers, and no
    * second fact scan exists. */
  def shareOfParent(s: SparkSession, dir: String): DataFrame = {
    val m = t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        month(col("o_orderdate")).cast("long").as("mon"))
      .agg(sum(Exact.cents(col("o_totalprice"))).as("rev"))
    m.select(col("yr"), col("qtr"), col("mon"),
        (col("rev").cast("double") / 100.0).as("revenue"),
        round(col("rev").cast("double") /
          sum(col("rev")).over(Window.partitionBy(col("yr"), col("qtr"))), 6)
          .as("share_of_quarter"),
        round(col("rev").cast("double") /
          sum(col("rev")).over(Window.partitionBy(col("yr"))), 6).as("share_of_year"))
      .orderBy("yr", "mon")
  }

  /** Rolling weekly active users + stickiness (DAU/WAU) — the product-
    * analytics headline. COUNT DISTINCT over a trailing RANGE window
    * isn't executable as a window function; the scalable formulation
    * explodes each (user, active-day) to the ≤7 window anchor days it
    * supports (a FIXED fan-out, map-side) and distinct-aggregates per
    * anchor — the standard rolling-distinct device. Inputs are the
    * distinct (user, day) table, so the fan-out is bounded by active
    * pairs, not raw events; anchors restrict to observed days via a
    * broadcast semi join. */
  def rollingWau(s: SparkSession, dir: String): DataFrame = {
    val act = t(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val days = act.select(col("day")).distinct()
    val sup = act.select(col("user_id"),
      explode(expr("sequence(day, day + interval 6 days, interval 1 day)")).as("d"))
    val wau = sup.join(broadcast(days), col("d") === col("day"), "left_semi")
      .groupBy(col("d").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = act.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** Daily new vs returning users — the acquisition/retention split on
    * every growth dashboard: each user's first-ever active day marks
    * them NEW on that day and RETURNING after. Two rollups of the
    * distinct (user, day) table (first-day min, then the daily split
    * against the broadcast first-day map); active = new + returning by
    * construction, pinned in the spec. */
  def newVsReturning(s: SparkSession, dir: String): DataFrame = {
    val act = t(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    act.join(broadcast(first), Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("active_users"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") > col("first_day"), 1L).otherwise(0L)).as("returning_users"))
      .orderBy("day")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q136_lone_returner_suppliers", loneReturnerSuppliers, Some(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),
    QueryDef("q137_order_count_distribution", orderCountDistribution, Some(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) cc
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    QueryDef("q138_big_volume_suppliers", bigVolumeSuppliers, Some(
      """SELECT s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 40)
        |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_suppkey HAVING sum(l_quantity) > 2300)
        |ORDER BY s_name""".stripMargin)),
    QueryDef("q139_mad_outliers", madOutliers, Some(
      """WITH c AS (SELECT event_type, CAST(round(value*100) AS BIGINT) AS c FROM events),
        |med AS (SELECT event_type, quantile_cont(c, 0.5) AS med_c FROM c GROUP BY event_type),
        |mad AS (SELECT c.event_type AS event_type, med_c,
        |         quantile_cont(abs(c - med_c), 0.5) AS mad_c
        |        FROM c JOIN med USING (event_type) GROUP BY c.event_type, med_c)
        |SELECT m.event_type AS event_type, count(*) AS n,
        | round(med_c/100.0, 3) AS median_value,
        | round(mad_c/100.0, 3) AS mad_value,
        | count(*) FILTER (WHERE abs(c - med_c) > (3.5/0.6745) * mad_c) AS n_outliers
        |FROM c JOIN mad m ON c.event_type = m.event_type
        |GROUP BY m.event_type, med_c, mad_c ORDER BY event_type""".stripMargin)),
    QueryDef("q140_chisq_weekday", chisqWeekday, Some(
      """WITH cells AS (
        |  SELECT event_type, isodow(ts) - 1 AS dow, count(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, dow, obs,
        |   sum(obs) OVER (PARTITION BY event_type) AS rt,
        |   sum(obs) OVER (PARTITION BY dow) AS ct,
        |   sum(obs) OVER () AS n FROM cells)
        |SELECT event_type, dow, obs,
        | round(CAST(rt AS DOUBLE) * ct / n, 6) AS expected,
        | round(power(obs - CAST(rt AS DOUBLE) * ct / n, 2)
        |   / (CAST(rt AS DOUBLE) * ct / n), 6) AS chi2_part
        |FROM tot ORDER BY event_type, dow""".stripMargin)),
    QueryDef("q141_group_ols_trend", groupOlsTrend, Some(
      """WITH daily AS (
        |  SELECT c_nationkey AS nationkey,
        |   CAST((epoch(CAST(o_orderdate AS DATE)) - epoch(DATE '1995-01-01')) / 86400 AS BIGINT) AS x,
        |   sum(CAST(round(o_totalprice*100) AS BIGINT)) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
        |s AS (
        |  SELECT nationkey, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |   sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM daily GROUP BY nationkey)
        |SELECT nationkey, n AS n_days,
        | round(CAST(n*sxy - sx*sy AS DOUBLE)
        |   / CAST(n*sxx - sx*sx AS DOUBLE) / 100.0, 6) AS slope_per_day
        |FROM s ORDER BY nationkey""".stripMargin)),
    QueryDef("q142_markov_transitions", markovTransitions, Some(
      """WITH nx AS (
        |  SELECT event_type AS src,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events),
        |cnt AS (SELECT src, dst, count(*) AS n FROM nx WHERE dst IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        | round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) AS prob
        |FROM cnt ORDER BY src, dst""".stripMargin)),
    QueryDef("q143_interevent_gaps", interEventGaps, Some(
      """WITH g AS (
        |  SELECT event_type,
        |   lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |     - epoch_us(ts) AS gap
        |  FROM events)
        |SELECT event_type, count(gap) AS n_gaps,
        | round(CAST(sum(gap) AS DOUBLE) / count(gap) / 1e6, 6) AS avg_gap_s,
        | round(CAST(max(gap) AS DOUBLE) / 1e6, 6) AS max_gap_s
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("q144_last_touch_attribution", lastTouchAttribution, Some(
      """WITH t AS (
        |  SELECT event_type, value,
        |   max(CASE WHEN event_type = 'click' THEN ts END)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
        |  FROM events)
        |SELECT CAST(last_click AS DATE) AS touch_day, count(*) AS n_purchases,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS attributed_revenue
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY touch_day ORDER BY touch_day NULLS FIRST""".stripMargin)),
    QueryDef("q145_deterministic_sample", deterministicSample, Some(
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |   row_number() OVER (PARTITION BY event_type
        |     ORDER BY md5(CAST(event_id AS STRING) || ':s145'), event_id) AS rn
        |  FROM events)
        |SELECT event_type, rn, event_id, round(value, 2) AS value
        |FROM r WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin)),
    QueryDef("q146_fk_orphan_audit", fkOrphanAudit, Some(
      """SELECT * FROM (
        |SELECT 'lineitem->orders' AS fk, (SELECT count(*) FROM lineitem) AS n_child,
        | (SELECT count(*) FROM lineitem l ANTI JOIN orders o
        |   ON l.l_orderkey = o.o_orderkey) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part', (SELECT count(*) FROM lineitem),
        | (SELECT count(*) FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey)
        |UNION ALL
        |SELECT 'lineitem->supplier', (SELECT count(*) FROM lineitem),
        | (SELECT count(*) FROM lineitem l ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey)
        |UNION ALL
        |SELECT 'orders->customer', (SELECT count(*) FROM orders),
        | (SELECT count(*) FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT 'customer->nation', (SELECT count(*) FROM customer),
        | (SELECT count(*) FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |) ORDER BY fk""".stripMargin)),
    QueryDef("q147_mom_growth", momGrowth, Some(
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |   sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev_c, count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT month, n_orders, CAST(rev_c AS DOUBLE)/100.0 AS revenue,
        | CAST(rev_c - lag(rev_c) OVER (ORDER BY month) AS DOUBLE)/100.0 AS mom_delta,
        | round(CAST(rev_c - lag(rev_c) OVER (ORDER BY month) AS DOUBLE)
        |   / CAST(lag(rev_c) OVER (ORDER BY month) AS DOUBLE), 6) AS mom_pct
        |FROM m ORDER BY month""".stripMargin)),
    QueryDef("q148_time_rollup", timeRollup, Some(
      """SELECT grouping(yr) + grouping(qtr)*2 + grouping(mon)*4 AS gid,
        | yr, qtr, mon, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
        |FROM (SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
        |      month(o_orderdate) AS mon, o_totalprice FROM orders) t
        |GROUP BY ROLLUP(yr, qtr, mon)
        |ORDER BY gid, yr NULLS FIRST, qtr NULLS FIRST, mon NULLS FIRST""".stripMargin)),
    QueryDef("q149_spearman_corr", spearmanCorr, Some(
      """WITH j AS (
        |  SELECT p_brand, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |rk AS (
        |  SELECT p_brand,
        |   2*rank() OVER (PARTITION BY p_brand ORDER BY x)
        |     + count(*) OVER (PARTITION BY p_brand, x) - 1 AS rx,
        |   2*rank() OVER (PARTITION BY p_brand ORDER BY y)
        |     + count(*) OVER (PARTITION BY p_brand, y) - 1 AS ry
        |  FROM j),
        |s AS (
        |  SELECT p_brand, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
        |   sum(rx*ry) AS sxy, sum(rx*rx) AS sxx, sum(ry*ry) AS syy
        |  FROM rk GROUP BY p_brand)
        |SELECT p_brand, n,
        | round(CAST(n*sxy - sx*sy AS DOUBLE)
        |  / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |  AS spearman_rho
        |FROM s ORDER BY p_brand""".stripMargin)),
    QueryDef("q150_skew_audit", skewAudit, Some(
      """WITH f AS (
        |  SELECT col, cnt FROM (
        |    SELECT 'l_partkey' AS col, l_partkey AS k, count(*) AS cnt
        |    FROM lineitem GROUP BY 2
        |    UNION ALL SELECT 'l_suppkey', l_suppkey, count(*) FROM lineitem GROUP BY 2
        |    UNION ALL SELECT 'l_orderkey', l_orderkey, count(*) FROM lineitem GROUP BY 2) u)
        |SELECT col, count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        | max(cnt) AS max_freq,
        | round(quantile_cont(cnt, 0.5), 1) AS p50_freq,
        | round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top1_share,
        | round(CAST(max(cnt) AS DOUBLE) / quantile_cont(cnt, 0.5), 6) AS skew_ratio
        |FROM f GROUP BY col ORDER BY col""".stripMargin)),
    QueryDef("q151_value_histogram", valueHistogram, Some(
      """WITH b AS (
        |  SELECT least(CAST(floor(CAST(round(value*100) AS BIGINT) / 1000) AS BIGINT), 19) AS bin FROM events)
        |SELECT bin, CAST(bin*10.0 AS DOUBLE) AS lo,
        | CASE WHEN bin = 19 THEN NULL ELSE CAST(bin*10.0+10 AS DOUBLE) END AS hi,
        | count(*) AS n
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),
    QueryDef("q152_array_hof", arrayHof, Some(
      """SELECT vec_id,
        | round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 6)
        |  AS l2_norm,
        | len(list_filter(embedding, x -> x > 0)) AS n_pos,
        | round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6)
        |  AS max_abs,
        | round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
        |   / len(embedding), 6) AS mean
        |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin)),
    QueryDef("q153_regex_token_mine", regexTokenMine, Some(
      """WITH e AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '\bs[a-z]+', 0)) AS tok
        |  FROM documents)
        |SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM e GROUP BY tok ORDER BY n DESC, tok""".stripMargin)),
    QueryDef("q154_windowed_dedup", windowedDedup, Some(
      """WITH w AS (
        |  SELECT event_type,
        |   row_number() OVER (PARTITION BY user_id, event_type, CAST(floor(epoch_us(ts) / 600000000) AS BIGINT)
        |                      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS n_events,
        | count(*) FILTER (WHERE rn = 1) AS n_kept,
        | count(*) FILTER (WHERE rn > 1) AS n_dropped
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("q155_conversion_window", conversionWindow, Some(
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |conv AS (
        |  SELECT c.event_id, CAST(c.ts AS DATE) AS day,
        |   EXISTS (SELECT 1 FROM events p WHERE p.event_type = 'purchase'
        |           AND p.user_id = c.user_id AND p.ts > c.ts
        |           AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000) AS converted
        |  FROM clicks c)
        |SELECT day, count(*) AS n_clicks,
        | count(*) FILTER (WHERE converted) AS n_converted,
        | round(CAST(count(*) FILTER (WHERE converted) AS DOUBLE) / count(*), 6)
        |  AS conv_rate
        |FROM conv GROUP BY day ORDER BY day""".stripMargin)),
    QueryDef("q156_tpch_q3", tpchQ3, Some(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |   AS DOUBLE)/100.0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY o_orderkey, orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),
    QueryDef("q157_tpch_q6", tpchQ6, Some(
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
        |   AS DOUBLE)/100.0 AS revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),
    QueryDef("q158_tpch_q14", tpchQ14, Some(
      """SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |   THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |   ELSE 0 END) AS DOUBLE)
        | / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |   AS DOUBLE), 6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin)),
    QueryDef("q159_event_trigrams", eventTrigrams, Some(
      """WITH seq AS (
        |  SELECT event_type AS a,
        |   lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
        |   lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS c
        |  FROM events)
        |SELECT a, b, c, count(*) AS n
        |FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
        |GROUP BY a, b, c ORDER BY n DESC, a, b, c LIMIT 20""".stripMargin)),
    QueryDef("q160_sketch_quantiles", sketchQuantiles, Some(
      """WITH b AS (
        |  SELECT event_type, CAST(floor(CAST(round(value*100) AS BIGINT) / 500) AS BIGINT) AS bin,
        |   count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bin, cnt,
        |   sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |   sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM b),
        |pick AS (
        |  SELECT event_type, p, min(bin) AS qbin FROM c
        |  CROSS JOIN (SELECT unnest(list_value(CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
        |                                       CAST(0.99 AS DOUBLE))) AS p) ps
        |  WHERE cum >= p * n GROUP BY event_type, p),
        |est AS (
        |  SELECT pk.event_type AS event_type, pk.p AS p, pk.qbin AS qbin,
        |   c.cnt AS cnt, c.cum AS cum, c.n AS n
        |  FROM pick pk JOIN c ON pk.event_type = c.event_type AND pk.qbin = c.bin)
        |SELECT event_type, p,
        | round((qbin * 500 + 500.0 * (p * n - (cum - cnt)) / cnt) / 100.0, 6)
        |  AS est_value
        |FROM est ORDER BY event_type, p""".stripMargin)),
    QueryDef("q161_gap_burstiness", gapBurstiness, Some(
      """WITH g AS (
        |  SELECT event_type,
        |   CAST(floor((lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |     - epoch_us(ts)) / 1000000) AS BIGINT) AS gap
        |  FROM events),
        |m AS (
        |  SELECT event_type, CAST(count(gap) AS DOUBLE) AS n,
        |   CAST(sum(gap) AS DOUBLE) AS s1,
        |   CAST(sum(gap * gap) AS DOUBLE) AS s2
        |  FROM g WHERE gap IS NOT NULL GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
        | round(s1 / n, 6) AS mean_gap_s,
        | round(sqrt((s2 - s1*s1/n) / (n - 1.0)), 6) AS sd_gap_s,
        | round(sqrt((s2 - s1*s1/n) / (n - 1.0)) / (s1 / n), 6) AS cv
        |FROM m ORDER BY event_type""".stripMargin)),
    QueryDef("q162_source_overlap", sourceOverlap, Some(
      """WITH g AS (
        |  SELECT DISTINCT source, md5(substr(t, CAST(i AS INT), 5)) AS h
        |  FROM (SELECT source, text AS t FROM documents WHERE len(text) >= 5) d,
        |  LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i) s),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        |ix AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
        |  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
        | round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
        |FROM ix JOIN sz sa ON src_a = sa.source JOIN sz sb ON src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin)),
    QueryDef("q163_weighted_sample", weightedSample, Some(
      """WITH w AS (
        |  SELECT doc_id, n_chars AS wt,
        |   sum(n_chars) OVER (ORDER BY doc_id) AS cum,
        |   sum(n_chars) OVER () AS total
        |  FROM documents),
        |sel AS (
        |  SELECT doc_id, wt,
        |   floor(CAST(cum AS DOUBLE) / (CAST(total AS DOUBLE) / 100))
        |     - floor(CAST(cum - wt AS DOUBLE) / (CAST(total AS DOUBLE) / 100)) AS hits
        |  FROM w)
        |SELECT doc_id, wt, CAST(hits AS BIGINT) AS n_hits
        |FROM sel WHERE hits >= 1 ORDER BY doc_id""".stripMargin)),
    QueryDef("q164_share_of_parent", shareOfParent, Some(
      """WITH m AS (
        |  SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
        |   month(o_orderdate) AS mon,
        |   sum(CAST(round(o_totalprice*100) AS BIGINT)) AS rev
        |  FROM orders GROUP BY 1, 2, 3)
        |SELECT yr, qtr, mon, CAST(rev AS DOUBLE)/100.0 AS revenue,
        | round(CAST(rev AS DOUBLE) / sum(rev) OVER (PARTITION BY yr, qtr), 6)
        |  AS share_of_quarter,
        | round(CAST(rev AS DOUBLE) / sum(rev) OVER (PARTITION BY yr), 6)
        |  AS share_of_year
        |FROM m ORDER BY yr, mon""".stripMargin)),
    QueryDef("q165_rolling_wau", rollingWau, Some(
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM act),
        |sup AS (
        |  SELECT user_id,
        |   unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS d
        |  FROM act),
        |wau AS (
        |  SELECT CAST(d AS DATE) AS day, count(DISTINCT user_id) AS wau
        |  FROM sup WHERE CAST(d AS DATE) IN (SELECT day FROM days) GROUP BY 1),
        |dau AS (SELECT day, count(*) AS dau FROM act GROUP BY day)
        |SELECT day, dau, wau, round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin)),
    QueryDef("q166_new_vs_returning", newVsReturning, Some(
      """WITH first AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
        |  GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT day, count(*) AS active_users,
        | count(*) FILTER (WHERE day = first_day) AS new_users,
        | count(*) FILTER (WHERE day > first_day) AS returning_users
        |FROM act JOIN first USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin)))
}
