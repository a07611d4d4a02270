package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.{QueryDef, Tables}

/** Core relational operator surface (SURVEY.md §2.2/2.3/2.4/2.5 generalized
  * over the testdata star schema). Every query is deterministic: explicit
  * total-order ORDER BY, aggregated doubles rounded, column names aligned
  * with the DuckDB oracle SQL.
  *
  * Scale notes (100 TB design stance):
  *  - dimension joins (part/customer/nation/region) are broadcast — no
  *    shuffle of the fact table for enrichment;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key once,
  *    and AQE handles skew;
  *  - aggregations are partial (map-side combine) by construction —
  *    plain groupBy/agg, no driver-side loops anywhere.
  */
object RelationalQueries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** TPC-H Q1-style pricing summary: scan → filter → hash agg → sort.
    * Money sums run in exact integer cents (Exact.scala) — order-
    * independent, so the result is bit-identical to the oracle's. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val c = Exact.cents(col("l_extendedprice"))
    val d = Exact.cents(col("l_discount"))
    val tx = Exact.cents(col("l_tax"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        (sum(c) / lit(100.0)).as("sum_base_price"),
        (sum(c * (lit(100L) - d)) / lit(10000.0)).as("sum_disc_price"),
        (sum(c * (lit(100L) - d) * (lit(100L) + tx)) / lit(1000000.0)).as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (sum(c) / lit(100.0) / count(lit(1))).as("avg_price"),
        (sum(d) / lit(100.0) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Predicate + projection; filters push to the parquet scan. */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"),
        (col("l_extendedprice") * col("l_discount")).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Revenue in exact cent·percent units: order-independent long sum. */
  private def revenueExact: Column =
    sum(Exact.cents(col("l_extendedprice")) * (lit(100L) - Exact.cents(col("l_discount")))) / lit(10000.0)

  /** Broadcast hash join: 200-row part dim against the lineitem fact. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(revenueExact.as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  /** Fact-fact join forced to sort-merge (the strategy a 100 TB
    * lineitem ⋈ orders needs — neither side broadcastable). */
  def joinSortMerge(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").hint("merge")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("total_qty"))
      .orderBy("o_orderpriority")

  /** Left outer join + per-key rollup (customer spend incl. zero-order customers). */
  def joinLeft(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        (coalesce(sum(Exact.cents(col("o_totalprice"))), lit(0L)) / lit(100.0)).as("total_spend"))
      .orderBy("c_custkey")

  /** Left-semi join = EXISTS. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 200000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Left-anti join = NOT EXISTS (customers with no very-large order). */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 430000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Cross join of the two tiny dims (5 × 25 rows). */
  def joinCross(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")

  /** Exact distinct aggregation (expand + two-phase agg under the hood). */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** ROLLUP grouping sets; grouping nulls normalized to 'ALL' for a total order. */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(Exact.sumMoney(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_price"), col("n"))
      .orderBy("flag", "status")

  /** CUBE grouping sets over orders. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(Exact.sumMoney(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("sum_price"), col("n"))
      .orderBy("status", "priority")

  /** Ranking window: top-5 line items by price within each return flag.
    *
    * Two-phase salted top-k: the naive single window on l_returnflag
    * has only |flags| (=3) partitions — 3 tasks each sorting n/3 rows,
    * the classic low-cardinality window bottleneck. Phase 1 ranks
    * within (flag, salt-64) — full parallelism, prunes to ≤ flags·64·5
    * rows — and phase 2 ranks the survivors exactly. Any global top-5
    * row is necessarily a top-5 row of its salt bucket, so the result
    * is identical. */
  def windowRank(s: SparkSession, dir: String): DataFrame =
    Ops.topKPerGroup(
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
      Seq(col("l_returnflag")),
      Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
      k = 5)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("rank").cast("long").as("rn"))
      .orderBy("l_returnflag", "rn")

  /** Cumulative-sum frame (the inventory-replay primitive, SURVEY §2.4 A3). */
  def windowCumsum(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity")).over(w).as("running_qty"))
      .orderBy("l_partkey", "l_orderkey", "l_linenumber")
  }

  /** lead/lag analytics per user ordered by event time. */
  def windowLeadLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .orderBy("user_id", "event_id")
  }

  /** Global top-k: orderBy + limit (TakeOrderedAndProject — no full sort). */
  def topK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** UNION ALL (bag union) of two filtered branches. */
  def setUnion(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val a = e.filter(col("event_type") === "click").select(col("event_id"), col("user_id"), col("event_type"))
    val b = e.filter(col("event_type") === "purchase").select(col("event_id"), col("user_id"), col("event_type"))
    a.unionByName(b).orderBy("event_id")
  }

  /** INTERSECT (set semantics). */
  def setIntersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      .intersect(t(s, dir, "customer").select(col("c_custkey").as("custkey")))
      .orderBy("custkey")

  /** EXCEPT (set semantics): customers with no very-large order. */
  def setExcept(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_custkey").as("custkey"))
      .except(t(s, dir, "orders").filter(col("o_totalprice") > 430000.0)
        .select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  /** Scalar date/string/math function surface (SURVEY §2.2 P5-P8). */
  def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        upper(col("o_orderpriority")).as("pri_upper"),
        substring(col("o_orderstatus"), 1, 1).as("status_c"),
        length(col("o_orderpriority")).as("pri_len"),
        round(abs(col("o_totalprice") - 100000.0), 2).as("abs_diff"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy("o_orderkey")

  /** explode(array) → word count over documents (SURVEY §2.2 P9). */
  def explodeWordcount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(100)

  /** Daily event summary (the candy daily_summary shape, SURVEY §2.4 A2). */
  def dailySummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(
        count(lit(1)).as("num_events"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(Exact.cents(col("value"))) / lit(100.0)).as("total_value"),
        (sum(Exact.cents(col("value"))) / lit(100.0) / count(lit(1))).as("avg_value"))
      .orderBy("event_date")

  /** Gap-based sessionization via lag window (30-min inactivity cutoff). */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      .select(col("user_id"),
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1).otherwise(0).as("is_new"))
      .groupBy(col("user_id"))
      .agg(count(when(col("is_new") === 1, 1)).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** 5-way star join: fact → orders → customer → nation → region.
    * Dims broadcast; only the fact-fact edge shuffles. */
  def multiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(revenueExact.as("revenue"), count(lit(1)).as("n"))
      .orderBy("r_name")

  /** q109: market-basket pair mining — the frequent-itemset primitive:
    * which part pairs are bought together in the most orders? The pair
    * generation is a SELF-join co-partitioned on the order key (one
    * shuffle; both sides are the same scan), with `pa < pb` making each
    * unordered pair canonical, and a per-(order, part) distinct first
    * so a part appearing on two lines of one order can't inflate
    * counts. Pair mass is bounded by per-order line count (≤ 7 lines →
    * ≤ 21 pairs/order), so the explosion is a small constant factor of
    * the fact table at ANY scale — the property that separates basket
    * mining from all-pairs similarity. Top pairs ranked with a total
    * order (count desc, pa, pb). */
  def basketPairs(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val items = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val a = items.select(col("ok"), col("p").as("pa"))
    val b = items.select(col("ok").as("ok2"), col("p").as("pb"))
    a.join(b, col("ok") === col("ok2") && col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("pa"), col("pb"))
      .limit(topK)
  }

  /** TPC-H Q5 (local supplier volume) — the canonical 6-way star with
    * the join predicate that makes it interesting: the supplier must be
    * in the CUSTOMER's nation (c_nationkey = s_nationkey crosses two
    * dimension arms), so the optimizer cannot treat the dims as
    * independent snowflake branches. Dates shifted to this dataset's
    * 1995-2001 span; region pinned to ASIA. Plan: dims broadcast, the
    * one fact-fact edge (lineitem⋈orders) shuffles, the date filter
    * pushes into the orders scan. Revenue in exact cent·percent units
    * so the DESC sort is engine-exact. */
  def tpchQ5(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(revenueExact.as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /** Run `sql` with the named tables registered as per-call unique temp
    * views (placeholders `${name}` in the text), dropped as soon as the
    * frame is built — spark.sql resolves views at analysis time, so the
    * returned frame stays executable and the session catalog is left
    * exactly as found (same pattern as SimilarityOps.sqlCosineTopK). */
  private[operators] def sqlOn(s: SparkSession, dir: String, tables: Seq[String])(
      sql: Map[String, String] => String): DataFrame = {
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val views = tables.map(n => n -> s"graft_${n}_$sfx").toMap
    views.foreach { case (n, v) => t(s, dir, n).createOrReplaceTempView(v) }
    try s.sql(sql(views))
    finally views.values.foreach(s.catalog.dropTempView)
  }

  /** TPC-H Q17 shape — a CORRELATED SCALAR SUBQUERY: lineitem rows
    * whose quantity is below 0.2× their own part's average quantity
    * (small-order revenue analysis). The naive reading is a per-row
    * re-aggregation of lineitem; Catalyst's decorrelation rewrites it
    * into ONE per-part aggregate joined back to the fact table — the
    * plan a human would hand-write, pinned by PlanSpec (no subquery
    * expression survives into the physical plan). Money exact via
    * integer cents; the /700.0 division is one IEEE op from an exact
    * integer so the output is engine-exact. The threshold compare is
    * double (0.2·avg) against integral quantities — a last-bit avg
    * difference across engines cannot flip any row. */
  def correlatedScalarSubquery(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("lineitem", "part")) { v =>
      s"""SELECT p_brand, count(*) AS n_small,
         | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/700.0 AS avg_yearly
         |FROM ${v("lineitem")} JOIN ${v("part")} ON p_partkey = l_partkey
         |WHERE l_quantity < (
         |  SELECT 0.2 * avg(l2.l_quantity)
         |  FROM ${v("lineitem")} l2 WHERE l2.l_partkey = p_partkey)
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin
    }

  /** TPC-H Q4 shape — EXISTS decorrelation: orders in a quarter having
    * at least one returned line. Catalyst rewrites the correlated
    * EXISTS into a LEFT SEMI join on the order key (pinned by
    * PlanSpec), so the subquery costs one co-partitioned join at any
    * scale — never a per-row probe. */
  def existsSubquery(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("orders", "lineitem")) { v =>
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM ${v("orders")}
         |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
         |  AND EXISTS (
         |    SELECT 1 FROM ${v("lineitem")}
         |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    }

  /** NOT EXISTS — the anti-join half of decorrelation (q111 covers the
    * semi half): customers in a market segment who went QUIET for a
    * quarter (no order in 1996-Q3), per nation — the churn-candidate
    * query every retention pipeline runs. Catalyst rewrites the
    * correlated NOT EXISTS into a LEFT ANTI join on the customer key
    * (pinned by PlanSpec) — one co-partitioned join at any scale,
    * never a per-row probe. */
  def notExistsSubquery(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("customer", "orders")) { v =>
      s"""SELECT c_nationkey, count(*) AS n_quiet_customers,
         | CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_acctbal
         |FROM ${v("customer")}
         |WHERE c_mktsegment = 'BUILDING'
         |  AND NOT EXISTS (
         |    SELECT 1 FROM ${v("orders")}
         |    WHERE o_custkey = c_custkey
         |      AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
         |      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00')
         |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
    }

  /** Semi-structured extraction: events.props is a JSON string column
    * (the shape every event pipeline carries); parse it with a TYPED
    * from_json schema — codegen'd, null-safe on malformed input — and
    * aggregate the extracted field per event type. At scale the parse
    * is per-row map work and the aggregate is the only shuffle;
    * declaring a schema (vs schemaless get_json_object per field) also
    * parses the document once however many fields are read. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  /** Semi-structured extraction via VARIANT (Spark 4's open
    * semi-structured type): parse_json turns events.props into a
    * binary-encoded variant ONCE per row, variant_get then extracts
    * typed paths from the encoded form without re-parsing the text —
    * at 100 TB the difference between one JSON parse per row and one
    * per extracted field, and unlike q116's from_json the reader needs
    * NO declared schema (schema drift in the props blob never breaks
    * the scan; a new field is just a new path). The absent-path probe
    * pins variant_get's missing-path → NULL contract. */
  def variantExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "int").as("k"),
        variant_get(col("v"), "$.absent", "string").as("absent"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("absent")).as("n_absent"))
      .orderBy("event_type")

  /** Unpivot/melt (Dataset.unpivot — wide→long reshaping, the inverse
    * of q29's pivot): per-nation metrics melted to (id, metric, value)
    * rows. Map-only reshape; the oracle is the UNION ALL expansion. */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).cast("double").as("n_customers"),
        (sum(Exact.cents(col("c_acctbal"))) / 100.0).as("sum_acctbal"))
      .unpivot(Array(col("c_nationkey")),
        Array(col("n_customers"), col("sum_acctbal")), "metric", "value")
      .orderBy("c_nationkey", "metric")

  /** Exact interpolated percentiles per group, plus a sample standard
    * deviation computed from exact integer sums (Σx, Σx² in cents) so the
    * value is order-independent — stddev_samp's streaming merge is not. */
  def percentiles(s: SparkSession, dir: String): DataFrame = {
    val c = Exact.cents(col("o_totalprice"))
    val n = count(lit(1)).cast("double")
    val sx = sum(c).cast("double")
    val sxx = sum((c * c).cast(DecimalType(38, 0))).cast("double")
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        round(sqrt((sxx - sx * sx / n) / (n - lit(1.0))) / lit(100.0), 2).as("sd"))
      .orderBy("o_orderstatus")
  }

  /** Sketch-based percentiles with an oracle-checked accuracy bound
    * (same contract as q31's approx_count_distinct): the exact
    * percentiles are the graded values, and the approx_percentile
    * sketch — the only version that scales to 100 TB, since exact
    * percentile materializes every group's values — must land within
    * 1% of them, surfaced as a boolean the oracle expects to be true.
    * Rank error of the sketch at accuracy=10000 is ≤0.01%, so the 1%
    * value bound has huge margin on any non-pathological distribution. */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame = {
    // interpolate on exact integer cents, not on 2dp doubles: when the
    // interpolated value lands on a half-cent, engines disagreeing in
    // the last double bit would round to different cents — on integers
    // the interpolation inputs are exact, so both engines produce the
    // same double bit-for-bit and no rounding step exists at all
    def p(q: Double) = expr(
      s"percentile(CAST(round(l_extendedprice*100) AS BIGINT), $q)") / 100.0
    def ap(q: Double) = expr(
      s"approx_percentile(CAST(round(l_extendedprice*100) AS BIGINT), $q, 10000)") / 100.0
    def within(q: Double) = abs(ap(q) - p(q)) / p(q) <= 0.01
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        p(0.5).as("p50"),
        p(0.9).as("p90"),
        (within(0.5) && within(0.9)).as("approx_within_1pct"))
      .orderBy("l_returnflag")
  }

  /** The declared face of Skew.saltedJoin: lineitem ⋈ supplier through
    * the salted (key, salt) shuffle — each hot key spreads over 8
    * reducers — then the revenue rollup. Result must equal the plain
    * join byte-for-byte (the oracle IS the plain join), which is the
    * whole point: salting changes the shuffle layout, never the answer. */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val large = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
    val small = t(s, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    Skew.saltedJoin(large, small, "suppkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        Exact.sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy("s_nationkey")
  }

  /** q207: the OTHER half of the skew playbook next to q70's manual
    * salting — AQE's RUNTIME re-plan. A deterministic hot key
    * (three quarters of lineitem collapse onto suppkey 1 via a CASE
    * both engines compute identically) makes one shuffle partition
    * dwarf the rest; the join runs as sort-merge (broadcast disabled —
    * broadcast joins cannot skew) on a SESSION CLONE whose AQE
    * thresholds are sized to the fixture (skewedPartitionThreshold
    * 64k / advisory 16k / factor 2 against lz4-compressed shuffle
    * bytes — production keeps the 256m/64m defaults; the RATIO is the
    * contract, the absolute is fixture
    * scale), and OptimizeSkewedJoin splits the hot partition into
    * advisory-sized chunks at runtime — no salting column, no code
    * change, the optimizer's own answer to the problem q70 solves by
    * hand. AqeSkewSpec pins `skew=true` in the final adaptive plan and
    * byte-equality with the AQE-off plan; the oracle is the plain join
    * over the same CASE mapping — the re-plan changes the schedule,
    * never the answer. Clone isolation (SessionClone, the q203
    * device): the caller's conf never sees these thresholds. */
  def aqeSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ss = org.apache.spark.sql.graft.SessionClone(s)
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE splits a skewed partition by regrouping MAP-OUTPUT BLOCKS,
    // so the skewed side needs >1 map task to be splittable at all.
    // The fixture is one single-row-group parquet file per table — ONE
    // non-empty scan task no matter the split size (measured: the rule
    // saw the 468 KB hot partition, counted "skewed: 0", because all
    // its bytes sat in one block). A production fact scan has
    // thousands of map tasks; the round-robin repartition restores
    // that multi-mapper shuffle shape (same valve as Bench's 1 MB
    // maxPartitionBytes, documented in SCALING.md "Fixture splits").
    val large = t(ss, dir, "lineitem").select(
      when(col("l_suppkey") % 4 =!= 0, lit(1L))
        .otherwise(col("l_suppkey")).as("suppkey"),
      col("l_extendedprice"))
      .repartition(16)
    val small = t(ss, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    large.join(small, "suppkey")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_items"),
        Exact.sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy("s_nationkey")
  }

  /** Explicit GROUPING SETS (beyond rollup/cube): per-flag, per-status,
    * and grand-total rows in one aggregation pass. */
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(Exact.sumMoney(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_price"), col("n"))
      .orderBy("flag", "status")

  /** Deterministic argmin/argmax via lexicographic struct extremes
    * (plain max_by ties are engine-dependent; max(struct) is total). */
  def argMinMax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        max(struct(col("o_totalprice").as("p"), col("o_orderkey").as("k"))).as("mx"),
        min(struct(col("o_totalprice").as("p"), col("o_orderkey").as("k"))).as("mn"))
      .select(col("o_orderstatus"),
        col("mx.k").as("max_order"), col("mx.p").as("max_price"),
        col("mn.k").as("min_order"), col("mn.p").as("min_price"))
      .orderBy("o_orderstatus")

  /** Ordered string aggregation (listagg) per group. */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy("r_name")

  /** Conditional aggregation: FILTER-style counts and sums. */
  def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("value") > 50.0, 1)).as("n_big"),
        (coalesce(sum(when(col("value") > 50.0, Exact.cents(col("value")))), lit(0L))
          / lit(100.0)).as("big_value"),
        countDistinct(when(col("value") > 50.0, col("user_id"))).as("big_users"))
      .orderBy("event_type")

  /** PIVOT: per-day quantity totals fanned out by return flag. */
  def pivotAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(to_date(col("l_shipdate")).as("ship_date"), col("l_returnflag"), col("l_quantity"))
      .groupBy(col("ship_date"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity")))
      .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n", "R" -> "qty_r"))
      // a flag absent on a day yields a null cell (the coalesce must sit
      // outside the pivot: inside it never sees empty groups)
      .na.fill(0.0, Seq("qty_a", "qty_n", "qty_r"))
      .orderBy("ship_date")
      .limit(200)

  /** Tumbling 1-hour event-time windows (batch form of the streaming
    * windowed aggregation; integer epoch buckets for oracle parity). */
  def tumblingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy((unix_micros(col("ts")).cast("long") / lit(3600000000L))
        .cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        (sum(Exact.cents(col("value"))) / lit(100.0)).as("total_value"))
      .select(timestamp_micros(col("bucket") * lit(3600000000L)).as("hour_start"),
        col("n"), col("total_value"))
      .orderBy("hour_start")

  /** approx_count_distinct (HLL++): sketch values are engine-specific,
    * so the oracle-checkable output is the EXACT distinct count plus a
    * boolean asserting the sketch landed within 10% of it — the
    * accuracy contract itself goes through the hash-match. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey")).as("approx"))
      .select(col("l_returnflag"), col("exact_orders"),
        (abs(col("approx") - col("exact_orders"))
          <= col("exact_orders") * 0.1).as("within_10pct"))
      .orderBy("l_returnflag")

  /** Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) — multiplicity-
    * preserving, unlike q16/q17's set semantics. */
  def bagOps(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id").as("id"))
    val ord = t(s, dir, "orders").select(col("o_custkey").as("id"))
    ev.intersectAll(ord).withColumn("op", lit("intersect_all"))
      .unionByName(ev.exceptAll(ord).withColumn("op", lit("except_all")))
      .groupBy(col("op"), col("id")).agg(count(lit(1)).as("n"))
      .orderBy("op", "id")
  }

  /** first_value / last_value / nth_value over a full-partition frame. */
  def windowFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        first(col("event_type")).over(w).as("first_type"),
        last(col("event_type")).over(w).as("last_type"),
        nth_value(col("event_type"), 2).over(w).as("second_type"))
      .orderBy("user_id", "event_id")
  }

  /** ntile / percent_rank / cume_dist ranking analytics (ordering made
    * total with the orderkey tie-break — ntile on ties is otherwise
    * nondeterministic). */
  def windowRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  /** Latest-order-per-(customer, day) rollup — the right side of BOTH
    * as-of formulations (q36 union+window, q93 physical operator) and
    * of their equivalence spec: one definition, so the "two
    * formulations, one oracle" property can't silently decouple. The
    * max() tie-break makes it unique per (key, time), the as-of
    * contract. */
  private[operators] def ordersAsofRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))

  /** As-of join (Ops.asofJoin): each event picks up the user's latest
    * order at-or-before the event time. Right side pre-deduped to one
    * row per (key, time) for determinism. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val orders = ordersAsofRollup(s, dir)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
    Ops.asofJoin(events, orders, "user_id", "ts", "o_orderdate", Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("o_orderkey").as("last_order"))
      .orderBy("event_id")
  }

  /** q206: q36's as-of semantics written in DuckDB's ASOF LEFT JOIN
    * GRAMMAR and executed by spark.sql through the injected parser
    * (org.apache.spark.sql.graft.AsofSqlParser → AsofJoinResolution →
    * the native AsofJoinExec merge) — the statement a reference analyst
    * pastes runs VERBATIM on this engine. The oracle is the same text
    * over the raw tables; grammar must change nothing but the front
    * door. The events `ts` arrives through Tables' normalization
    * (micros TimestampType), so the SQL compares like-typed columns —
    * the same contract every other declared query inherits. */
  def asofSqlGrammar(s: SparkSession, dir: String): DataFrame =
    sqlOn(s, dir, Seq("events", "orders")) { v =>
      s"""WITH r AS (
         |  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
         |  FROM ${v("orders")} GROUP BY o_custkey, o_orderdate)
         |SELECT e.event_id, e.user_id, r.o_orderkey AS last_order
         |FROM ${v("events")} e ASOF LEFT JOIN r
         |  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
         |ORDER BY e.event_id""".stripMargin
    }

  /** FORWARD as-of join (Ops.asofJoinForward): each event picks up the
    * user's EARLIEST order at-or-after the event time — "what did this
    * session lead to". Same oracle machinery as q36 with the ASOF
    * inequality flipped. */
  def asofJoinForward(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
    val orders = ordersAsofRollup(s, dir)
      .select(col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
    Ops.asofJoinForward(events, orders, "user_id", "ts", "o_orderdate", Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("o_orderkey").as("next_order"))
      .orderBy("event_id")
  }

  /** Interval range join, bucketed: events falling in each order's
    * 7-day window for the same customer. The naive form is an
    * inequality join (cross-product per key); bucketing by day turns
    * it into an equi-join on (key, day-bucket) — the right side
    * explodes to its ≤8 covered buckets, each event lives in exactly
    * one bucket, so no pair is matched twice and the shuffle key is
    * (customer, day). This is the plan shape that survives 100 TB;
    * Spark's optimizer cannot derive it from the inequality predicate.
    */
  def rangeJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        (unix_micros(col("ts").cast("timestamp")) / dayUs).cast("long").as("day"))
    val ord = t(s, dir, "orders")
      .select(col("o_custkey").as("user_id"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("start_us"))
      .withColumn("day", explode(sequence(
        (col("start_us") / dayUs).cast("long"),
        ((col("start_us") + lit(7L) * dayUs) / dayUs).cast("long"))))
    val matches = ord.join(ev, Seq("user_id", "day"))
      .filter(unix_micros(col("ts").cast("timestamp")) >= col("start_us")
        && unix_micros(col("ts").cast("timestamp")) < col("start_us") + lit(7L) * dayUs)
      .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n_events_7d"))
    t(s, dir, "orders").select(col("o_orderkey"))
      .join(matches, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), coalesce(col("n_events_7d"), lit(0L)).as("n_events_7d"))
      .orderBy("o_orderkey")
  }

  /** The NAIVE point-in-interval join — no equi key, no manual
    * bucketing — planned scalably by the injected BucketedRangeJoinRule
    * (org.apache.spark.sql.graft): the rule detects the interval
    * predicate and rewrites it to q37's bucketed equi-join shape
    * automatically, so the user writes the declarative condition and
    * still avoids the nested-loop cross product. Intervals are 6-hour
    * windows seeded by the first 20 events (events and orders don't
    * overlap in time in this dataset); width = 1 hour of microseconds,
    * so each interval spans ≤ 7 buckets. The plan pin (PlanSpec)
    * asserts no nested-loop join survives. */
  def rangeJoinAuto(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = t(s, dir, "events").select(
      unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val iv = t(s, dir, "events").filter(col("event_id") < 20)
      .select(col("event_id").as("win_id"),
        unix_micros(col("ts").cast("timestamp")).as("start_us"))
      .withColumn("end_us", col("start_us") + lit(6L) * lit(hourUs))
    val out = ev
      .join(iv, col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
      .groupBy(col("win_id")).agg(count(lit(1)).as("n_events"))
      .orderBy("win_id")
    // width is a per-query data statement, so it is baked into THIS
    // frame's logical plan (rewriteFrame) rather than set session-wide
    // — and a conf-scoped planning window would not survive the fresh
    // QueryExecution that every later count()/write() builds: the
    // re-optimization would silently restore the nested-loop join in
    // exactly the deployment paths (Verify/Bench) that execute the
    // frame. The rewritten logical join carries an equi key, so any
    // re-planning keeps the bucketed shape.
    org.apache.spark.sql.graft.BucketedRangeJoinRule.rewriteFrame(out, hourUs)
  }

  /** q36's as-of semantics executed by the CUSTOM physical operator
    * (org.apache.spark.sql.graft.AsofJoinExec — logical node, planner
    * strategy, and a per-partition merge scan, injected via
    * SparkSessionExtensions): one forward pass over co-partitioned
    * (key, time)-sorted children, one buffered right row of state.
    * Same DuckDB ASOF oracle as q36 — two independent formulations,
    * one truth. */
  def asofJoinPhysical(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val rollup = ordersAsofRollup(s, dir)
      .select(col("o_custkey").as("r_user"),
        col("o_orderdate").cast("timestamp").as("r_ts"), col("o_orderkey"))
    org.apache.spark.sql.graft.GraftPlans
      .asofJoin(events, rollup, "user_id", "r_user", "ts", "r_ts")
      .select(col("event_id"), col("user_id"), col("o_orderkey").as("last_order"))
      .orderBy("event_id")
  }

  /** Fuzzy duplicate detection over a DIMENSION column's distinct
    * values — the record-linkage / category-cleanup primitive: find
    * near-identical spellings ("cold anvil" vs "old anvil") before
    * they fragment a groupBy or train a model on split categories.
    * Shape matters at 100 TB: the quadratic pairing runs over the
    * DISTINCT value set (bounded by the column's category cardinality
    * — thousands, not the fact row count) after ONE distinct
    * aggregation of the raw column; the distinct set is broadcast and
    * the pair + edit-distance verify is map-side, with Spark's 3-arg
    * `levenshtein` abandoning each cell's DP loop as soon as the
    * running distance exceeds `maxDist` (it returns -1 past the
    * threshold — the O(len·maxDist) banded form, not O(len²)). For an
    * unbounded-cardinality column this shape does not apply — block
    * first (q56/q66's LSH machinery is the same pattern at document
    * scale). */
  def fuzzyDimPairs(s: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    val d = t(s, dir, "part").select(col("p_name")).distinct()
    val a = d.select(col("p_name").as("name_a"))
    val b = d.select(col("p_name").as("name_b"))
    a.join(broadcast(b), col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .orderBy("name_a", "name_b")
  }

  /** Per-group statistical profile — Pearson correlation, sample
    * covariance, sample standard deviation — computed from EXACT
    * integral moments (n, Σx, Σy, Σx², Σy², Σxy in integer units /
    * cents, product sums widened to decimal) instead of the built-in
    * corr/covar_samp/stddev_samp, whose double partial-merge is
    * order-dependent across partitions (different last bits per run
    * and per engine). Integer moment sums are exact and order-
    * independent, and the closing formula is then ONE deterministic
    * IEEE expression evaluated identically by Spark and the oracle —
    * the q24 stddev trick extended to two variables. The moments are
    * also the MERGEABLE form: partial aggregation applies, and a
    * 100 TB rollup ships six numbers per group, not the values. */
  def statsProfile(s: SparkSession, dir: String): DataFrame = {
    val x = round(col("l_quantity")).cast("long") // integral in the data contract
    val y = Exact.cents(col("l_extendedprice"))
    def d(c: Column): Column = c.cast("double")
    val n = count(lit(1)).cast("double")
    val sx = d(sum(x))
    val sy = d(sum(y))
    val sxx = d(sum((x * x).cast(DecimalType(38, 0))))
    val syy = d(sum((y * y).cast(DecimalType(38, 0))))
    val sxy = d(sum((x * y).cast(DecimalType(38, 0))))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr_qty_price"),
        round((sxy - sx * sy / n) / (n - lit(1.0)) / 100.0, 4).as("covar_qty_price"),
        round(sqrt((syy - sy * sy / n) / (n - lit(1.0))) / 100.0, 4).as("sd_price"))
      .orderBy("l_returnflag")
  }

  /** Time-series densification: resample each user's event stream to a
    * contiguous DAILY grid over their observed [first, last] day and
    * forward-fill the days with no activity — the standard step before
    * any per-day feature extraction, trend fit, or retention metric
    * that assumes a gapless series (the Forecaster's daily frame is
    * exactly this shape). Plan: one partial-aggregated rollup to
    * (user, day) in exact cents, a per-user min/max, the grid as a
    * `sequence` explode (bounded by the date SPAN, never the event
    * count — a year is 365 rows per user no matter how many events),
    * a left join back, and one per-user window for the carry-forward
    * (`last(_, ignoreNulls)` over a running frame — O(n) per
    * partition). Every shuffle keys on user_id or (user_id, day); no
    * stage depends on per-user event volume beyond the initial
    * rollup. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("user_id"), col("ts").cast("date").as("day"))
      .agg(sum(Exact.cents(col("value"))).as("cents"))
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("user_id"), explode(sequence(col("lo"), col("hi"))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        (last(col("cents"), ignoreNulls = true).over(w) / 100.0).as("daily_value"),
        col("cents").isNull.as("was_filled"))
      .orderBy("user_id", "day")
  }

  val defs: Seq[QueryDef] = Seq(
    // q93 = q36's semantics through the custom physical operator; the
    // oracle is intentionally identical
    QueryDef("q93_asof_physical", asofJoinPhysical, Some(
      """WITH r AS (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, r.o_orderkey AS last_order
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin)),
    QueryDef("q88_range_join_auto", rangeJoinAuto, Some(
      """WITH iv AS (
        |  SELECT event_id AS win_id, ts AS start_ts FROM events WHERE event_id < 20)
        |SELECT iv.win_id, count(*) AS n_events
        |FROM iv JOIN events e
        |  ON e.ts >= iv.start_ts AND e.ts < iv.start_ts + INTERVAL 6 HOUR
        |GROUP BY iv.win_id ORDER BY iv.win_id""".stripMargin)),
    QueryDef("q32_bag_ops", bagOps, Some(
      """SELECT op, id, count(*) AS n FROM (
        |  SELECT 'intersect_all' AS op, id FROM (
        |    SELECT user_id AS id FROM events INTERSECT ALL SELECT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT 'except_all' AS op, id FROM (
        |    SELECT user_id AS id FROM events EXCEPT ALL SELECT o_custkey FROM orders))
        |GROUP BY op, id ORDER BY op, id""".stripMargin)),
    QueryDef("q33_window_firstlast", windowFirstLast, Some(
      """SELECT user_id, event_id,
        | first_value(event_type) OVER w AS first_type,
        | last_value(event_type) OVER w AS last_type,
        | nth_value(event_type, 2) OVER w AS second_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin)),
    QueryDef("q34_window_ranks", windowRanks, Some(
      """SELECT o_orderstatus, o_orderkey,
        | ntile(4) OVER w AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin)),
    QueryDef("q36_asof_join", asofJoin, Some(
      """WITH r AS (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, r.o_orderkey AS last_order
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin)),
    // q206 replays the IDENTICAL grammar the declared query executes —
    // both engines parse this text (Spark via the injected ASOF parser)
    QueryDef("q206_asof_sql_grammar", asofSqlGrammar, Some(
      """WITH r AS (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, r.o_orderkey AS last_order
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin)),
    QueryDef("q37_range_join", rangeJoinBucketed, Some(
      """SELECT o.o_orderkey,
        | count(e.event_id) AS n_events_7d
        |FROM orders o LEFT JOIN events e
        |  ON e.user_id = o.o_custkey
        | AND e.ts >= o.o_orderdate
        | AND e.ts < o.o_orderdate + INTERVAL 7 DAY
        |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin)),
    QueryDef("q31_approx_distinct", approxDistinct, Some(
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
        | true AS within_10pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q25_grouping_sets", groupingSets, Some(
      """SELECT coalesce(l_returnflag,'ALL') AS flag, coalesce(l_linestatus,'ALL') AS status,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin)),
    // portable argmin/argmax: the original DuckDB struct-literal form
    // (max({'p':..,'k':..})).k is lexicographic max-price-then-max-key;
    // the window rewrite reproduces exactly that tie-break and parses
    // in BOTH engines (DuckDB-verified identical on sf0.001/sf0.01)
    QueryDef("q26_argminmax", argMinMax, Some(
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_orderstatus
        |     ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |   row_number() OVER (PARTITION BY o_orderstatus
        |     ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT o_orderstatus,
        | max(CASE WHEN rmax = 1 THEN o_orderkey END) AS max_order,
        | max(CASE WHEN rmax = 1 THEN o_totalprice END) AS max_price,
        | max(CASE WHEN rmin = 1 THEN o_orderkey END) AS min_order,
        | max(CASE WHEN rmin = 1 THEN o_totalprice END) AS min_price
        |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    // portable ordered string-agg: DuckDB's `string_agg(x, ',' ORDER BY x)`
    // is parse-foreign to Spark (and DuckDB rejects WITHIN GROUP for
    // string_agg); list → list_sort → array_to_string parses in both
    // (list/list_sort/array_to_string ride the DuckDialect shims)
    QueryDef("q27_string_agg", stringAgg, Some(
      """SELECT r_name, array_to_string(list_sort(list(n_name)), ',') AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    QueryDef("q28_conditional_agg", conditionalAgg, Some(
      """SELECT event_type, count(*) AS n,
        | count(*) FILTER (WHERE value > 50.0) AS n_big,
        | coalesce(sum(CAST(round(value*100) AS BIGINT)) FILTER (WHERE value > 50.0), 0)/100.0 AS big_value,
        | count(DISTINCT user_id) FILTER (WHERE value > 50.0) AS big_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("q29_pivot", pivotAgg, Some(
      """SELECT CAST(l_shipdate AS DATE) AS ship_date,
        | coalesce(sum(l_quantity) FILTER (WHERE l_returnflag = 'A'), 0) AS qty_a,
        | coalesce(sum(l_quantity) FILTER (WHERE l_returnflag = 'N'), 0) AS qty_n,
        | coalesce(sum(l_quantity) FILTER (WHERE l_returnflag = 'R'), 0) AS qty_r
        |FROM lineitem GROUP BY ship_date ORDER BY ship_date LIMIT 200""".stripMargin)),
    QueryDef("q30_tumbling_window", tumblingWindow, Some(
      """SELECT make_timestamp(bucket * 3600000000) AS hour_start, n, total_value
        |FROM (
        |  SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS bucket, count(*) AS n,
        |   sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value
        |  FROM events GROUP BY bucket)
        |ORDER BY hour_start""".stripMargin)),
    QueryDef("q01_pricing_summary", pricingSummary, Some(
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS sum_disc_price,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT))*(100 + CAST(round(l_tax*100) AS BIGINT)))/1000000.0 AS sum_charge,
        | sum(l_quantity)/count(*) AS avg_qty,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0/count(*) AS avg_price,
        | sum(CAST(round(l_discount*100) AS BIGINT))/100.0/count(*) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("q02_filter_project", filterProject, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
        | l_extendedprice*l_discount AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("q03_join_broadcast", joinBroadcast, Some(
      """SELECT p_brand,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    QueryDef("q04_join_sortmerge", joinSortMerge, Some(
      """SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("q05_join_left", joinLeft, Some(
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
        | coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0)/100.0 AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin)),
    QueryDef("q06_join_semi", joinSemi, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("q07_join_anti", joinAnti, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 430000)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("q08_join_cross", joinCross,
      Some("SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name")),
    QueryDef("q09_agg_distinct", aggDistinct, Some(
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q10_rollup", rollupAgg, Some(
      """SELECT coalesce(l_returnflag,'ALL') AS flag, coalesce(l_linestatus,'ALL') AS status,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_price, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin)),
    QueryDef("q11_cube", cubeAgg, Some(
      """SELECT coalesce(o_orderstatus,'ALL') AS status, coalesce(o_orderpriority,'ALL') AS priority,
        | sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS sum_price, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)),
    QueryDef("q12_window_rank", windowRank, Some(
      """SELECT * FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |   row_number() OVER (PARTITION BY l_returnflag
        |     ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin)),
    QueryDef("q13_window_cumsum", windowCumsum, Some(
      """SELECT l_partkey, l_orderkey, l_linenumber,
        | sum(l_quantity) OVER (PARTITION BY l_partkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem ORDER BY l_partkey, l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("q14_topk", topK, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    QueryDef("q15_set_union", setUnion, Some(
      """SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, user_id, event_type FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin)),
    QueryDef("q16_set_intersect", setIntersect, Some(
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT SELECT c_custkey FROM customer ORDER BY custkey""".stripMargin)),
    QueryDef("q17_set_except", setExcept, Some(
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 430000 ORDER BY custkey""".stripMargin)),
    QueryDef("q18_scalar_funcs", scalarFuncs, Some(
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INTEGER) AS yr,
        | CAST(month(o_orderdate) AS INTEGER) AS mo,
        | CAST(day(o_orderdate) AS INTEGER) AS dom,
        | CAST(o_orderdate AS DATE) + 30 AS due_date,
        | upper(o_orderpriority) AS pri_upper,
        | substr(o_orderstatus, 1, 1) AS status_c,
        | CAST(length(o_orderpriority) AS INTEGER) AS pri_len,
        | round(abs(o_totalprice - 100000.0), 2) AS abs_diff,
        | concat(o_orderstatus, '-', o_orderpriority) AS tag,
        | CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    QueryDef("q19_explode_wordcount", explodeWordcount, Some(
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 100""".stripMargin)),
    QueryDef("q20_daily_summary", dailySummary, Some(
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS num_events,
        | count(DISTINCT user_id) AS n_users,
        | sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value,
        | sum(CAST(round(value*100) AS BIGINT))/100.0/count(*) AS avg_value
        |FROM events GROUP BY event_date ORDER BY event_date""".stripMargin)),
    QueryDef("q21_sessionize", sessionize, Some(
      """SELECT user_id,
        | count(*) FILTER (WHERE gap_us IS NULL OR gap_us > 1800000000) AS n_sessions,
        | count(*) AS n_events
        |FROM (SELECT user_id,
        |   epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("q22_multi_join", multiJoin, Some(
      """SELECT r_name,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS revenue,
        | count(*) AS n
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    QueryDef("q106_tpch_q5", tpchQ5, Some(
      """SELECT n_name,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0 AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    QueryDef("q109_basket_pairs", basketPairs(_, _), Some(
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem)
        |SELECT a.p AS pa, b.p AS pb, count(*) AS n_orders
        |FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
        |GROUP BY 1, 2 ORDER BY n_orders DESC, pa, pb LIMIT 20""".stripMargin)),
    // same subquery text as the Spark side: the POINT of q110/q111 is
    // that both engines decorrelate the same declarative form
    QueryDef("q110_scalar_subquery", correlatedScalarSubquery, Some(
      """SELECT p_brand, count(*) AS n_small,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/700.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (
        |  SELECT 0.2 * avg(l2.l_quantity)
        |  FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    QueryDef("q111_exists_subquery", existsSubquery, Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("q113_not_exists_subquery", notExistsSubquery, Some(
      """SELECT c_nationkey, count(*) AS n_quiet_customers,
        | CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_acctbal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    // the forward direction: DuckDB's ASOF with <= picks the NEAREST
    // following right row — exactly asofJoinForward's contract
    QueryDef("q114_asof_forward", asofJoinForward, Some(
      """WITH r AS (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, r.o_orderkey AS next_order
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts <= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin)),
    QueryDef("q116_json_extract", jsonExtract, Some(
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS min_k,
        | CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // variant_get('$.k') == json_extract k; the absent path counts 0
    // (missing path -> NULL in both engines)
    QueryDef("q186_variant_extract", variantExtract, Some(
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        | CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS min_k,
        | CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k,
        | count(json_extract(props, '$.absent')) AS n_absent
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    QueryDef("q117_unpivot", unpivotMetrics, Some(
      """WITH base AS (
        |  SELECT c_nationkey, CAST(count(*) AS DOUBLE) AS n_customers,
        |   CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_acctbal
        |  FROM customer GROUP BY 1)
        |SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM base
        |UNION ALL
        |SELECT c_nationkey, 'sum_acctbal' AS metric, sum_acctbal AS value FROM base
        |ORDER BY c_nationkey, metric""".stripMargin)),
    QueryDef("q23_window_leadlag", windowLeadLag, Some(
      """SELECT user_id, event_id, value,
        | lag(value) OVER w AS prev_value, lead(event_type) OVER w AS next_type
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)),
    QueryDef("q24_percentiles", percentiles, Some(
      """SELECT o_orderstatus,
        | round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p50,
        | round(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p90,
        | min(o_totalprice) AS min_price,
        | max(o_totalprice) AS max_price,
        | round(sqrt((CAST(sum(c*c) AS DOUBLE) - CAST(sum(c) AS DOUBLE)*CAST(sum(c) AS DOUBLE)/CAST(count(*) AS DOUBLE))
        |   / (CAST(count(*) AS DOUBLE) - 1.0)) / 100.0, 2) AS sd
        |FROM (SELECT o_orderstatus, o_totalprice, CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    QueryDef("q69_approx_percentiles", approxPercentiles, Some(
      """SELECT l_returnflag,
        | percentile_cont(0.5) WITHIN GROUP (ORDER BY c)/100.0 AS p50,
        | percentile_cont(0.9) WITHIN GROUP (ORDER BY c)/100.0 AS p90,
        | true AS approx_within_1pct
        |FROM (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) AS c FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q70_skew_salted_join", skewSaltedJoin, Some(
      """SELECT s_nationkey, count(*) AS n_items,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),
    // q207: the plain join over the same deterministic hot-key CASE —
    // AQE's runtime skew split changes the schedule, never the answer
    QueryDef("q207_aqe_skew_join", aqeSkewJoin, Some(
      """SELECT s_nationkey, count(*) AS n_items,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS revenue
        |FROM (SELECT CASE WHEN l_suppkey % 4 <> 0 THEN 1 ELSE l_suppkey END AS suppkey,
        |             l_extendedprice FROM lineitem) l
        |JOIN supplier ON l.suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),
    QueryDef("q119_fuzzy_dim_pairs", fuzzyDimPairs(_, _), Some(
      """WITH d AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM d a JOIN d b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin)),
    QueryDef("q120_stats_profile", statsProfile, Some(
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
        |   CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
        |   CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS sy,
        |   CAST(sum(CAST(round(l_quantity) AS BIGINT)
        |          * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
        |   CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |          * CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS syy,
        |   CAST(sum(CAST(round(l_quantity) AS BIGINT)
        |          * CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | round((nd*sxy - sx*sy) / sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy)), 6)
        |  AS corr_qty_price,
        | round((sxy - sx*sy/nd) / (nd-1.0) / 100.0, 4) AS covar_qty_price,
        | round(sqrt((syy - sy*sy/nd) / (nd-1.0)) / 100.0, 4) AS sd_price
        |FROM m ORDER BY l_returnflag""".stripMargin)),
    // portable spelling: the generator sits at the top level of its own
    // SELECT (Spark can't parse a generator nested inside CAST), and the
    // forward fill uses the count-partition trick — count(cents) OVER
    // increments only on non-null rows, so max() within (user, grp)
    // recovers the carried value without IGNORE NULLS, whose placement
    // is parse-incompatible between the engines (DuckDB: inside the
    // parens; Spark: after them)
    QueryDef("q121_gap_fill", gapFill, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |   sum(CAST(round(value*100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, CAST(day_ts AS DATE) AS day FROM (
        |    SELECT user_id,
        |     unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP),
        |                            INTERVAL 1 DAY)) AS day_ts
        |    FROM (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1))),
        |j AS (SELECT g.user_id, g.day, d.cents
        |      FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day),
        |f AS (
        |  SELECT user_id, day, cents,
        |   count(cents) OVER (PARTITION BY user_id ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM j)
        |SELECT user_id, day,
        | CAST(max(cents) OVER (PARTITION BY user_id, grp) AS DOUBLE) / 100
        |  AS daily_value,
        | cents IS NULL AS was_filled
        |FROM f ORDER BY user_id, day""".stripMargin)))
}
