package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Round-5 surface extensions: the four remaining TPC-H idioms
  * expressible on these fixtures without a partsupp table — Q7 (volume
  * shipping between nation pairs), Q8 (national market share), Q10
  * (returned-item reporting), Q12 (priority counts by conditional
  * aggregation). Reference analog: none as literal queries (the
  * reference runs no TPC-H); these are the highest-frequency real-user
  * join/aggregate shapes on a star schema, per the round-4 review.
  *
  * Fixture adaptations, declared here once: the fixture lineitem has no
  * l_shipmode / l_commitdate / l_receiptdate, so Q12's shipmode becomes
  * l_returnflag (three values, two selected — same two-group CASE
  * aggregation) and its commit-vs-receipt lateness becomes a ship-lag
  * predicate (l_shipdate ≥ 90 days after o_orderdate). Q7/Q8's named
  * nations/regions/types use this fixture's vocabulary (NATION_n,
  * ASIA, STANDARD); dates sit inside the 1995-2001 span.
  *
  * Exactness contract as everywhere in the repo: revenue in exact
  * cent·percent longs (order-independent sums), ratios closed by ONE
  * IEEE division rounded to 6dp, counts as longs, every output totally
  * ordered.
  */
object Tpch2Queries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Exact cent·percent revenue: sum(cents(price) · (100 − cents(disc))). */
  private def revenueExact: Column =
    sum(Exact.cents(col("l_extendedprice")) * (lit(100L) - Exact.cents(col("l_discount")))) / lit(10000.0)

  /** TPC-H Q7 (volume shipping): revenue flowing between a nation PAIR
    * in either direction, by ship year. The interesting predicate is the
    * pair condition — (supp=A ∧ cust=B) ∨ (supp=B ∧ cust=A) crosses the
    * two dimension arms, so no single join can evaluate it; what CAN
    * push down is the union of its supports: each nation dim is
    * pre-filtered to {A, B} (broadcast, and on a cluster the join
    * against the reduced dim semi-reduces supplier/customer before the
    * fact shuffle), leaving only the cross-arm OR as a post-join
    * residual on already-tiny intermediate rows. One fact-fact shuffle
    * (lineitem⋈orders); everything else broadcasts. */
  def tpchQ7(s: SparkSession, dir: String, nationA: String = "NATION_11",
      nationB: String = "NATION_19"): DataFrame = {
    val pair = Seq(nationA, nationB)
    val n1 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
    val n2 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("s_nk"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(n2, col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(revenueExact.as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 (national market share): of all ASIA-customer revenue in
    * STANDARD-type parts, the fraction supplied from NATION_1, by order
    * year — the two-level aggregate-of-join shape (an inner per-row
    * classification folded by an outer ratio-of-sums). Both numerator
    * and denominator come out of ONE aggregation pass (conditional sum
    * over the same exact cent·percent longs), so the "two levels"
    * cost one fact-fact shuffle + one group-by, not two query trees.
    * The part-type filter semi-reduces lineitem via the broadcast dim
    * before the orders shuffle. The share is a single IEEE division of
    * two exact longs, rounded to 6dp. */
  def tpchQ8(s: SparkSession, dir: String, nation: String = "NATION_1",
      region: String = "ASIA", ptype: String = "STANDARD"): DataFrame = {
    val volume = Exact.cents(col("l_extendedprice")) *
      (lit(100L) - Exact.cents(col("l_discount")))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_type") === ptype)),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("s_nk"))
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")).filter(col("r_name") === region),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === nation, volume).otherwise(0L)).as("nat_vol"),
        sum(volume).as("all_vol"))
      .select(col("o_year"),
        round(col("nat_vol") / col("all_vol"), 6).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q10 (returned-item reporting): the top-20 customers by
    * revenue lost to returns in one quarter. Plan pins: the quarter
    * filter pushes into the orders scan, the returnflag filter into the
    * lineitem scan, customer/nation broadcast, and the final top-20 is
    * a TakeOrderedAndProject — no global sort materializes at any
    * scale. Revenue in exact units with c_custkey tie-break, so the
    * top-20 cut is engine-exact. */
  def tpchQ10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(revenueExact.as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q12 (priority counts, fixture-adapted — see object scaladoc):
    * for the two selected returnflag classes, how many LATE lines
    * (shipped ≥ 90 days after the order date) carried urgent/high
    * order priority vs not, over one ship year. The canonical
    * conditional-aggregation shape: one fact-fact join, one group-by,
    * the priority split as two CASE sums in the same pass. The ship-lag
    * predicate references both sides, so it evaluates as a join
    * residual; the year + returnflag filters push into the lineitem
    * scan. */
  def tpchQ12(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, dir, "lineitem")
      .filter(col("l_returnflag").isin("R", "A") &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q4 (order priority checking): orders in one half-year that
    * had at least one LATE line (shipped ≥ 60 days after the order
    * date), counted by priority. The canonical EXISTS shape — declared
    * as a LEFT SEMI join so an order with many late lines counts once
    * and the lineitem side never duplicates rows into the aggregate.
    * The date window pushes into the orders scan (semi-reducing the
    * probe to ~1/12 of orders before any shuffle); the lateness
    * predicate references both sides, so it rides the semi join as a
    * residual. Both sides are facts → one orderkey-hashed shuffle, the
    * priority rollup is five groups. */
  def tpchQ4(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      .join(t(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** TPC-H Q13 (customer order-count distribution): how many customers
    * placed k non-pending orders, for each k (including k=0 — the
    * customers with no orders at all, which is why the canonical form
    * is a LEFT join). Declared aggregate-BEFORE-join: orders collapse
    * to (custkey, count) first, so the fact crosses its one shuffle
    * pre-aggregated and the left join moves one row per customer, not
    * one per order — the shape that survives a 100 TB orders table.
    * The second group-by (distribution over k) lands on ≤ a few dozen
    * groups. Fixture adaptation (no o_comment column): the canonical
    * "not special requests" exclusion becomes o_orderstatus <> 'P'. */
  def tpchQ13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select("c_custkey")
      .join(
        t(s, dir, "orders").filter(col("o_orderstatus") =!= "P")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q17 (small-quantity-order revenue): yearly-average revenue
    * from brand lines whose quantity is below 20% of that part's mean
    * quantity. The canonical correlated scalar subquery
    * (avg per l_partkey) — declared as ONE scan + ONE partkey window:
    * the brand dim broadcasts and semi-reduces lineitem at the scan, a
    * sum/count window over l_partkey supplies the per-part mean to
    * every surviving line without a self-join or second scan.
    * Exactness: qty < 0.2·avg(qty) is evaluated as the all-integer
    * cross-multiplication qc·5·n < Σqc (no division, no epsilon —
    * engine-exact in both Spark and DuckDB); revenue closes with one
    * IEEE division of an exact cent sum. */
  def tpchQ17(s: SparkSession, dir: String, brand: String = "Brand#13"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    val qc = Exact.cents(col("l_quantity"))
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part").filter(col("p_brand") === brand)
        .select("p_partkey")), col("l_partkey") === col("p_partkey"))
      .withColumn("sq", sum(qc).over(w))
      .withColumn("nq", count(lit(1)).over(w))
      .filter(qc * lit(5L) * col("nq") < col("sq"))
      .agg(
        round(sum(Exact.cents(col("l_extendedprice"))) / lit(100.0) / lit(7.0), 2)
          .as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21 (suppliers who kept orders waiting): for finished
    * orders with lines from MORE THAN ONE supplier, the suppliers who
    * were the ONLY late one on an order, ranked by how many late lines
    * they contributed. Canonically an EXISTS + NOT-EXISTS pair of
    * correlated self-joins over lineitem; declared instead as one
    * orderkey-aligned pass — join⋈orders, per-(order,supplier) rollup,
    * then per-order window — in which Spark reuses the join's orderkey
    * hash partitioning for BOTH the rollup (subset-key rule) and the
    * window: three self-references to a 100 TB lineitem collapse to a
    * single shuffle. Lateness is the fixture's ship-lag predicate
    * (≥ 90 days, as Q12; no commit/receipt dates exist here);
    * numwait sums the qualifying supplier's late LINES, matching the
    * canonical count(*) over l1. No single-nation cut (thin on these
    * fixtures): grouped by (nation, supplier) with the dims broadcast,
    * top-100 total-ordered. */
  def tpchQ21(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
    // merge hint: status-F orders are a third of a FACT table — never a
    // broadcast candidate at scale. SMJ leaves the join output
    // hash-partitioned on orderkey, which then satisfies BOTH the
    // (orderkey, suppkey) rollup (subset-key rule) and the per-order
    // window below — the whole chain rides the join's one shuffle pair.
    t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        (col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
          .cast("long"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(col("late")).as("n_late_lines"), max(col("late")).as("supp_late"))
      .withColumn("n_supps", count(lit(1)).over(w))
      .withColumn("n_late_supps", sum(col("supp_late")).over(w))
      .filter(col("supp_late") === 1L && col("n_supps") > 1L &&
        col("n_late_supps") === 1L)
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_name"))
      .agg(sum(col("n_late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("n_name"), col("s_name"))
      .limit(100)
  }

  private val revenueSql =
    "sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)))/10000.0"

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q178_tpch_q7", tpchQ7(_, _), Some(
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(l_shipdate) AS l_year, $revenueSql AS revenue
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_11'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    QueryDef("q179_tpch_q8", tpchQ8(_, _), Some(
      """WITH base AS (
        | SELECT year(o_orderdate) AS o_year, n1.n_name AS supp_nation,
        |  CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT)) AS volume
        | FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        | WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |   AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT o_year,
        | round(CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END) AS DOUBLE)
        |   / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin)),
    QueryDef("q180_tpch_q10", tpchQ10, Some(
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, $revenueSql AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    QueryDef("q181_tpch_q12", tpchQ12, Some(
      """SELECT l_returnflag,
        | count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
        | count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_returnflag IN ('R', 'A')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate >= o_orderdate + INTERVAL 90 DAY
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q188_tpch_q4", tpchQ4, Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate >= o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("q189_tpch_q13", tpchQ13, Some(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    QueryDef("q190_tpch_q17", tpchQ17(_, _), Some(
      """WITH lb AS (
        |  SELECT l_partkey, CAST(round(l_quantity*100) AS BIGINT) AS qc,
        |         CAST(round(l_extendedprice*100) AS BIGINT) AS pc
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#13'),
        |w AS (
        |  SELECT qc, pc, sum(qc) OVER (PARTITION BY l_partkey) AS sq,
        |         count(*) OVER (PARTITION BY l_partkey) AS nq
        |  FROM lb)
        |SELECT round(CAST(sum(pc) AS DOUBLE)/100.0/7.0, 2) AS avg_yearly,
        |       count(*) AS n_lines
        |FROM w WHERE qc*5*nq < sq""".stripMargin)),
    QueryDef("q191_tpch_q21", tpchQ21, Some(
      """SELECT n_name, s_name, count(*) AS numwait
        |FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        | JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate >= o_orderdate + INTERVAL 90 DAY)
        |GROUP BY n_name, s_name
        |ORDER BY numwait DESC, n_name, s_name LIMIT 100""".stripMargin)))
}
