package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}

/** The candy pipeline's core semantics (SURVEY.md §2.4 A1-A4) re-expressed
  * over the testdata star schema so each step is oracle-checkable: lineitem
  * plays order_line_items, part plays products (synthetic stock =
  * p_size × 10), l_shipdate plays the transaction timestamp.
  *
  * The real candy pipeline (CSV/JSON in, golden CSVs out) lives in
  * graft.candy.CandyPipeline; these queries pin the distributed
  * formulations of its operators against DuckDB.
  */
object CandyQueries extends graft.QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** A1 per-order rollup: total amount + item count per order
    * (reference: driver-loop at data_processor.py:401-465 → one groupBy).
    * Amounts sum in exact integer cent-units (Exact.scala). */
  def orderRollup(s: SparkSession, dir: String): DataFrame = {
    val c = Exact.cents(col("l_extendedprice"))
    val d = Exact.cents(col("l_discount"))
    val tx = Exact.cents(col("l_tax"))
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        (sum(c * (lit(100L) - d) * (lit(100L) + tx)) / lit(1000000.0)).as("total_amount"),
        count(lit(1)).as("num_items"),
        sum(col("l_quantity")).as("total_qty"))
      .orderBy("l_orderkey")
  }

  /** A3 inventory depletion, reload-free cumulative-sum formulation:
    * demand replays per product in (shipdate, orderkey, linenumber) order;
    * an item is fulfilled while the running demand fits the initial stock
    * (p_size × 10). The window cumsum replaces the reference's mutable
    * driver-side dict (data_processor.py:359-441) and scales: state never
    * leaves the executors, one shuffle on l_partkey. */
  def inventoryDepletion(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .withColumn("cum_qty", sum(col("l_quantity")).over(w))
      .withColumn("fulfilled", col("cum_qty") <= col("p_size") * 10)
      .groupBy(col("l_partkey"))
      .agg(
        count(when(col("fulfilled"), 1)).as("n_fulfilled"),
        count(when(!col("fulfilled"), 1)).as("n_cancelled"),
        sum(when(col("fulfilled"), col("l_quantity")).otherwise(0.0)).as("qty_fulfilled"))
      .orderBy("l_partkey")
  }

  /** A4 inventory snapshot: initial stock minus fulfilled demand
    * (reference dict snapshot at data_processor.py:553-568 → left join). */
  def productsUpdated(s: SparkSession, dir: String): DataFrame = {
    val sold = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity")).as("sold"))
    t(s, dir, "part")
      .join(sold, col("p_partkey") === col("l_partkey"), "left")
      .select(
        col("p_partkey"), col("p_name"),
        (col("p_size") * 1000 - coalesce(col("sold"), lit(0.0))).as("current_stock"))
      .orderBy("p_partkey")
  }

  /** A2 daily summary with sales and profit (profit = revenue − unit cost,
    * cost modeled as 5% of part retail price per unit). All money terms
    * sum as exact integers in 1e-4 units: revenue = cents×(100−disc100),
    * cost = qty×retail_cents×5. */
  def dailySalesProfit(s: SparkSession, dir: String): DataFrame = {
    val c = Exact.cents(col("l_extendedprice"))
    val d = Exact.cents(col("l_discount"))
    val salesU = c * (lit(100L) - d)
    val costU = col("l_quantity").cast("long") * Exact.cents(col("p_retailprice")) * lit(5L)
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(to_date(col("l_shipdate")).as("ship_date"))
      .agg(
        count(lit(1)).as("num_items"),
        countDistinct(col("l_orderkey")).as("num_orders"),
        (sum(salesU) / lit(10000.0)).as("total_sales"),
        (sum(salesU - costU) / lit(10000.0)).as("total_profit"))
      .orderBy("ship_date")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q40_order_rollup", orderRollup, Some(
      """SELECT l_orderkey,
        | sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |   * (100 - CAST(round(l_discount*100) AS BIGINT))
        |   * (100 + CAST(round(l_tax*100) AS BIGINT)))/1000000.0 AS total_amount,
        | count(*) AS num_items, sum(l_quantity) AS total_qty
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)),
    QueryDef("q41_inventory_depletion", inventoryDepletion, Some(
      """SELECT l_partkey,
        | count(*) FILTER (WHERE fulfilled) AS n_fulfilled,
        | count(*) FILTER (WHERE NOT fulfilled) AS n_cancelled,
        | sum(CASE WHEN fulfilled THEN l_quantity ELSE 0 END) AS qty_fulfilled
        |FROM (
        |  SELECT l_partkey, l_quantity,
        |   sum(l_quantity) OVER (PARTITION BY l_partkey
        |     ORDER BY l_shipdate, l_orderkey, l_linenumber
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= p_size*10 AS fulfilled
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)),
    QueryDef("q42_products_updated", productsUpdated, Some(
      """SELECT p_partkey, p_name,
        | p_size*1000 - coalesce(sold, 0) AS current_stock
        |FROM part LEFT JOIN
        | (SELECT l_partkey, sum(l_quantity) AS sold FROM lineitem GROUP BY l_partkey) s
        | ON p_partkey = l_partkey
        |ORDER BY p_partkey""".stripMargin)),
    QueryDef("q43_daily_sales_profit", dailySalesProfit, Some(
      """SELECT CAST(l_shipdate AS DATE) AS ship_date,
        | count(*) AS num_items, count(DISTINCT l_orderkey) AS num_orders,
        | sum(sales_u)/10000.0 AS total_sales,
        | sum(sales_u - cost_u)/10000.0 AS total_profit
        |FROM (
        | SELECT l_shipdate, l_orderkey,
        |  CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) AS sales_u,
        |  CAST(l_quantity AS BIGINT) * CAST(round(p_retailprice*100) AS BIGINT) * 5 AS cost_u
        | FROM lineitem JOIN part ON l_partkey = p_partkey)
        |GROUP BY ship_date ORDER BY ship_date""".stripMargin)))
}
