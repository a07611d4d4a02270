package graft.candy

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.{ExecutionException, FutureTask}

/** Variant flags for the semantics forks documented in SURVEY.md §5:
  * the golden outputs were produced by (skipEmptyOrders=true,
  * reloadInventoryDaily=true, numOrdersSemantics=LineItems); the
  * literal current reference code is (false, false, Transactions).
  */
case class CandyConfig(
    reloadInventoryDaily: Boolean = true,
    skipEmptyOrders: Boolean = true,
    numOrdersIsLineItems: Boolean = true,
    /** Reproduce the reference's float accumulation ORDER in the daily
      * money sums (collect_list + in-order fold — per-group state grows
      * with the day's order count; only for byte-parity experiments).
      * Default false: order-independent exact integer-cents sums
      * (operators/Exact) — O(1) aggregation state per group, the only
      * shape that survives 10⁶+ orders/day. The two differ by at most
      * one trailing cent on rounding-boundary days. */
    strictFloatParity: Boolean = false)

case class CandyOutputs(
    orders: DataFrame,
    orderLineItems: DataFrame,
    dailySummary: DataFrame,
    productsUpdated: DataFrame,
    /** Reference total_cancelled_items counter (data_processor.py:439,
      * reported at main.py:63-67) — a count over the replay output
      * rather than a mutable driver global. */
    totalCancelledItems: () => Long)

/** End-to-end candy-store ETL (reference src/main.py:141-219 +
  * data_processor.py), re-expressed as declarative Spark over the
  * nested-JSON transaction scan — no collect(), no driver loops, no
  * per-day union chain. The one genuinely sequential operator
  * (inventory depletion) is InventoryReplay; everything else is
  * groupBy/join/window built-ins.
  *
  * Float parity: the reference accumulates doubles left-to-right in
  * replay order (order totals at data_processor.py:433-436, daily sums
  * at 467-468). Plain sum() re-associates and can differ in the last
  * ulp, which format_number/round can then turn into a visible cent.
  * Order totals always fold collect_list'ed values in replay order —
  * per-order lists are tiny (≤5 items, bounded by the transaction
  * schema), so that state is O(1). Daily sums are gated by
  * CandyConfig.strictFloatParity: the default is order-independent
  * exact integer-cents sums (operators/Exact — O(1) per-group state,
  * the shape that survives 10⁶+ orders/day); strict mode reproduces
  * the reference's per-day accumulation order for byte-parity
  * experiments and is the one knowingly non-scalable path.
  *
  * Spark work per run: the transactions are scanned once in the
  * default (skip-empty) variant, since orders derive from the cached
  * line items; no driver action runs before the exports; each export is
  * sorted inside its single output partition; and `save` writes the four
  * exports concurrently.
  */
object CandyPipeline {

  /** Left-to-right double fold of `field` from an array of structs
    * sorted by the struct's leading key fields. */
  private def foldInOrder(sortedStructs: Column, field: String): Column =
    aggregate(sortedStructs, lit(0.0), (acc, x) => acc + x.getField(field))

  def run(spark: SparkSession, productsCsv: String, transactionsGlob: String,
          config: CandyConfig = CandyConfig()): CandyOutputs = {

    val products = CandySources.readProducts(spark, productsCsv)
    val transactions = CandySources.readTransactions(spark, transactionsGlob)
    build(spark, products, transactions, config)
  }

  def build(spark: SparkSession, products: DataFrame, transactions: DataFrame,
            config: CandyConfig): CandyOutputs = {

    // Reused by orders, summary, and the final snapshot. AQE never
    // coalesces the final stage of a plan it caches, so every stage that
    // reads this cache runs the replay shuffle's partition count —
    // defaultParallelism, not spark.sql.shuffle.partitions.
    val lineItems = InventoryReplay.replay(
      InventoryReplay.itemEvents(transactions, products),
      config.reloadInventoryDaily)
      .toDF()
      .cache()

    // A1 per-order rollup. total_amount folds line totals in item (pos)
    // order = the reference's accumulation order; cancelled items
    // contribute 0.0 exactly as in the loop.
    def perOrder(keys: String*): DataFrame = lineItems
      .groupBy(keys.map(col): _*)
      .agg(
        foldInOrder(sort_array(collect_list(struct(col("pos"), col("line_total")))),
          "line_total").as("total_amount"),
        foldInOrder(sort_array(collect_list(struct(col("pos"), col("line_profit")))),
          "line_profit").as("order_profit"),
        count(when(col("fulfilled"), 1)).cast("int").as("num_items"))

    // The golden skip variant keeps only orders that fulfilled an item
    // (the commented block at data_processor.py:454-456), and every such
    // order has line items, which carry their transaction's columns: the
    // orders come from the cached line items, and the transactions are
    // scanned once. Otherwise every transaction yields an order row
    // (all-null / unknown-only transactions keep total 0.0, num_items 0
    // — data_processor.py 457-465), so the transactions are joined back.
    val ordersAll =
      if (config.skipEmptyOrders)
        perOrder("order_id", "customer_id", "order_datetime", "day", "seq")
          .filter(col("num_items") > 0)
      else
        transactions
          .select(col("transaction_id").as("order_id"), col("customer_id"),
            col("timestamp").as("order_datetime"), col("day"), col("seq"))
          .join(perOrder("order_id"), Seq("order_id"), "left")
          .select(col("order_id"), col("customer_id"), col("order_datetime"),
            col("day"), col("seq"),
            coalesce(col("total_amount"), lit(0.0)).as("total_amount"),
            coalesce(col("order_profit"), lit(0.0)).as("order_profit"),
            coalesce(col("num_items"), lit(0)).as("num_items"))

    // Cached for the daily summary and the orders output. Its plan ends
    // in a shuffle (the per-order aggregate's, or the join's), which,
    // cached, AQE would leave at spark.sql.shuffle.partitions: coalesce
    // to the replay's count, defaultParallelism (spark.default.parallelism
    // on a deployment).
    val orders = ordersAll
      .coalesce(spark.sparkContext.defaultParallelism)
      .cache()

    // A2 daily summary. date = date of the day's first emitted order
    // (data_processor.py:478-480); sums fold per-order totals in seq
    // (replay) order; bround = Python round (HALF_EVEN). The golden
    // num_orders variant counts the line items emitted that day
    // (SURVEY.md §5.3) — from the lineItems frame, since line items of
    // skipped orders still exist (appended before the skip check).
    def dailyMoney(field: String): Column =
      if (config.strictFloatParity)
        bround(foldInOrder(sort_array(collect_list(struct(col("seq"), col(field)))),
          field), 2)
      else
        graft.operators.Exact.sumMoney(col(field))
    val dailyAgg = orders
      .groupBy(col("day"))
      .agg(
        to_date(substring(min_by(col("order_datetime"), col("seq")), 1, 10)).as("date"),
        count(lit(1)).cast("int").as("n_txn_orders"),
        dailyMoney("total_amount").as("total_sales"),
        dailyMoney("order_profit").as("total_profit"))
    val dailySummary = (if (config.numOrdersIsLineItems) {
      val lineCounts = lineItems.groupBy(col("day"))
        .agg(count(lit(1)).cast("int").as("n_line_items"))
      dailyAgg.join(lineCounts, Seq("day"), "left")
        .withColumn("num_orders", coalesce(col("n_line_items"), lit(0)))
    } else dailyAgg.withColumn("num_orders", col("n_txn_orders")))
      .select("date", "num_orders", "total_sales", "total_profit")
      .coalesce(1).sortWithinPartitions("date")

    // A4 products_updated: initial stock minus fulfilled quantity — all
    // days in carryover mode; only the final day's batch in daily-reload
    // mode (state after the last reload). The last day joins in as a
    // broadcast one-row max, so finding it is part of this export's
    // plan rather than a driver action of its own.
    val fulfilled = lineItems.filter(col("fulfilled"))
    val consumed = (if (config.reloadInventoryDaily)
      fulfilled.join(broadcast(lineItems.agg(max(col("day")).as("last_day"))),
        col("day") === col("last_day"))
    else fulfilled)
      .groupBy(col("product_id"))
      .agg(sum(col("quantity")).as("sold"))
    val productsUpdated = products
      .join(consumed, Seq("product_id"), "left")
      .select(col("product_id"), col("product_name"),
        (col("stock") - coalesce(col("sold"), lit(0L))).cast("int").as("current_stock"))
      .coalesce(1).sortWithinPartitions("product_id")

    // Output projections/formatting (data_processor.py:518-551):
    // format_number 2dp strings for money, raw timestamp string kept.
    // Each export is sorted inside its one output partition, not by a
    // global range sort (a sampling job plus a shuffle, only to be
    // coalesced into one file). An order that lists a product twice
    // keeps its items in pos order: the tie-break is in the sort, not
    // left to the sorter's stability.
    val ordersOut = orders
      .coalesce(1).sortWithinPartitions("order_id")
      .select(col("order_id"), col("order_datetime"), col("customer_id"),
        format_number(col("total_amount"), 2).as("total_amount"), col("num_items"))

    val lineItemsOut = lineItems
      .coalesce(1).sortWithinPartitions("order_id", "product_id", "pos")
      .select(col("order_id"), col("product_id"), col("quantity"), col("unit_price"),
        format_number(col("line_total"), 2).as("line_total"))

    CandyOutputs(ordersOut, lineItemsOut, dailySummary, productsUpdated,
      () => lineItems.filter(!col("fulfilled")).count())
  }

  /** Orders enriched with customer attributes — the join the reference
    * loads customers for but never executes (the comment at
    * data_processor.py:519 admits the intent; SURVEY.md §2.3 J2). Left
    * join: an order with an unknown customer id survives with null
    * attributes. The customer dim broadcasts. */
  def ordersEnriched(orders: DataFrame, customers: DataFrame): DataFrame =
    orders.join(
      broadcast(customers.select(col("customer_id"), col("first_name"),
        col("last_name"), col("email"))),
      Seq("customer_id"), "left")
      .select(col("order_id"), col("order_datetime"), col("customer_id"),
        col("first_name"), col("last_name"), col("email"),
        col("total_amount"), col("num_items"))
      .orderBy("order_id")

  /** Write the four output tables as single-file CSVs (reference
    * save_to_csv, data_processor.py:572-614), concurrently. */
  def save(out: CandyOutputs, outputDir: String): Unit =
    concurrently(exports(out, outputDir))

  /** The four exports of `save`, one branch each. */
  private[candy] def exports(out: CandyOutputs, outputDir: String): Seq[(String, () => Unit)] =
    Seq(out.orders -> "orders.csv", out.orderLineItems -> "order_line_items.csv",
      out.dailySummary -> "daily_summary.csv", out.productsUpdated -> "products_updated.csv")
      .map { case (df, file) => file -> (() => SingleFileCsv.write(df, outputDir, file)) }

  /** Run every branch on a thread of its own, wait for all of them, then
    * rethrow the first failure in branch order (the others suppressed).
    * Each small export runs mostly single-task stages, so side by side
    * they fill the cores one after another would leave idle; branches
    * that reach a cached frame still being built wait on its block locks
    * rather than build it again. The threads are created per call, as
    * Bench.runConcurrent's are, so each inherits the caller's Spark local
    * properties (job group, scheduler pool); a pooled thread would keep
    * those of whichever caller first created it. */
  private[candy] def concurrently(branches: Seq[(String, () => Unit)]): Unit = {
    val tasks = branches.map { case (name, body) =>
      val task = new FutureTask[Unit](() => body())
      new Thread(task, s"candy-$name").start()
      task
    }
    val failures = tasks.flatMap { t =>
      try { t.get(); None }
      catch { case e: ExecutionException => Some(e.getCause) }
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
