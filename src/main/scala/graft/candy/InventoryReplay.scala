package graft.candy

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One item event in replay order (one exploded, null-filtered,
  * product-joined transaction item). */
case class ItemEvent(
    order_id: Long,
    customer_id: Int,
    order_datetime: String,
    day: String,
    seq: Long,
    pos: Int,
    product_id: Int,
    product_name: String,
    qty: Int,
    unit_price: Double,
    cost_to_make: Double,
    stock: Int)

/** Replay outcome for one item: quantity 0 when cancelled (the item is
  * still emitted — reference data_processor.py:427-453). */
case class LineItem(
    order_id: Long,
    customer_id: Int,
    order_datetime: String,
    day: String,
    seq: Long,
    pos: Int,
    product_id: Int,
    product_name: String,
    quantity: Int,
    unit_price: Double,
    line_total: Double,
    line_profit: Double,
    fulfilled: Boolean)

/** The reference pipeline's core stateful operator: sequential inventory
  * depletion (SURVEY.md §2.4 A3; reference driver-loop at
  * data_processor.py:359-441).
  *
  * Semantics per item, in replay order: if remaining stock >= qty,
  * fulfill (stock -= qty, line_total = unit_price*qty); else cancel
  * (quantity := 0, line_total = 0, stock unchanged — a cancelled item
  * does NOT free or consume stock, so a later smaller order can still
  * fulfill). This makes the fold order-dependent and non-expressible as
  * a running-sum window; it IS embarrassingly parallel across products,
  * because the only state is one counter per product.
  *
  * Distributed formulation: hash-repartition by product_id, sort each
  * partition by (product_id, day, seq, pos), then a single streaming
  * pass per partition that resets the counter at each product (or
  * product×day, in daily-reload mode) boundary. One shuffle total;
  * state never leaves the executors; partition sort spills to disk if
  * needed — this is the plan that survives 100 TB, unlike the
  * reference's driver-side dict or a collect-based replay.
  *
  * The shuffle hashes into `defaultParallelism` partitions (the
  * session's task slots; `spark.default.parallelism` sets it on a
  * deployment, e.g. under dynamic allocation), not into
  * `spark.sql.shuffle.partitions`. The pipeline caches this output,
  * and AQE never coalesces the final stage of a plan it caches, so a
  * count-less repartition would freeze the session's shuffle
  * partition count (200 by default) into every later stage over the
  * cache: 36 products in 200 mostly empty tasks. The fold is per
  * product, so more partitions than slots only adds empty tasks.
  */
object InventoryReplay {

  /** @param reloadDaily reset stock at each (product, day) boundary
    *   (SURVEY.md §2.4 A5 — the variant the golden outputs require). */
  def replay(items: Dataset[ItemEvent], reloadDaily: Boolean): Dataset[LineItem] = {
    val spark = items.sparkSession
    import spark.implicits._
    items
      .repartition(spark.sparkContext.defaultParallelism, col("product_id"))
      .sortWithinPartitions("product_id", "day", "seq", "pos")
      .mapPartitions { it =>
        var curProduct = Int.MinValue
        var curDay = ""
        var remaining = 0
        it.map { e =>
          if (e.product_id != curProduct || (reloadDaily && e.day != curDay)) {
            curProduct = e.product_id
            curDay = e.day
            remaining = e.stock
          }
          if (remaining >= e.qty) {
            remaining -= e.qty
            LineItem(e.order_id, e.customer_id, e.order_datetime, e.day, e.seq, e.pos,
              e.product_id, e.product_name, e.qty, e.unit_price,
              e.unit_price * e.qty, (e.unit_price - e.cost_to_make) * e.qty,
              fulfilled = true)
          } else {
            LineItem(e.order_id, e.customer_id, e.order_datetime, e.day, e.seq, e.pos,
              e.product_id, e.product_name, 0, e.unit_price, 0.0, 0.0,
              fulfilled = false)
          }
        }
      }
  }

  /** Build the replay input: explode items in array order, drop null-qty
    * items (P3, data_processor.py:410-411), drop unknown products via a
    * broadcast inner join (P4, data_processor.py:413-416). */
  def itemEvents(transactions: DataFrame, products: DataFrame): Dataset[ItemEvent] = {
    val spark = transactions.sparkSession
    import spark.implicits._
    transactions
      .select(col("transaction_id").as("order_id"), col("customer_id"),
        col("timestamp").as("order_datetime"), col("day"), col("seq"),
        posexplode(col("items")).as(Seq("pos", "item")))
      .filter(col("item.qty").isNotNull)
      .join(broadcast(products), col("item.product_id") === products("product_id"))
      .select(col("order_id"), col("customer_id"), col("order_datetime"),
        col("day"), col("seq"), col("pos"),
        col("product_id"), col("product_name"), col("item.qty").as("qty"),
        col("sales_price").as("unit_price"), col("cost_to_make"), col("stock"))
      .as[ItemEvent]
  }
}
