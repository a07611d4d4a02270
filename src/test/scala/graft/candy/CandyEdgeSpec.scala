package graft.candy

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Edge-case catalog from FIXTURES.md §1.3, pinned against an in-test
  * naive replay of the reference loop (data_processor.py:389-485).
  * Exercises: null qty, unknown product, all-null transaction, stock
  * exhaustion + later-smaller-order fulfillment, both inventory modes,
  * both order-skip variants, >1000 format_number commas, day-boundary
  * attribution (txn whose ts date differs from its file day).
  */
class CandyEdgeSpec extends SparkSpec {

  // --- fixture --------------------------------------------------------
  // products: p1 stock 10, p2 stock 3 (exhausts), p3 stock 5000 (commas)
  private val productsCsv =
    """product_id,product_name,product_category,product_subcategory,product_shape,sales_price,cost_to_make,stock
      |1,Alpha,CatA,SubA,Std,2.50,1.00,10
      |2,Beta,CatB,SubB,Std,4.00,2.50,3
      |3,Gamma,CatC,SubC,Std,700.00,100.00,5000
      |""".stripMargin

  // day 1: t1 (p1 ok, null-qty item, unknown product), t2 (all null),
  //        t3 (p2 qty 2 ok), t4 (p2 qty 2 → cancel; p2 qty 1 → later
  //        smaller order still fulfills), t5 (p3 qty 2 → 1400.00 total,
  //        comma in format_number)
  // day 2: t6 (p1 again — tests reload vs carryover), ts date 20240103
  //        ≠ file day 20240102 (pins day attribution)
  private val day1 =
    """[
      |{"transaction_id": 101, "customer_id": 1, "timestamp": "2024-01-01T08:00:00.000001",
      | "items": [{"product_id": 1, "product_name": "Alpha", "qty": 6},
      |            {"product_id": 1, "product_name": "Alpha", "qty": null},
      |            {"product_id": 99, "product_name": "Ghost", "qty": 2}]},
      |{"transaction_id": 102, "customer_id": 2, "timestamp": "2024-01-01T09:00:00.000002",
      | "items": [{"product_id": 1, "product_name": "Alpha", "qty": null}]},
      |{"transaction_id": 103, "customer_id": 3, "timestamp": "2024-01-01T10:00:00.000003",
      | "items": [{"product_id": 2, "product_name": "Beta", "qty": 2}]},
      |{"transaction_id": 104, "customer_id": 4, "timestamp": "2024-01-01T11:00:00.000004",
      | "items": [{"product_id": 2, "product_name": "Beta", "qty": 2},
      |            {"product_id": 2, "product_name": "Beta", "qty": 1}]},
      |{"transaction_id": 105, "customer_id": 5, "timestamp": "2024-01-01T12:00:00.000005",
      | "items": [{"product_id": 3, "product_name": "Gamma", "qty": 2}]}
      |]""".stripMargin

  private val day2 =
    """[
      |{"transaction_id": 201, "customer_id": 1, "timestamp": "2024-01-03T01:00:00.000001",
      | "items": [{"product_id": 1, "product_name": "Alpha", "qty": 6}]}
      |]""".stripMargin

  private lazy val fixtureDir: String = {
    val d = Files.createTempDirectory("candy_edge")
    Files.writeString(d.resolve("products.csv"), productsCsv)
    Files.writeString(d.resolve("transactions_20240101.json"), day1)
    Files.writeString(d.resolve("transactions_20240102.json"), day2)
    d.toString
  }

  private def run(cfg: CandyConfig) = CandyPipeline.run(spark,
    s"$fixtureDir/products.csv", s"$fixtureDir/transactions_*.json", cfg)

  private def csvRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString))

  // --- carryover mode (literal reference code semantics) --------------
  test("carryover: replay semantics match the naive reference loop") {
    val out = run(CandyConfig(reloadInventoryDaily = false,
      skipEmptyOrders = false, numOrdersIsLineItems = false))

    // line items (order_id, product_id, quantity, unit_price, line_total)
    // t101: p1 qty6 ok; null skipped; unknown skipped
    // t103: p2 qty2 ok (stock 3→1)
    // t104: p2 qty2 → cancel (stock 1); p2 qty1 → fulfill (stock 0)
    // t105: p3 qty2 → 1,400.00
    // t201: p1 qty6 → stock 10-6=4 carried → cancel
    assert(csvRows(out.orderLineItems) === Seq(
      Seq("101", "1", "6", "2.5", "15.00"),
      Seq("103", "2", "2", "4.0", "8.00"),
      Seq("104", "2", "0", "4.0", "0.00"),
      Seq("104", "2", "1", "4.0", "4.00"),
      Seq("105", "3", "2", "700.0", "1,400.00"),
      Seq("201", "1", "0", "2.5", "0.00")))

    // orders: all txns emitted, all-null → 0.00 / 0 items
    assert(csvRows(out.orders) === Seq(
      Seq("101", "2024-01-01T08:00:00.000001", "1", "15.00", "1"),
      Seq("102", "2024-01-01T09:00:00.000002", "2", "0.00", "0"),
      Seq("103", "2024-01-01T10:00:00.000003", "3", "8.00", "1"),
      Seq("104", "2024-01-01T11:00:00.000004", "4", "4.00", "1"),
      Seq("105", "2024-01-01T12:00:00.000005", "5", "1,400.00", "1"),
      Seq("201", "2024-01-03T01:00:00.000001", "1", "0.00", "0")))

    // daily summary: num_orders = txns/day (code-literal variant);
    // day-2 date = 2024-01-03 (from ts, not file day 20240102)
    assert(csvRows(out.dailySummary) === Seq(
      Seq("2024-01-01", "5", "1427.0", "1213.5"),
      Seq("2024-01-03", "1", "0.0", "0.0")))

    // products_updated: p1 10-6=4, p2 3-3=0, p3 5000-2=4998
    assert(csvRows(out.productsUpdated) === Seq(
      Seq("1", "Alpha", "4"), Seq("2", "Beta", "0"), Seq("3", "Gamma", "4998")))

    // cancelled counter: t104 first item + t201 (carryover exhaustion)
    assert(out.totalCancelledItems() === 2L)
  }

  // --- golden-variant mode -------------------------------------------
  test("daily reload + skip empty orders + line-item num_orders (golden variant)") {
    val out = run(CandyConfig(reloadInventoryDaily = true,
      skipEmptyOrders = true, numOrdersIsLineItems = true))

    // reload: day-2 p1 stock resets to 10 → t201 fulfills
    assert(csvRows(out.orderLineItems) === Seq(
      Seq("101", "1", "6", "2.5", "15.00"),
      Seq("103", "2", "2", "4.0", "8.00"),
      Seq("104", "2", "0", "4.0", "0.00"),
      Seq("104", "2", "1", "4.0", "4.00"),
      Seq("105", "3", "2", "700.0", "1,400.00"),
      Seq("201", "1", "6", "2.5", "15.00")))

    // skip variant: t102 (all null) dropped; 201 now fulfilled
    assert(csvRows(out.orders).map(_.head) === Seq("101", "103", "104", "105", "201"))

    // num_orders = line items emitted that day (incl. the cancelled row)
    assert(csvRows(out.dailySummary) === Seq(
      Seq("2024-01-01", "5", "1427.0", "1213.5"),
      Seq("2024-01-03", "1", "15.0", "9.0")))

    // reload-mode final stock = state after the last day's batch
    assert(csvRows(out.productsUpdated) === Seq(
      Seq("1", "Alpha", "4"), Seq("2", "Beta", "3"), Seq("3", "Gamma", "5000")))
  }

  test("default config: daily aggregation state is O(1) per group (no collect_list)") {
    import org.apache.spark.sql.functions._
    val dflt = run(CandyConfig())
    val strict = run(CandyConfig(strictFloatParity = true))
    // the default daily plan must not buffer per-day arrays — the
    // collect_list fold is gated behind strictFloatParity. (The bounded
    // ≤5-item per-ORDER fold remains upstream, so only the day-keyed
    // aggregate nodes are inspected.)
    def dayAggLines(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.toString
        .linesIterator.filter(l => l.contains("key=[day") || l.contains("keys=[day")).toSeq
    val dfltDay = dayAggLines(dflt.dailySummary)
    assert(dfltDay.nonEmpty)
    assert(dfltDay.forall(!_.contains("collect_list")),
      "default daily summary must not collect per-day arrays")
    assert(dayAggLines(strict.dailySummary).exists(_.contains("collect_list")))
    // and the exact-cents sums agree with the strict in-order fold to
    // the cent (they can differ only on a rounding boundary)
    val d = csvRows(dflt.dailySummary)
    val s = csvRows(strict.dailySummary)
    assert(d.map(_.take(2)) === s.map(_.take(2)))
    d.zip(s).foreach { case (dr, sr) =>
      assert(math.abs(dr(2).toDouble - sr(2).toDouble) <= 0.01)
      assert(math.abs(dr(3).toDouble - sr(3).toDouble) <= 0.01)
    }
  }

  test("conservation: order total equals sum of its line totals") {
    val out = run(CandyConfig(reloadInventoryDaily = false,
      skipEmptyOrders = false, numOrdersIsLineItems = false))
    import org.apache.spark.sql.functions._
    val fromLines = out.orderLineItems
      .groupBy("order_id")
      .agg(sum(regexp_replace(col("line_total"), ",", "").cast("double")).as("s"))
    val joined = out.orders
      .select(col("order_id"), regexp_replace(col("total_amount"), ",", "")
        .cast("double").as("t"))
      .join(fromLines, Seq("order_id"), "left")
      .filter(abs(col("t") - coalesce(col("s"), lit(0.0))) > 0.005)
    assert(joined.count() === 0)
  }

  test("an order that lists one product twice writes its line items in pos order") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    val data = CandyFixture.write()
    val (products, txns) = (s"$data/products.csv", s"$data/transactions_*.json")
    val out = CandyPipeline.run(spark, products, txns, CandyConfig())
    // oracle: the replay's line items, sorted on the driver with pos as
    // the tie-break
    val replayed = InventoryReplay.replay(
      InventoryReplay.itemEvents(CandySources.readTransactions(spark, txns),
        CandySources.readProducts(spark, products)), reloadDaily = true).collect().toSeq
    val expected = replayed.sortBy(l => (l.order_id, l.product_id, l.pos))
      .map(l => Seq(l.order_id.toString, l.product_id.toString, l.quantity.toString,
        l.unit_price.toString))
    // the fixture has repeated products whose item order shows in the rows
    val repeats = expected.groupBy(_.take(2)).values.filter(_.size > 1)
    assert(repeats.exists(g => g != g.reverse), "fixture has no telling repeated product")
    assert(csvRows(out.orderLineItems).map(_.take(4)) === expected)
    // The sorter is stable and reads the replay's pos-ordered rows, so at
    // fixture size the rows would come out right without pos in the sort;
    // a partition sort that spills merges its runs with no such
    // guarantee. The tie-break must be in the plan.
    val sortKeys = out.orderLineItems.queryExecution.optimizedPlan
      .collect { case s: Sort => s.order.flatMap(_.references.map(_.name)) }
    assert(sortKeys === Seq(Seq("order_id", "product_id", "pos")), sortKeys)
  }

  test("CLI flag parsing: unknown flags and forecast-stage flags are rejected") {
    intercept[IllegalArgumentException](
      CandyMain.run(spark, List("--bogus", "process", "p.csv", "t*.json", "/tmp/x")))
    // --strict-float-parity only affects the process stage's daily
    // sums; accepting it on forecast would silently do nothing
    intercept[IllegalArgumentException](
      CandyMain.run(spark, List("forecast", "--strict-float-parity", "s.csv", "/tmp/x")))
  }
}
