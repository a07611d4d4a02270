package graft.candy

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import java.nio.file.Files
import scala.util.Random

/** The candy pipeline's partitioning must not follow
  * `spark.sql.shuffle.partitions`. Every suite runs under graft.Session,
  * where shuffle partitions = cores = defaultParallelism, so a
  * count-less repartition in front of a `.cache()` looks right there:
  * AQE never coalesces the final stage of a plan it caches, and in any
  * session left at Spark's default the cached frames keep 200
  * partitions, nearly all empty. This suite runs the pipeline in a
  * second session on the same SparkContext with 200 shuffle partitions
  * and checks that the partition counts follow defaultParallelism and
  * that every output row is unchanged.
  */
class CandyPartitioningSpec extends SparkSpec {

  private lazy val wide: SparkSession = {
    val s = spark.newSession() // isolated SQL conf, shared context
    s.conf.set("spark.sql.shuffle.partitions", "200")
    s
  }

  private lazy val slots = spark.sparkContext.defaultParallelism

  // --- fixture --------------------------------------------------------
  // 12 products with small stocks (exhaustion mid-day), an unknown
  // product id 13, null quantities, repeated products within an order,
  // 4 days × 60 transactions; seeded, so both copies are identical.
  private lazy val files: Seq[(String, String)] = {
    val rnd = new Random(7)
    val products = (1 to 12).map { p =>
      val price = 1 + rnd.nextInt(900) / 100.0
      f"$p,P$p,Cat,Sub,Std,$price%.2f,${price / 2}%.2f,${5 + rnd.nextInt(30)}"
    }
    val header = "product_id,product_name,product_category,product_subcategory," +
      "product_shape,sales_price,cost_to_make,stock"
    val days = (1 to 4).map { day =>
      val txns = (1 to 60).map { i =>
        val items = (1 to 1 + rnd.nextInt(4)).map { _ =>
          val p = 1 + rnd.nextInt(13)
          val qty = if (rnd.nextInt(10) == 0) "null" else (1 + rnd.nextInt(6)).toString
          s"""{"product_id": $p, "product_name": "P$p", "qty": $qty}"""
        }
        f"""{"transaction_id": ${day * 1000 + i}, "customer_id": ${1 + rnd.nextInt(20)}, """ +
          f""""timestamp": "2024-01-0${day}T${i / 6}%02d:${i % 60}%02d:00.${i}%06d", """ +
          s""""items": [${items.mkString(", ")}]}"""
      }
      s"transactions_2024010$day.json" -> txns.mkString("[\n", ",\n", "\n]")
    }
    ("products.csv" -> (header +: products).mkString("", "\n", "\n")) +: days
  }

  // one copy per session: the cache manager is shared by the context's
  // sessions, and a plan over the same files would reuse the other
  // session's cached frames instead of building its own
  private def fixture(): String = {
    val d = Files.createTempDirectory("candy_partitioning")
    files.foreach { case (name, body) => Files.writeString(d.resolve(name), body) }
    d.toString
  }
  private lazy val narrowDir = fixture()
  private lazy val wideDir = fixture()

  private def run(s: SparkSession, dir: String, cfg: CandyConfig): CandyOutputs =
    CandyPipeline.run(s, s"$dir/products.csv", s"$dir/transactions_*.json", cfg)

  private def outputs(o: CandyOutputs): Seq[DataFrame] =
    Seq(o.orders, o.orderLineItems, o.dailySummary, o.productsUpdated)

  private val modes = Seq(
    "daily reload" -> CandyConfig(),
    "carryover" -> CandyConfig(reloadInventoryDaily = false,
      skipEmptyOrders = false, numOrdersIsLineItems = false))

  test("the replay hashes into defaultParallelism partitions, not shuffle partitions") {
    assert(slots !== 200) // else the two counts cannot be told apart
    modes.foreach { case (mode, cfg) =>
      val replayed = InventoryReplay.replay(
        InventoryReplay.itemEvents(
          CandySources.readTransactions(wide, s"$wideDir/transactions_*.json"),
          CandySources.readProducts(wide, s"$wideDir/products.csv")),
        cfg.reloadInventoryDaily)
      assert(replayed.rdd.getNumPartitions === slots, mode)
    }
  }

  test("the pipeline's cached frames hold defaultParallelism partitions") {
    modes.foreach { case (mode, cfg) =>
      val cached = outputs(run(wide, wideDir, cfg)).flatMap(_.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.getNumPartitions })
      // orders reads the orders cache, the line items the replay's
      assert(cached.size >= 2, mode)
      assert(cached.forall(_ == slots), s"$mode: $cached")
    }
  }

  test("all four outputs are row-for-row the same under 200 shuffle partitions") {
    modes.foreach { case (mode, cfg) =>
      val narrow = run(spark, narrowDir, cfg)
      val wideOut = run(wide, wideDir, cfg)
      outputs(narrow).zip(outputs(wideOut)).foreach { case (n, w) =>
        val expected = n.collect().toSeq
        assert(expected.nonEmpty, mode)
        assert(w.collect().toSeq === expected, mode)
      }
      assert(wideOut.totalCancelledItems() === narrow.totalCancelledItems(), mode)
      assert(narrow.totalCancelledItems() > 0, s"$mode: fixture never exhausts stock")
    }
  }
}
