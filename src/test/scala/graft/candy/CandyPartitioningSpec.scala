package graft.candy

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

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

  // one copy per session: the cache manager is shared by the context's
  // sessions, and a plan over the same files would reuse the other
  // session's cached frames instead of building its own
  private lazy val narrowDir = CandyFixture.write()
  private lazy val wideDir = CandyFixture.write()

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
