package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Bucketed-table layout: the storage-side answer to the fact-fact join
  * shuffle. Writing both join sides bucketed (and sorted) BY THE JOIN
  * KEY into the same bucket count lets every later join between them
  * run with NO exchange and NO sort — each task merge-joins bucket i of
  * both tables directly off disk. At 100 TB this turns the nightly
  * orders⋈customer from a full two-sided shuffle (the single most
  * expensive stage in a star-schema pipeline) into an embarrassingly
  * parallel map join; the one-off bucketed write is amortized over
  * every downstream query, exactly like q65's date partitioning but for
  * JOIN keys instead of range predicates. Plan shape (zero
  * ShuffleExchange under the join) is pinned by BucketedJoinSpec.
  */
object BucketedQueries extends graft.QueryModule {

  private val nextId = new java.util.concurrent.atomic.AtomicInteger()

  /** Returns the catalog table names (orders, customer) of bucketed
    * copies keyed on custkey, writing them if this application hasn't
    * yet, as external tables under a per-process temp dir. */
  private[sources] def bucketedTables(s: SparkSession, dir: String): (String, String) =
    Staged.once(s, dir, "bucketed") {
      val root = graft.util.TempDirs.create("graft_bucketed_").toString
      val id = nextId.incrementAndGet()
      val (ot, ct) = (s"graft_orders_bkt_$id", s"graft_customer_bkt_$id")
      // same bucket count both sides — the co-location contract; sortBy
      // lets the merge join skip its sort as well
      Tables(s, dir, "orders")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$root/orders").saveAsTable(ot)
      Tables(s, dir, "customer")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$root/customer").saveAsTable(ct)
      (ot, ct)
    }

  /** The co-located join itself, exposed for plan tests. MERGE hint:
    * at test scale Spark would broadcast the small side, which hides
    * exactly the shuffle this layout exists to eliminate; at the scale
    * the layout targets, neither side broadcasts. */
  private[sources] def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, ct) = bucketedTables(s, dir)
    s.table(ot).hint("merge")
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
  }

  /** q102: revenue by market segment over the bucketed join. */
  def bucketedJoinAgg(s: SparkSession, dir: String): DataFrame =
    bucketedJoin(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")

  /** Oracle over the ORIGINAL tables — bucketing must change the plan,
    * never the answer. */
  val defs: Seq[QueryDef] = Seq(
    // staged: the bucketed write
    QueryDef("q102_bucketed_join", bucketedJoinAgg, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      stage = true))
}
