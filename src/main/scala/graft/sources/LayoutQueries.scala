package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Declared queries over ParquetLayout-written physical layouts — the
  * round-trip proof that the storage-side design actually prunes.
  *
  * q65 writes `orders` hive-partitioned by month, then answers a
  * 3-month question from the partitioned copy. Semantically identical
  * to the same aggregate over the original table (the DuckDB oracle),
  * but the physical plan reads 3 directories instead of the full
  * table — `PartitionFilters` in the scan, pinned by LayoutSpec. At
  * 100 TB this is the difference between scanning ~84 months and the
  * 3 the query asks about; the write itself is the one-off layout cost
  * a fact table pays to make every later time-range query cheap.
  */
object LayoutQueries extends graft.QueryModule {

  /** One write per (app, source dir). The directory is a fresh
    * per-process temp dir — a path shared across JVMs would race:
    * this memo can only guard within one process, and another JVM's
    * mode("overwrite") would delete files out from under an in-flight
    * scan here. TempDirs deletes whatever this process created, so
    * repeated Verify/Bench runs don't accumulate copies in /tmp. */
  private def monthlyOrdersPath(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "layout.orders_by_month") {
      val p = graft.util.TempDirs.create("graft_orders_by_month_").toString
      ParquetLayout.writePartitioned(
        Tables(s, dir, "orders")
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
        p, Seq("o_month"))
      p
    }

  /** The partition-pruned read: only the 1995-01..1995-03 directories
    * are listed and scanned. */
  def partitionPrunedScan(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(monthlyOrdersPath(s, dir))
      .filter(col("o_month").between("1995-01", "1995-03"))
      .groupBy(col("o_month"))
      .agg(
        count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("sum_total"))
      .orderBy(col("o_month"))

  /** DYNAMIC partition pruning: the partition filter is not a literal
    * the planner can see — it comes from a dimension table filtered at
    * runtime. A calendar dim (month → quarter) filtered to one quarter
    * joins the month-partitioned fact on the partition column; Spark
    * plants a dynamicpruning subquery in the fact scan, so only the
    * quarter's 3 month-directories are read even though no literal
    * month range appears anywhere in the query. At 100 TB this is THE
    * mechanism that makes star-schema queries over partitioned facts
    * cheap — static pruning (q65) can't help when the filter lives in
    * a dim. Plan pin in ParquetLayoutSpec; the oracle computes the
    * same join over the original unpartitioned table. */
  def dynamicPartitionPruning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the calendar must be a real on-disk dim: a local collection gets
    // constant-folded into literal rows at plan time, the selective
    // Filter node disappears, and the DPP rule never fires. Fresh
    // per-process temp dir for the same race reason as monthlyOrdersPath.
    val calPath = Staged.once(s, dir, "layout.calendar") {
      val p = graft.util.TempDirs.create("graft_calendar_dim_").toString
      val months = (1992 to 1998).flatMap { y =>
        (1 to 12).map(m => (f"$y-$m%02d", s"$y-Q${(m - 1) / 3 + 1}"))
      }
      months.toDF("o_month", "quarter").coalesce(1)
        .write.mode("overwrite").parquet(p)
      p
    }
    val calendar = s.read.parquet(calPath)
    val fact = s.read.parquet(monthlyOrdersPath(s, dir))
    fact
      .join(calendar.filter(col("quarter") === "1995-Q2"), Seq("o_month"))
      .groupBy(col("quarter"))
      .agg(
        count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("sum_total"))
      .orderBy("quarter")
  }

  /** Oracle runs on the ORIGINAL orders table — partitioning must not
    * change the answer, only the IO. */
  val defs: Seq[QueryDef] = Seq(
    // staged: the partitioned layout write
    QueryDef("q65_partition_pruning", partitionPrunedScan, Some(
      """SELECT strftime(o_orderdate, '%Y-%m') AS o_month, count(*) AS n_orders,
        | sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS sum_total
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1995-01' AND '1995-03'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      stage = true),
    // staged: the calendar dim (the partitioned orders are q65's)
    QueryDef("q77_dynamic_pruning", dynamicPartitionPruning, Some(
      """SELECT '1995-Q2' AS quarter, count(*) AS n_orders,
        | sum(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS sum_total
        |FROM orders
        |WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-04', '1995-05', '1995-06')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      stage = true))
}
