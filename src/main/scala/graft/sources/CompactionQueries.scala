package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Small-file compaction — the storage-ops primitive next to Z-order
  * (q104) and date partitioning (q65): bin-pack a many-small-files
  * parquet layout into target-size files, preserving content exactly.
  *
  * Why it is a 100 TB primitive: streaming sinks, hourly micro-batch
  * loads, and over-parallel writers leave facts as thousands of KB-
  * scale files; every later scan then pays a task per file, the
  * driver pays listing + footer reads per file, and row-group-level
  * pruning stops working (each file is one undersized row group).
  * Nightly compaction (Delta/Iceberg's OPTIMIZE) rewrites them into
  * ~target-size files once, and every downstream query amortizes it.
  *
  * Mechanics: the bin count is sized from FILE METADATA — a driver
  * listing (the same metadata any FileIndex reads, never data rows) —
  * as ceil(totalBytes / targetBytes), then one distributed
  * read → round-robin repartition(nBins) → write. Round-robin, not
  * coalesce(): coalesce merges ADJACENT input partitions zero-shuffle,
  * which inherits whatever skew the small files had (one giant merged
  * task next to empty ones); the one extra shuffle buys evenly-sized
  * output files, which is the point of the exercise. Content identity
  * (exact row multiset) and the file-count contract are pinned by
  * CompactionSpec; the DuckDB oracle aggregates the ORIGINAL table —
  * compaction must change the layout, never the answer.
  */
object CompactionQueries extends graft.QueryModule {

  /** Fixture-scale target file size. A production run would pass
    * ~1 GiB; 128 KiB keeps the staged layout multi-file at sf0.001+
    * so the bin math is actually exercised. */
  private val targetBytes = 128L << 10

  /** How fragmented the staged "before" layout is. */
  private val smallFileCount = 48

  final case class Layout(smallDir: String, compactDir: String,
      nSmallFiles: Int, nBins: Int)

  /** One staged fragment-then-compact per (application, source dir). */
  private[sources] def layout(s: SparkSession, dir: String): Layout =
    Staged.once(s, dir, "compaction") {
      val root = graft.util.TempDirs.create("graft_compact_").toString
      val (small, out) = (s"$root/small", s"$root/compacted")
      Tables(s, dir, "lineitem").repartition(smallFileCount)
        .write.parquet(small)
      val fs = new Path(small).getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = fs.listStatus(new Path(small))
        .filter(_.getPath.getName.endsWith(".parquet"))
      val total = files.map(_.getLen).sum
      val nBins = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      s.read.parquet(small).repartition(nBins).write.parquet(out)
      Layout(small, out, files.length, nBins)
    }

  /** q205: pricing rollup answered from the COMPACTED layout. */
  def compactedAgg(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(layout(s, dir).compactDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        Exact.sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")

  /** Oracle over the ORIGINAL lineitem: the compacted copy must hold
    * exactly the same rows. */
  val defs: Seq[QueryDef] = Seq(
    // staged: the compacted copy
    QueryDef("q205_compacted_scan", compactedAgg, Some(
      """SELECT l_returnflag, count(*) AS n_items,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      stage = true))
}
