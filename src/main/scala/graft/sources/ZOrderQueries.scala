package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Z-order (Morton-curve) clustering — multi-column data skipping.
  *
  * Partition/bucket layouts prune on ONE key; a table queried by
  * rectangles over TWO keys (part × supplier, customer × date, …) needs
  * its rows clustered so that each physical file covers a small patch
  * of the 2-D key space, making every file's min/max footer stats
  * selective in BOTH dimensions. Sorting by the interleaved-bit Morton
  * code achieves exactly that: contiguous z-ranges are unions of small
  * rectangles, so a range-partitioned sort by z-value gives each file a
  * tight bounding box, and the parquet reader's row-group stats pruning
  * (and any file-skipping layer above it) eliminates most of the table
  * for a box predicate on either or both keys. This is the OPTIMIZE
  * ZORDER of lakehouse engines, built from plain Spark primitives:
  * a bit-interleave expression tree (codegen'd integer ops, no UDF),
  * repartitionByRange + sortWithinPartitions on the z-value, and a
  * bounded maxRecordsPerFile so stats granularity survives at any SF.
  * ZOrderSpec measures the skipping potential directly (files whose
  * stats-box intersects the predicate box, z-order vs single-key sort);
  * q104 gates the answer against DuckDB over the original table.
  */
object ZOrderQueries extends graft.QueryModule {

  /** Morton code of N ≥ 2 non-negative integer columns, `bits` bits
    * each: bit i of column j lands at position i·N + j (round-robin
    * interleave, so every dimension contributes equally at every
    * granularity). A static expression tree of shifts/masks —
    * whole-stage-codegen'd, branch free, no UDF. */
  def zvalueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    require(bits >= 1 && cols.size * bits <= 63,
      s"${cols.size} cols x $bits bits exceeds a positive Long")
    val n = cols.size
    val longs = cols.map(_.cast("long"))
    (for { i <- 0 until bits; (c, j) <- longs.zipWithIndex } yield
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + j)
    ).reduce(_ bitwiseOR _)
  }

  /** Two-column Morton code (bit i of `a` → bit 2i, of `b` → 2i+1).
    * 21+21 bits = 42-bit z-values: covers keys to 2M. */
  def zvalue(a: Column, b: Column, bits: Int = 21): Column =
    zvalueN(Seq(a, b), bits)

  /** One z-ordered copy of lineitem per (app, source dir), clustered on
    * (l_partkey, l_suppkey). ~48 files so footer stats stay granular at
    * test scale; at 100 TB the same write runs with the default 128 MB
    * row groups and the file count follows the data. */
  private[sources] def zorderedLineitemPath(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "zorder.lineitem") {
      val p = graft.util.TempDirs.create("graft_lineitem_zorder_").toString
      writeZOrdered(Tables(s, dir, "lineitem"),
        col("l_partkey"), col("l_suppkey"), p)
      p
    }

  /** Cluster `df` by the Morton code of (a, b) and write parquet with
    * per-file stats granularity. The two keys are first min-max
    * normalized to the SAME bit-width: interleaving raw values whose
    * ranges differ (8-bit partkeys × 4-bit suppkeys) degenerates to a
    * single-key sort, because the wider key owns all the high z-bits —
    * the curve only covers the key space evenly when both dimensions
    * do. (Production engines bin by range/percentile for the same
    * reason, which also absorbs skew; min-max is the uniform-key
    * special case.) The min/max probe is one 4-value aggregate —
    * layout-time metadata, not per-row driver work.
    * repartitionByRange gives globally disjoint z-ranges across tasks
    * (a plain repartition would shuffle arbitrary z-values together
    * and destroy the bounding boxes). */
  def writeZOrdered(df: DataFrame, a: Column, b: Column, path: String,
      files: Int = 48, bits: Int = 16): DataFrame = {
    // one metadata pass: row count (for maxRecordsPerFile) and both
    // key ranges together — not a count() job plus a min/max job
    val mm = df.agg(count(lit(1)),
      min(a.cast("long")), max(a.cast("long")),
      min(b.cast("long")), max(b.cast("long"))).collect().head
    val n = mm.getLong(0)
    if (n == 0) { // nothing to cluster; min/max are null
      df.write.mode("overwrite").parquet(path)
      return df.sparkSession.read.parquet(path)
    }
    // span AND the numerator computed in double space (both hi-lo+1
    // and c-lo overflow Long for extreme ranges like lo near MinValue),
    // and the normalized value clamped into [0, 2^bits - 1]: the ratio
    // can round to 1.0 for ranges near 2^53, which would set a bit
    // zvalueN drops and silently wrap max-key rows into z-bucket 0
    // (answers stay oracle-correct; only skipping quality degrades)
    def norm(c: Column, lo: Long, hi: Long): Column = {
      val span = hi.toDouble - lo.toDouble + 1.0
      greatest(
        least(
          ((c.cast("double") - lit(lo.toDouble)) / lit(span)
            * lit((1L << bits).toDouble)).cast("long"),
          lit((1L << bits) - 1L)),
        lit(0L))
    }
    val z = df.withColumn("__z", zvalue(
        norm(a, mm.getLong(1), mm.getLong(2)),
        norm(b, mm.getLong(3), mm.getLong(4)), bits))
      .repartitionByRange(math.max(1, files / 8), col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    z.write
      .option("maxRecordsPerFile", math.max(1L, n / files).toString)
      .mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** q104: box predicate over both clustered keys on the z-ordered
    * copy. Identical answer to the original table (the oracle); the
    * physical win is that almost every file's footer excludes it from
    * the box — pinned quantitatively by ZOrderSpec. */
  def zorderBoxQuery(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(zorderedLineitemPath(s, dir))
      .filter(col("l_partkey").between(50, 150) &&
        col("l_suppkey").between(2, 8))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        Exact.sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")

  val defs: Seq[QueryDef] = Seq(
    // staged: the z-order layout write
    QueryDef("q104_zorder_skipping", zorderBoxQuery, Some(
      """SELECT l_returnflag, count(*) AS n_rows,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 8
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      stage = true))
}
