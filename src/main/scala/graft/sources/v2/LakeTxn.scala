package graft.sources.v2

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact
import GraftLakeStore.{PendingFile, TableHandle}

/** Multi-table transactional ingest (q232): a fact table and its
  * summary table commit ATOMICALLY through
  * [[GraftLakeStore.beginTransaction]] — the capability tier above
  * single-table OCC that the MV (q210) and WAP (q215) flows otherwise
  * approximate with single-table atomicity plus ordering.
  *
  * Protocol recap (GraftLakeStore.Transaction): per-table pending
  * manifests reserve version slots invisibly; ONE root-level decision
  * marker (`txn-<id>.json`, hard-linked) flips every table's visibility
  * together, so a reader can never observe the summary without its
  * facts or vice versa. A coordinator crash mid-publish leaves both
  * tables at their old versions (LakeTxnSpec pins the torn-pair
  * impossibility).
  *
  * The declared read makes atomicity load-bearing: the summary is
  * INNER-JOINED against a recompute over the fact table on (day, cnt,
  * sum) — only a consistent pair reproduces the oracle's plain rollup
  * over raw orders; a torn commit would drop rows and fail the
  * row-count gate.
  *
  * 100 TB shape: the data writes are ordinary distributed parquet
  * writes (one per table); the transaction itself moves only manifests
  * — KB-sized, one hard-link per table plus one marker, O(tables) not
  * O(data). Reference analog: none — capability-rounding on the lake
  * (the reference overwrites single tables, src/data_processor.py:237-269).
  */
object LakeTxn extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  /** Write `df` as parquet files DIRECTLY INTO `handle`'s data dir
    * (via a session-scoped temp dir) and return their PendingFiles for
    * a transaction to stage. The row work is the distributed
    * `df.write`; the driver only renames files and reads footers
    * (metadata-scale). Unpartitioned tables only — the transactional
    * ingest shape. `df`'s columns must match the table schema by name
    * and type (the scan resolves columns by name). */
  private[v2] def stage(handle: TableHandle, df: DataFrame): Seq[PendingFile] = {
    val tmp = graft.util.TempDirs.create("graft_txn_stage_")
    df.write.mode("overwrite").parquet(tmp.toString)
    val l = Files.list(tmp)
    val parts = try l.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally l.close()
    parts.zipWithIndex.map { case (p, i) =>
      val name = s"txn-${java.util.UUID.randomUUID().toString.take(12)}-$i.parquet"
      val dest = handle.dataDir.resolve(name)
      Files.move(p, dest)
      PendingFile(name, LakeParquet.footerRows(dest.toString), Seq.empty,
        Map.empty, Files.size(dest))
    }
  }

  /** Staging: CREATE facts + daily tables, then ONE transaction commits
    * both fills — all-or-nothing by the decision marker. */
  private[v2] def ensureTxnIngest(s: SparkSession, dir: String): (String, String) =
    Staged.once(s, dir, "lake.txn") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val facts = s"lake.ord_facts$id"
      val daily = s"lake.ord_daily$id"
      ss.sql(s"CREATE TABLE graft_lake.$facts (od STRING, price_cents BIGINT)")
      ss.sql(s"CREATE TABLE graft_lake.$daily (od STRING, cnt BIGINT, sum_cents BIGINT)")
      val root = GraftLakeStore.defaultRoot
      val hFacts = GraftLakeStore.get(root, facts).get
      val hDaily = GraftLakeStore.get(root, daily).get
      val factsDf = Tables(ss, dir, "orders")
        .select(col("o_orderdate").cast("string").as("od"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
      val dailyDf = factsDf.groupBy("od")
        .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("sum_cents"))
      val versions = GraftLakeStore.beginTransaction(root)
        .stageAppend(facts, stage(hFacts, factsDf))
        .stageAppend(daily, stage(hDaily, dailyDf))
        .commit()
      require(versions.values.forall(_ == 1),
        s"transactional ingest expected both tables at v1, got $versions")
      (s"graft_lake.$facts", s"graft_lake.$daily")
    }

  /** q232: the transactionally-committed daily summary, cross-checked
    * against a recompute over the fact table — consistent by
    * construction (one decision marker), equal to the oracle's plain
    * rollup over raw orders. */
  def txnConsistentIngest(s: SparkSession, dir: String): DataFrame = {
    val (facts, daily) = ensureTxnIngest(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT d.od, d.cnt,
         | CAST(d.sum_cents / 100.0 AS DOUBLE) AS total_price
         |FROM $daily d
         |JOIN (SELECT od, count(*) AS cnt2, sum(price_cents) AS sc
         |      FROM $facts GROUP BY od) f
         |  ON d.od = f.od AND d.cnt = f.cnt2 AND d.sum_cents = f.sc
         |ORDER BY d.od""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // plain rollup over raw orders: reproduced ONLY if the summary and
    // the facts committed as one — a torn pair drops join rows
    // staged: the multi-table transactional ingest
    QueryDef("q232_txn_consistent_ingest", txnConsistentIngest, Some(
      """SELECT CAST(o_orderdate AS STRING) AS od, count(*) AS cnt,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM orders GROUP BY od ORDER BY od""".stripMargin),
      stage = true))
}
