package graft.sources.v2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Atomic CTAS / RTAS (q241) and declared write sort order (q242) —
  * the two table-definition front doors a warehouse migration uses
  * constantly and a 100 TB lake cannot afford to run non-atomically.
  *
  * q241: `CREATE TABLE … AS SELECT` stages the COMPLETE table under a
  * hidden key and publishes with one atomic rename (a reader sees no
  * table or the whole table, never an empty shell; a failed CTAS
  * leaves NOTHING — pinned in staging with a poisoned SELECT).
  * `REPLACE TABLE … AS SELECT` publishes ONE snapshot swapping schema
  * + content while every pre-replace snapshot stays time-travelable —
  * the Iceberg RTAS contract, vs. drop-and-recreate which orphans the
  * history. The declared read drives both front doors and the
  * preserved history in one answer.
  *
  * q242: `TBLPROPERTIES ('write.sort-order'='price_cents')` turns
  * ingest into a RANGE-distributed, sorted write — every data file's
  * min/max bounds are disjoint on the sort column, so a selective
  * band predicate prunes to the covering file(s) by stats alone.
  * Staging pins disjointness AND replans the band through the real
  * scan-pruning path (planned files strictly fewer than total).
  *
  * Reference analog: none (the reference overwrites whole CSV-loaded
  * tables, src/data_processor.py:237-269) — capability-rounding on
  * the lake surface.
  */
object CtasQueries extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  /** Staging for q241: atomic CTAS of the per-customer projection,
    * a poisoned CTAS proving all-or-nothing, then an RTAS swap to the
    * per-market rollup. */
  private[v2] def ensureCtasTable(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.ctas") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"lake.ctas$id"
      val root = GraftLakeStore.defaultRoot
      Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("ckey"),
          col("c_mktsegment").as("mkt"),
          Exact.cents(col("c_acctbal")).as("bal_cents"))
        .createOrReplaceTempView(s"ctas_src$id")
      // v0+v1 in one atomic publish: the staged table fills under a
      // hidden key and renames into existence complete
      ss.sql(s"CREATE TABLE graft_lake.$tbl AS SELECT * FROM ctas_src$id")
      val h = GraftLakeStore.get(root, tbl).getOrElse(
        throw new IllegalStateException(s"$tbl missing after CTAS"))
      require(h.latestVersion == 1 && h.snapshot(1).op == "append",
        "CTAS publishes the created table at v0/v1")
      require(GraftLakeStore.list(root, ".ctas-").isEmpty,
        "no staging directory may outlive a committed CTAS")

      // all-or-nothing: a CTAS whose SELECT fails mid-write must leave
      // neither a table nor staging garbage behind
      val poisoned =
        try {
          ss.sql(s"CREATE TABLE graft_lake.lake.ctasfail$id AS " +
            s"SELECT ckey, assert_true(ckey < 0) AS boom FROM ctas_src$id")
          false
        } catch { case _: Exception => true }
      require(poisoned, "the poisoned CTAS must fail")
      require(GraftLakeStore.get(root, s"lake.ctasfail$id").isEmpty,
        "a failed CTAS must publish NOTHING — no table")
      require(GraftLakeStore.list(root, ".ctas-").isEmpty,
        "a failed CTAS must leave no staging garbage")

      // RTAS: ONE snapshot swaps schema AND content; history survives
      ss.sql(s"""REPLACE TABLE graft_lake.$tbl AS
        |SELECT mkt, count(*) AS n_cust, sum(bal_cents) AS bal_cents_sum
        |FROM ctas_src$id GROUP BY mkt""".stripMargin)
      require(h.latestVersion == 2 && h.snapshot(2).op == "replace-table",
        "RTAS must publish exactly one replace-table snapshot")
      require(h.snapshot(2).schema.fieldNames.toSeq ==
          Seq("mkt", "n_cust", "bal_cents_sum"),
        "RTAS must carry the replacement schema")
      require(h.snapshot(1).files.nonEmpty && h.snapshot(1).files.forall(f =>
          Files.exists(h.tableDir.resolve(f.path))),
        "RTAS preserves history: every pre-replace data file stays readable")
      s"graft_lake.$tbl"
    }

  /** q241: the post-RTAS rollup UNION'd with a `VERSION AS OF 1` read
    * of the pre-replace projection — one answer gating that the CTAS
    * content, the RTAS swap, and the preserved history all match the
    * raw table. */
  def ctasRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureCtasTable(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT concat('now:', mkt) AS grp, n_cust,
         | CAST(bal_cents_sum / 100.0 AS DOUBLE) AS balance
         |FROM $tbl
         |UNION ALL
         |SELECT 'v1:all' AS grp, count(*) AS n_cust,
         | CAST(sum(bal_cents) / 100.0 AS DOUBLE) AS balance
         |FROM $tbl VERSION AS OF 1
         |ORDER BY grp""".stripMargin)
  }

  /** The q242 probe band, in integer cents: $10,000.00–$10,999.99
    * (selective at every scale factor; fixture o_totalprice spans
    * ~$850–$560k). */
  private val BandLo = 1000000L
  private val BandHi = 1100000L

  /** Staging for q242: all orders into a sort-ordered table from a
    * deliberately shuffled input — the ordered write distribution is
    * what restores locality. Pins the layout contract (files' price
    * ranges pairwise disjoint) and replans the band predicate through
    * the REAL scan-pruning path, requiring it to skip most files. */
  private[v2] def ensureSortedTable(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.sorted") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"lake.sorted$id"
      ss.sql(s"CREATE TABLE graft_lake.$tbl (okey BIGINT, od STRING, " +
        "price_cents BIGINT) TBLPROPERTIES ('write.sort-order'='price_cents')")
      // at test scale the whole ingest fits one AQE-coalesced range
      // partition (coalescing to advisory-sized files is exactly right
      // at 100 TB — sorted files land at target size); disable it on
      // this staging clone so the multi-file layout the pins need
      // exists at every sf
      ss.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      Tables(ss, dir, "orders")
        .select(col("o_orderkey").cast("long").as("okey"),
          col("o_orderdate").cast("string").as("od"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
        .repartition(8)
        .writeTo(s"graft_lake.$tbl").append()
      val h = GraftLakeStore.get(GraftLakeStore.defaultRoot, tbl).get
      val files = h.snapshot(1).files
      require(files.size >= 4,
        s"the range-distributed write must spread files, got ${files.size}")
      val bounds = files.map { f =>
        val st = f.stats("price_cents")
        (st.min.get.toLong, st.max.get.toLong)
      }.sortBy(_._1)
      bounds.sliding(2).foreach {
        case Seq((_, amax), (bmin, _)) =>
          require(bmin >= amax,
            s"sorted-write files must have disjoint price ranges, got " +
              s"max $amax overlapping next min $bmin")
        case _ => ()
      }
      // the payoff, through the real pruning path: push the band and
      // count what the scan plans
      val snap = h.snapshot(h.latestVersion)
      val b = new LakeScanBuilder(h, snap, "q242 staging probe")
      b.pushFilters(Array(
        org.apache.spark.sql.sources.GreaterThanOrEqual("price_cents", BandLo),
        org.apache.spark.sql.sources.LessThan("price_cents", BandHi)))
      val planned = b.build().asInstanceOf[LakeScan].planInputPartitions().length
      require(planned < files.size && planned <= 3,
        s"stats skipping over disjoint ranges must prune the band to its " +
          s"covering file(s): planned $planned of ${files.size}")
      s"graft_lake.$tbl"
    }

  /** q242: the band rollup over the sorted table — stats skipping
    * (pinned in staging) must change NOTHING about the answer the
    * raw-orders oracle computes. */
  def sortedRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureSortedTable(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS total_price,
         | min(od) AS first_day, max(od) AS last_day
         |FROM $tbl
         |WHERE price_cents >= $BandLo AND price_cents < $BandHi""".stripMargin)
  }

  /** Staging for q244: orders fact + customer dim both `bucket(16,
    * ckey)` WITH `write.sort-order = ckey` — the fully-indexed layout:
    * the clustered write gives one file per bucket, the within-task
    * sort makes that file SORTED on the join key, every file records
    * the spec in the manifest, and the scans report BOTH the
    * partitioning (KeyGroupedPartitioning) and the ordering
    * (SupportsReportOrdering). The staging probe then requires what
    * the layout promises: the fact ⋈ dim rollup plans as a
    * SortMergeJoin with ZERO shuffle exchanges and ZERO Sort nodes —
    * at 100 TB, the join that touches neither the network nor the
    * sorter. */
  private[v2] def ensureSortedJoinTables(s: SparkSession,
      dir: String): (String, String) =
    Staged.once(s, dir, "lake.sorted_join") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val fact = s"lake.ord_sbf$id"
      val dim = s"lake.cust_sbd$id"
      ss.sql(s"CREATE TABLE graft_lake.$fact (ckey BIGINT, od STRING, " +
        "price_cents BIGINT) PARTITIONED BY (bucket(16, ckey)) " +
        "TBLPROPERTIES ('write.sort-order'='ckey')")
      ss.sql(s"CREATE TABLE graft_lake.$dim (ckey BIGINT, cname STRING) " +
        "PARTITIONED BY (bucket(16, ckey)) " +
        "TBLPROPERTIES ('write.sort-order'='ckey')")
      Tables(ss, dir, "orders")
        .select(col("o_custkey").cast("long").as("ckey"),
          col("o_orderdate").cast("string").as("od"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
        .repartition(2)
        .writeTo(s"graft_lake.$fact").append()
      Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("ckey"),
          col("c_name").as("cname"))
        .repartition(2)
        .writeTo(s"graft_lake.$dim").append()
      // layout contract: one SORTED file per bucket, spec recorded
      for (t <- Seq(fact, dim)) {
        val h = GraftLakeStore.get(GraftLakeStore.defaultRoot, t).get
        val files = h.snapshot(1).files
        require(files.forall(_.sortedBy.contains("ckey ASC")),
          s"$t: every file must record the sort spec")
        require(files.groupBy(_.partition("ckey_bucket_16"))
            .forall(_._2.size == 1),
          s"$t: the clustered sorted write must give ONE file per bucket")
      }
      // the probe: the join the layout exists for must plan with no
      // exchange and no sort (walked on the FINAL adaptive plan, via
      // the walker the spec twins share). The staging clone `ss` is
      // private to this block — flipping its bucketing confs leaks
      // nowhere.
      ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      ss.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      val probe = ss.sql(
        s"""SELECT /*+ MERGE(f), MERGE(c) */ f.ckey, count(*) AS n,
           | sum(f.price_cents) AS s
           |FROM graft_lake.$fact f JOIN graft_lake.$dim c
           | ON f.ckey = c.ckey
           |GROUP BY f.ckey""".stripMargin)
      val (nSmj, nEx, nSort) = (LakePlanWalk.sortMergeJoins(probe),
        LakePlanWalk.shuffles(probe), LakePlanWalk.sorts(probe))
      require(nSmj == 1 && nEx == 0 && nSort == 0,
        s"q244 layout probe: want SMJ with zero exchanges and zero sorts, " +
          s"got smj=$nSmj exchanges=$nEx sorts=$nSort")
      (s"graft_lake.$fact", s"graft_lake.$dim")
    }

  /** q244: the fully-indexed join — per-customer rollup over the
    * sorted bucket pair (staging probe pins zero-exchange zero-sort;
    * only the final total-order range exchange remains in this read),
    * against a raw-join oracle blind to the layout. */
  def sortedJoinRead(s: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = ensureSortedJoinTables(s, dir)
    val ss = MergeQueries.lakeSession(s)
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    ss.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    ss.sql(
      s"""SELECT /*+ MERGE(f), MERGE(c) */ f.ckey, count(*) AS n_orders,
         | CAST(sum(f.price_cents) / 100.0 AS DOUBLE) AS total_price,
         | min(f.od) AS first_day, max(c.cname) AS cname
         |FROM $fact f JOIN $dim c ON f.ckey = c.ckey
         |GROUP BY f.ckey ORDER BY f.ckey""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // raw customers, blind to the CTAS/RTAS lifecycle: the rollup arm
    // must equal the RTAS output and the 'v1:all' arm the PRE-replace
    // content — correct only if the swap was atomic and lossless
    // staged: the CTAS → poisoned-CTAS → RTAS lifecycle
    QueryDef("q241_ctas_rtas", ctasRead, Some(
      """SELECT concat('now:', c_mktsegment) AS grp, count(*) AS n_cust,
        | CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS balance
        |FROM customer GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'v1:all' AS grp, count(*) AS n_cust,
        | CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS balance
        |FROM customer
        |ORDER BY grp""".stripMargin),
      stage = true),
    // raw orders, blind to the sorted layout: stats skipping must be
    // pure pruning, never a row lost or invented
    // staged: the sorted-table ingest (range-distributed write of all orders)
    QueryDef("q242_sorted_write_skipping", sortedRead, Some(
      """SELECT count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price,
        | min(CAST(o_orderdate AS STRING)) AS first_day,
        | max(CAST(o_orderdate AS STRING)) AS last_day
        |FROM orders
        |WHERE CAST(round(o_totalprice*100) AS BIGINT) >= 1000000
        | AND CAST(round(o_totalprice*100) AS BIGINT) < 1100000""".stripMargin),
      stage = true),
    // the raw join, blind to the sorted bucket layout: the
    // zero-exchange zero-sort plan must change NOTHING about the answer
    QueryDef("q244_sorted_bucket_join", sortedJoinRead, Some(
      """SELECT o.o_custkey AS ckey, count(*) AS n_orders,
        | CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price,
        | min(CAST(o.o_orderdate AS STRING)) AS first_day,
        | max(c.c_name) AS cname
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY o.o_custkey ORDER BY ckey""".stripMargin),
      stage = true))
}
