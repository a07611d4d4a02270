package graft.sources.v2

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Partition-spec evolution (q234) — the one lake-format migration a
  * growing 100 TB table actually hits: the table outgrows its original
  * partitioning and is RE-PARTITIONED WITHOUT REWRITING HISTORY.
  *
  *  - `CALL graft_lake.system.add_partition_field / drop_partition_field`
  *    commit METADATA ONLY: one manifest write, zero data files touched.
  *  - Files written before the change keep the partition values of the
  *    spec they were written under and PRUNE BY THOSE; files written
  *    after carry the new spec's values. The scan evaluates partition
  *    predicates per file — exactly where the value exists, by column
  *    stats where it does not (old-spec files recorded min/max for the
  *    new column like any data column, so neither era is ever scanned
  *    blind).
  *  - Old snapshots time-travel under their old spec (`partitionCols`
  *    is per-snapshot, like schema).
  *  - Grouped manifest-COUNT pushdown and exact residual-free partition
  *    pruning disable themselves while the spec is mixed; compaction
  *    (INSERT OVERWRITE) re-unifies the spec and restores both.
  *
  * q234 stages a mid-history re-partitioned orders table — era A (1995)
  * under PARTITIONED BY (status), era B (1996) under (prio) — and the
  * declared read aggregates across the boundary; the oracle is a plain
  * rollup over raw orders, blind to any partitioning. Reference analog:
  * none (the reference overwrites whole unpartitioned tables,
  * src/data_processor.py:237-269) — capability-rounding on the lake.
  */
object SpecEvolutionQueries extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  private[v2] def ensureSpecEvolution(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.spec_evolution") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"lake.ord_spec$id"
      ss.sql(s"CREATE TABLE graft_lake.$tbl (od STRING, status STRING, " +
        "prio STRING, price_cents BIGINT) PARTITIONED BY (status)")
      def era(from: String, until: String): DataFrame =
        Tables(ss, dir, "orders")
          .filter(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
          .select(col("o_orderdate").cast("string").as("od"),
            col("o_orderstatus").as("status"),
            col("o_orderpriority").as("prio"),
            Exact.cents(col("o_totalprice")).as("price_cents"))
      // v1: era A under the ORIGINAL spec (status)
      era("1995-01-01", "1996-01-01").writeTo(s"graft_lake.$tbl").append()
      // v2/v3: the migration — two metadata-only commits
      ss.sql("CALL graft_lake.system.add_partition_field(" +
        s"table => '$tbl', column => 'prio')")
      ss.sql("CALL graft_lake.system.drop_partition_field(" +
        s"table => '$tbl', column => 'status')")
      // v4: era B under the NEW spec (prio)
      era("1996-01-01", "1997-01-01").writeTo(s"graft_lake.$tbl").append()

      // loud staging contract: metadata-only migration, per-era specs
      val h = GraftLakeStore.get(GraftLakeStore.defaultRoot, tbl).get
      require(h.snapshot(3).files.map(_.path) == h.snapshot(1).files.map(_.path),
        "partition-spec evolution must carry every data file untouched")
      require(h.snapshot(1).partitionCols == Seq("status") &&
          h.snapshot(3).partitionCols == Seq("prio"),
        "per-snapshot spec: v1 under (status), v3 under (prio)")
      val files = h.snapshot(4).files
      require(files.exists(_.partition.keySet == Set("status")) &&
          files.exists(_.partition.keySet == Set("prio")),
        "both eras must keep the partition values of their OWN spec")
      s"graft_lake.$tbl"
    }

  /** q234: rollup across the spec boundary with a filter on the OLD
    * partition column — era A prunes it exactly by partition value,
    * era B conservatively by stats; both eras' rows aggregate into one
    * answer the raw-table oracle must reproduce. */
  def specEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureSpecEvolution(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT status, prio, count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS total_price
         |FROM $tbl WHERE status = 'F'
         |GROUP BY status, prio ORDER BY status, prio""".stripMargin)
  }

  /** Staging for q237: orders H2-1995 into a HIDDEN-partitioned table —
    * `bucket(8, ckey)` for point lookups without value explosion,
    * `truncate(7, od)` for month partitioning straight off the ISO
    * string (no calendar in the manifest). Repartition(2) bounds the
    * file count to tasks × buckets × months at every sf. */
  private[v2] def ensureTransformTable(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.transform_spec") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"lake.ord_tf$id"
      ss.sql(s"CREATE TABLE graft_lake.$tbl (od STRING, ckey BIGINT, " +
        "price_cents BIGINT) PARTITIONED BY (bucket(8, ckey), truncate(7, od))")
      Tables(ss, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-07-01") &&
          col("o_orderdate") < lit("1996-01-01"))
        .select(col("o_orderdate").cast("string").as("od"),
          col("o_custkey").cast("long").as("ckey"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
        .repartition(2)
        .writeTo(s"graft_lake.$tbl").append()
      val h = GraftLakeStore.get(GraftLakeStore.defaultRoot, tbl).get
      require(h.snapshot(1).files.forall(
          _.partition.keySet == Set("ckey_bucket_8", "od_truncate_7")),
        "every file must carry both transform values")
      s"graft_lake.$tbl"
    }

  /** q237: a month-range rollup (prunes by the truncate field — floor/
    * prefix transforms are monotone, so ranges prune) plus a key point
    * lookup (prunes to one bucket's files) — the two access patterns
    * hidden partitioning exists for, against a raw-orders oracle. */
  def transformPartitionRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTransformTable(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT concat('month:', substr(od, 1, 7)) AS grp,
         | count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS total_price
         |FROM $tbl WHERE od >= '1995-10-01'
         |GROUP BY substr(od, 1, 7)
         |UNION ALL
         |SELECT 'cust:42' AS grp, count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS total_price
         |FROM $tbl WHERE ckey = 42
         |ORDER BY grp""".stripMargin)
  }

  /** Staging for q238: ALL orders into a `months(o_orderdate)`
    * hidden-partitioned table over a REAL DATE column — the canonical
    * 100 TB fact-table layout (Iceberg's month transform: partition
    * values are month ordinals since 1970-01, computed by epoch-day
    * arithmetic shared between writer and planner; no string casts, no
    * calendar in the manifest). Repartition(2) bounds files to
    * tasks x months at every sf. */
  private[v2] def ensureCalendarTable(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.calendar_spec") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"lake.ord_cal$id"
      ss.sql(s"CREATE TABLE graft_lake.$tbl (d DATE, ckey BIGINT, " +
        "price_cents BIGINT) PARTITIONED BY (months(d))")
      Tables(ss, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d"),
          col("o_custkey").cast("long").as("ckey"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
        .repartition(2)
        .writeTo(s"graft_lake.$tbl").append()
      val h = GraftLakeStore.get(GraftLakeStore.defaultRoot, tbl).get
      val files = h.snapshot(1).files
      require(files.forall(_.partition.keySet == Set("d_month")),
        "every file must carry the month-ordinal partition value")
      // loud layout contract: fixture orders span 1995-01..2001-08 —
      // every stored ordinal must sit in that window (a drifting
      // transform would mis-place files silently)
      val ords = files.flatMap(_.partition("d_month")).map(_.toInt)
      require(ords.nonEmpty && ords.forall(o => o >= 300 && o <= 380),
        s"month ordinals out of the fixture window: ${ords.distinct.sorted}")
      s"graft_lake.$tbl"
    }

  /** q238: the two access patterns a month-partitioned DATE fact table
    * exists for — a date-RANGE rollup (prunes through the monotone
    * month transform + date column stats) and a single-month slice
    * (both bounds land in one month ordinal) — against a raw-orders
    * oracle blind to the layout. */
  def calendarPartitionRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureCalendarTable(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT concat('range:', substr(CAST(d AS STRING), 1, 7)) AS grp,
         | count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS total_price
         |FROM $tbl WHERE d >= DATE'2000-10-01'
         |GROUP BY substr(CAST(d AS STRING), 1, 7)
         |UNION ALL
         |SELECT 'month:1997-03' AS grp, count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS total_price
         |FROM $tbl WHERE d >= DATE'1997-03-01' AND d < DATE'1997-04-01'
         |ORDER BY grp""".stripMargin)
  }

  /** Staging for q239: orders fact + customer dim BOTH partitioned
    * `bucket(16, ckey)` — the layout investment a 100 TB warehouse
    * makes once so every ckey-keyed join afterwards is exchange-free.
    * Each side's scan reports its persisted bucket layout
    * (SupportsReportPartitioning + the catalog's LakeFunctions) and
    * Spark groups splits by bucket value instead of shuffling. */
  private[v2] def ensureSpjTables(s: SparkSession, dir: String): (String, String) =
    Staged.once(s, dir, "lake.spj") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val fact = s"lake.ord_spjf$id"
      val dim = s"lake.cust_spjd$id"
      ss.sql(s"CREATE TABLE graft_lake.$fact (ckey BIGINT, price_cents BIGINT) " +
        "PARTITIONED BY (bucket(16, ckey))")
      ss.sql(s"CREATE TABLE graft_lake.$dim (ckey BIGINT, cname STRING, " +
        "nation BIGINT) PARTITIONED BY (bucket(16, ckey))")
      Tables(ss, dir, "orders")
        .select(col("o_custkey").cast("long").as("ckey"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
        .repartition(2)
        .writeTo(s"graft_lake.$fact").append()
      Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("ckey"), col("c_name").as("cname"),
          col("c_nationkey").cast("long").as("nation"))
        .repartition(2)
        .writeTo(s"graft_lake.$dim").append()
      (s"graft_lake.$fact", s"graft_lake.$dim")
    }

  /** q239: fact ⋈ dim on the bucketed key, rolled up per customer —
    * planned as a STORAGE-PARTITIONED JOIN: zero hash exchange on
    * either side (the staging require pins it — only the final total
    * order's range exchange remains), merge-join forced so a broadcast
    * cannot mask the pin at small scale. Oracle: the plain raw-table
    * join, blind to the layout. */
  def spjRead(s: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = ensureSpjTables(s, dir)
    val ss = MergeQueries.lakeSession(s)
    ss.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    ss.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    val df = ss.sql(
      s"""SELECT /*+ MERGE(f), MERGE(c) */ f.ckey, count(*) AS n_orders,
         | CAST(sum(f.price_cents) / 100.0 AS DOUBLE) AS total_price,
         | max(c.cname) AS cname
         |FROM $fact f JOIN $dim c ON f.ckey = c.ckey
         |GROUP BY f.ckey ORDER BY f.ckey""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    require(!plan.contains("Exchange hashpartitioning"),
      s"q239 must plan exchange-free via the storage partitioning, got:\n$plan")
    require(plan.contains("SortMergeJoin"),
      "q239 pins the shuffle-family join riding KeyGroupedPartitioning")
    df
  }

  val defs: Seq[QueryDef] = Seq(
    // plain rollup over raw orders, blind to partitioning: correct only
    // if BOTH eras read completely and correctly across the spec change
    // staged: the mid-history re-partitioned table (two eras, two specs)
    QueryDef("q234_partition_evolution", specEvolutionRead, Some(
      """SELECT o_orderstatus AS status, o_orderpriority AS prio,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM orders
        |WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01'
        | AND o_orderstatus = 'F'
        |GROUP BY status, prio ORDER BY status, prio""".stripMargin),
      stage = true),
    // the staged universe is H2-1995; the range arm narrows to Q4 and
    // the point arm reads one key — hidden partitioning must change
    // NOTHING about the answer (the transforms live only in the layout)
    // staged: the hidden-partitioned (bucket + truncate) ingest
    QueryDef("q237_transform_partitioning", transformPartitionRead, Some(
      """SELECT concat('month:', substr(CAST(o_orderdate AS STRING), 1, 7)) AS grp,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM orders
        |WHERE o_orderdate >= '1995-10-01' AND o_orderdate < '1996-01-01'
        |GROUP BY substr(CAST(o_orderdate AS STRING), 1, 7)
        |UNION ALL
        |SELECT 'cust:42' AS grp, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM orders
        |WHERE o_custkey = 42
        | AND o_orderdate >= '1995-07-01' AND o_orderdate < '1996-01-01'
        |ORDER BY grp""".stripMargin),
      stage = true),
    // raw orders, blind to the month layout: hidden partitioning must
    // change NOTHING about the answer
    // staged: the months(DATE) calendar table
    QueryDef("q238_calendar_partitioning", calendarPartitionRead, Some(
      """SELECT concat('range:',
        |  substr(CAST(CAST(o_orderdate AS DATE) AS STRING), 1, 7)) AS grp,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM orders WHERE o_orderdate >= '2000-10-01'
        |GROUP BY substr(CAST(CAST(o_orderdate AS DATE) AS STRING), 1, 7)
        |UNION ALL
        |SELECT 'month:1997-03' AS grp, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM orders
        |WHERE o_orderdate >= '1997-03-01' AND o_orderdate < '1997-04-01'
        |ORDER BY grp""".stripMargin),
      stage = true),
    // the raw join, blind to the bucket layout: the exchange-free plan
    // must change NOTHING about the answer
    // staged: the bucket(16) SPJ pair
    QueryDef("q239_storage_partitioned_join", spjRead, Some(
      """SELECT o.o_custkey AS ckey, count(*) AS n_orders,
        | CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price,
        | max(c.c_name) AS cname
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY o.o_custkey ORDER BY ckey""".stripMargin),
      stage = true))
}
