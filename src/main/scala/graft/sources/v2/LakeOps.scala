package graft.sources.v2

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Lake-table LIFECYCLE operators on top of [[GraftLakeCatalog]] — the
  * three maintenance moves a warehouse performs daily once it has MERGE
  * (q208) and versioned snapshots (q209):
  *
  *  - q210 incremental materialized-view refresh: the MV's next state
  *    is `MERGE` of the DELTA's partial aggregate into the stored
  *    aggregate — never a recompute over the base. sum/count are
  *    mergeable monoids (the same property Spark's own partial
  *    aggregation exploits within a query, applied ACROSS refreshes),
  *    so refresh cost is O(delta), not O(base): at 100 TB of orders the
  *    nightly refresh touches one day of data plus an MV whose size is
  *    the GROUP count. The oracle is the full recompute over the entire
  *    base — the incremental path must agree with it to the byte.
  *  - q212 snapshot change-feed: the row-level diff between two
  *    versions of the SAME table, computed by joining two time-travel
  *    reads in ONE plan (v1 full-outer-join v2 on the key) — the
  *    snapshot-based CDC a lake offers when the writer emits no change
  *    log, and the front-door twin of q105's file-based diff. The
  *    oracle is q105's verbatim: catalog-version reads and raw-parquet
  *    recomputes must name the identical change-set.
  *  - q213 version rollback: `INSERT OVERWRITE t SELECT ... FROM t
  *    VERSION AS OF 1` — undo-by-new-commit, exactly how Delta's
  *    RESTORE works (history is append-only; the rollback is itself a
  *    snapshot, so it can be rolled back too). The statement's scan is
  *    pinned to v1 when the ScanBuilder is created, so reading the
  *    table being overwritten is race-free by construction.
  *  - q215 write-audit-publish: audit-gated ingestion — row-local
  *    expectations route incoming rows to the published table or to
  *    quarantine, both as catalog commits; the two tables must
  *    partition the source exactly.
  *
  * Reference analog: none — the reference pipeline recomputes and
  * overwrites whole tables every run (src/data_processor.py:237-269);
  * all three are capability-rounding on top of its surface.
  */
object LakeOps extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  /** Month key both engines render identically: 'yyyy-MM' via plain
    * string slicing of the ISO date (no format-function dialect). */
  private def ym(c: org.apache.spark.sql.Column) =
    substring(c.cast("string"), 1, 7)

  /** The refresh cutoff splits MID-month so the delta batch both
    * UPDATES a group the MV already holds (the partial month on the
    * boundary — the nightly-refresh shape) and INSERTS groups it has
    * never seen (every later month). Both MERGE paths fire; the
    * boundary month's stored aggregate is completed by pure monoid
    * arithmetic, never re-read from the base. */
  private val cutoff = "1997-06-15"

  /** MV staging: v1 = aggregate of orders before the cutoff (the
    * "existing" MV), v2 = MERGE of the delta's partial aggregate.
    * Memoized per (application, dir) — every declared call then just
    * reads. */
  private[v2] def ensureMv(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.mv") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"graft_lake.lake.orders_mv$id"
      ss.sql(s"CREATE TABLE $tbl (ym STRING, cnt BIGINT, sum_cents BIGINT)")
      def rollup(df: DataFrame): DataFrame = df
        .groupBy(ym(col("o_orderdate")).as("ym"))
        .agg(count(lit(1)).as("cnt"),
          sum(Exact.cents(col("o_totalprice"))).as("sum_cents"))
      val orders = Tables(ss, dir, "orders")
      // v1: the MV as of the last refresh
      rollup(orders.filter(col("o_orderdate") < lit(cutoff)))
        .writeTo(tbl).append()
      // the delta batch: ONLY the new slice is aggregated; its partial
      // aggregate merges into the stored one (sum+=sum, cnt+=cnt)
      val delta = s"graft_mv_delta$id"
      rollup(orders.filter(col("o_orderdate") >= lit(cutoff)))
        .createOrReplaceTempView(delta)
      // null-safe key match: a NULL group key under plain equality
      // would never MATCH and re-insert on every refresh, silently
      // accumulating duplicate groups (not reachable on this fixture;
      // real corpora have null dates)
      ss.sql(
        s"""MERGE INTO $tbl m USING $delta d ON m.ym <=> d.ym
           |WHEN MATCHED THEN UPDATE SET
           |  cnt = m.cnt + d.cnt, sum_cents = m.sum_cents + d.sum_cents
           |WHEN NOT MATCHED THEN
           |  INSERT (ym, cnt, sum_cents) VALUES (d.ym, d.cnt, d.sum_cents)
           |""".stripMargin)
      tbl
    }

  /** q210: the incrementally-refreshed MV; oracle = full recompute. */
  def mvIncremental(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureMv(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT ym, cnt, CAST(sum_cents / 100.0 AS DOUBLE) AS total_price
         |FROM $tbl ORDER BY ym""".stripMargin)
  }

  /** q212: change-feed v1→v2 of the q208 table — both versions read
    * through the catalog inside one plan, diffed full-outer on the key
    * (q105's device, pointed at snapshots instead of recomputes). */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val tbl = MergeQueries.ensureStaged(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""WITH oldv AS (
         |  SELECT c_custkey AS k, c_name AS old_name,
         |   CAST(bal_cents / 100.0 AS DOUBLE) AS old_bal
         |  FROM $tbl VERSION AS OF 1),
         |newv AS (
         |  SELECT c_custkey AS k2, c_name AS new_name,
         |   CAST(bal_cents / 100.0 AS DOUBLE) AS new_bal
         |  FROM $tbl)
         |SELECT * FROM (
         |  SELECT coalesce(o.k, n.k2) AS c_custkey,
         |   CASE WHEN o.k IS NULL THEN 'added'
         |        WHEN n.k2 IS NULL THEN 'removed'
         |        WHEN o.old_name IS DISTINCT FROM n.new_name
         |          OR o.old_bal IS DISTINCT FROM n.new_bal THEN 'changed'
         |   END AS change_type,
         |   o.old_bal, n.new_bal
         |  FROM oldv o FULL OUTER JOIN newv n ON o.k = n.k2)
         |WHERE change_type IS NOT NULL
         |ORDER BY c_custkey""".stripMargin)
  }

  /** Rollback staging: v1 = seed (customer, cents), v2 = a DELETE
    * statement (every third key), v3 = the rollback — INSERT OVERWRITE
    * from the v1 time-travel read. */
  private[v2] def ensureRollback(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.rollback") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"graft_lake.lake.customer_rb$id"
      ss.sql(s"CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, bal_cents BIGINT)")
      Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          Exact.cents(col("c_acctbal")).as("bal_cents"))
        .writeTo(tbl).append()
      ss.sql(s"DELETE FROM $tbl WHERE c_custkey % 3 = 0")
      // the rollback: one statement, no driver-side row movement — the
      // scan is pinned to v1 at analysis, the write truncate-replaces
      ss.sql(
        s"""INSERT OVERWRITE $tbl
           |SELECT c_custkey, c_name, bal_cents FROM $tbl VERSION AS OF 1
           |""".stripMargin)
      tbl
    }

  /** q213: the post-rollback table — must equal the seed byte-for-byte
    * (q209's oracle), with the deletion still visible at v2. */
  def rollback(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureRollback(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT c_custkey, c_name,
         | CAST(bal_cents / 100.0 AS DOUBLE) AS c_acctbal
         |FROM $tbl ORDER BY c_custkey""".stripMargin)
  }

  /** Write-audit-publish staging — Iceberg's WAP-on-branch, one table:
    *
    *  1. WRITE: ALL candidate rows land on the `audit` BRANCH of the
    *     published table (`main` readers see nothing — the branch
    *     pointer, not a second table, is the isolation);
    *  2. AUDIT: q211's calibrated row-local expectations run against
    *     `VERSION AS OF 'audit'`; violations are parked in the
    *     quarantine table (the audit trail is a TABLE, not a log line);
    *  3. REPAIR: the branch is rewritten to passing rows only and
    *     re-audited to zero violations;
    *  4. PUBLISH: `CALL graft_lake.system.fast_forward(main ← audit)` —
    *     one atomic pointer move, no data copied.
    *
    * At 100 TB each step is one pushed-filter scan, and the publish is
    * O(1): the candidate data was already in place on the branch —
    * fast-forward moves a KB-sized pointer, where the two-table shape
    * this replaced would have re-written the published copy. A failed
    * audit leaves `main` bit-identical and the branch GC-able
    * (LakeBranchSpec pins both). */
  private[v2] def ensureWap(s: SparkSession, dir: String): (String, String) =
    Staged.once(s, dir, "lake.wap") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val pub = s"graft_lake.lake.li_published$id"
      val quar = s"graft_lake.lake.li_quarantine$id"
      val schema = "(l_orderkey BIGINT, l_linenumber INT, " +
        "quantity DOUBLE, discount DOUBLE, price_cents BIGINT)"
      ss.sql(s"CREATE TABLE $pub $schema")
      ss.sql(s"CREATE TABLE $quar $schema")
      ss.sql(s"CALL graft_lake.system.create_branch(" +
        s"table => 'lake.li_published$id', branch => 'main', version => 0)")
      ss.sql(s"CALL graft_lake.system.create_branch(" +
        s"table => 'lake.li_published$id', branch => 'audit', version => 0)")

      // steps 1-3 run under the audit-branch context; the conf is
      // cleared in a finally — the lake session is SHARED and memoized,
      // and a leaked branch conf would silently redirect every later
      // table's default reads/writes that happen to have an 'audit'
      // branch
      val auditSess = MergeQueries.lakeSession(s)
      val bad = "NOT (quantity <= 30 AND discount >= 0 AND discount <= 0.10)"
      auditSess.conf.set(LakeTable.BranchConf, "audit")
      try {
        // 1. WRITE: every candidate row onto the audit branch
        Tables(auditSess, dir, "lineitem")
          .select(col("l_orderkey").cast("long").as("l_orderkey"),
            col("l_linenumber").cast("int").as("l_linenumber"),
            col("l_quantity").cast("double").as("quantity"),
            col("l_discount").cast("double").as("discount"),
            Exact.cents(col("l_extendedprice")).as("price_cents"))
          .writeTo(pub).append()

        // 2. AUDIT on the branch; violations parked in quarantine
        auditSess.sql(s"INSERT INTO $quar SELECT * FROM $pub WHERE $bad")
        val nBad = auditSess.sql(s"SELECT count(*) FROM $pub WHERE $bad")
          .head().getLong(0)

        // 3. REPAIR the branch to passing rows only, then re-audit
        if (nBad > 0)
          auditSess.sql(s"INSERT OVERWRITE $pub SELECT * FROM $pub WHERE NOT ($bad)")
        val still = auditSess.sql(s"SELECT count(*) FROM $pub WHERE $bad")
          .head().getLong(0)
        require(still == 0L,
          s"WAP audit not clean after repair: $still violations remain")
      } finally auditSess.conf.unset(LakeTable.BranchConf)

      // 4. PUBLISH: main jumps to the audited head
      ss.sql(s"CALL graft_lake.system.fast_forward(" +
        s"table => 'lake.li_published$id', to => 'main', from => 'audit')")
      (pub, quar)
    }

  /** q215: the audit-gated ingestion result — per-destination row
    * count and value total, read back from the two committed tables;
    * oracle = the same routing predicate grouped over raw lineitem. */
  def writeAuditPublish(s: SparkSession, dir: String): DataFrame = {
    val (pub, quar) = ensureWap(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT destination, count(*) AS n_rows,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS total_price
         |FROM (
         |  SELECT 'published' AS destination, price_cents FROM $pub
         |  UNION ALL
         |  SELECT 'quarantined' AS destination, price_cents FROM $quar)
         |GROUP BY destination ORDER BY destination""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // full recompute over the ENTIRE base: the incremental path must
    // answer exactly what a from-scratch rebuild answers
    // staged: the MV build
    QueryDef("q210_mv_incremental", mvIncremental, Some(
      """SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS ym,
        | count(*) AS cnt,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM orders GROUP BY ym ORDER BY ym""".stripMargin),
      stage = true),
    // q105's oracle verbatim: the snapshot-read diff and the
    // recompute-based diff must name the identical change-set
    QueryDef("q212_snapshot_diff", snapshotDiff,
      Some(graft.operators.CdcOps.oracle("q105_table_diff"))),
    // q209's oracle verbatim: rollback restores the seed exactly
    // staged: the rollback
    QueryDef("q213_version_rollback", rollback,
      Some(MergeQueries.oracle("q209_time_travel")), stage = true),
    // the routed tables must partition the source exactly: same
    // predicate, grouped over raw lineitem
    // staged: the WAP routing
    QueryDef("q215_write_audit_publish", writeAuditPublish, Some(
      """SELECT CASE WHEN l_quantity <= 30 AND l_discount >= 0 AND l_discount <= 0.10
        |  THEN 'published' ELSE 'quarantined' END AS destination,
        | count(*) AS n_rows,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_price
        |FROM lineitem GROUP BY destination ORDER BY destination""".stripMargin),
      stage = true))
}
