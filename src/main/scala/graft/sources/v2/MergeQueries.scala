package graft.sources.v2

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** SQL DML front door: a real `MERGE INTO` statement executed against a
  * [[GraftLakeCatalog]] table, plus a `VERSION AS OF` time-travel read
  * of the pre-merge snapshot.
  *
  * q97 (operators/CdcOps.scala) implements MERGE *semantics* as a
  * DataFrame full-outer join; these queries run the *statement* — the
  * warehouse user's actual first mutation — through Spark's own
  * RewriteMergeIntoTable rule and the catalog's group-based row-level
  * write, against the SAME deterministic change-set. q208's DuckDB
  * oracle is q97's oracle verbatim: the statement path must answer
  * exactly what the hand-built join answers, or one of them is wrong.
  *
  * Staging is memoized per (application, source dir) — the
  * CboQueries device: v0 = CREATE, v1 = seed INSERT of `customer`
  * (money as integer cents, Exact.cents, so the merged balance is
  * bit-identical to the oracle's), v2 = MERGE. Every declared call
  * then READS: q208 the current snapshot, q209 snapshot v1 — which, by
  * construction, is read only AFTER v2 exists, the actual time-travel
  * contract (a pinned reader is unaffected by later commits).
  *
  * 100 TB shape: the MERGE executes as one co-partitioned shuffle of
  * base and changes plus a rewrite of affected groups — the identical
  * plan q97 carries, now planned by Spark's rewrite rules instead of by
  * hand. The catalog confs live on a session clone; nothing leaks into
  * the caller's session.
  */
object MergeQueries extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  private val catalogConf = "spark.sql.catalog.graft_lake"

  /** A clone with the lake catalog registered — per call, so the
    * caller's session conf is never touched. */
  private[v2] def lakeSession(s: SparkSession): SparkSession = {
    val ss = org.apache.spark.sql.graft.SessionClone(s)
    ss.conf.set(catalogConf, classOf[GraftLakeCatalog].getName)
    ss
  }

  /** Seed `tbl` (which must already exist with the customer_m shape)
    * with the base table and run q97's change-set MERGE against it —
    * the deterministic staging both the copy-on-write (q208) and
    * merge-on-read (q225) front doors share, so the two write
    * strategies answer the SAME oracle. */
  private[v2] def seedAndMerge(ss: SparkSession, dir: String, tbl: String,
      id: Int): Unit = {
    // v1: seed with the base table, money in integer cents
    Tables(ss, dir, "customer")
      .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
        Exact.cents(col("c_acctbal")).as("bal_cents"))
      .writeTo(tbl).append()
    // q97's change-set, verbatim: per customer with 1995 orders,
    // DELETE when the max status is 'F' else UPDATE adding the
    // year's spend; INSERTs in the negative key space (collision-free
    // at every scale factor)
    val chg = s"graft_lake_chg$id"
    Tables(ss, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1996-01-01"))
      .groupBy(col("o_custkey").cast("long").as("k"))
      .agg(
        when(max(col("o_orderstatus")) === "F", lit("D")).otherwise(lit("U")).as("op"),
        sum(Exact.cents(col("o_totalprice"))).as("delta_cents"))
      .unionByName(Tables(ss, dir, "customer")
        .filter(col("c_custkey") % 97 === 0)
        .select((-col("c_custkey").cast("long") - 1L).as("k"),
          lit("I").as("op"), lit(0L).as("delta_cents")))
      .createOrReplaceTempView(chg)
    // v2: the statement under test. Clause order mirrors standard
    // MERGE semantics: matched+D deletes, matched otherwise updates,
    // unmatched inserts ONLY the 'I' rows (an unmatched U/D change
    // has nothing to update/delete), unmatched target rows carry over
    ss.sql(
      s"""MERGE INTO $tbl t USING $chg c ON t.c_custkey = c.k
         |WHEN MATCHED AND c.op = 'D' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET bal_cents = t.bal_cents + c.delta_cents
         |WHEN NOT MATCHED AND c.op = 'I' THEN
         |  INSERT (c_custkey, c_name, bal_cents)
         |  VALUES (c.k, concat('new#', CAST(c.k AS STRING)), c.delta_cents)
         |""".stripMargin)
  }

  /** Returns the staged table's fully qualified name; first caller per
    * (application, dir) runs CREATE → seed INSERT → MERGE INTO. */
  private[v2] def ensureStaged(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.merge") {
      val ss = lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"graft_lake.lake.customer_m$id"
      ss.sql(s"CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, bal_cents BIGINT)")
      seedAndMerge(ss, dir, tbl, id)
      tbl
    }

  /** q208: the post-MERGE table, read back through the catalog. */
  def sqlMergeInto(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureStaged(s, dir)
    lakeSession(s).sql(
      s"""SELECT c_custkey, c_name,
         | CAST(bal_cents / 100.0 AS DOUBLE) AS c_acctbal
         |FROM $tbl ORDER BY c_custkey""".stripMargin)
  }

  /** q209: snapshot v1 (the seed), read AFTER the merge committed v2 —
    * must equal the pre-merge base exactly. */
  def timeTravelRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureStaged(s, dir)
    lakeSession(s).sql(
      s"""SELECT c_custkey, c_name,
         | CAST(bal_cents / 100.0 AS DOUBLE) AS c_acctbal
         |FROM $tbl VERSION AS OF 1 ORDER BY c_custkey""".stripMargin)
  }

  /** Staging for q243: dim-table SYNC — the canonical nightly
    * reconciliation a warehouse runs against an upstream system,
    * expressed as ONE MERGE carrying all three clause families
    * (Spark's full MERGE grammar incl. `WHEN NOT MATCHED BY SOURCE`).
    * The target starts DRIFTED from the source: every `ckey%7==0` row
    * missing (to INSERT), every `ckey%5==0` balance stale by +1000
    * cents (to UPDATE), and 50 ghost rows in the negative key space
    * that vanished upstream (to DELETE). Post-merge, the table must
    * equal the source EXACTLY — which is what the raw-customer oracle
    * checks, so every clause is individually load-bearing: a missed
    * update leaves a perturbed balance, a missed insert a hole, a
    * missed by-source delete a ghost.
    *
    * The table is merge-on-read: the whole reconciliation commits as
    * position-deletes + insert files with ZERO data files rewritten
    * (staging-require'd) — at 100 TB a nightly sync touching 2% of a
    * dim writes KBs of deltas, not a table rewrite. */
  private[v2] def ensureSynced(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.sync") {
      val ss = lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"graft_lake.lake.customer_sync$id"
      ss.sql(s"CREATE TABLE $tbl (ckey BIGINT, cname STRING, " +
        "bal_cents BIGINT) TBLPROPERTIES ('write.dml.mode'='merge-on-read')")
      val src = Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("ckey"),
          col("c_name").as("cname"),
          Exact.cents(col("c_acctbal")).as("bal_cents"))
      src.filter(col("ckey") % 7 =!= 0)
        .withColumn("bal_cents", when(col("ckey") % 5 === 0,
          col("bal_cents") + 1000L).otherwise(col("bal_cents")))
        .union(ss.range(1, 51).select((-col("id")).as("ckey"),
          concat(lit("ghost#"), col("id")).as("cname"),
          lit(0L).as("bal_cents")))
        .writeTo(tbl).append()
      src.createOrReplaceTempView(s"sync_src$id")
      ss.sql(
        s"""MERGE INTO $tbl t USING sync_src$id s ON t.ckey = s.ckey
           |WHEN MATCHED AND t.bal_cents != s.bal_cents THEN
           |  UPDATE SET bal_cents = s.bal_cents
           |WHEN NOT MATCHED THEN
           |  INSERT (ckey, cname, bal_cents) VALUES (s.ckey, s.cname, s.bal_cents)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      // loud staging contract: the sync rode the merge-on-read path —
      // one delta snapshot, every seed data file carried, none rewritten
      val h = GraftLakeStore.get(GraftLakeStore.defaultRoot,
        s"lake.customer_sync$id").get
      val last = h.snapshot(h.latestVersion)
      require(last.op == "delta",
        s"the sync must commit deltas, got op='${last.op}'")
      val carried = last.files.map(_.path).toSet
      require(h.snapshot(1).files.map(_.path).forall(carried),
        "merge-on-read sync must rewrite NO data file")
      tbl
    }

  /** q243: per-decile rollup of the synced dim — equals the raw source
    * rollup iff the updates landed, the inserts arrived, and the
    * vanished ghosts died (see ensureSynced). */
  def mergeSyncRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureSynced(s, dir)
    lakeSession(s).sql(
      s"""SELECT ckey % 10 AS decile, count(*) AS n_cust,
         | CAST(sum(bal_cents) / 100.0 AS DOUBLE) AS balance,
         | min(ckey) AS min_key
         |FROM $tbl GROUP BY ckey % 10 ORDER BY decile""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // q97's oracle verbatim (CdcOps.scala): statement path and
    // DataFrame path must agree to the byte
    // staged: CREATE + seed + MERGE of the lake table q209/q212 also read
    QueryDef("q208_sql_merge_into", sqlMergeInto,
      Some(graft.operators.CdcOps.oracle("q97_cdc_merge")), stage = true),
    // v1 == the base table with cents-rounded balances
    QueryDef("q209_time_travel", timeTravelRead, Some(
      """SELECT c_custkey, c_name,
        | CAST(CAST(round(c_acctbal*100) AS BIGINT) / 100.0 AS DOUBLE) AS c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // the synced dim must equal the raw source EXACTLY (drift repaired
    // by all three MERGE clause families), so the oracle is blind to
    // the drift construction entirely
    QueryDef("q243_merge_sync_by_source", mergeSyncRead, Some(
      """SELECT c_custkey % 10 AS decile, count(*) AS n_cust,
        | CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS balance,
        | min(c_custkey) AS min_key
        |FROM customer GROUP BY c_custkey % 10 ORDER BY decile""".stripMargin),
      stage = true))
}
