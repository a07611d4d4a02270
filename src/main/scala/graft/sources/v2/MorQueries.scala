package graft.sources.v2

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged}

/** Merge-on-read DML as a declared surface (round 9, second wave):
  * the SAME q97 change-set MERGE that q208 runs copy-on-write, executed
  * against a table created with `write.dml.mode = merge-on-read` — so
  * the two write strategies are gated against ONE oracle and must agree
  * to the byte. Reference analog: none — capability-rounding on the
  * lake catalog (the reference only ever overwrites whole tables,
  * src/data_processor.py:237-269).
  *
  *  - q225 merge-on-read MERGE: the statement commits position-delete
  *    vectors + insert files through Spark's delta-write protocol
  *    (SupportsDelta) and rewrites NO data file — staging asserts every
  *    seed file survives the commit by manifest reference (the 100 TB
  *    point: matched-row DML cost is proportional to the CHANGE, not to
  *    the files the changes land in). Oracle = q97's verbatim, shared
  *    with q208: same answer, different write shape.
  *  - q226 row-level CDC audit: the change feed over the merge-on-read
  *    table emits, for the MERGE's commit, EXACTLY the deleted
  *    pre-images (matched DELETEs + the delete half of updates) — a
  *    whole-file emission would include every customer and fail the
  *    oracle, which recomputes the matched set from raw orders. This is
  *    the row-level CDC contract the file-level feed (q216) cannot
  *    offer: consumers see precise row changes, volume proportional to
  *    the DML, not to the touched files.
  */
object MorQueries extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  /** Staging: CREATE (merge-on-read) → seed → q97's MERGE — and the
    * loud contract that the MERGE rewrote NO data file: every seed
    * file must survive the delta commit by (id, path) reference. */
  private[v2] def ensureMorStaged(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.mor") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.customer_mor$id"
      ss.sql(s"CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, bal_cents BIGINT) " +
        "TBLPROPERTIES ('write.dml.mode'='merge-on-read')")
      MergeQueries.seedAndMerge(ss, dir, tbl, 1000 + id)
      val handle = GraftLakeStore
        .get(GraftLakeStore.defaultRoot, tbl.stripPrefix("graft_lake.")).get
      val seed = handle.snapshot(1).files.map(f => (f.id, f.path)).toSet
      val after = handle.snapshot(2)
      require(after.op == "delta" &&
          seed.subsetOf(after.files.map(f => (f.id, f.path)).toSet),
        s"merge-on-read MERGE must rewrite no data file: seed=$seed " +
          s"after=${after.files.map(f => (f.id, f.path))}")
      require(after.files.exists(_.dvs.nonEmpty),
        "the MERGE's deletes must have landed as delete vectors")
      tbl
    }

  /** q225: the post-MERGE state of the merge-on-read table — must equal
    * q208's copy-on-write answer (one oracle gates both strategies). */
  def morMergeRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureMorStaged(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT c_custkey, c_name,
         | CAST(bal_cents / 100.0 AS DOUBLE) AS c_acctbal
         |FROM $tbl ORDER BY c_custkey""".stripMargin)
  }

  /** Tail the merge-on-read table's change feed once per (app, dir)
    * (the q216 device). The feed reads the commits of q225's staged
    * table, so that staging runs first. */
  private def ensureMorFeed(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.mor_feed") {
      val tbl = ensureMorStaged(s, dir).stripPrefix("graft_lake.")
      LakeFeed.drainToParquet(MergeQueries.lakeSession(s), tbl)
    }

  /** q226: the MERGE commit's delete stream — exactly the matched
    * pre-images, proving the feed is row-level over delete vectors. */
  def morChangeAudit(s: SparkSession, dir: String): DataFrame = {
    val acc = ensureMorFeed(s, dir)
    s.read.parquet(s"$acc/b*")
      .filter(col(LakeFeed.ChangeTypeCol) === "delete" &&
        col(LakeFeed.CommitVersionCol) === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("bal_cents") / 100.0).cast("double").as("c_acctbal"))
      .orderBy("c_custkey")
  }

  val defs: Seq[QueryDef] = Seq(
    // q97's oracle verbatim: copy-on-write (q208), merge-on-read
    // (q225), and the hand-built join (q97) must all agree
    // staged: the delta-write MERGE that q226's change feed reads
    QueryDef("q225_mor_merge", morMergeRead,
      Some(graft.operators.CdcOps.oracle("q97_cdc_merge")), stage = true),
    // the deleted pre-images = every customer the change-set matched
    // (both the DELETE rows and the delete half of updates), at their
    // SEED balances
    // staged: the row-level change-feed run over q225's table
    QueryDef("q226_mor_change_audit", morChangeAudit, Some(
      """SELECT c_custkey, c_name,
        | CAST(CAST(round(c_acctbal*100) AS BIGINT) / 100.0 AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= DATE '1995-01-01'
        |    AND o_orderdate < DATE '1996-01-01')
        |ORDER BY c_custkey""".stripMargin),
      stage = true, lifecycle = true))
}
