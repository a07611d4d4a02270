package graft.sources.v2

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact
import GraftLakeStore.{PendingEq, TableHandle}

/** Equality-delete upsert (q233) — merge-on-read TIER 2, the write
  * shape of a streaming CDC consumer that cannot compute row positions
  * cheaply: instead of scanning the table to find matched `(_split,
  * _pos)` identities (q225's position-delete MERGE), the writer commits
  * (a) one parquet of KEY VALUES to delete and (b) the replacement/new
  * rows — zero table reads, zero files rewritten (Iceberg v2 equality
  * deletes). Readers apply the key filter to every data file that
  * existed when the delete committed; the upsert's own inserts are
  * exempt by the file-id bound.
  *
  * q233 executes q97's change-set as ONE equality upsert: matched keys
  * (both the DELETEs and the update pre-images) go into the delete
  * file; the updated rows and the fresh INSERTs go in as appends. The
  * oracle is q97's VERBATIM — the FOURTH write shape gated against the
  * same truth (hand-built join q97, copy-on-write MERGE q208,
  * position-delete MERGE q225, equality upsert q233).
  *
  * 100 TB shape: the delete file is change-sized and the insert files
  * are change-sized; commit cost is one manifest. The read-side cost is
  * the honest trade (every covered file's scan adds a key-set probe),
  * which is why compaction purges equality deletes (INSERT OVERWRITE
  * resets them — LakeMorSpec pins it).
  */
object EqUpsertQueries extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  /** Stage a DF of key values as equality-delete parquets in the
    * table's data dir — one file PER WRITE TASK (a 100 TB CDC batch's
    * change-set never funnels through a single writer), columns stored
    * under the key columns' PHYSICAL names with their table types. Row
    * counts come from the parquet footers the tasks already wrote — the
    * change-set is computed exactly once. `keys`' columns align with
    * `keyCols` positionally. */
  private[v2] def stageEq(handle: TableHandle, keys: DataFrame,
      keyCols: Seq[String]): Seq[PendingEq] = {
    val snap = handle.snapshot(handle.latestVersion)
    val fileSchema = LakeEq.fileSchema(snap, keyCols)
    require(keys.columns.length == keyCols.length,
      s"stageEq: ${keys.columns.length} columns for ${keyCols.length} keys")
    val tmp = graft.util.TempDirs.create("graft_eq_stage_")
    keys.select(keys.columns.zip(fileSchema.fields).map { case (c, f) =>
        col(c).cast(f.dataType).as(f.name) }: _*)
      .write.mode("overwrite").parquet(tmp.toString)
    val l = Files.list(tmp)
    val parts = try l.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    finally l.close()
    parts.zipWithIndex.map { case (p, i) =>
      val name = s"eq-${java.util.UUID.randomUUID().toString.take(12)}-$i.parquet"
      val dest = handle.dataDir.resolve(name)
      Files.move(p, dest)
      PendingEq(name, keyCols, LakeParquet.footerRows(dest.toString))
    }
  }

  /** Staging: CREATE + seed customer (v1), then q97's change-set as one
    * equality-delete upsert commit (v2) — no table read, no rewrite. */
  private[v2] def ensureEqUpsert(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.eq_upsert") {
      val ss = MergeQueries.lakeSession(s)
      val id = nextId.incrementAndGet()
      val tbl = s"lake.customer_eq$id"
      ss.sql(s"CREATE TABLE graft_lake.$tbl " +
        "(c_custkey BIGINT, c_name STRING, bal_cents BIGINT)")
      val handle = GraftLakeStore.get(GraftLakeStore.defaultRoot, tbl).get
      val base = Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          Exact.cents(col("c_acctbal")).as("bal_cents"))
      base.writeTo(s"graft_lake.$tbl").append() // v1: seed

      // q97's change-set verbatim (MergeQueries.seedAndMerge's shape):
      // per customer with 1995 orders, D when max status is 'F' else U
      // adding the year's spend; INSERTs in the negative key space
      val chg = Tables(ss, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1996-01-01"))
        .groupBy(col("o_custkey").cast("long").as("k"))
        .agg(
          when(max(col("o_orderstatus")) === "F", lit("D")).otherwise(lit("U"))
            .as("op"),
          sum(Exact.cents(col("o_totalprice"))).as("delta_cents"))
        .unionByName(Tables(ss, dir, "customer")
          .filter(col("c_custkey") % 97 === 0)
          .select((-col("c_custkey").cast("long") - 1L).as("k"),
            lit("I").as("op"), lit(0L).as("delta_cents")))

      // the upsert, CDC-writer style — NO position is read:
      //  - delete file = every MATCHED key (D pre-images AND U pre-
      //    images; an update is delete-by-key + insert-new-version)
      //  - inserts = U rows with the updated balance + I rows
      val matched = chg.filter(col("op").isin("D", "U"))
        .join(base.select(col("c_custkey")), col("k") === col("c_custkey"),
          "left_semi")
      val eq = stageEq(handle, matched.select("k"), Seq("c_custkey"))
      val updated = chg.filter(col("op") === "U")
        .join(base, col("k") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          (col("bal_cents") + col("delta_cents")).as("bal_cents"))
      // insert names match q97's MERGE clause: 'new#' || k
      val inserted = chg.filter(col("op") === "I")
        .select(col("k").as("c_custkey"),
          concat(lit("new#"), col("k").cast("string")).as("c_name"),
          col("delta_cents").as("bal_cents"))
      val ins = LakeTxn.stage(handle, updated.unionByName(inserted))
      val v = handle.commitEqDelta(1, eq, ins)
      require(v == 2, s"equality upsert expected v2, got $v")
      // the loud tier-2 contract: no data file rewritten, deletes are
      // VALUES (a snapshot-level eq ref), not positions
      val snap = handle.snapshot(2)
      require(snap.eqDels.nonEmpty && snap.files.map(_.dvs).forall(_.isEmpty),
        "equality upsert must commit eq-delete refs and no position DVs")
      require(handle.snapshot(1).files.map(f => (f.id, f.path)).toSet
          .subsetOf(snap.files.map(f => (f.id, f.path)).toSet),
        "equality upsert must rewrite no data file")
      s"graft_lake.$tbl"
    }

  /** q233: the post-upsert table — must equal q97/q208/q225's answer
    * to the byte (one oracle, four write shapes). */
  def eqUpsertRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureEqUpsert(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT c_custkey, c_name,
         | CAST(bal_cents / 100.0 AS DOUBLE) AS c_acctbal
         |FROM $tbl ORDER BY c_custkey""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // staged: the equality-delete upsert
    QueryDef("q233_eq_delete_upsert", eqUpsertRead,
      Some(graft.operators.CdcOps.oracle("q97_cdc_merge")), stage = true))
}
