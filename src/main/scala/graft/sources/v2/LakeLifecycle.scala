package graft.sources.v2

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact
import graft.streaming.StreamingQueries

/** Second wave of lake-table lifecycle operators, all over the
  * file-backed [[GraftLakeStore]] (round 9): incremental change-feed
  * consumption, snapshot expiration, compaction-as-a-snapshot, schema
  * evolution, and partitioned lake tables. Reference analog: none —
  * the reference recomputes and overwrites whole tables every run
  * (src/data_processor.py:237-269); these are the maintenance moves a
  * warehouse performs once tables are durable and versioned.
  *
  *  - q216 change-feed consumer: tails q208's commit log through the
  *    real StreamExecution engine ([[LakeFeedProvider]]), folds the
  *    `insert`/`delete` stream by row content, and must reconstruct the
  *    table's current state EXACTLY (q97's oracle — the batch truth).
  *    This is the incremental-consumer contract: a downstream pipeline
  *    keeps pace with a mutating table by reading only changed files,
  *    never rescanning the base.
  *  - q217 snapshot expiration: history is append-only (every MERGE /
  *    rollback / micro-batch adds a snapshot), so a production table
  *    expires old snapshots nightly. Expiration must not move a single
  *    byte of the retained state — the declared query reads the latest
  *    snapshot after expiring all but the last two and must equal the
  *    seed recompute; staging additionally proves expired versions fail
  *    loudly and orphaned data files are GC'd (LakeStoreSpec pins the
  *    mechanics).
  *  - q218 lake compaction: many-small-files ingestion (three separate
  *    INSERTs) bin-packed by one `INSERT OVERWRITE t SELECT … FROM t`
  *    with a REPARTITION(2) hint — compaction IS a snapshot, so readers of old
  *    versions are untouched and the operation is time-travel-undoable.
  *    Staging asserts the file count dropped; the oracle (q205's shape)
  *    pins that the row multiset never changed.
  *  - q219 schema evolution: `ALTER TABLE ADD COLUMN` between two
  *    appends; the declared query reads ACROSS the boundary — rows from
  *    pre-evolution files surface NULL for the new column, by manifest
  *    metadata alone (no file rewritten).
  *  - q220 partitioned lake table: orders ingested month-partitioned
  *    through the catalog; a 3-month question plans only the matching
  *    files (LakeDmlSpec pins the split count) and must answer exactly
  *    what the unpartitioned base answers (q65's oracle).
  */
object LakeLifecycle extends graft.QueryModule {

  private val nextId = new AtomicInteger()

  // ---- q216: change-feed consumer ----------------------------------

  /** Runs the feed over q208's staged table once per (app, dir). */
  private def ensureFeedAcc(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.feed") {
      val tbl = MergeQueries.ensureStaged(s, dir).stripPrefix("graft_lake.")
      LakeFeed.drainToParquet(MergeQueries.lakeSession(s), tbl)
    }

  /** q216: reconstruct the table's current state from the change feed
    * alone — fold insert−delete by row content; oracle = q97's (the
    * post-MERGE state computed from the raw tables). */
  def changeFeedConsumer(s: SparkSession, dir: String): DataFrame = {
    val acc = ensureFeedAcc(s, dir)
    s.read.parquet(s"$acc/b*")
      .groupBy(col("c_custkey"), col("c_name"), col("bal_cents"))
      .agg(sum(when(col(LakeFeed.ChangeTypeCol) === "insert", 1L)
        .otherwise(-1L)).as("net"))
      .filter(col("net") > 0)
      .select(col("c_custkey"), col("c_name"),
        (col("bal_cents") / 100.0).cast("double").as("c_acctbal"))
      .orderBy("c_custkey")
  }

  // ---- q217: snapshot expiration -----------------------------------

  /** Staging: seed → DELETE every third key → rollback via time travel
    * (v3 = v1's content), then expire all but the last two snapshots.
    * The staging itself asserts the expiration CONTRACT loudly — a
    * declared query must not depend on a silently-broken invariant. */
  private def ensureExpired(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.expire") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.customer_exp$id"
      ss.sql(s"CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, bal_cents BIGINT)")
      Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          Exact.cents(col("c_acctbal")).as("bal_cents"))
        .writeTo(tbl).append()
      ss.sql(s"DELETE FROM $tbl WHERE c_custkey % 3 = 0")
      ss.sql(s"INSERT OVERWRITE $tbl SELECT * FROM $tbl VERSION AS OF 1")
      val handle = GraftLakeStore
        .get(GraftLakeStore.defaultRoot, tbl.stripPrefix("graft_lake.")).get
      val expired = handle.expireSnapshots(keepLast = 2)
      require(expired == Seq(0, 1), s"expected to expire v0,v1 — got $expired")
      // the contract: retained versions readable, expired loud
      require(ss.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 2").head().getLong(0) >= 0)
      val failed =
        try { ss.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1").collect(); false }
        catch { case _: Throwable => true }
      require(failed, "reading an expired snapshot must fail loudly")
      tbl
    }

  /** q217: the latest snapshot after expiration — byte-equal to the
    * seed (the rollback state), proving expiration moved no data. */
  def snapshotExpiration(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureExpired(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT c_custkey, c_name,
         | CAST(bal_cents / 100.0 AS DOUBLE) AS c_acctbal
         |FROM $tbl ORDER BY c_custkey""".stripMargin)
  }

  // ---- q218: compaction as a snapshot ------------------------------

  private def ensureCompacted(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.compact") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.li_comp$id"
      ss.sql(s"CREATE TABLE $tbl " +
        "(l_returnflag STRING, qty BIGINT, price_cents BIGINT)")
      val li = Tables(ss, dir, "lineitem").select(
        col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        Exact.cents(col("l_extendedprice")).as("price_cents"))
      // three fragmented ingests -> many small files
      (0 to 2).foreach { i =>
        li.filter(pmod(col("l_orderkey"), lit(3)) === i)
          .repartition(8).writeTo(tbl).append()
      }
      val handle = GraftLakeStore
        .get(GraftLakeStore.defaultRoot, tbl.stripPrefix("graft_lake.")).get
      val before = handle.snapshot(handle.latestVersion).files.size
      // compaction IS a commit: one statement, bin count via the hint
      ss.sql(s"INSERT OVERWRITE $tbl SELECT /*+ REPARTITION(2) */ * FROM $tbl")
      val after = handle.snapshot(handle.latestVersion).files.size
      require(after < before && after <= 2,
        s"compaction must shrink the layout: $before -> $after files")
      tbl
    }

  /** q218: pricing rollup from the COMPACTED lake table; oracle
    * aggregates raw lineitem (q205's shape) — layout changed, answer
    * must not. */
  def lakeCompaction(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureCompacted(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT l_returnflag, count(*) AS n_items, sum(qty) AS sum_qty,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS sum_price
         |FROM $tbl GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  // ---- q219: schema evolution ---------------------------------------

  private def ensureEvolved(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.evolve") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.nation_evo$id"
      ss.sql(s"CREATE TABLE $tbl (n_nationkey BIGINT, n_name STRING)")
      val nation = Tables(ss, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      nation.filter(col("n_nationkey") < 12).writeTo(tbl).append()
      ss.sql(s"ALTER TABLE $tbl ADD COLUMN ingest_tag STRING")
      nation.filter(col("n_nationkey") >= 12)
        .withColumn("ingest_tag", lit("v2")).writeTo(tbl).append()
      tbl
    }

  /** q219: read across the evolution boundary — pre-evolution rows
    * carry NULL for the added column, from manifest metadata alone. */
  def schemaEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureEvolved(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT n_nationkey, n_name, ingest_tag,
         | count(*) OVER (PARTITION BY ingest_tag IS NULL) AS cohort_size
         |FROM $tbl ORDER BY n_nationkey""".stripMargin)
  }

  // ---- q220: partitioned lake table ---------------------------------

  private def ensurePartitioned(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.partitioned") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.orders_bym$id"
      ss.sql(s"CREATE TABLE $tbl " +
        "(o_orderkey BIGINT, o_month STRING, price_cents BIGINT) " +
        "PARTITIONED BY (o_month)")
      Tables(ss, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          substring(col("o_orderdate").cast("string"), 1, 7).as("o_month"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
        // co-locate each month in one write task -> one file per month
        .repartition(4, col("o_month"))
        .writeTo(tbl).append()
      tbl
    }

  /** q220: 3-month question over the month-partitioned lake table —
    * the scan plans only the matching files (LakeDmlSpec pins the
    * split count); q65's oracle over raw orders. */
  def partitionedLakeScan(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensurePartitioned(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT o_month, count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS sum_total
         |FROM $tbl
         |WHERE o_month BETWEEN '1995-01' AND '1995-03'
         |GROUP BY o_month ORDER BY o_month""".stripMargin)
  }

  // ---- q221: min/max data skipping --------------------------------

  /** Orders ingested RANGE-CLUSTERED on the key (repartitionByRange →
    * each write task holds one disjoint key range), so every file's
    * manifest carries tight o_orderkey min/max — the layout a
    * sorted-ingest or clustered table produces, and what makes the
    * stats usable (random placement gives every file the full range
    * and skips nothing). */
  private def ensureClustered(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.clustered") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.orders_rng$id"
      ss.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, price_cents BIGINT)")
      val src = Tables(ss, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          Exact.cents(col("o_totalprice")).as("price_cents"))
      src.repartitionByRange(8, col("o_orderkey")).writeTo(tbl).append()
      tbl
    }

  /** q221: a key-range question answered by opening only the files
    * whose [min,max] intersects it — LakeDmlSpec pins the planned
    * split count; the oracle is the same range over raw orders. */
  def dataSkippingScan(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureClustered(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT count(*) AS n_orders,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS sum_total
         |FROM $tbl WHERE o_orderkey BETWEEN 100 AND 1000""".stripMargin)
  }

  // ---- q222: snapshot history --------------------------------------

  /** q222: the table's commit history from manifests alone — version,
    * operation kind, row count per snapshot (Delta's DESCRIBE HISTORY
    * shape). Driver-side work is one KB-sized manifest read per
    * version (bounded by history length, never data size); the row
    * counts come from write-task metadata, so the oracle — which
    * RECOMPUTES each version's count from the raw tables — also gates
    * that the manifests' accounting matches the data. */
  def lakeHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = MergeQueries.ensureStaged(s, dir)
    val handle = GraftLakeStore
      .get(GraftLakeStore.defaultRoot, tbl.stripPrefix("graft_lake.")).get
    (0 to handle.latestVersion).map { v =>
      val sn = handle.snapshot(v)
      (v, sn.op, sn.files.map(_.rows).sum)
    }.toDF("version", "operation", "n_rows").orderBy("version")
  }

  // ---- q223: native streaming APPEND sink ---------------------------

  /** Staging: `writeStream.toTable` straight into a lake table — the
    * catalog's native STREAMING_WRITE path, no foreachBatch. Each
    * micro-batch epoch commits as one snapshot carrying its (queryId,
    * epochId) txn marker, so a replayed epoch appends nothing twice
    * (LakeFeedSpec pins the dedup and the 3-epoch history). With the
    * change-feed source (q216) this closes the loop: streams in and
    * out of the lake, both through the real engine. The stream's source
    * is the split-3 events staging the streaming queries share
    * (q115's device: three files, one micro-batch each). */
  private def ensureStreamSink(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.stream_sink") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.events_sink$id"
      ss.sql(s"CREATE TABLE $tbl (event_id BIGINT, user_id BIGINT, value_cents BIGINT)")
      val chk = graft.util.TempDirs.create(s"graft_lake_sinkchk$id" + "_").toString
      val q = StreamingQueries.eventsStream(ss, dir, StreamingQueries.stageDirSplit(s, dir),
          oneFilePerTrigger = true)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          Exact.cents(col("value")).as("value_cents"))
        .writeStream
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .toTable(tbl)
      q.awaitTermination()
      tbl
    }

  /** q223: the streamed-in table's rollup — must equal the batch
    * aggregate over raw events (ingestion was append-only and
    * exactly-once). */
  def streamingLakeSink(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureStreamSink(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT count(*) AS n_events,
         | count(DISTINCT user_id) AS n_users,
         | CAST(sum(value_cents) / 100.0 AS DOUBLE) AS total_value
         |FROM $tbl""".stripMargin)
  }

  // ---- q224: Z-ordered lake compaction ------------------------------

  /** Stage lineitem keys into the lake RANDOMLY placed (repartition →
    * every file spans the whole key space, stats prune nothing), then
    * rewrite Z-ORDERED as one overwrite snapshot: cluster by the
    * (l_partkey, l_suppkey) Morton code (ZOrderQueries.zvalue — the
    * codegen'd bit-interleave, no UDF), range-partitioned + sorted so
    * each file covers a small RECTANGLE of the 2-D key space and the
    * manifest's min/max become selective in BOTH dimensions at once —
    * OPTIMIZE ZORDER as a lake snapshot, composing q104's device with
    * the round-9 stats skipping. LakeDmlSpec pins that the z-ordered
    * layout plans strictly fewer files under a box predicate than the
    * random layout did. */
  private def ensureZOrdered(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.zorder") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.li_z$id"
      ss.sql(s"CREATE TABLE $tbl " +
        "(l_partkey BIGINT, l_suppkey BIGINT, price_cents BIGINT)")
      Tables(ss, dir, "lineitem")
        .select(col("l_partkey").cast("long").as("l_partkey"),
          col("l_suppkey").cast("long").as("l_suppkey"),
          Exact.cents(col("l_extendedprice")).as("price_cents"))
        .repartition(8) // deliberately unclustered: the "before" layout
        .writeTo(tbl).append()
      val z = graft.sources.ZOrderQueries.zvalue(col("l_partkey"), col("l_suppkey"))
      ss.table(tbl)
        .withColumn("__z", z)
        .repartitionByRange(8, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .writeTo(tbl).overwrite(lit(true))
      tbl
    }

  /** q224: a 2-D box question over the z-ordered lake table — the scan
    * plans only files whose stats-rectangle intersects the box; the
    * oracle is the same box over raw lineitem. */
  def zorderedLakeScan(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureZOrdered(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT count(*) AS n_items,
         | CAST(sum(price_cents) / 100.0 AS DOUBLE) AS sum_price
         |FROM $tbl
         |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 8
         |""".stripMargin)
  }

  // ---- q231: maintenance by CALL statement ---------------------------

  /** Staging: seed → DELETE → maintenance BY STATEMENT — `CALL
    * graft_lake.system.create_tag(...)` pins the seed, `CALL
    * expire_snapshots(...)` reports exactly [v0] expired (the tag
    * holds v1), both through Spark's DSv2 procedure protocol. The
    * staging asserts the CALL outputs loudly. */
  private def ensureCalled(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.called") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.customer_prc$id"
      ss.sql(s"CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, bal_cents BIGINT)")
      Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          Exact.cents(col("c_acctbal")).as("bal_cents"))
        .writeTo(tbl).append()
      ss.sql(s"DELETE FROM $tbl WHERE c_custkey % 3 = 0")
      val short = tbl.stripPrefix("graft_lake.")
      val tag = ss.sql(
        s"CALL graft_lake.system.create_tag(table => '$short', tag => 'seed', version => 1)")
        .collect().toSeq
      require(tag.map(r => (r.getString(0), r.getInt(1))) == Seq(("seed", 1)),
        s"create_tag must report its ref, got $tag")
      val expired = ss.sql(
        s"CALL graft_lake.system.expire_snapshots(table => '$short', keep_last => 1)")
        .collect().map(_.getInt(0)).toSeq
      require(expired == Seq(0),
        s"the tag must pin v1: only v0 expires, got $expired")
      tbl
    }

  /** q231: the maintenance state, read back through the metadata
    * tables — the statement-created tag joined to the commit log's
    * row accounting at its pinned version. Oracle recomputes the seed
    * count from raw customer. */
  def callMaintenance(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureCalled(s, dir)
    val dot = tbl.lastIndexOf('.')
    def meta(kind: String) =
      s"${tbl.substring(0, dot)}.`${tbl.substring(dot + 1)}$$$kind`"
    MergeQueries.lakeSession(s).sql(
      s"""SELECT t.tag, t.version, h.n_rows
         |FROM ${meta("tags")} t JOIN ${meta("history")} h
         |  ON t.version = h.version
         |ORDER BY t.tag""".stripMargin)
  }

  // ---- q230: metadata tables ($files) --------------------------------

  /** q230: per-month layout accounting straight from the `$files`
    * metadata table of q220's month-partitioned ingest — file counts
    * and live-row sums are manifest rows, zero data files opened, and
    * the oracle recomputes the row side from raw orders (so the DuckDB
    * gate cross-checks the manifests' write-task accounting against
    * the data) plus the layout side from the staging's contract (one
    * file per month: each month hashes to exactly one write task). */
  def metadataTables(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensurePartitioned(s, dir)
    val dot = tbl.lastIndexOf('.')
    val metaTbl = s"${tbl.substring(0, dot)}.`${tbl.substring(dot + 1)}$$files`"
    MergeQueries.lakeSession(s).sql(
      s"""SELECT substring(partition, 9) AS o_month,
         | count(*) AS n_files, sum(live_rows) AS n_orders
         |FROM $metaTbl
         |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  // ---- q229: tag-pinned time travel ---------------------------------

  /** Staging: seed → tag the seed 'baseline' → DELETE every third key →
    * expire everything but the latest. The tag PINS the seed snapshot
    * against the expiration (v0 and nothing else expires — asserted
    * loudly), which is how a production table keeps a release readable
    * under nightly GC. */
  private def ensureTagged(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.tagged") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.customer_tag$id"
      ss.sql(s"CREATE TABLE $tbl (c_custkey BIGINT, c_name STRING, bal_cents BIGINT)")
      Tables(ss, dir, "customer")
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          Exact.cents(col("c_acctbal")).as("bal_cents"))
        .writeTo(tbl).append()
      val handle = GraftLakeStore
        .get(GraftLakeStore.defaultRoot, tbl.stripPrefix("graft_lake.")).get
      handle.createTag("baseline", 1)
      ss.sql(s"DELETE FROM $tbl WHERE c_custkey % 3 = 0")
      val expired = handle.expireSnapshots(keepLast = 1)
      require(expired == Seq(0),
        s"the tag must pin v1 against expiration — expired $expired")
      tbl
    }

  /** q229: read the tag BY NAME after the expiration that would have
    * collected its snapshot — must equal the seed recompute (q209's
    * oracle verbatim). */
  def taggedRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureTagged(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT c_custkey, c_name,
         | CAST(bal_cents / 100.0 AS DOUBLE) AS c_acctbal
         |FROM $tbl VERSION AS OF 'baseline' ORDER BY c_custkey""".stripMargin)
  }

  // ---- q228: manifest-only COUNT ------------------------------------

  /** q228: per-month order counts over q220's partitioned lake table,
    * answered ENTIRELY from manifests — COUNT(*) grouped by the
    * partition column under an exact partition predicate pushes down
    * completely (SupportsPushDownAggregates), so the plan opens ZERO
    * parquet files: live row counts are write-task metadata the
    * manifests carry (LakeMetaSpec proves it by deleting the data
    * files and counting anyway). At 100 TB this is the difference
    * between a metadata lookup and a full scan for the warehouse's
    * most common query. Oracle recomputes from raw orders. */
  def manifestCount(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensurePartitioned(s, dir)
    val df = MergeQueries.lakeSession(s).sql(
      s"""SELECT o_month, count(*) AS n_orders
         |FROM $tbl
         |WHERE o_month BETWEEN '1995-01' AND '1995-06'
         |GROUP BY o_month ORDER BY o_month""".stripMargin)
    require(df.queryExecution.executedPlan.toString.contains("manifest count"),
      "q228 must plan as a manifest-only count (no data file opened)")
    df
  }

  // ---- q227: column mapping (RENAME / DROP / re-ADD) ----------------

  /** Staging: two appends around a RENAME (both eras must read under
    * the new name through the mapping), then DROP n_name and re-ADD it
    * (the re-added column gets a fresh physical name, so the dropped
    * data must NOT resurrect). All four schema changes are metadata-
    * only commits — no file is rewritten. */
  private def ensureMapped(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "lake.column_mapping") {
      val (ss, id) = (MergeQueries.lakeSession(s), nextId.incrementAndGet())
      val tbl = s"graft_lake.lake.nation_map$id"
      ss.sql(s"CREATE TABLE $tbl (n_nationkey BIGINT, n_name STRING, tag STRING)")
      val nation = Tables(ss, dir, "nation")
        .select(col("n_nationkey").cast("long").as("n_nationkey"), col("n_name"))
      nation.filter(col("n_nationkey") < 12)
        .withColumn("tag", lit("era1")).writeTo(tbl).append()
      ss.sql(s"ALTER TABLE $tbl RENAME COLUMN tag TO era")
      nation.filter(col("n_nationkey") >= 12)
        .withColumn("era", lit("era2")).writeTo(tbl).append()
      ss.sql(s"ALTER TABLE $tbl DROP COLUMN n_name")
      ss.sql(s"ALTER TABLE $tbl ADD COLUMN n_name STRING")
      tbl
    }

  /** q227: `era` resolves through the column mapping onto BOTH write
    * eras (pre-rename files store it under the old physical name);
    * the re-added `n_name` is NULL everywhere even though every data
    * file still physically holds the dropped values — resurrecting
    * them would fail the oracle. */
  def columnMappingRead(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureMapped(s, dir)
    MergeQueries.lakeSession(s).sql(
      s"""SELECT n_nationkey, era, n_name
         |FROM $tbl ORDER BY n_nationkey""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // both eras surface `era` through the mapping; the re-added n_name
    // is NULL everywhere (dropped data must not resurrect)
    QueryDef("q227_column_mapping", columnMappingRead, Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
        | CASE WHEN n_nationkey < 12 THEN 'era1' ELSE 'era2' END AS era,
        | CAST(NULL AS STRING) AS n_name
        |FROM nation ORDER BY n_nationkey""".stripMargin),
      stage = true),
    // the manifest accounting must equal the data: per-month counts
    // recomputed from raw orders
    QueryDef("q228_manifest_count", manifestCount, Some(
      """SELECT substring(CAST(o_orderdate AS STRING), 1, 7) AS o_month,
        | count(*) AS n_orders
        |FROM orders
        |WHERE substring(CAST(o_orderdate AS STRING), 1, 7)
        |  BETWEEN '1995-01' AND '1995-06'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the tag-pinned snapshot = the seed, read by NAME after the
    // expiration that would have collected it: q209's oracle verbatim
    QueryDef("q229_tagged_read", taggedRead,
      Some(MergeQueries.oracle("q209_time_travel")), stage = true),
    // manifests' accounting vs the data: per-month live rows from raw
    // orders; one file per month by the staging's hash-routing contract
    QueryDef("q230_metadata_tables", metadataTables, Some(
      """SELECT substring(CAST(o_orderdate AS STRING), 1, 7) AS o_month,
        | CAST(1 AS BIGINT) AS n_files, count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    // the statement-created tag pins v1 (the seed): its row count is
    // the raw customer count
    QueryDef("q231_call_maintenance", callMaintenance, Some(
      """SELECT 'seed' AS tag, CAST(1 AS INT) AS version,
        | (SELECT count(*) FROM customer) AS n_rows""".stripMargin),
      stage = true),
    // the feed-reconstructed state must equal the post-MERGE batch
    // truth: q97's oracle verbatim (q208 shares it the same way)
    // staged: the change-feed stream run
    QueryDef("q216_change_feed_consumer", changeFeedConsumer,
      Some(graft.operators.CdcOps.oracle("q97_cdc_merge")), stage = true, lifecycle = true),
    // the streamed-in table must hold exactly the source: same rollup
    // over raw events
    // staged: the sink stream run, over the streaming queries' split-3 copy
    QueryDef("q223_streaming_lake_sink", streamingLakeSink, Some(
      """SELECT count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS total_value
        |FROM events""".stripMargin),
      stage = true, lifecycle = true),
    // the z-ordered rewrite changes layout only: same box over raw rows
    // staged: the random then z-ordered lake writes
    QueryDef("q224_lake_zorder", zorderedLakeScan, Some(
      """SELECT count(*) AS n_items,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 2 AND 8""".stripMargin),
      stage = true),
    // expiration moved no data: the retained latest = the seed
    // (rollback restored it), q209's oracle verbatim
    // staged: the expiration
    QueryDef("q217_snapshot_expiration", snapshotExpiration,
      Some(MergeQueries.oracle("q209_time_travel")), stage = true),
    // q205's multiset-identity shape: compaction changes layout only
    // staged: the compaction
    QueryDef("q218_lake_compaction", lakeCompaction, Some(
      """SELECT l_returnflag, count(*) AS n_items,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      stage = true),
    // staged: the evolution
    QueryDef("q219_schema_evolution", schemaEvolutionRead, Some(
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CASE WHEN n_nationkey >= 12 THEN 'v2' END AS ingest_tag,
        | (SELECT count(*) FROM nation i WHERE (i.n_nationkey >= 12) =
        |   (o.n_nationkey >= 12)) AS cohort_size
        |FROM nation o ORDER BY n_nationkey""".stripMargin),
      stage = true),
    // q65's oracle verbatim: partitioning must not change the answer
    // staged: the partitioned ingest
    QueryDef("q220_partitioned_lake", partitionedLakeScan,
      Some(graft.sources.LayoutQueries.oracle("q65_partition_pruning")), stage = true),
    // skipping must not change the answer: same range over raw orders
    // staged: the range-clustered ingest
    QueryDef("q221_lake_data_skipping", dataSkippingScan, Some(
      """SELECT count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS DOUBLE)
        |  AS sum_total
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 1000""".stripMargin),
      stage = true),
    // each version's manifest row count recomputed from the raw
    // tables: v1 = the seed, v2 = seed − deletes + inserts under q97's
    // change-set (matched-D = 1995-order customers whose max status is
    // F; inserted = the %97 key space)
    QueryDef("q222_lake_history", lakeHistory, Some(
      """SELECT CAST(0 AS INT) AS version, 'create' AS operation,
        | CAST(0 AS BIGINT) AS n_rows
        |UNION ALL
        |SELECT 1, 'append', (SELECT count(*) FROM customer)
        |UNION ALL
        |SELECT 2, 'replace',
        | (SELECT count(*) FROM customer)
        | - (SELECT count(*) FROM customer c WHERE c.c_custkey IN (
        |      SELECT o_custkey FROM orders
        |      WHERE o_orderdate >= DATE '1995-01-01'
        |        AND o_orderdate < DATE '1996-01-01'
        |      GROUP BY o_custkey HAVING max(o_orderstatus) = 'F'))
        | + (SELECT count(*) FROM customer WHERE c_custkey % 97 = 0)
        |ORDER BY version""".stripMargin)))
}
