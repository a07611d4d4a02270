package graft.sources.v2

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import GraftLakeStore.TableHandle

/** Streaming CHANGE FEED over a [[GraftLakeCatalog]] table's commit
  * log: each snapshot version is one micro-batch of `(row…,
  * _change_type, _commit_version)` rows, derived purely from manifests —
  * files added by a commit stream as `insert` rows, files removed
  * (copy-on-write replacements, truncates) as `delete` rows. A consumer
  * folding `insert − delete` by row content reconstructs any version's
  * exact state (q216 gates it against the batch truth), which is the
  * Delta/Iceberg incremental-consumption contract when the writer emits
  * no explicit CDC log.
  *
  * Scale shape: planning reads only manifests (KB per version); row
  * work is the distributed parquet read of exactly the files that
  * changed in the consumed version range — an incremental consumer
  * never rescans the table. Offsets are snapshot versions, so restart
  * from a checkpoint resumes mid-history deterministically.
  *
  * Branch lineage: the feed streams the COMMIT LOG — every snapshot in
  * version order, ALL lineages included. On a table using branch refs
  * (WAP), commits staged on a side branch appear in the feed when they
  * COMMIT to the log, not when main fast-forwards; a main-only
  * consumer filters by `_commit_version <= main head` (the same
  * contract as Iceberg's changelog over all snapshots).
  *
  * Usage: `spark.readStream.format(classOf[LakeFeedProvider].getName)
  * .option("root", …).option("table", "ns.name").load()`.
  */
class LakeFeedProvider extends TableProvider {

  private def handle(root: String, table: String): TableHandle =
    GraftLakeStore.get(root, table).getOrElse(
      throw new IllegalArgumentException(s"no lake table $table under $root"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val h = handle(options.get("root"), options.get("table"))
    LakeFeed.feedSchema(h.snapshot(h.latestVersion).schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LakeFeedTable(
      handle(properties.get("root"), properties.get("table")), schema)

  override def supportsExternalMetadata(): Boolean = false
}

object LakeFeed {
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def feedSchema(tableSchema: StructType): StructType =
    StructType(tableSchema.fields.toSeq ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(CommitVersionCol, IntegerType, nullable = false)))

  /** Drain lake table `table`'s feed (under the default lake root) to
    * its end through the real engine (AvailableNow), each micro-batch
    * written as a `b<batchId>` parquet dir in a fresh temp dir
    * (overwrite-by-batchId: the q118/q214 idempotent-replay guard).
    * Returns that dir; read the batches back as `$dir/b*`. */
  private[v2] def drainToParquet(ss: SparkSession, table: String): String = {
    val acc = graft.util.TempDirs.create(s"graft_feed_${table}_").toString
    val q = ss.readStream
      .format(classOf[LakeFeedProvider].getName)
      .option("root", GraftLakeStore.defaultRoot)
      .option("table", table)
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.write.mode("overwrite").parquet(s"$acc/b$batchId")
      }
      .option("checkpointLocation", s"$acc/_chk")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    acc
  }
}

private[v2] class LakeFeedTable(handle: TableHandle, schema0: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_lake_feed(${handle.tableName})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema0
      override def description(): String = name()
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new LakeFeedStream(handle, schema0)
    }
}

private[v2] case class LakeFeedOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

/** One changed file (or DV-slice of a file) in one commit. Merge-on-
  * read precision: `onlyDvPaths` nonempty means "emit ONLY positions
  * recorded in these delete vectors" (the rows a delta commit deleted);
  * otherwise emit every position NOT in `skipDvPaths` (rows already
  * deleted before this commit must not re-emit when their file is
  * later removed by a rewrite). */
private[v2] case class LakeFeedPartition(absPath: String, fileId: Int,
    rows: Long, fileColumns: Seq[String], changeType: String,
    commitVersion: Int, onlyDvPaths: Seq[String] = Seq.empty,
    skipDvPaths: Seq[String] = Seq.empty,
    physOf: Map[String, String] = Map.empty,
    onlyEqGroups: Seq[LakeEqGroup] = Seq.empty,
    skipEqGroups: Seq[LakeEqGroup] = Seq.empty)
  extends InputPartition

private[v2] class LakeFeedStream(handle: TableHandle, schema: StructType)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow contract: capture the end of "available" ONCE
  // at query start; every later latestOffset() answers that bound, so
  // the run drains exactly the versions that existed when it began and
  // terminates deterministically (without this, Spark falls back to a
  // single-batch mode whose termination is best-effort — observed
  // flaking to zero batches under a loaded suite)
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(handle.latestVersion)

  override def initialOffset(): Offset = LakeFeedOffset(0)
  override def latestOffset(): Offset =
    LakeFeedOffset(availableNowTarget.getOrElse(handle.latestVersion))
  // SupportsAdmissionControl variant (the one the engine actually
  // calls): no rate limiting — a version range is already the natural
  // admission unit, so every micro-batch drains to the bound
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()
  override def deserializeOffset(json: String): Offset =
    LakeFeedOffset(json.trim.toInt)

  /** Changes in (start, end]: per version, the manifest diff against
    * its parent — added files stream as inserts, removed files as
    * deletes, and files whose DELETE VECTORS grew (merge-on-read DML)
    * as row-level deletes of exactly the newly-deleted positions.
    * Pure metadata; no data file is opened at planning. Two precision
    * rules keep the fold exact: a removed file emits only its LIVE
    * rows (positions its prior DVs deleted already streamed as deletes
    * in their own commits), and a DV-growth slice emits ONLY the new
    * vectors' positions (DVs are append-only per file — the scan never
    * surfaces a deleted row, so a position is deleted at most once). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeFeedOffset].version
    val e = end.asInstanceOf[LakeFeedOffset].version
    def abs(rel: String): String = handle.tableDir.resolve(rel).toString
    ((s + 1) to e).flatMap { v =>
      val prevSnap = handle.snapshot(v - 1)
      val curSnap = handle.snapshot(v)
      val prev = prevSnap.files.map(f => f.id -> f).toMap
      val cur = curSnap.files.map(f => f.id -> f).toMap
      val added = (cur.keySet -- prev.keySet).toSeq.sorted.map(cur)
      val removed = (prev.keySet -- cur.keySet).toSeq.sorted.map(prev)
      val dvGrown = (cur.keySet intersect prev.keySet).toSeq.sorted
        .map(id => (cur(id), prev(id)))
        .filter { case (c, p) => c.dvs.size > p.dvs.size }
      // equality deletes appended by THIS commit: every prior file they
      // cover emits its matching rows as deletes (minus rows already
      // position- or equality-deleted before this commit). Refs group
      // by their key-column list — each group evaluated against its
      // own columns (EqRef stores PHYSICAL names, rename-immune).
      val eqNew = curSnap.eqDels.drop(prevSnap.eqDels.size)
      val physTypes = prevSnap.schema.fields
        .map(f => prevSnap.phys(f.name) -> f.dataType).toMap
      def groupsOf(refs: Seq[GraftLakeStore.EqRef],
          fileCols: Seq[String]): Seq[LakeEqGroup] = {
        val cols = fileCols.toSet
        refs.groupBy(_.keyCols).toSeq.sortBy(_._1.mkString(","))
          // a group whose key columns the file predates cannot match a
          // row of it — no work, and never "match everything"
          .filter { case (ks, _) => ks.forall(cols.contains) }
          .map { case (ks, rs) =>
            ks.foreach(k => require(physTypes.contains(k),
              s"eq-delete key column '$k' is gone from the schema at " +
                s"version ${v - 1} — its type is needed to decode deletes"))
            LakeEqGroup(rs.map(r => abs(r.path)), ks, ks.map(physTypes)) }
      }
      def priorEq(f: GraftLakeStore.LakeFile): Seq[LakeEqGroup] =
        groupsOf(prevSnap.eqDels.filter(_.bound >= f.id), f.columns)
      val eqGrown =
        if (eqNew.isEmpty) Seq.empty[InputPartition]
        else prevSnap.files.flatMap { f =>
          val covering = groupsOf(eqNew.filter(_.bound >= f.id), f.columns)
          if (covering.isEmpty) None
          else Some(LakeFeedPartition(abs(f.path), f.id, f.rows, f.columns,
            "delete", v,
            skipDvPaths = f.dvs.map(d => abs(d.path)),
            physOf = physOf,
            onlyEqGroups = covering,
            skipEqGroups = priorEq(f)): InputPartition)
        }
      added.map(f => LakeFeedPartition(abs(f.path), f.id, f.rows,
        f.columns, "insert", v,
        skipDvPaths = f.dvs.map(d => abs(d.path)),
        physOf = physOf): InputPartition) ++
        removed.map(f => LakeFeedPartition(abs(f.path), f.id, f.rows,
          f.columns, "delete", v,
          skipDvPaths = f.dvs.map(d => abs(d.path)),
          physOf = physOf,
          skipEqGroups = priorEq(f)): InputPartition) ++
        dvGrown.map { case (c, p) =>
          LakeFeedPartition(abs(c.path), c.id, c.rows, c.columns, "delete", v,
            onlyDvPaths = c.dvs.drop(p.dvs.size).map(d => abs(d.path)),
            physOf = physOf): InputPartition } ++
        eqGrown
    }.toArray
  }

  /** logical → physical for the STREAM's schema, resolved ONCE at
    * stream construction (when the stream schema and the table's
    * logical schema agree). Physical names are birth-stable, so this
    * mapping stays valid for every batch — past files and files
    * written after a mid-stream RENAME alike. A stream-schema name
    * absent from the mapping (the column was dropped, or the stream
    * restarted with a stale checkpointed schema after a rename) maps
    * to nothing → the reader emits NULL, the same evolution contract
    * as a file that predates the column, NEVER an identity guess that
    * could resurrect a dropped column's stale physical data. */
  private val physOf: Map[String, String] = {
    val snap = handle.snapshot(handle.latestVersion)
    val logical = snap.schema.fieldNames.toSet
    schema.fields.dropRight(2).toSeq.collect {
      case f if logical.contains(f.name) => f.name -> snap.phys(f.name)
    }.toMap
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeFeedReaderFactory(schema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Reads one changed file, appending the constant change-type and
  * commit-version columns; data columns the file predates read NULL
  * (same evolution contract as the batch scan). */
private[v2] class LakeFeedReaderFactory(schema: StructType)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[LakeFeedPartition]
    val fileCols = part.fileColumns.toSet
    val dataFields = schema.fields.dropRight(2)
    // a stream-schema name absent from the batch version's mapping
    // (renamed/dropped mid-stream) resolves to no physical column at
    // all — NULL, never an identity guess that could read stale data
    val physNames = dataFields.map(f => part.physOf.get(f.name))
    val requested = physNames.flatten.filter(fileCols.contains)
    val src = physNames.map {
      case Some(n) => requested.indexOf(n) // -1 = file predates column
      case None => -1 // column unknown at this commit version
    }
    val types = dataFields.map(_.dataType)
    val op = UTF8String.fromString(part.changeType)

    // equality-delete precision: the key columns are read (even when
    // the stream schema would not request them) to evaluate membership;
    // planning already dropped groups whose keys the file predates
    val onlyGroups = part.onlyEqGroups.filter(_.appliesTo(fileCols))
    val skipGroups = part.skipEqGroups.filter(_.appliesTo(fileCols))
    val eqCols = (onlyGroups ++ skipGroups).flatMap(_.keyPhys).distinct
      .filterNot(requested.contains)
    val readCols: Seq[String] =
      if (requested.isEmpty && eqCols.isEmpty) Seq(part.fileColumns.head)
      else requested.toSeq ++ eqCols

    new PartitionReader[InternalRow] {
      private val it = LakeParquet.reader(part.absPath, readCols)
      // merge-on-read precision (see planInputPartitions): `only` emits
      // exactly the newly-deleted positions; `skip` drops rows already
      // deleted before this commit — and the equality twins: `onlyEq`
      // emits exactly the rows THIS commit equality-deleted, `skipEq`
      // drops rows an earlier equality delete already removed
      private val only =
        LakeDv.loadPositions(part.onlyDvPaths, part.fileId, part.rows)
      private val skip =
        if (only != null) null
        else LakeDv.loadPositions(part.skipDvPaths, part.fileId, part.rows)
      private val onlyProbes = LakeEqProbe.forGroups(onlyGroups, readCols)
      private val skipProbes = LakeEqProbe.forGroups(skipGroups, readCols)
      private var pos: Long = -1L
      private val out = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(schema.length)
      override def next(): Boolean = {
        while (it.next()) {
          pos += 1
          val dvOk =
            if (only != null) only.get(pos.toInt)
            else skip == null || !skip.get(pos.toInt)
          if (dvOk) {
            val eqOk =
              if (onlyProbes.isEmpty && skipProbes.isEmpty) true
              else {
                val r = it.get()
                (onlyProbes.isEmpty || onlyProbes.exists(_.matches(r))) &&
                  !skipProbes.exists(_.matches(r))
              }
            if (eqOk) return true
          }
        }
        false
      }
      override def get(): InternalRow = {
        val r = it.get()
        var j = 0
        while (j < src.length) {
          out.update(j, src(j) match {
            case -1 => null
            case i => if (requested.nonEmpty && !r.isNullAt(i)) r.get(i, types(j)) else null
          })
          j += 1
        }
        out.update(schema.length - 2, op)
        out.update(schema.length - 1, part.commitVersion)
        out
      }
      override def close(): Unit = it.close()
    }
  }
}
