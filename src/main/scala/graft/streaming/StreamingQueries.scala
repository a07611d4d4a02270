package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Declared queries that run through the REAL StreamExecution engine —
  * readStream → transform → writeStream — and surface their final
  * result as a batch frame for the correctness gate. Until now the
  * streaming operators were pinned only by ScalaTest parity suites;
  * these make the streaming path itself a first-class CORRECTNESS row:
  * the oracle is the equivalent batch SQL, and a streaming run over
  * bounded input MUST converge to it exactly.
  *
  * Every query is built from the same parts: a staged copy of the
  * events file, read back by [[eventsStream]]; stream-scoped session
  * confs set by [[withConfs]]; and, for memory-sink queries, [[drain]].
  */
object StreamingQueries extends graft.QueryModule {

  private val runId = new AtomicInteger()

  // ---- running a bounded stream -------------------------------------

  /** Run `body` with the session confs `kvs` set, then put each key
    * back as it was: its prior value, or unset if it was unset. Every
    * conf a stream sets is STREAM-scoped (pinned into its checkpoint at
    * first run), so batch queries in the same session are untouched. */
  private[streaming] def withConfs[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll // explicitly set keys only: no defaults
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** An explicitly-sized state-store count, for [[withConfs]].
    *
    * A stateful streaming operator creates one state-store instance per
    * shuffle partition, and EVERY store pays a per-micro-batch commit
    * (snapshot + maintenance) regardless of how little state it holds —
    * so the store count is a fixed per-batch cost, not free parallelism.
    * Inheriting the batch shuffle setting (32 here) makes tiny local
    * state pay 32 commits/batch: measured 9.5 s → 3.5 s on the
    * stream-stream join at sf0.1 by sizing it to 8. On a cluster this
    * is the same knob a production job sets per-stream (to executors ×
    * cores, or to state volume / target-partition-size) — the point is
    * that it is a STREAM-scoped decision pinned into the checkpoint at
    * first run, never an inherited batch default. */
  private def statePartitions(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString

  /** The RocksDB state-store provider, for [[withConfs]]: the
    * transformWithState queries run on it, while HDFS-backed stores
    * elsewhere are untouched. */
  private val rocksDb: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `stream` to completion (AvailableNow drains the bounded input)
    * into a freshly named memory sink in output `mode`, and return
    * `project` of the sink's table as a local DataFrame. The sink's temp
    * view is dropped however the run ends: repeated invocations in one
    * session (warmup + bench + tests) must not accumulate result copies
    * in the driver for the JVM's lifetime, and a failed stream must not
    * leave its partial rows behind. */
  private[streaming] def drain(stream: DataFrame, mode: String)(
      project: DataFrame => DataFrame): DataFrame = {
    val s = stream.sparkSession
    val name = s"graft_stream_${runId.incrementAndGet()}"
    try {
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val result = project(s.table(name))
      s.createDataFrame(java.util.Arrays.asList(result.collect(): _*), result.schema)
    } finally s.catalog.dropTempView(name)
  }

  // ---- staging the events source ------------------------------------

  /** A file stream over `src`, a staged copy of $dir/events.parquet. It
    * declares the file's raw schema ([[Tables.eventsSchema]] also sets
    * the conf its reads rely on) and normalizes `ts` like [[Tables]];
    * `oneFilePerTrigger` replays a multi-file staging as one micro-batch
    * per file. */
  private[graft] def eventsStream(s: SparkSession, dir: String, src: String,
      oneFilePerTrigger: Boolean = false): DataFrame = {
    val r = s.readStream.schema(Tables.eventsSchema(s, dir))
    (if (oneFilePerTrigger) r.option("maxFilesPerTrigger", "1") else r)
      .parquet(src)
      .transform(Tables.normalizeEventTs)
  }

  /** The events file as a batch frame in its raw physical shape (the
    * shape the staged slices must keep: a stream reads them all under
    * one declared schema). */
  private def rawEvents(s: SparkSession, dir: String): DataFrame =
    s.read.schema(Tables.eventsSchema(s, dir)).parquet(s"$dir/events.parquet")

  /** Write `df` as ONE parquet file at `dst` (a staged slice must be a
    * single file in the stream's source dir, not a Spark output
    * directory). The write goes through a temp dir that is deleted
    * however the write ends. */
  private def writeSingleFile(df: DataFrame, dst: Path): Unit = {
    val tmp = Files.createTempDirectory("graft_single_file")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val l = Files.list(tmp)
      val part = try l.filter(_.toString.endsWith(".parquet")).findFirst().get() finally l.close()
      Files.move(part, dst)
    } finally graft.util.TempDirs.delete(tmp)
  }

  /** Copy $dir/events.parquet into a staging dir under `prefix` —
    * handling BOTH layouts: the driver testdata's single file, and a
    * parquet DIRECTORY (what a generic Spark writer produces). A naive
    * Files.copy of a directory copies it EMPTY, and a file stream over
    * the result silently drains zero rows — the streaming queries
    * would "pass" on nothing. Directory streams are closed (they hold
    * an fd until GC otherwise). */
  private def copyEvents(dir: String, dst: Path, prefix: String): Unit = {
    val src = Paths.get(s"$dir/events.parquet")
    if (Files.isDirectory(src)) {
      val s = Files.list(src)
      try {
        val parts = s.filter(_.toString.endsWith(".parquet")).iterator()
        var i = 0
        while (parts.hasNext) {
          Files.copy(parts.next(), dst.resolve(f"${prefix}_part$i%04d.parquet"))
          i += 1
        }
        require(i > 0, s"no parquet part files under $src")
      } finally s.close()
    } else Files.copy(src, dst.resolve(s"$prefix.parquet"))
  }

  /** One staged copy of events.parquet per source dir (file streams
    * read directories, and queries must be re-runnable); deleted on JVM
    * exit (TempDirs) so repeated runs don't accumulate copies in /tmp. */
  private def stageDir(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "stream.events") {
      val p = graft.util.TempDirs.create("graft_stream_events")
      copyEvents(dir, p, "events")
      p.toString
    }

  /** Staging dir holding events.parquet TWICE (distinct file names) —
    * the at-least-once-delivery fixture for the streaming dedup query. */
  private def stageDirDuplicated(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "stream.events_dup") {
      val p = graft.util.TempDirs.create("graft_stream_events_dup")
      copyEvents(dir, p, "events")
      copyEvents(dir, p, "events_redelivered")
      p.toString
    }

  /** Write the watermark-flushing sentinel row (user −1, event time
    * far past every real event) into staging dir `p` as
    * zz_sentinel.parquet — shared by the single-batch (q95) and
    * time-split (q200) stagings. Append-mode emission of session
    * windows requires the watermark to pass each session's END; a
    * bounded input's final sessions would otherwise never flush (the
    * watermark stops at max(ts) - delay). The sentinel (filtered from
    * output) pushes the frontier past every real session — the
    * standard flush pattern for draining an event-time stream to
    * completion. It carries the SAME physical ts type as the real event
    * files (the stream reads both under one declared schema). */
  private def writeSentinel(s: SparkSession, dir: String, p: Path): Unit = {
    val ev = rawEvents(s, dir)
    val maxTsMicros = Tables.normalizeEventTs(ev)
      .agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
    // past max + gap(30 m) + watermark delay(1 h) + margin(1 h)
    val sentinelMicros = maxTsMicros + 9000L * 1000000L
    val sentinelTs = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(sentinelMicros * 1000L)
      case t => timestamp_micros(lit(sentinelMicros)).cast(t)
    }
    val row = ev.limit(1)
      .withColumn("event_id", lit(-1L))
      .withColumn("ts", sentinelTs)
      .withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("sentinel"))
    writeSingleFile(row, p.resolve("zz_sentinel.parquet"))
  }

  /** Staging dir = events.parquet + the sentinel file. */
  private def stageDirWithSentinel(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "stream.sentinel") {
      val p = graft.util.TempDirs.create("graft_stream_events_sn")
      copyEvents(dir, p, "events")
      writeSentinel(s, dir, p)
      p.toString
    }

  /** Stage events as THREE time-ordered slices (equal event-time
    * thirds) plus the sentinel, with strictly increasing modification
    * times so a maxFilesPerTrigger=1 stream replays them as four
    * micro-batches in event-time order — files arriving in time order
    * is how a real ingestion lands, and it is what lets the watermark
    * advance batch-over-batch WITHOUT declaring mid-stream rows late
    * (an event_id-based split interleaves times, so the batch-1
    * watermark would discard most of batches 2-3). q200's timers need
    * exactly this: sessions idle by batch N's watermark must fire
    * their timers while later batches are still arriving. */
  private def stageDirTimeSplitWithSentinel(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "stream.timesplit") {
      val p = graft.util.TempDirs.create("graft_stream_events_tt")
      val ev = rawEvents(s, dir)
      // raw-shape slice key: monotone in event time for every physical
      // ts shape the fixtures have shipped (int64 nanos / NTZ / TZ)
      val tsKey = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => col("ts")
        case _ => unix_micros(col("ts").cast("timestamp"))
      }
      val mm = ev.agg(min(tsKey).as("lo"), max(tsKey).as("hi")).collect().head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val w = (hi - lo) / 3 + 1
      (0 until 3).foreach { i =>
        val dst = p.resolve(s"events_$i.parquet")
        writeSingleFile(ev.filter(tsKey >= lo + i * w && tsKey < lo + (i + 1) * w), dst)
        Files.setLastModifiedTime(dst,
          FileTime.fromMillis(System.currentTimeMillis() + i * 2000L))
      }
      writeSentinel(s, dir, p)
      Files.setLastModifiedTime(p.resolve("zz_sentinel.parquet"),
        FileTime.fromMillis(System.currentTimeMillis() + 10000L))
      p.toString
    }

  /** Staging dir holding events.parquet split into THREE files so
    * maxFilesPerTrigger=1 produces multiple micro-batches — the
    * fixture that actually exercises state CARRY between batches
    * (a single-file source would fold everything in batch 0 and the
    * state machine would never resume). Split by event_id mod 3, each
    * slice one file. Shared by q115, q118, q184, q185, q214 and the
    * lake's streaming sink (q223). */
  private[graft] def stageDirSplit(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "stream.split3") {
      val p = graft.util.TempDirs.create("graft_stream_events_3")
      val ev = rawEvents(s, dir)
      (0 until 3).foreach { i =>
        writeSingleFile(ev.filter(col("event_id") % 3 === i), p.resolve(s"events_$i.parquet"))
      }
      p.toString
    }

  // ---- the declared streaming queries -------------------------------

  /** Daily rollup executed as a Structured Streaming job: micro-batched
    * file source, event-time tumbling window, exact integer-cents sums
    * (order-independent — a streaming engine gives no fold-order
    * guarantees across micro-batches), AvailableNow trigger draining
    * the bounded input, memory sink in complete mode. At cluster scale
    * the same dataflow runs unbounded with a watermark bounding state;
    * here the full-history complete mode is what makes the final table
    * comparable to the batch oracle. */
  def streamingDaily(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(8)) {
      val agg = eventsStream(s, dir, stageDir(s, dir))
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(
          count(lit(1)).as("num_events"),
          (sum(Exact.cents(col("value"))) / 100.0).cast("double").as("total_value"))
        .select(to_date(col("w.start")).as("event_date"),
          col("num_events"), col("total_value"))
      drain(agg, "complete")(_.orderBy("event_date"))
    }

  /** Gap-based sessionization through the REAL streaming engine:
    * session_window(ts, 30 min) per user with a 1-hour watermark,
    * append mode (the only mode session windows support), AvailableNow.
    * The sentinel staging flushes the final sessions; the gate then
    * rolls the emitted (user, session) rows up to per-user session and
    * event counts and compares against a batch recomputation. NOTE the
    * boundary semantics: session_window opens a NEW session when the
    * gap is >= the duration (windows [t, t+gap) merge only on
    * overlap), so the oracle uses >=, unlike q21's strictly-greater
    * lag formulation. */
  def streamingSessions(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(8)) {
      val agg = eventsStream(s, dir, stageDirWithSentinel(s, dir))
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
      drain(agg, "append")(_
        .filter(col("user_id") >= 0) // drop the sentinel's own session
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
        .orderBy("user_id"))
    }

  /** Streaming exactly-once dedup under at-least-once delivery: the
    * staged source contains every event TWICE (a redelivered file —
    * the failure mode any distributed ingestion has), and the stream
    * must emit each event_id exactly once. dropDuplicatesWithinWatermark
    * is the production shape: plain dropDuplicates without the
    * event-time column in its subset NEVER evicts state (the watermark
    * is inert for it — unbounded state on an unbounded stream), while
    * the WithinWatermark variant keeps an id only until the event-time
    * frontier passes its allowed lateness, which bounds memory and
    * still catches any redelivery inside the lateness window. The
    * gate then aggregates the emitted rows per day and must equal the
    * batch truth over the ORIGINAL (single-copy) events table. */
  def streamingDedup(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(8)) {
      val events = eventsStream(s, dir, stageDirDuplicated(s, dir))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark("event_id")
      drain(events.select("event_id", "ts", "value"), "append")(_
        .groupBy(to_date(col("ts")).as("event_date"))
        .agg(
          count(lit(1)).as("num_events"),
          (sum(Exact.cents(col("value"))) / 100.0).cast("double").as("total_value"))
        .orderBy("event_date"))
    }

  /** State-store count sized to the SOURCE VOLUME, not a constant:
    * the stream-stream join buffers BOTH full sides in state until the
    * watermark passes, so per-store state grows linearly with the
    * input while the per-batch commit cost per store is fixed. A
    * constant that is right at one scale is wrong at another —
    * measured at 8 stores: 3.5 s at sf0.1 but 7.8 s at sf1 (stores too
    * fat); at 16: 6.8 s at sf1; at 32: 9.5 s at sf0.1 (commit-bound)
    * and 7.0 s at sf1. One store per ~MB of source parquet, floored at
    * 8 and capped at 32, lands on the measured optimum at both scales
    * — and is the same sizing rule (state volume / target partition
    * size) a production job applies. */
  private def pairJoinStatePartitions(dir: String): Int = {
    val p = Paths.get(s"$dir/events.parquet")
    val bytes =
      try {
        if (Files.isDirectory(p)) {
          val l = Files.list(p)
          try l.mapToLong(f => try Files.size(f) catch { case _: Exception => 0L }).sum()
          finally l.close()
        } else Files.size(p)
      } catch { case _: Exception => 0L }
    math.max(8, math.min(32, (bytes / (1L << 20)).toInt))
  }

  /** Stream-STREAM inner join — the fourth streaming pillar (after
    * windowed aggregation q71, stateful dedup q92, sessionization
    * q95): two live streams of the same events joined on user with a
    * 10-minute follow window, per-user pair counts gated against the
    * batch self-join. Both sides carry watermarks so the join STATE is
    * bounded (a buffered row can be dropped once the other side's
    * frontier passes its maximum match window); emission needs no
    * sentinel because an inner join emits each match the moment both
    * rows have arrived. The a_id < b_id condition makes the pair set
    * well-defined; the oracle is the identical batch predicate. */
  def streamingPairJoin(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(pairJoinStatePartitions(dir))) {
      val stream = () => eventsStream(s, dir, stageDir(s, dir))
      val a = stream().select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts").as("a_ts")).withWatermark("a_ts", "1 hour")
      val b = stream().select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts")).withWatermark("b_ts", "1 hour")
      val joined = a.join(b,
        col("a_user") === col("b_user") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES") &&
          col("a_id") < col("b_id"))
      drain(joined.select("a_user"), "append")(_
        .groupBy(col("a_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id"))
    }

  /** Running per-user totals through mapGroupsWithState — the fifth
    * streaming pillar: an UPDATE-mode state machine whose state
    * (exact integer cents + count) carries across micro-batches. The
    * source is staged as three files with maxFilesPerTrigger=1, so
    * the final emission per user is genuinely the product of state
    * resumption, not a single-batch fold; the memory sink's last
    * update per user (selected by max event count — the count is
    * strictly monotone per user) must equal the batch per-user
    * aggregate, which is the DuckDB oracle. */
  def streamingRunningTotals(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(8)) {
      val stream = eventsStream(s, dir, stageDirSplit(s, dir), oneFilePerTrigger = true)
      val totals = StreamingOps.runningUserTotals(stream)
        .toDF("user_id", "total_value", "n_events")
      drain(totals, "update")(_
        .groupBy(col("user_id"))
        .agg(max_by(col("total_value"), col("n_events")).as("total_value"),
          max(col("n_events")).as("n_events"))
        .select(col("user_id"), col("n_events"), col("total_value"))
        .orderBy("user_id"))
    }

  /** The foreachBatch MERGE sink as a declared query — the sixth
    * streaming pillar (the SINK side: everything else gates
    * transformations). Per-micro-batch keyed partials upsert into an
    * external keyed target through StreamingOps.foreachBatchUpsert
    * (batchId replay guard included); the converged target must equal
    * the batch per-user aggregate. The target fold reconstructs exact
    * integer cents from each partial (round(v·100) is exact for cent
    * values below 2^52), so accumulation order — which a streaming
    * sink never guarantees — cannot move the result. */
  def streamingForeachBatch(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(8)) {
      val stream = eventsStream(s, dir, stageDirSplit(s, dir), oneFilePerTrigger = true)
      val target = new ConcurrentHashMap[Long, (Long, Long)]() // user -> (n, cents)
      StreamingOps.foreachBatchUpsert(stream, (_: Long, partials) =>
        partials.foreach { case (user, n, v) =>
          target.merge(user, (n, math.round(v * 100)),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        })
      import scala.jdk.CollectionConverters._
      import s.implicits._
      target.asScala.toSeq
        .map { case (u, (n, cents)) => (u, n, cents / 100.0) }
        .sortBy(_._1)
        .toDF("user_id", "n_events", "total_value")
    }

  /** Stream-static enrichment join — the most common production
    * streaming topology: an unbounded fact stream joined to a bounded
    * dimension table (here: events ⋈ customer on user key, rolled up
    * to market segment). The static side is a plain batch DataFrame;
    * Spark re-plans it into every micro-batch (picking up dimension
    * updates between batches on a real deployment) and broadcasts it,
    * so the stream side never shuffles for the join — state exists
    * only for the downstream aggregation. Inner join keeps the
    * unmatched-stream-row semantics identical to the batch oracle. */
  def streamingStaticJoin(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(8)) {
      val dim = broadcast(Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val agg = eventsStream(s, dir, stageDir(s, dir))
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          (sum(Exact.cents(col("value"))) / 100.0).cast("double").as("total_value"))
      drain(agg, "complete")(_.orderBy("c_mktsegment"))
    }

  /** Per-user profiles from [[UserProfileProcessor]] under Spark 4's
    * `transformWithState`, over the split-3 staging replayed one file
    * per micro-batch. */
  private def profiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    eventsStream(s, dir, stageDirSplit(s, dir), oneFilePerTrigger = true)
      .select(col("user_id"), col("event_type"), Exact.cents(col("value")).as("cents"))
      .as[ProfileEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserProfileProcessor(), TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  /** Per-user profile through Spark 4's `transformWithState` (see
    * [[UserProfileProcessor]]) on the RocksDB state-store provider —
    * the modern arbitrary-stateful-processing path, gated exactly like
    * q115: a three-file staged source forces state RESUMPTION across
    * micro-batches, update-mode emissions land in the memory sink, and
    * the converged row per user (the emission with the highest
    * n_events — strictly increasing per user, so unique) must equal
    * the batch aggregate. */
  def streamingTransformWithState(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(8), rocksDb) {
      drain(profiles(s, dir), "update")(_
        .groupBy(col("user_id"))
        .agg(
          max(col("n_events")).as("n_events"),
          max_by(col("cents"), col("n_events")).as("cents"),
          max_by(col("n_types"), col("n_events")).as("n_types"),
          max_by(col("n_errors"), col("n_events")).as("n_errors"))
        .select(col("user_id"), col("n_events"),
          (col("cents").cast("double") / 100.0).as("total_value"),
          col("n_types"), col("n_errors"))
        .orderBy("user_id"))
    }

  /** State-store READER (Spark 4's `statestore` batch source) over a
    * transformWithState checkpoint — the ops surface a production
    * streaming deployment needs: inspect/audit/debug the keyed state a
    * running job has accumulated, as a plain DataFrame, without
    * touching the job. The stream (same processor as q184) drains into
    * an explicit checkpoint; the `totals` ValueState is then read BACK
    * through `spark.read.format("statestore")` and must equal the
    * batch per-user aggregate — a full end-to-end pin of state
    * PERSISTENCE (the memory-sink gates only check emissions; this
    * checks what RocksDB actually holds after the final commit). The
    * emissions themselves are not needed, so the stream writes to the
    * `noop` sink rather than through [[drain]].
    *
    * 4 state partitions, not the streaming default 8: this query pays
    * every store TWICE (once per micro-batch commit, once for the batch
    * read's store restore) and holds tiny per-user state — the restore
    * cost is per-STORE, not per-row. */
  def streamingStateStoreRead(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(4), rocksDb) {
      val ckpt = graft.util.TempDirs.create("graft_tws_ckpt").toString
      val q = profiles(s, dir).writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
      val result = s.read.format("statestore")
        .option("path", ckpt)
        .option("stateVarName", "totals")
        .load()
        .select(col("key.value").as("user_id"),
          col("value.n").as("n_events"),
          (col("value.cents").cast("double") / 100.0).as("total_value"))
        .orderBy("user_id")
      s.createDataFrame(java.util.Arrays.asList(result.collect(): _*), result.schema)
    }

  /** Sessionization by EVENT-TIME TIMERS through transformWithState —
    * the TWS feature q184 leaves untouched (it runs TimeMode.None).
    * The SessionTimerProcessor holds one open session per user and one
    * registered timer at (last event + gap); the time-split staging
    * replays events as four micro-batches in event-time order, so
    * sessions that go idle mid-stream are emitted BY TIMER EXPIRY in a
    * later batch (not by any end-of-input sweep), and the sentinel's
    * final watermark advance fires the rest. The gate rolls closed
    * sessions up per user and must equal q95's batch sessionization
    * oracle exactly — same semantics, third mechanism (q21 window
    * arithmetic, q95 session_window aggregation, q200 explicit timers). */
  def streamingSessionTimers(s: SparkSession, dir: String): DataFrame =
    closedSessionsRaw(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy("user_id")

  /** The raw closed-session stream output (one row per session, with
    * the by_timer mechanism flag) as a batch snapshot — package-private
    * so StreamingOpsSpec can assert the MECHANISM (every user's final
    * session closes via timer; inline gap closures also occur), which
    * the per-user rollup the gate sees necessarily erases. */
  private[streaming] def closedSessionsRaw(s: SparkSession, dir: String): DataFrame =
    withConfs(s, statePartitions(4), rocksDb) {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val sessions = eventsStream(s, dir, stageDirTimeSplitWithSentinel(s, dir),
          oneFilePerTrigger = true)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us")).as[SessEvent]
        .groupByKey(_.user_id)
        .transformWithState(new SessionTimerProcessor(),
          TimeMode.EventTime(), OutputMode.Append())
      // the sentinel's session never closes anyway
      drain(sessions.toDF(), "append")(_.filter(col("user_id") >= 0))
    }

  /** Continuous incremental MV maintenance — q210's refresh run by the
    * STREAMING engine: each micro-batch's per-day partial aggregate is
    * MERGEd into a [[graft.sources.v2.GraftLakeCatalog]] table by a
    * real `MERGE INTO` statement executed inside foreachBatch (the
    * Delta/Iceberg production pattern for streaming upserts). Unlike
    * q118's pluggable in-memory target, NOTHING here touches the
    * driver: the partial aggregate stays a DataFrame, the upsert is a
    * distributed statement, and each micro-batch lands as one
    * immutable snapshot commit — so the MV's version history IS the
    * batch sequence, and sum/count monoid merging makes the converged
    * table equal the batch truth regardless of how the engine sliced
    * the stream. Replay idempotence per batchId is owned by
    * [[StreamingOps.replayGuarded]], same contract as q118. */
  private[streaming] def ensureStreamingMv(s: SparkSession, dir: String): String =
    Staged.once(s, dir, "stream.mv") {
      val stream = eventsStream(s, dir, stageDirSplit(s, dir), oneFilePerTrigger = true)
      val tbl = s"graft_lake.lake.events_mv_${runId.incrementAndGet()}"
      val catConf = "spark.sql.catalog.graft_lake"
      val catCls = classOf[graft.sources.v2.GraftLakeCatalog].getName
      locally {
        val ss = org.apache.spark.sql.graft.SessionClone(s)
        ss.conf.set(catConf, catCls)
        ss.sql(s"CREATE TABLE $tbl (day DATE, n_events BIGINT, cents BIGINT)")
      }
      val guarded = StreamingOps.replayGuarded[DataFrame] { (batchId, batch) =>
        // the batch frame is bound to the engine's per-batch session;
        // register the catalog there and run the statement — the
        // temp view, the MERGE join, and the write are all planned
        // and executed distributed, nothing is collected
        val bs = batch.sparkSession
        bs.conf.set(catConf, catCls)
        val v = s"graft_mv_batch_$batchId"
        batch.groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"),
            sum(Exact.cents(col("value"))).as("cents"))
          .createOrReplaceTempView(v)
        // null-safe key match: a NULL group key under plain equality
        // would never MATCH and re-insert every batch, silently
        // accumulating duplicate groups (the fixture has no null ts;
        // a 100 TB corpus will)
        bs.sql(
          s"""MERGE INTO $tbl m USING $v d ON m.day <=> d.day
             |WHEN MATCHED THEN UPDATE SET
             |  n_events = m.n_events + d.n_events, cents = m.cents + d.cents
             |WHEN NOT MATCHED THEN
             |  INSERT (day, n_events, cents) VALUES (d.day, d.n_events, d.cents)
             |""".stripMargin)
      }
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          if (!batch.isEmpty) guarded(batchId, batch.toDF())
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      tbl
    }

  /** q214: the streaming-maintained MV, read back through the catalog;
    * oracle = the batch per-day rollup over the whole source. */
  def streamingMvRefresh(s: SparkSession, dir: String): DataFrame = {
    val tbl = ensureStreamingMv(s, dir)
    val ss = org.apache.spark.sql.graft.SessionClone(s)
    ss.conf.set("spark.sql.catalog.graft_lake",
      classOf[graft.sources.v2.GraftLakeCatalog].getName)
    ss.sql(
      s"""SELECT day, n_events, CAST(cents / 100.0 AS DOUBLE) AS total_value
         |FROM $tbl ORDER BY day""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // the streaming-maintained MV must converge to the batch rollup
    // over the whole source, however the engine sliced the stream
    // staged: the streaming MV, over the shared split-3 source copy
    QueryDef("q214_streaming_mv_refresh", streamingMvRefresh, Some(
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) / 100.0 AS DOUBLE) AS total_value
        |FROM events GROUP BY day ORDER BY day""".stripMargin),
      stage = true, lifecycle = true),
    // identical semantics to q95 (>= gap starts a new session): the
    // timer-driven state machine must converge to the same batch truth
    // staged: its own time-split + sentinel source copy, once per application
    QueryDef("q200_streaming_timers", streamingSessionTimers, Some(
      """SELECT user_id,
        | count(*) FILTER (WHERE gap_us IS NULL OR gap_us >= 1800000000) AS n_sessions,
        | count(*) AS n_events
        |FROM (SELECT user_id,
        |   epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
      stage = true, lifecycle = true),
    // the static-join stream must converge to the plain batch join
    QueryDef("q131_stream_static_join", streamingStaticJoin, Some(
      """SELECT c_mktsegment, count(*) AS n_events,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      lifecycle = true),
    // transformWithState's converged per-user profile = the batch
    // aggregate (counts, cents-exact total, distinct types, errors)
    QueryDef("q184_transform_with_state", streamingTransformWithState, Some(
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value,
        | count(DISTINCT event_type) AS n_types,
        | count(*) FILTER (WHERE event_type = 'error') AS n_errors
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      lifecycle = true),
    // the persisted ValueState read back through the statestore source
    // = the batch per-user totals
    QueryDef("q185_statestore_read", streamingStateStoreRead, Some(
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      lifecycle = true),
    // staged: streaming first-touch (engine class loading, state-store init)
    QueryDef("q71_streaming_daily", streamingDaily, Some(
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS num_events,
        | sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value
        |FROM events GROUP BY event_date ORDER BY event_date""".stripMargin),
      stage = true, lifecycle = true),
    // the oracle sees the SINGLE-copy table: streaming dedup over the
    // doubled input must converge to exactly this
    // staged: its own doubled source copy, once per application
    QueryDef("q92_streaming_dedup", streamingDedup, Some(
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS num_events,
        | sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value
        |FROM events GROUP BY event_date ORDER BY event_date""".stripMargin),
      stage = true, lifecycle = true),
    // >= on the gap: session_window merges [t, t+gap) windows only on
    // OVERLAP, so a gap of exactly the duration starts a new session
    // staged: its own sentinel'd source copy, once per application
    QueryDef("q95_streaming_sessions", streamingSessions, Some(
      """SELECT user_id,
        | count(*) FILTER (WHERE gap_us IS NULL OR gap_us >= 1800000000) AS n_sessions,
        | count(*) AS n_events
        |FROM (SELECT user_id,
        |   epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
      stage = true, lifecycle = true),
    QueryDef("q96_stream_stream_join", streamingPairJoin, Some(
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        | AND a.event_id < b.event_id
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),
      stage = true, lifecycle = true),
    // cumulative state must converge to the plain batch aggregate;
    // cents-exact accumulation makes the double engine-exact
    // staged: the shared split-3 source copy (first built by q223's
    // warm step, which the registry declares earlier)
    QueryDef("q115_streaming_running_totals", streamingRunningTotals, Some(
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      stage = true, lifecycle = true),
    // the sink's converged target = the same batch truth as q115
    // staged: the shared split-3 source copy, as q115
    QueryDef("q118_streaming_foreachbatch", streamingForeachBatch, Some(
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      stage = true, lifecycle = true))
}
