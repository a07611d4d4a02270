package graft

import org.apache.spark.sql.SparkSession

/** The one place sessions are built. Bench, Verify, the candy CLI, the dev
  * tools and the test suites all start here, so the oracle gate, the
  * tests and the CLI run the same physical plans Bench times.
  *
  * Master: `SPARK_MASTER` when set (a deployment address); otherwise
  * `local[N,2]` — N worker threads and one task RETRY
  * (spark.task.maxFailures=2), matching any real cluster (plain
  * `local[N]`'s fail-fast maxFailures=1 exists nowhere in production).
  * N is `SPARK_GRAFT_CPUS`, or the host's available processors when that
  * is unset, and it is also the shuffle partition count.
  */
object Session {

  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Every setting the builder applies, the master included. */
  val settings: Seq[(String, String)] = Seq(
    "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cores,2]"),
    "spark.sql.shuffle.partitions" -> cores.toString,
    // date functions and the NTZ→TZ events.ts normalization must behave
    // identically on every host
    "spark.sql.session.timeZone" -> "UTC",
    // the fixture layout is ONE parquet file per table (the driver's
    // testdata shape, which ScaleGen mirrors); under the 128 MB
    // default every table ≤128 MB scans as a single task no matter
    // how many row groups it has, serializing the scan-stage CPU
    // (MinHash/gram kernels over documents) on one core. 1 MB splits
    // keep those stages parallel at every fixture scale; the only
    // cost is a few empty splits per scan where row groups are
    // coarser than 1 MB (footer-read, ~ms). A real deployment has
    // many files per table and keeps the default.
    "spark.sql.files.maxPartitionBytes" -> "1m",
    // same reasoning, post-shuffle side (r12 measurement): AQE
    // coalescing's default 1 MB minPartitionSize floor collapses the
    // fixture's ~1 MB CPU-DENSE shuffles (candidate-pair prefilter,
    // gram-set verification) to ONE post-shuffle task — q58's pair
    // stage ran 1.2 s single-task with 31 cores idle, 3.4 s → 2.4 s
    // with the floor lowered. 256 kb (not lower) on purpose: a 64 kb
    // floor split q225's tiny merge-on-read shuffle into many tasks,
    // each re-paying the delete-file application (0.20 s → 0.39 s);
    // at 256 kb both families sit at their measured optimum.
    // A production deployment's shuffles are
    // GB-scale and its coalescing targets parallelismFirst over
    // multi-MB partitions, so the default floor is right there and
    // this stays a fixture-scale bench setting, exactly like the 1 MB
    // split size above.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256kb",
    // Spark 4.1 writes a checksum sidecar for every streaming
    // checkpoint file (offsets/commits logs and EVERY state-store
    // delta) through a shared background pool, and each stream-task
    // commit BLOCKS in ChecksumCancellableFSDataOutputStream.close
    // awaiting its checksum future (thread dumps: 8 q96 join tasks
    // parked there; stage executor-run 58 s vs 4 s CPU). The cost is
    // per-FILE and fixed, so the fixture's KB-scale state files pay
    // it on every micro-batch commit: measured same-session
    // q96 5.21→3.16 s, q95 2.54→2.12, q92 1.74→1.45, q71 1.41→1.15,
    // q131 1.32→1.07, q115 1.98→1.69 with it off; results identical
    // (integrity sidecars only). A production deployment with
    // MB-scale state files on an object store amortizes the sidecar
    // and may keep the default; this is the bench posture, like the
    // two fixture-scale settings above.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    // The default FileContext-based checkpoint manager, on Hadoop's
    // LOCAL filesystem, FORKS A SHELL PROCESS per committed file:
    // FileContext.rename(OVERWRITE) calls getFileLinkStatus →
    // FileUtil.readLink → Shell.execCommand("readlink") (thread
    // dumps: stream tasks RUNNABLE in ProcessImpl.forkAndExec under
    // renameTempFile), so every state-store delta and offsets/commit
    // log entry pays a ~5-20 ms fork. The FileSystem-based manager —
    // Spark's documented alternative for exactly this conf — renames
    // through java.io.File.renameTo (atomic on POSIX, no fork).
    // Same-session interleaved A/B (min-of-4): q96 3.24→2.22 s,
    // q200 3.14→2.23, q184 2.10→1.60, q185 2.40→1.92, q115
    // 1.62→1.05, q95 2.12→1.58, q92 1.43→1.06, q71 1.04→0.79.
    // On HDFS/object stores the FileContext default is the right
    // choice (its rename carries the atomicity contract there);
    // this is the local-filesystem deployment posture, like the
    // settings above. Results byte-identical, oracle re-gated.
    "spark.sql.streaming.checkpointFileManagerClass" ->
      ("org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager"),
    "spark.ui.enabled" -> "false",
    // the engine's native kernels as SQL functions (static conf —
    // must be set where the SparkContext is created)
    "spark.sql.extensions" -> "org.apache.spark.sql.graft.GraftExtensions",
    // FAIR across pools: inert for a serial caller (one pool), and the
    // multi-tenant posture for Bench's concurrent mode — each stream
    // gets its own pool so one stream's wide stage cannot starve the
    // others for a whole scheduling quantum
    "spark.scheduler.mode" -> "FAIR")

  /** The configured session (created, or the JVM's existing one). */
  def apply(appName: String): SparkSession = {
    val s = settings.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
