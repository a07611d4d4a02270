package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame

/** Concurrent declared queries on ONE shared SparkSession — the Spark
  * Thrift Server / shared-notebook shape a production deployment runs
  * all day, and a failure mode no sequential gate can see. SparkContext
  * job submission is thread-safe by contract; what this suite actually
  * guards is the ENGINE's own session-level machinery:
  *
  *  - the memoized staging builders (bucketed tables, Z-order and
  *    date-partitioned layouts, compaction, CBO catalog tables, the
  *    persisted ANN index): `graft.Staged.once` must hold concurrent
  *    first-touch callers until staging finishes, and a staleness
  *    rebuild must not double-build (AnnIndex re-checks freshness
  *    INSIDE its lock — the classic double-checked guard, pinned cold
  *    here);
  *  - session-conf isolation: q203 plans under CBO on a SESSION CLONE
  *    (own SQLConf, shared catalog), so concurrent q203 runs cannot
  *    interleave a save/restore window on the shared conf — the
  *    restore-pattern TOCTOU (A saves false, B saves A's true, B
  *    "restores" true) that this suite was written to catch.
  *
  * The wave runs COLD-memo first (concurrent staging contention is the
  * hard case), then the serial baseline re-runs each query on the
  * warmed memo and every row set must match exactly.
  */
class ConcurrencySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Fast representatives of every session-level mechanism: all five
    * staged-layout builders, broadcast/SMJ/window relational shapes,
    * the sketch family, and text kernels. Streaming/JDBC lifecycles
    * are excluded as everywhere (own end-to-end specs). */
  private val names = Seq(
    "q65_partition_pruning", "q102_bucketed_join", "q104_zorder_skipping",
    "q203_cbo_stats_join", "q204_ann_ivf_persisted", "q205_compacted_scan",
    "q101_dsv2_source", "q03_join_broadcast", "q12_window_rank",
    "q22_multi_join", "q50_dedup_exact", "q51_text_stats",
    "q31_approx_distinct", "q199_kmv_intersect", "q202_kmv_difference",
    // the round-7 clone-conf pair: ASOF through the injected parser
    // (shared FunctionRegistry + analyzer rules under contention) and
    // the AQE skew join (per-call session clone with tuned thresholds)
    "q206_asof_sql_grammar", "q207_aqe_skew_join",
    // the round-8 lake-catalog pair: MERGE INTO staging is a memoized
    // CREATE/seed/MERGE (concurrent first-touch must stage exactly
    // once) and the snapshot read must be version-stable under it
    "q208_sql_merge_into", "q209_time_travel",
    // the lake-lifecycle wave: three more memoized multi-statement
    // stagings (MV seed+MERGE, delete+rollback) racing first touch,
    // and the two-version diff whose snapshots must pin under writes
    "q210_mv_incremental", "q212_snapshot_diff", "q213_version_rollback",
    "q215_write_audit_publish",
    // the round-9 file-backed-lake wave: expiration (mutates the
    // manifest set under readers), compaction-as-a-snapshot, schema
    // evolution (metadata-only commit), and the partitioned ingest —
    // all memoized multi-statement stagings racing first touch over
    // the on-disk store's atomic-link commit protocol
    "q217_snapshot_expiration", "q218_lake_compaction",
    "q219_schema_evolution", "q220_partitioned_lake",
    // merge-on-read: the staged MERGE commits delete vectors through
    // the delta-write protocol; concurrent first touch must stage
    // exactly once and the post-staging read is version-stable
    "q225_mor_merge",
    // column mapping: four metadata-only schema commits racing first
    // touch; reads resolve logical→physical under contention
    "q227_column_mapping",
    // manifest-only count over q220's staging; tag+expire staging;
    // $files metadata-table read
    "q228_manifest_count", "q229_tagged_read", "q230_metadata_tables",
    // CALL-statement staging (procedure protocol) racing first touch
    "q231_call_maintenance",
    // round 10: the multi-table transaction (pending manifests + one
    // decision marker) racing first touch, and the equality-delete
    // upsert whose read path probes a shared key set
    "q232_txn_consistent_ingest", "q233_eq_delete_upsert")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toIndexedSeq

  test("declared queries answer identically under concurrent execution on one session") {
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val cboBefore = spark.conf.get("spark.sql.cbo.enabled", "false")
      // two interleaved rounds of every query, cold memos first touch
      val concurrent = Await.result(
        Future.sequence((names ++ names.reverse).map { n =>
          Future(n -> canon(SparkEntry.queries(n)(spark, sf)))
        }), 10.minutes)
      val serial = names.map(n => n -> canon(SparkEntry.queries(n)(spark, sf))).toMap
      concurrent.foreach { case (n, rows) =>
        assert(rows == serial(n), s"$n diverged between concurrent and serial runs")
        assert(rows.nonEmpty, s"$n returned no rows")
      }
      assert(spark.conf.get("spark.sql.cbo.enabled", "false") == cboBefore,
        "a concurrent q203 wave leaked its CBO conf into the shared session")
    } finally pool.shutdown()
  }

  test("concurrent stale-index probes rebuild the ANN index exactly once") {
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // warm once so the memoized root exists, then force staleness
      val warm = canon(graft.operators.AnnIndex.probe(spark, sf))
      graft.operators.AnnIndex.invalidate(spark, sf)
      val before = graft.operators.AnnIndex.buildCount.get()
      val probes = Await.result(
        Future.sequence((1 to 4).map { _ =>
          Future(canon(graft.operators.AnnIndex.probe(spark, sf)))
        }), 10.minutes)
      assert(graft.operators.AnnIndex.buildCount.get() == before + 1,
        "a stale index must be rebuilt exactly once across concurrent probes")
      probes.foreach(rows => assert(rows == warm,
        "post-rebuild probe diverged from the pre-invalidation answer"))
    } finally pool.shutdown()
  }
}
