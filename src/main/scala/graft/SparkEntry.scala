package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates the per-module query registries; every entry in `queries`
  * that is ANSI-SQL-expressible has a DuckDB oracle in `oracleSql`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.multiJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ CandyQueries.queries ++ TextQueries.queries ++
      AnalyticsQueries.queries ++ Analytics2Queries.queries ++ Analytics3Queries.queries ++
      Tpch2Queries.queries ++ Tpch3Queries.queries ++
      CdcOps.queries ++ DedupOps.queries ++ SimilarityOps.queries ++ AnnIndex.queries ++
      graft.multimodal.MultimodalOps.queries ++ graft.sources.LayoutQueries.queries ++
      graft.sources.v2.RangeSourceQueries.queries ++
      graft.sources.v2.MergeQueries.queries ++
      graft.sources.v2.LakeOps.queries ++ graft.sources.v2.LakeLifecycle.queries ++
      graft.sources.v2.MorQueries.queries ++
      graft.sources.v2.LakeTxn.queries ++
      graft.sources.v2.EqUpsertQueries.queries ++
      graft.sources.v2.SpecEvolutionQueries.queries ++
      graft.sources.v2.CtasQueries.queries ++
      BpeQueries.queries ++
      QualityOps.queries ++
      graft.sources.BucketedQueries.queries ++ graft.sources.ZOrderQueries.queries ++
      graft.sources.CboQueries.queries ++ graft.sources.CompactionQueries.queries ++
      graft.sources.JdbcQueries.queries ++ graft.streaming.StreamingQueries.queries

  /** Queries whose DataFrame side spins a non-relational LIFECYCLE —
    * the real StreamExecution engine (checkpoints, RocksDB state) or an
    * embedded-Derby JDBC round-trip. Shared by SqlParitySpec (their
    * batch oracle SQL replays nothing the streaming specs don't already
    * gate end-to-end) and `Dev census` (no static batch plan exists
    * to census). One list so the two consumers cannot drift when the
    * next streaming query lands. */
  val nonRelationalLifecycle: Set[String] = Set(
    "q71_streaming_daily", "q92_streaming_dedup", "q95_streaming_sessions",
    "q96_stream_stream_join", "q115_streaming_running_totals",
    "q118_streaming_foreachbatch", "q131_stream_static_join",
    "q184_transform_with_state", "q185_statestore_read",
    "q200_streaming_timers", "q214_streaming_mv_refresh",
    "q216_change_feed_consumer", "q223_streaming_lake_sink",
    "q226_mor_change_audit",
    "q72_jdbc_roundtrip")

  // every excluded name must exist — the predecessor of this list
  // carried four misspelled entries for a full round, silently turning
  // the exclusions into no-ops (zeros in the plan census, streaming
  // engines spun inside the SQL-parity replay)
  require(nonRelationalLifecycle.subsetOf(queries.keySet),
    s"nonRelationalLifecycle names not in queries: " +
      (nonRelationalLifecycle -- queries.keySet).mkString(", "))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ CandyQueries.oracle ++ TextQueries.oracle ++
      AnalyticsQueries.oracle ++ Analytics2Queries.oracle ++ Analytics3Queries.oracle ++
      Tpch2Queries.oracle ++ Tpch3Queries.oracle ++
      CdcOps.oracle ++ DedupOps.oracle ++ SimilarityOps.oracle ++ AnnIndex.oracle ++
      graft.multimodal.MultimodalOps.oracle ++ graft.sources.LayoutQueries.oracle ++
      graft.sources.v2.RangeSourceQueries.oracle ++
      graft.sources.v2.MergeQueries.oracle ++
      graft.sources.v2.LakeOps.oracle ++ graft.sources.v2.LakeLifecycle.oracle ++
      graft.sources.v2.MorQueries.oracle ++
      graft.sources.v2.LakeTxn.oracle ++
      graft.sources.v2.EqUpsertQueries.oracle ++
      graft.sources.v2.SpecEvolutionQueries.oracle ++
      graft.sources.v2.CtasQueries.oracle ++
      BpeQueries.oracle ++
      QualityOps.oracle ++
      graft.sources.BucketedQueries.oracle ++ graft.sources.ZOrderQueries.oracle ++
      graft.sources.CboQueries.oracle ++ graft.sources.CompactionQueries.oracle ++
      graft.sources.JdbcQueries.oracle ++ graft.streaming.StreamingQueries.oracle
}
