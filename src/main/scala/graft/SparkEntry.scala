package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** One declared-query module: its queries, and for each one that is
  * ANSI-SQL-expressible an equivalent DuckDB oracle SQL. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

/** Entry contract (SURVEY.md §7): every query module's registry in one
  * map, and every ANSI-SQL-expressible entry's DuckDB oracle in another.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.multiJoin(spark, "/root/testdata/sf0.001")

  private val modules: Seq[QueryModule] = Seq(
    RelationalQueries, CandyQueries, TextQueries,
    AnalyticsQueries, Analytics2Queries, Analytics3Queries,
    Tpch2Queries, Tpch3Queries,
    CdcOps, DedupOps, SimilarityOps, AnnIndex,
    graft.multimodal.MultimodalOps, graft.sources.LayoutQueries,
    graft.sources.v2.RangeSourceQueries, graft.sources.v2.MergeQueries,
    graft.sources.v2.LakeOps, graft.sources.v2.LakeLifecycle,
    graft.sources.v2.MorQueries, graft.sources.v2.LakeTxn,
    graft.sources.v2.EqUpsertQueries, graft.sources.v2.SpecEvolutionQueries,
    graft.sources.v2.CtasQueries,
    BpeQueries, QualityOps,
    graft.sources.BucketedQueries, graft.sources.ZOrderQueries,
    graft.sources.CboQueries, graft.sources.CompactionQueries,
    graft.sources.JdbcQueries, graft.streaming.StreamingQueries)

  /** One map of `part` over `modules`; a name declared by two modules
    * fails instead of one silently replacing the other. */
  private[graft] def union[V](modules: Seq[QueryModule])(
      part: QueryModule => Map[String, V]): Map[String, V] =
    modules.map(part).foldLeft(Map.empty[String, V]) { (acc, m) =>
      val twice = acc.keySet.intersect(m.keySet)
      require(twice.isEmpty,
        s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    union(modules)(_.queries)

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
  lazy val oracleSql: Map[String, String] = union(modules)(_.oracle)
}
