package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** One declared operator (SURVEY.md §7): a named DataFrame query and,
  * where it is ANSI-SQL-expressible, its DuckDB oracle SQL (None: the
  * result gets a weaker rows-only check). `stage`: Bench's warmup
  * runs it once untimed, because its first call builds through
  * `graft.Staged` or starts the streaming engine. `lifecycle`: it spins
  * a non-relational lifecycle (the StreamExecution engine or an
  * embedded-Derby JDBC round-trip), so SqlParitySpec, AnsiSweepSpec and
  * `Dev census` leave it out. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    stage: Boolean = false,
    lifecycle: Boolean = false)

/** One declared-query module: one def per query. `queries` maps each
  * name to its run function, `oracle` each name that has one to its
  * oracle SQL. */
trait QueryModule {
  def defs: Seq[QueryDef]
  final lazy val queries = defs.map(d => d.name -> d.run).toMap
  final lazy val oracle = defs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}

/** Entry contract (SURVEY.md §7): every query module's defs in one
  * registry, with the query map, the oracle map and the lifecycle set
  * derived from it. */
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

  /** Every module's defs in module order; a name declared twice, by two
    * modules or within one, fails instead of one def silently replacing
    * the other. */
  private[graft] def fold(modules: Seq[QueryModule]): Seq[QueryDef] = {
    val defs = modules.flatMap(_.defs)
    val twice = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty,
      s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    defs
  }

  final lazy val defs: Seq[QueryDef] = fold(modules)

  /** One entry per implemented operator from SURVEY.md §2. */
  final lazy val queries = defs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check. */
  final lazy val oracleSql = defs.flatMap(d => d.oracle.map(d.name -> _)).toMap

  /** The `lifecycle = true` defs: no static batch plan to census or
    * replay, gated end-to-end in their own specs. */
  final lazy val nonRelationalLifecycle: Set[String] =
    defs.filter(_.lifecycle).map(_.name).toSet
}
