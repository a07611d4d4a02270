package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Staged, Tables}
import graft.operators.Exact

/** Declared query over the JDBC source/sink (SURVEY §2.1 S1/S2),
  * exercised end-to-end inside the correctness gate: the customer
  * table is written to an embedded Derby database (the reference's
  * MySQL stand-in — Derby ships with Spark), read back as a
  * PARTITIONED JDBC scan (4 range slices of c_custkey; without
  * partitioning a JDBC read is one task on one executor, the classic
  * cluster bottleneck), and aggregated. The oracle runs on the
  * original parquet: a database round-trip must never change the data.
  */
object JdbcQueries extends graft.QueryModule {

  /** One Derby database + load per (app, source dir); the database
    * directory is deleted on JVM exit so repeated runs don't
    * accumulate copies in /tmp. */
  private def derbyFor(s: SparkSession, dir: String): Jdbc.JdbcConfig =
    Staged.once(s, dir, "jdbc.derby") {
      val db = graft.util.TempDirs.create("graft_derby")
      val cfg = Jdbc.JdbcConfig(
        url = s"jdbc:derby:$db/graftdb;create=true",
        user = "", password = "",
        driver = "org.apache.derby.jdbc.EmbeddedDriver")
      Jdbc.write(
        Tables(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_acctbal"),
        cfg, "customer_rt", SaveMode.Overwrite)
      cfg
    }

  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val cfg = derbyFor(s, dir)
    val maxKey = Tables(s, dir, "customer")
      .agg(max(col("c_custkey"))).head().getLong(0)
    Jdbc.readPartitioned(s, cfg, "customer_rt",
        partitionColumn = "c_custkey", lowerBound = 1L,
        upperBound = maxKey, numPartitions = 4)
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        Exact.sumMoney(col("c_acctbal")).as("sum_acctbal"))
      .orderBy("c_nationkey")
  }

  val defs: Seq[QueryDef] = Seq(
    // staged: the Derby load
    QueryDef("q72_jdbc_roundtrip", jdbcRoundtrip, Some(
      """SELECT c_nationkey, count(*) AS n_customers,
        | sum(CAST(round(c_acctbal*100) AS BIGINT))/100.0 AS sum_acctbal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),
      stage = true, lifecycle = true))
}
