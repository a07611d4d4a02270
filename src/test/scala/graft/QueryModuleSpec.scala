package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's registry is one fold over one module list: a query name
  * declared by two modules fails the fold instead of one module's query
  * silently replacing the other's. */
class QueryModuleSpec extends AnyFunSuite {

  private def module(names: String*): QueryModule = new QueryModule {
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      names.map(n => n -> ((_: SparkSession, _: String) => null: DataFrame)).toMap
    val oracle: Map[String, String] = names.map(n => n -> s"SELECT '$n'").toMap
  }

  test("folding two modules that declare the same name fails, naming it") {
    val mods = Seq(module("q1_a", "q2_shared"), module("q2_shared", "q3_b"))
    Seq[QueryModule => Map[String, Any]](_.queries, _.oracle).foreach { part =>
      val e = intercept[IllegalArgumentException](SparkEntry.union(mods)(part))
      assert(e.getMessage.contains("q2_shared"))
      assert(!e.getMessage.contains("q1_a") && !e.getMessage.contains("q3_b"))
    }
  }

  test("distinct modules fold to the union of their names") {
    val mods = Seq(module("q1_a"), module("q2_b", "q3_c"))
    assert(SparkEntry.union(mods)(_.queries).keySet === Set("q1_a", "q2_b", "q3_c"))
  }

  test("SparkEntry's registry is built once, not on every access") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
