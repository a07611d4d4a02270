package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's registry is one fold over one module list: a query name
  * declared twice, by two modules or within one, fails the fold instead
  * of one def silently replacing the other. */
class QueryModuleSpec extends AnyFunSuite {

  private def module(names: String*): QueryModule = new QueryModule {
    val defs: Seq[QueryDef] =
      names.map(n => QueryDef(n, (_, _) => null: DataFrame, Some(s"SELECT '$n'")))
  }

  test("folding two modules that declare the same name fails, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.fold(Seq(module("q1_a", "q2_shared"), module("q2_shared", "q3_b"))))
    assert(e.getMessage.contains("q2_shared"))
    assert(!e.getMessage.contains("q1_a") && !e.getMessage.contains("q3_b"))
  }

  test("a module that declares one name twice fails, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.fold(Seq(module("q1_a", "q2_twice", "q2_twice"))))
    assert(e.getMessage.contains("q2_twice"))
    assert(!e.getMessage.contains("q1_a"))
  }

  test("distinct modules fold to the union of their names") {
    val mods = Seq(module("q1_a"), module("q2_b", "q3_c"))
    assert(SparkEntry.fold(mods).map(_.name).toSet === Set("q1_a", "q2_b", "q3_c"))
  }

  test("SparkEntry's registry is built once, not on every access") {
    assert(SparkEntry.defs eq SparkEntry.defs)
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
