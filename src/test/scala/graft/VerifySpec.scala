package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A query that throws is recorded in failures.json instead of being
  * lost, and the other results are still written. */
class VerifySpec extends SparkSpec {

  test("Verify.dump records a throwing query and writes the others") {
    val out = graft.util.TempDirs.create("graft_verify_spec").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok_before" -> ((s, _) => s.range(3).toDF("id")),
      "boom" -> ((_, _) => throw new IllegalStateException("kaboom")),
      "ok_after" -> ((s, _) => s.range(5).toDF("id")))
    val failures = Verify.dump(spark, "/nowhere", out, queries)
    assert(failures === Map("boom" -> "java.lang.IllegalStateException: kaboom"))
    assert(Files.readString(Paths.get(out, "failures.json")) ===
      "{\"boom\": \"java.lang.IllegalStateException: kaboom\"}")
    assert(spark.read.parquet(s"$out/ok_before").count() === 3)
    assert(spark.read.parquet(s"$out/ok_after").count() === 5)
    assert(!Files.exists(Paths.get(out, "boom")))
  }
}
