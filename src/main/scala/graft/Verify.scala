package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [namePrefix...]
  *
  * A query that throws leaves no result dir, so the DuckDB compare
  * cannot see it: every failure is listed in failures.json
  * (name → "Class: message") and the process exits 1 once everything
  * else has been written. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args: only dump queries whose name starts with
    // one of them (dev iteration); the driver always passes exactly two
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2)
    val spark = Session("graft-verify")
    val failures = try dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
        .filter { case (name, _) => only.isEmpty || only.exists(name.startsWith) })
      finally spark.stop()
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    if (failures.nonEmpty) sys.exit(1)
  }

  /** Writes each query's result to `outDir/<name>` and the ones that
    * threw to `outDir/failures.json`; returns the failures. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        Some(name -> e.toString)
      }
    }.toMap
    writeJson(s"$outDir/failures.json", failures)
    failures
  }

  private def writeJson(path: String, m: Map[String, String]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }
}
