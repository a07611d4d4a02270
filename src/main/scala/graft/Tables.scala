package graft

import java.io.IOException
import java.nio.file.{Files, InvalidPathException, Paths}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table; schema is identical across scale factors.
  * Reference analog: the JDBC/Mongo loaders at
  * /root/reference/src/data_processor.py:272-355 — here a columnar scan
  * with pushdown instead of a full-table JDBC read.
  *
  * Each read takes its schema from a catalog of inferred file schemas,
  * as a metastore would: parquet schema inference reads a footer in a
  * Spark job, so an uncached read launches one job per table before
  * the query's own action. The catalog caches metadata only, never
  * rows.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // events.ts is normalized on every read to TimestampType micros, the
    // value DuckDB sees, so oracle comparisons stay exact
    if (name == "events") normalizeEventTs(spark.read.schema(eventsSchema(spark, dir)).parquet(path))
    else spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The events file's schema in its physical shape, before
    * [[normalizeEventTs]]: what a stream source over copies of the file
    * declares.
    *
    * events.ts has shipped in two physical shapes across fixture
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader only surfaces as int64 nanos via nanosAsLong — and plain
    * TIMESTAMP(US). NOTE: nanosAsLong has no per-read DataFrameReader
    * option — it is consulted during schema conversion at both planning
    * AND execution, so a set/restore dance around this call would break
    * later task runs. Setting it session-wide is deliberate; it only
    * changes how TIMESTAMP(NANOS) columns surface (as long), and no
    * other testdata table has one, so other reads are unaffected. */
  def eventsSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schemaOf(spark, s"$dir/events.parquet")
  }

  /** Session settings that change how a parquet footer converts to a
    * Spark schema. Session clones that differ in one of them must not
    * share a catalog entry. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.caseSensitive")

  /** The inferred schema of the parquet file at `path`, inferred once
    * per real path, modification time, size and [[schemaConfs]]
    * setting. Anything but a local file (a directory, a missing path, a
    * remote URI) is inferred by Spark on every call, as an uncached read
    * would be. */
  private def schemaOf(spark: SparkSession, path: String): StructType =
    fileVersion(path) match {
      case Some((real, version)) =>
        val confs = schemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
        Staged.once(spark, real, s"tables.schema:$version:$confs") {
          spark.read.parquet(path).schema
        }
      case None => spark.read.parquet(path).schema
    }

  private def fileVersion(path: String): Option[(String, String)] =
    try {
      val p = Paths.get(path).toRealPath()
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      if (a.isRegularFile) Some((p.toString, s"${a.lastModifiedTime}/${a.size}")) else None
    } catch {
      case _: IOException | _: InvalidPathException => None
    }

  /** Normalize an events frame's `ts` to TimestampType microseconds
    * regardless of the physical column shape the fixture was written
    * with: int64 nanos (a TIMESTAMP(NANOS) file read under nanosAsLong)
    * truncates to micros; TIMESTAMP_NTZ (a TIMESTAMP(US)
    * isAdjustedToUTC=false file under the default NTZ inference) casts
    * instant-preserving because every graft session pins
    * spark.sql.session.timeZone=UTC; TimestampType passes through.
    * Works identically on batch and streaming frames (pure projection).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // an int64 ts has shipped as NANOS (TIMESTAMP(NANOS) surfaced
        // under nanosAsLong); a future fixture generation could ship
        // MICROS as plain int64, and blindly dividing would silently
        // shift every event timestamp 1000×. The two shapes are
        // unambiguous by magnitude — nanos since epoch are ~1.7e18,
        // micros ~1.7e15, disjoint for any date between 1973 and 5138 —
        // so decide per value (two long compares, codegen'd, works on
        // batch and streaming frames alike) and fail LOUDLY on a
        // magnitude that is neither, rather than guess.
        val nanosLow  = lit(100000000000000000L) // 1e17: 1973 in nanos
        val microsLow = lit(100000000000000L)    // 1e14: 1973 in micros
        df.withColumn("ts", timestamp_micros(
          when(col("ts").isNull, lit(null).cast("long"))
            .when(col("ts") >= nanosLow, expr("ts DIV 1000"))
            .when(col("ts") >= microsLow, col("ts"))
            .otherwise(raise_error(concat(
              lit("events.ts int64 magnitude is neither nanos nor micros since epoch: "),
              col("ts").cast("string"))).cast("long"))))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
}
