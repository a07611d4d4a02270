package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: synthesize a scale-factor decade above the provided
  * testdata by replicating the FACT tables `factor`× with key-space
  * shifts (dimensions stay fixed — the realistic shape of growth: 10×
  * the facts against the same customers/parts/suppliers). Used to
  * extend SCALING.md one decade past the largest driver-generated
  * directory; measurement data only — correctness is gated on the
  * driver's own testdata.
  *
  * Replicas must not be mutual near-duplicates, or dedup/similarity
  * workloads explode quadratically as a generation ARTIFACT (10
  * identical copies of each doc = 45 extra true pairs per doc):
  *  - documents: copy i>0 applies a per-copy alphanumeric SUBSTITUTION
  *    CIPHER (rotate letters and digits by i). A bijective char map
  *    preserves every per-doc statistic and all WITHIN-copy gram
  *    Jaccards exactly — each copy carries the fixture's near-dup
  *    structure verbatim — while cross-copy gram sets share only the
  *    rotation-fixed characters, far below any dedup threshold. (A
  *    first attempt injected a copy-marker token at every space; the
  *    marker's grams were UNIVERSAL within a copy, so every copy-i doc
  *    shared MinHash slot minima and the LSH buckets degenerated into
  *    5000-member monsters — realistic only of a pathological
  *    boilerplate corpus, and 10× the work the fixture represents.)
  *  - embeddings: copy i>0 flips the sign of a copy-dependent
  *    pseudo-random half of the dimensions — norms (and within-copy
  *    cosines, up to shared flips) are preserved, cross-copy cosines
  *    decorrelate to ≈0.
  *
  * events.ts is read RAW in whatever physical shape the fixture has,
  * under [[Tables.eventsSchema]] (int64 nanos under nanosAsLong for
  * TIMESTAMP(NANOS) fixtures;
  * TIMESTAMP_NTZ for TIMESTAMP(US) ones) and written back untouched —
  * graft.Tables.normalizeEventTs handles either shape on read.
  *
  * Usage: ScaleGen <srcSfDir> <dstDir> <factor>
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcSfDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = Session("graft-scalegen")
    try run(spark, src, dst, factor) finally spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def read(n: String): DataFrame = spark.read.parquet(s"$src/$n.parquet")
    // write each table as ONE parquet FILE, exactly like the driver's
    // testdata layout — consumers (notably the streaming staging
    // helpers) treat $dir/$name.parquet as a file path, and a Spark
    // output DIRECTORY of that name silently staged as empty. A single
    // file can only scan in parallel if it has MANY ROW GROUPS — the
    // first cut of this generator inherited the 128 MB default and
    // produced one row group per table, which serialized every sf1
    // scan onto one task (q12 27 s, q56 29 s). Small row groups are
    // the fix: 512 KB buffered (≈250 KB on disk) gives the CPU-dense
    // narrow tables (documents: 6 MB of text but the corpus-wide
    // MinHash cost) enough splits to spread, and the wide tables
    // hundreds. Real 100 TB data arrives as thousands of files and
    // never needs this; it is purely the single-file fixture's valve.
    def write(df: DataFrame, n: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("scalegen_").toString
      df.coalesce(1).write
        .option("parquet.block.size", (512 * 1024).toString)
        .option("parquet.page.size", (128 * 1024).toString)
        .mode("overwrite").parquet(tmp)
      val part = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try s.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally s.close()
      }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dst/$n.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect().head.getLong(0) + 1
    def replicate(df: DataFrame)(tx: Int => DataFrame => DataFrame): DataFrame =
      (0 until factor).map(i => tx(i)(df)).reduce(_ unionByName _)

    // dimensions: verbatim
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(read(n), n))

    // orders ⋈ lineitem share the order-key space: one shift for both
    val orders = read("orders")
    val oSpan = span(orders, "o_orderkey")
    write(replicate(orders)(i => df =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oSpan))), "orders")
    write(replicate(read("lineitem"))(i => df =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oSpan))), "lineitem")

    // events: ts read raw in its physical shape (see scaladoc). user_id is
    // shifted per copy along with event_id: every event query keys on
    // user (windows, sessions, cohorts, the q96 stream-stream time
    // join) and no table joins events to an external user dimension,
    // so "10× data" must mean 10× USERS at the fixture's per-user
    // density — the realistic growth shape. Leaving user_id unshifted
    // would interleave 10 copies of each user's history over the SAME
    // time range, growing q96's per-user 10-minute pair count ~100×
    // per decade: a quadratic replication artifact, not a workload.
    val events = spark.read.schema(Tables.eventsSchema(spark, src)).parquet(s"$src/events.parquet")
    val eSpan = span(events, "event_id")
    val uSpan = span(events, "user_id")
    write(replicate(events)(i => df =>
      df.withColumn("event_id", col("event_id") + lit(i * eSpan))
        .withColumn("user_id", col("user_id") + lit(i * uSpan))), "events")

    val docs = read("documents")
    val dSpan = span(docs, "doc_id")
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digits = "0123456789"
    def rot(s: String, i: Int): String =
      s.indices.map(j => s((j + i) % s.length)).mkString
    write(replicate(docs)(i => df =>
      df.withColumn("doc_id", col("doc_id") + lit(i * dSpan))
        .withColumn("text",
          if (i == 0) col("text")
          else translate(col("text"), lower + upper + digits,
            rot(lower, i) + rot(upper, i) + rot(digits, i)))), "documents")

    val emb = read("embeddings")
    val vSpan = span(emb, "vec_id")
    write(replicate(emb)(i => df =>
      df.withColumn("vec_id", col("vec_id") + lit(i * vSpan))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else transform(col("embedding"), (x, j) =>
            when(pmod(xxhash64(j, lit(i)), lit(2)) === 0, x).otherwise(-x)))), "embeddings")

    println(s"SCALEGEN done: $dst = $factor x $src")
  }
}
