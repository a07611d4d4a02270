package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Task-RETRY invariance: the sibling of PartitionInvarianceSpec's
  * partition-count pin. A 1000-executor cluster retries tasks as a
  * matter of course (preemption, spot loss, straggler kill); an
  * operator whose answer changes under a retried task is wrong at
  * scale no matter what it scores on a clean local run. The session
  * runs local[N,2] (one retry), and the injector fails partition 0's
  * FIRST attempt — so the map-side work of the aggregation under test
  * really executes twice and the discarded attempt must leave no
  * trace.
  *
  * Two layers: (1) the mergeable-sketch family aggregated over a
  * flaky INPUT (their commutative idempotent merges are the design
  * claim that retries are free — prove it); (2) a sample of declared
  * queries re-collected through a fail-once final stage, which forces
  * shuffle-fetch + recompute of the result stage.
  */
class RetryInvarianceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Fails the first attempt of partition 0, passes rows through
    * untouched on the retry. */
  private def flaky[T: Encoder](ds: Dataset[T]): Dataset[T] =
    ds.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected fail-once task failure")
      it
    }

  private def docHashes: Dataset[Long] = {
    import spark.implicits._
    Tables(spark, sf, "documents")
      .select(xxhash64(col("text"))).as[Long].repartition(4)
  }

  test("KMV sketch aggregation is bit-identical under an injected task retry") {
    import spark.implicits._
    val agg = new graft.functions.KmvSketch(64).toColumn
    val clean = docHashes.select(agg).collect().head.toSeq
    val retried = flaky(docHashes).select(agg).collect().head.toSeq
    assert(retried === clean)
    assert(clean.nonEmpty)
  }

  test("Misra-Gries heavy-hitter aggregation is identical under an injected task retry") {
    import spark.implicits._
    val words = Tables(spark, sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0).as[String].repartition(4)
    val agg = new graft.functions.MisraGries(8).toColumn
    val clean = words.select(agg).collect().head
    val retried = flaky(words).select(agg).collect().head
    assert(retried === clean)
  }

  test("grouped sum/count over a flaky input matches the clean run") {
    import spark.implicits._
    def rollup(ds: Dataset[(String, Long)]) = ds.toDF("source", "n")
      .groupBy("source").agg(count(lit(1)).as("docs"), sum("n").as("chars"))
      .orderBy("source").collect().toSeq
    val base = Tables(spark, sf, "documents")
      .select(col("source"), col("n_chars")).as[(String, Long)].repartition(4)
    assert(rollup(flaky(base)) === rollup(base))
  }

  test("declared queries re-collected through a fail-once final stage are unchanged") {
    // one per family whose retry story matters most: exact relational
    // agg, hash dedup, bounded-memory sketch, KMV set algebra — plus
    // the round-7 pair: the custom as-of merge exec reached through
    // the injected SQL grammar (deterministic given its sorted
    // co-partitioned inputs, so a recomputed partition must replay
    // bit-identically) and the AQE skew join (runtime-split partitions
    // recompute under retry too)
    val sample = Seq("q01_pricing_summary", "q50_dedup_exact",
      "q73_heavy_hitters", "q199_kmv_intersect",
      "q206_asof_sql_grammar", "q207_aqe_skew_join",
      // round-8: the lake-catalog snapshot read — a recomputed split
      // re-serves the same immutable snapshot rows
      "q208_sql_merge_into")
    for (name <- sample) {
      val clean = SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val retried = SparkEntry.queries(name)(spark, sf)
        .rdd.mapPartitions { it =>
          val tc = TaskContext.get()
          if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
            throw new RuntimeException("injected fail-once task failure")
          it
        }.collect().map(_.toString).sorted.toSeq
      assert(retried === clean, s"$name changed under a retried task")
    }
  }

  // ---- lake-catalog WRITE path under retry -------------------------
  // The read-side pins above prove recomputed splits re-serve the same
  // rows; these two prove the WRITE side: a failed write-task attempt
  // must leave no trace (DataWriter.abort discards its buffer; only
  // the retry's commit message reaches the snapshot), and a MERGE
  // statement over a flaky source must apply its change-set exactly
  // once — the exactly-once contract every lakehouse commit protocol
  // exists to provide.

  private def lakeClone(): org.apache.spark.sql.SparkSession = {
    val ss = org.apache.spark.sql.graft.SessionClone(spark)
    ss.conf.set("spark.sql.catalog.graft_lake",
      classOf[graft.sources.v2.GraftLakeCatalog].getName)
    ss
  }

  test("a task that fails MID-WRITE into a lake table commits each row exactly once") {
    val ss = lakeClone()
    import ss.implicits._
    ss.sql("CREATE TABLE graft_lake.retry.w1 (k BIGINT)")
    // partition 0's first attempt emits 10 rows INTO the writer's
    // buffer, then dies — the strong case: abort() must discard the
    // partial buffer or the retry double-writes those 10
    val src = ss.range(0, 1000).repartition(4).as[Long]
      .mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          new Iterator[Long] {
            private var n = 0
            override def hasNext: Boolean = true
            override def next(): Long = {
              n += 1
              if (n > 10) throw new RuntimeException("injected mid-write failure")
              it.next()
            }
          }
        else it
      }
    src.toDF("k").writeTo("graft_lake.retry.w1").append()
    val got = ss.sql("SELECT count(*) AS n, count(DISTINCT k) AS d FROM graft_lake.retry.w1")
      .collect().head
    assert(got.getLong(0) === 1000L, "duplicate rows survived an aborted write attempt")
    assert(got.getLong(1) === 1000L)
    // exactly ONE commit: the aborted attempt produced no snapshot
    assert(ss.sql("SELECT * FROM graft_lake.retry.w1 VERSION AS OF 1").count() === 1000L)
    val err = intercept[Exception] {
      ss.sql("SELECT * FROM graft_lake.retry.w1 VERSION AS OF 2").collect()
    }
    assert(err.getMessage.contains("no snapshot 2"))
  }

  test("MERGE INTO over a fail-once source applies the change-set exactly once") {
    val ss = lakeClone()
    import ss.implicits._
    ss.sql("CREATE TABLE graft_lake.retry.m1 (k BIGINT, v BIGINT)")
    ss.range(0, 100).select(col("id").as("k"), col("id").as("v"))
      .writeTo("graft_lake.retry.m1").append()
    flaky(ss.range(50, 150).as[Long])
      .select(col("value").as("k"), lit(10L).as("dv"))
      .createOrReplaceTempView("retry_chg")
    ss.sql(
      """MERGE INTO graft_lake.retry.m1 t USING retry_chg c ON t.k = c.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + c.dv
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k, c.dv)""".stripMargin)
    val got = ss.sql("SELECT k, v FROM graft_lake.retry.m1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (0L until 50L).map(k => (k, k)) ++      // untouched
      (50L until 100L).map(k => (k, k + 10L)) ++           // updated ONCE
      (100L until 150L).map(k => (k, 10L))                 // inserted ONCE
    assert(got === expected)
    // seed + merge = exactly two commits, retry added none
    val err = intercept[Exception] {
      ss.sql("SELECT * FROM graft_lake.retry.m1 VERSION AS OF 3").collect()
    }
    assert(err.getMessage.contains("no snapshot 3"))
  }

  test("merge-on-read MERGE over a fail-once source commits its delete vectors exactly once") {
    // the delta-write path's exactly-once: a failed attempt's buffered
    // deletes and written files must leave no trace — only the retry's
    // commit message reaches commitDelta, and the data dir holds ONLY
    // manifest-referenced files afterwards (no orphan DV parquet)
    val ss = lakeClone()
    import ss.implicits._
    ss.sql("CREATE TABLE graft_lake.retry.mor1 (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('write.dml.mode'='merge-on-read')")
    ss.range(0, 100).select(col("id").as("k"), col("id").as("v"))
      .writeTo("graft_lake.retry.mor1").append()
    flaky(ss.range(50, 150).as[Long])
      .select(col("value").as("k"), lit(10L).as("dv"))
      .createOrReplaceTempView("retry_mor_chg")
    ss.sql(
      """MERGE INTO graft_lake.retry.mor1 t USING retry_mor_chg c ON t.k = c.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + c.dv
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (c.k, c.dv)""".stripMargin)
    val got = ss.sql("SELECT k, v FROM graft_lake.retry.mor1 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = (0L until 50L).map(k => (k, k)) ++
      (50L until 100L).map(k => (k, k + 10L)) ++
      (100L until 150L).map(k => (k, 10L))
    assert(got === expected)
    // delta commit shape: no data file rewritten, exactly the matched
    // pre-images deleted (50 updates), exactly once
    val handle = graft.sources.v2.GraftLakeStore
      .get(graft.sources.v2.GraftLakeStore.defaultRoot, "retry.mor1").get
    val sn = handle.snapshot(handle.latestVersion)
    assert(sn.version === 2 && sn.op === "delta")
    assert(sn.files.map(_.dvs.map(_.dels).sum).sum === 50L,
      "a retried attempt must not double-record delete positions")
    // no orphans: every file on disk is referenced by some manifest
    val referenced = (0 to handle.latestVersion).flatMap(v =>
      handle.snapshot(v).files.flatMap(f => f.path +: f.dvs.map(_.path)))
      .map(_.stripPrefix("data/")).toSet
    val l = java.nio.file.Files.list(handle.dataDir)
    val onDisk = try {
      val b = Seq.newBuilder[String]
      l.iterator().forEachRemaining(p => b += p.getFileName.toString)
      b.result().toSet
    } finally l.close()
    assert((onDisk -- referenced).isEmpty,
      s"orphan files survived the aborted attempt: ${onDisk -- referenced}")
  }
}
