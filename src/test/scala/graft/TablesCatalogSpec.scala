package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables`' schema catalog: a table resolved again reads with its
  * cached schema and launches no Spark job, a file rewritten with
  * another schema is inferred again, and events' `ts` still comes out
  * as TimestampType micros whatever its physical shape. Each table is a
  * single parquet file in a fresh directory, like the fixture tables. */
class TablesCatalogSpec extends SparkSpec {

  private val groups = new AtomicLong()

  /** `body`'s value and the Spark jobs it launched on this thread,
    * counted by a listener on a job group of their own. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-catalog-spec-${groups.incrementAndGet()}"
    val jobs = new AtomicInteger()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "resolve")
      val r = body
      // events reach a listener in posting order: once this job's start
      // arrives, every job `body` launched has arrived before it
      sc.setJobGroup(s"$group-end", "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener never saw the drain job")
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Writes `df` as the one parquet file `<dir>/<name>.parquet`,
    * replacing any file there. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("tables_catalog_part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val l = Files.list(tmp)
    val part = try l.filter(_.toString.endsWith(".parquet")).findFirst().get() finally l.close()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a table resolved a second time launches no Spark job and reads like an uncached read") {
    val dir = Files.createTempDirectory("tables_catalog")
    writeTable(spark.range(200).select(col("id"), (col("id") * 1.5).as("v"),
      col("id").cast("string").as("s")), dir, "t")
    val path = s"$dir/t.parquet"
    // the listener sees the job an uncached read infers its schema with
    assert(jobsIn(spark.read.parquet(path))._2 >= 1)
    Tables(spark, dir.toString, "t")
    val (df, jobs) = jobsIn(Tables(spark, dir.toString, "t"))
    assert(jobs === 0)
    val plain = spark.read.parquet(path)
    assert(df.schema === plain.schema)
    assert(df.collect().toSeq.sortBy(_.getLong(0)) === plain.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("a fixture file rewritten at the same path with another schema is inferred again") {
    val dir = Files.createTempDirectory("tables_catalog")
    writeTable(spark.range(10).toDF("a"), dir, "t")
    assert(Tables(spark, dir.toString, "t").columns.toSeq === Seq("a"))
    writeTable(spark.range(10).select(col("id").as("b"), col("id").cast("string").as("c")), dir, "t")
    val df = Tables(spark, dir.toString, "t")
    assert(df.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(df.columns.toSeq === Seq("b", "c"))
    assert(df.filter(col("b").isNotNull && col("c").isNotNull).count() === 10)
  }

  /** Writes `<dir>/events.parquet` with parquet's own writer, as the
    * fixture generator does: no Spark schema in the footer, so the
    * session's conversion settings decide how `ts` surfaces. */
  private def writeEvents(dir: Path, tsType: String, ts: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($tsType); }")
    val w = ExampleParquetWriter
      .builder(new HadoopPath(dir.resolve("events.parquet").toUri))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (t, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", t))
    } finally w.close()
  }

  test("events.ts is TimestampType micros on the cached path, for every raw ts shape") {
    import spark.implicits._
    val micros = Seq(1700000000123456L, 1700003600654321L)
    val shapes = Seq(
      "TIMESTAMP(NANOS,true)" -> micros.map(_ * 1000 + 789),
      "TIMESTAMP(MICROS,false)" -> micros,
      "TIMESTAMP(MICROS,true)" -> micros)
    val dirs = shapes.map { case (tsType, ts) =>
      val dir = Files.createTempDirectory("tables_catalog_events")
      writeEvents(dir, tsType, ts)
      Tables(spark, dir.toString, "events")
      val (df, jobs) = jobsIn(Tables(spark, dir.toString, "events"))
      assert(jobs === 0, tsType)
      assert(df.schema("ts").dataType === TimestampType, tsType)
      assert(df.select(unix_micros(col("ts"))).as[Long].collect().sorted.toSeq === micros, tsType)
      tsType -> dir.toString
    }.toMap
    assert(Tables.eventsSchema(spark, dirs("TIMESTAMP(NANOS,true)"))("ts").dataType === LongType)
    // a session that converts the same footer otherwise gets its own entry
    val ntz = dirs("TIMESTAMP(MICROS,false)")
    val ltz = spark.newSession()
    ltz.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables.eventsSchema(spark, ntz)("ts").dataType === TimestampNTZType)
    assert(Tables.eventsSchema(ltz, ntz)("ts").dataType === TimestampType)
    assert(Tables.eventsSchema(spark, ntz)("ts").dataType === TimestampNTZType)
    assert(Tables(ltz, ntz, "events").select(unix_micros(col("ts")))
      .as[Long].collect().sorted.toSeq === micros)
  }
}
