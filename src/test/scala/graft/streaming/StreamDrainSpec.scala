package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The bounded-stream helpers every streaming query runs through:
  * [[StreamingQueries.drain]] returns the projected sink as a local
  * frame and drops its memory-sink view however the run ends, and
  * [[StreamingQueries.withConfs]] puts every conf it set back as it
  * was (a key that was unset is unset again), also when the body
  * throws.
  */
class StreamDrainSpec extends SparkSpec {

  private val setKey = "spark.sql.shuffle.partitions"
  private val provKey = "spark.sql.streaming.stateStore.providerClass"
  private val unsetKey = "spark.graft.drain_spec.unset"

  private def sinkViews(): Set[String] =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_")).map(_.name).toSet

  test("a drained stream returns the projected sink and leaves no view behind") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val views0 = sinkViews()
    val in = MemoryStream[Int]
    in.addData(3, 1, 2)
    val got = StreamingQueries.drain(in.toDF(), "append")(_.orderBy("value"))
    assert(got.collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    assert(sinkViews() === views0)
    assert(spark.streams.active.isEmpty)
  }

  test("a failing stream throws and leaves no view, no active query, every conf as it was") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val before = spark.conf.getAll
    assert(before.contains(setKey) && !before.contains(unsetKey))
    val views0 = sinkViews()
    val in = MemoryStream[Int]
    in.addData(1, 2, 3)
    val failing = in.toDF().select(
      when(col("value") === 2, raise_error(lit("drain spec boom"))).otherwise(col("value")).as("v"))
    val err = intercept[Exception] {
      StreamingQueries.withConfs(spark, setKey -> "3", unsetKey -> "on",
          provKey -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        assert(spark.conf.get(setKey) === "3" && spark.conf.get(unsetKey) === "on")
        StreamingQueries.drain(failing, "append")(identity)
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("drain spec boom")), err)
    assert(sinkViews() === views0)
    assert(spark.streams.active.isEmpty)
    val after = spark.conf.getAll
    assert(after.get(setKey) === before.get(setKey))
    assert(after.get(provKey) === before.get(provKey))
    assert(!after.contains(unsetKey))
  }
}
