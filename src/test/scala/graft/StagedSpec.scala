package graft

import java.util.concurrent.{CountDownLatch, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The staging memo's contract: one build per key under concurrent
  * first touch, nothing cached from a build that throws, and builds that
  * stage other keys (the lake and streaming stagings do) never fail on
  * the memo itself. */
class StagedSpec extends SparkSpec {

  test("8 concurrent cold callers run the build once and share its value") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map { _ =>
        Future {
          start.await()
          Staged.once(spark, "StagedSpec/concurrent", "value") {
            builds.incrementAndGet()
            Thread.sleep(200)
            new Object
          }
        }
      }
      start.countDown()
      val values = Await.result(Future.sequence(calls), 1.minute)
      assert(builds.get() === 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdown()
  }

  test("a build that throws caches nothing; the next call builds again") {
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Staged.once[Int](spark, "StagedSpec/throws", "value") {
        builds.incrementAndGet()
        throw new IllegalStateException("staging failed")
      }
    }
    assert(e.getMessage === "staging failed")
    assert(Staged.once(spark, "StagedSpec/throws", "value") {
      builds.incrementAndGet(); 42 } === 42)
    assert(Staged.once(spark, "StagedSpec/throws", "value") {
      builds.incrementAndGet(); 0 } === 42)
    assert(builds.get() === 2)
  }

  test("1,000 keys, each built inside another key's build, all stage once") {
    val builds = new AtomicInteger()
    def nested(i: Int): Int = Staged.once(spark, "StagedSpec/nested", s"k$i") {
      builds.incrementAndGet()
      if (i == 0) 0 else nested(i - 1) + 1
    }
    assert(nested(999) === 999)
    assert(builds.get() === 1000)
    assert((0 until 1000).forall(i => nested(i) == i))
    assert(builds.get() === 1000)
  }
}
