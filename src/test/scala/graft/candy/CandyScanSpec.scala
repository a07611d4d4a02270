package graft.candy

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** `CandyMain all` in the default (skip-empty) variant reads its
  * transactions once: the orders derive from the cached line items, and
  * the concurrent exports and forecast wait on the caches one branch
  * builds instead of scanning the JSON again. A listener sums the input
  * bytes of the file-scan stages of the jobs in this spec's job group,
  * which the export threads inherit from the calling thread.
  */
class CandyScanSpec extends SparkSpec {

  test("CandyMain all reads the transactions files once") {
    val data = CandyFixture.write()
    val txnBytes = Files.list(Paths.get(data)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("transactions_")).map(Files.size).sum
    val sc = spark.sparkContext
    val group = "candy-scan-spec"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val scanned = new AtomicLong()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => e.stageIds.foreach(stages.add)
          case g if g == s"$group-end" => drained.countDown()
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (stages.contains(si.stageId) && si.rddInfos.exists(_.name == "FileScanRDD"))
          scanned.addAndGet(si.taskMetrics.inputMetrics.bytesRead)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "CandyMain all")
      CandyMain.run(spark, List("all", s"$data/products.csv",
        s"$data/transactions_*.json", Files.createTempDirectory("candy_scan").toString))
      // events reach a listener in posting order: once this job's start
      // arrives, every event of the run's jobs has arrived before it
      sc.setJobGroup(s"$group-end", "listener drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener never saw the drain job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // at least one full scan, or the listener missed the run's jobs
    assert(scanned.get >= txnBytes, s"read ${scanned.get} of $txnBytes transaction bytes")
    assert(scanned.get < 1.5 * txnBytes,
      s"read ${scanned.get} bytes for $txnBytes bytes of transactions")
  }
}
