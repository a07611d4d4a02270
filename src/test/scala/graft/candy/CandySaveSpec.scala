package graft.candy

import graft.SparkSpec
import java.nio.file.{DirectoryNotEmptyException, Files}
import scala.jdk.CollectionConverters._

/** `CandyPipeline.save` writes its four exports concurrently. A branch
  * that fails must not abandon the others: save throws that failure only
  * after every branch has finished, so the other exports are complete
  * and no branch's temp dir is left behind.
  */
class CandySaveSpec extends SparkSpec {

  private val others = Seq("order_line_items.csv", "daily_summary.csv", "products_updated.csv")

  test("a failed export is rethrown after the other exports have finished") {
    val data = CandyFixture.write()
    val o = CandyPipeline.run(spark, s"$data/products.csv",
      s"$data/transactions_*.json", CandyConfig())
    val out = Files.createTempDirectory("candy_save_fail")
    // a non-empty directory where orders.csv goes: the move onto it fails
    val planted = Files.createDirectories(out.resolve("orders.csv"))
    Files.writeString(planted.resolve("keep"), "x")

    val e = intercept[DirectoryNotEmptyException](CandyPipeline.save(o, out.toString))
    // the state at the moment save threw, before anything else runs
    val listing = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet

    assert(e.getMessage.contains("orders.csv"), e.getMessage)
    assert(others.forall(listing.contains), s"missing exports when save threw: $listing")
    assert(listing.filter(_.startsWith("_tmp_")).isEmpty, listing)
    assert(Files.exists(planted.resolve("keep")))
    val clean = Files.createTempDirectory("candy_save_ok")
    CandyPipeline.save(o, clean.toString)
    others.foreach { f =>
      assert(Files.readAllBytes(out.resolve(f)).toSeq ===
        Files.readAllBytes(clean.resolve(f)).toSeq, s"$f incomplete")
    }
  }
}
