package graft

import graft.tools.Dev

/** The suites run on graft.Session's settings, so a test-only override
  * in SparkSpec fails here; and the dev CLI rejects bad input by name
  * before it starts a session. */
class SessionSpec extends SparkSpec {

  test("SparkSpec.session carries every setting graft.Session applies") {
    val conf = spark.sparkContext.getConf
    Session.settings.foreach { case (k, v) =>
      assert(conf.getOption(k) === Some(v), k)
    }
  }

  test("Dev rejects an unknown subcommand or query name, naming it") {
    val cmd = intercept[IllegalArgumentException](Dev.main(Array("bogus", "/nowhere")))
    assert(cmd.getMessage.contains("bogus"))
    val q = intercept[IllegalArgumentException](
      Dev.main(Array("show", "/nowhere", "q01_pricing_summary", "q999_nope")))
    assert(q.getMessage.contains("q999_nope"))
    assert(!q.getMessage.contains("q01_pricing_summary"))
  }
}
