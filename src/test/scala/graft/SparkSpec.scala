package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark sessions are expensive; suites must not stop() it). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  // graft.Session's settings unchanged: tests run the plans Bench times,
  // and local[N,2]'s one task retry lets RetryInvarianceSpec inject
  // fail-once tasks (inert for every other suite: a test that
  // deliberately fails a job still fails it, one attempt later)
  lazy val session: SparkSession = Session("graft-test")
}
