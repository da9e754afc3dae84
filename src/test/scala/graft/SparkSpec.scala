package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared test harness: one local session for the whole suite (the
  * reference uses a session-scoped local[2] fixture with tiny shuffle
  * parallelism, tests/conftest.py:30-57), built by [[GraftSession]] on a
  * fixed 4 cores whatever the host, so plan and partition assertions hold
  * everywhere. */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("graft-test", cpus = 4,
    extraConf = Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
