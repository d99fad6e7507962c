package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites in the forked test JVM, built
  * by [[graft.Session]] at a fixed 4 cores so test plans do not depend on
  * the host's processor count.
  */
trait SparkFixture extends AnyFunSuite {
  lazy val spark: SparkSession = SparkFixture.session
  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"
}

object SparkFixture {
  val cores = 4
  lazy val session: SparkSession = Session("graft-tests", cores)
}
