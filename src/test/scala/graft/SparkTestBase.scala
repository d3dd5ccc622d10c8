package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (SparkSession.getOrCreate caches
  * across suites in the forked test JVM).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfSmoke = "/root/testdata/sf0.001"
}

object SparkTestBase {
  /** Each test fork passes its own warehouse dir as a system property
    * (build.sbt testGrouping), which SparkConf reads. */
  lazy val session: SparkSession = Graft.session("local[8]")
}
