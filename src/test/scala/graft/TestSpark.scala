package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites run sequentially,
  * build.sbt sets Test/parallelExecution := false). */
object TestSpark {
  lazy val spark: SparkSession = Session.local("4", scratch = false)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"
}
