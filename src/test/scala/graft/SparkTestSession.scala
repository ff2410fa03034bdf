package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (one JVM under Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession(4)
  val sf: String = "/root/testdata/sf0.001"
}
