package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole (forked) test JVM — SURVEY.md §5.2.
  * Fixed local[4], so test plans do not depend on the host's cores. */
object SparkFixture {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf001 = "/root/testdata/sf0.001"
}
