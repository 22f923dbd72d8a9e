package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark suites. */
object SparkSpecBase {
  lazy val spark: SparkSession = SparkEntry.localSession(4, "ERROR")
}
