package graft

import org.apache.spark.sql.SparkSession

/** One shared local[4] session for all Spark-backed specs, configured as
  * the benchmark's (`graft.Session`). */
object SparkTestBase {
  lazy val spark: SparkSession = Session.local(4)
}
