package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // fixed cores, so suite partitioning does not vary with the host;
    // ERROR keeps Spark's warnings out of the test log
    val s = Session("graft-tests", cores = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
