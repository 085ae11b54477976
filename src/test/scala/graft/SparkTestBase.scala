package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build("local[4]", 4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
