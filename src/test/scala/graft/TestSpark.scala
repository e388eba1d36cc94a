package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
