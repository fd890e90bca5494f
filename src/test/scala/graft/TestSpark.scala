package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite, pinned to 4 cores
  * whatever the host. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = LocalSession(cores = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
