package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (forked test JVM), built by
  * the production factory so the tests run the engine's conf set.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
