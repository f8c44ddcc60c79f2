package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (single JVM; Test/fork := true). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}
