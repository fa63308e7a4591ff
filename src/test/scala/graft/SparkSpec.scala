package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for all suites (one JVM, forked by sbt).
  * Never stopped mid-run — suites share it. */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(4)
}
