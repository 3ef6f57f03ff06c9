package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session), on the
  * bench's engine configuration at 4 cores. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.build(cpus = 4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
}
