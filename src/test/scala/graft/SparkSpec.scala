package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy), built
  * with the shipped settings ([[Session.local]]) on 4 cores. */
object TestSpark {
  lazy val spark: SparkSession = Session.local("graft-test", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
