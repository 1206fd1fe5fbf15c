package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The mains' session ([[GraftSession]]), fixed at 4 cores so suites
    * plan identically on any host. */
  lazy val session: SparkSession = {
    val s = GraftSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
