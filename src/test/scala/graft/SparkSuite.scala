package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The suites' shared local session: the program's own settings
  * ([[Session.local]]) at 4 cores, whichever suite starts it. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
}
