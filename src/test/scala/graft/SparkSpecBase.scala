package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One shared local session for the whole suite (session startup dominates
  * test wall-clock otherwise). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.build(cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SharedSpark.spark
}
