package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite: the production session
 *  ([[GraftSession.builder]]: optimizer rules, storage contract, local
 *  file system) with only the test-scale settings on top. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder(shufflePartitions = 4)
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run a ScalaCheck property and fail the test on falsification. */
  def checkProp(p: org.scalacheck.Prop, minTests: Int = 100): Unit = {
    val params = org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(minTests)
    val res = org.scalacheck.Test.check(params, p)
    assert(res.passed, res.status.toString)
  }
}
