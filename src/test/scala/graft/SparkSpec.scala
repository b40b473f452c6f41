package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // the GraftSession storage contract (INT96 writes no row-group
    // stats — see GraftSession's scaladoc); specs that assert scan
    // pruning need the same setting the engine recommends
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .config(GraftSession.localFsConf)
    .getOrCreate()

  /** Run a ScalaCheck property and fail the test on falsification. */
  def checkProp(p: org.scalacheck.Prop, minTests: Int = 100): Unit = {
    val params = org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(minTests)
    val res = org.scalacheck.Test.check(params, p)
    assert(res.passed, res.status.toString)
  }
}
