package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/**
 * §2.9 extensibility: the `spark.sql.extensions=graft.GraftExtensions`
 * config path — a session built with ONLY that config (no
 * `Registry.registerAll` call) must resolve the engine's SQL functions,
 * including on `newSession()` children (temp functions don't survive
 * that; injected ones do).
 *
 * Forked test JVMs run suites sequentially, so stopping the shared
 * session here is safe: the next suite's lazy `getOrCreate` builds a
 * fresh one.
 */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects engine SQL functions at session build") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]").appName("ext-spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // not under test here, but a session without it could be the
      // one that creates (and caches) the JVM's `file://` FileSystem
      .config(GraftSession.localFsConf)
      .getOrCreate()
    try {
      val r = s.sql(
        """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       simhash64(array('a', 'b')) AS h,
          |       repetition_stats('x y\nx y').token_distinct AS td
          |""".stripMargin).collect().head
      assert(r.getDouble(0) == 11.0)
      assert(r.getInt(2) == 2)
      // injected functions survive newSession(); temp functions would not
      val child = s.newSession()
      assert(child.sql("SELECT vec_l2norm(array(3.0D, 4.0D)) AS n")
        .collect().head.getDouble(0) == 5.0)
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
