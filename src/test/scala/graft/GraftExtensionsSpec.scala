package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions path must work from configuration alone — a fresh
  * session built with withExtensions resolves all injected functions
  * without any imperative registration call.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions injects field, dayname, date_format, dot_product") {
    // getOrCreate reuses any default session and would skip extension
    // wiring — clear it so a genuinely new session (with extensions) is
    // built over the shared SparkContext, then restore
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = Tables.sessionBuilder("local[2]", partitions = 2)
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = s.sql(
        """SELECT FIELD('Wednesday', 'Monday','Tuesday','Wednesday') AS p,
          |       DAYNAME(DATE '2024-11-01') AS d,
          |       DATE_FORMAT(DATE '2024-11-01', '%Y-%m') AS ym,
          |       DATE_FORMAT(DATE '2024-11-01', 'yyyy-MM-dd') AS jd,
          |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp
          |""".stripMargin).collect()(0)
      assert(r.getLong(0) == 3L)
      assert(r.getString(1) == "Friday")
      assert(r.getString(2) == "2024-11") // MySQL %-pattern translated
      assert(r.getString(3) == "2024-11-01") // Java pattern passes through
      assert(r.getDouble(4) == 11.0)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
