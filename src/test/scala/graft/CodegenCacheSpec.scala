package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The generated-code cache under [[Tables.FixedSettings]]: a class is
  * compiled once per JVM, whichever session ran it first and however many
  * other classes were compiled since. Each query here carries literals no
  * other suite uses, so its first run must compile.
  */
class CodegenCacheSpec extends SparkSpec {

  /** Generated classes compiled in this JVM while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** An aggregate with a shuffle, so several classes per run. */
  private def query(s: SparkSession, tag: Long): Unit =
    s.range(1000).selectExpr(s"id % 7 AS k", s"id * $tag + 7919 AS v")
      .groupBy("k").sum("v").collect()

  test("a query compiles nothing the second time, after 100+ other classes were compiled") {
    assert(compiles(query(spark, 104729L)) > 0)
    // Spark's default cache holds 100 classes; push past it with classes
    // of their own (the literals are inlined into the generated source)
    var others = 0L
    var i = 0
    while (others <= 100 && i < 400) {
      others += compiles(spark.range(10).selectExpr(s"id * ${1299709L + i} AS x").collect())
      i += 1
    }
    assert(others > 100)
    assert(compiles(query(spark, 104729L)) == 0)
  }

  test("a query warmed in newSession() compiles nothing in the caller's session") {
    assert(compiles(query(spark.newSession(), 15485863L)) > 0)
    assert(compiles(query(spark, 15485863L)) == 0)
  }
}
