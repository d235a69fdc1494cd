package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The Spark jobs each sink route runs on a row-scale batch, pinned.
  * A route that gains a job (a second execution of the batch plan, an
  * extra pre-check, a schema-inference read) fails here by name.
  *
  * The bulk routes are forced with [[SinkRouteJobsSpec.withBulkRoute]],
  * the one place the sink suites lower the size route's threshold.
  */
class SinkRouteJobsSpec extends SparkSpec {
  import spark.implicits._
  import SinkRouteJobsSpec.withBulkRoute

  private def tmpDir(): String =
    Files.createTempDirectory("graft-sink-jobs").resolve("t").toString

  private def batch(rows: (String, Double, Int, String)*): DataFrame =
    rows.toDF("violation_id", "fine_amount", "seq", "month")

  private val clean = batch(("a", 1.0, 0, "2024-09"), ("b", 2.0, 1, "2024-10"))
  private val dirty = batch(("a", 1.0, 0, "2024-09"), ("a", 9.0, 1, "2024-09"),
    ("b", 2.0, 2, "2024-10"))
  private val next = batch(("b", 20.0, 3, "2024-10"), ("c", 3.0, 4, "2024-10"))

  private val keys = Seq("violation_id")
  private val tb = Some("seq")

  private def upsert(df: DataFrame, p: String, pby: Seq[String] = Nil): Unit =
    Sinks.upsert(spark, df, p, keys, partitionBy = pby, tiebreak = tb)

  private def insertIgnore(df: DataFrame, p: String): Unit =
    Sinks.insertIgnore(spark, df, p, keys, partitionBy = Seq("month"), tiebreak = tb)

  /** Jobs of `op` on a fresh table that `seed` (if any) wrote first. */
  private def jobs(seed: String => Unit)(op: String => Unit): Int = {
    val p = tmpDir()
    seed(p)
    jobsOf(op(p))._2
  }

  private val fresh: String => Unit = _ => ()

  test("small routes: the window rides the one write") {
    val got = Map(
      "upsert first write" -> jobs(fresh)(upsert(clean, _)),
      "upsert merge" -> jobs(upsert(clean, _))(upsert(next, _)),
      "insert-ignore first write" -> jobs(fresh)(insertIgnore(clean, _)),
      "insert-ignore onto a lake" -> jobs(insertIgnore(clean, _))(insertIgnore(next, _)),
      "partitioned merge" ->
        jobs(upsert(clean, _, Seq("month")))(upsert(next, _, Seq("month"))))
    assert(got == Map(
      "upsert first write" -> 2,
      "upsert merge" -> 2,
      "insert-ignore first write" -> 2,
      "insert-ignore onto a lake" -> 3,
      "partitioned merge" -> 5))
  }

  test("bulk routes: write-then-verify first writes, persisted-check merges") {
    withBulkRoute {
      val got = Map(
        "upsert first write clean" -> jobs(fresh)(upsert(clean, _)),
        "upsert first write dirty" -> jobs(fresh)(upsert(dirty, _)),
        "insert-ignore first write clean" -> jobs(fresh)(insertIgnore(clean, _)),
        "insert-ignore first write dirty" -> jobs(fresh)(insertIgnore(dirty, _)),
        "upsert merge" -> jobs(upsert(clean, _))(upsert(next, _)),
        "insert-ignore merge" -> jobs(insertIgnore(clean, _))(insertIgnore(next, _)),
        "partitioned merge" ->
          jobs(upsert(clean, _, Seq("month")))(upsert(next, _, Seq("month"))))
      assert(got == Map(
        "upsert first write clean" -> 4,
        "upsert first write dirty" -> 6,
        "insert-ignore first write clean" -> 4,
        "insert-ignore first write dirty" -> 6,
        "upsert merge" -> 6,
        "insert-ignore merge" -> 6,
        "partitioned merge" -> 8))
    }
  }
}

object SinkRouteJobsSpec {

  /** Run `body` with the sinks' size route sending every frame down the
    * bulk path (`graft.dedup.precheck.min.bytes` = 0), so row-scale
    * fixtures exercise what production runs past 256 MB.
    */
  def withBulkRoute[T](body: => T): T = {
    val prop = "graft.dedup.precheck.min.bytes"
    sys.props(prop) = "0"
    try body finally sys.props.remove(prop)
  }
}
