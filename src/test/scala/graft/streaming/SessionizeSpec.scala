package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streaming sessionizer must emit exactly the sessions the batch
  * window formulation computes, closing them via the EVENT-TIME TIMEOUT
  * (watermark passes last event + gap) — no artificial flush batch. The
  * expected set is every batch session that ends more than a gap before
  * the final watermark (= max event time, zero delay); trailing sessions
  * within the gap correctly stay open in state.
  */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("reading events or running the sessionizer leaves the session conf as it was") {
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("sess-conf")
    Files.copy(Paths.get(s"$sf/events.parquet"), dir.resolve("events.parquet"))
    val s = spark.newSession()
    val before = s.conf.getAll
    graft.Tables.events(s, sf).collect()
    graft.Tables.eventsNanos(s, sf).collect()
    assert(s.conf.getAll == before)
    assert(Sessionize.sessionizeStream(s, dir.toString).collect().nonEmpty)
    assert(s.conf.getAll == before)
  }

  test("event-time-timeout sessionization equals the batch lag+cumsum form") {
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("sess-stream")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.COPY_ATTRIBUTES)

    val streamed = Sessionize.sessionizeStream(spark, dir.toString)
      .orderBy(col("user_id"), col("session_id"))
      .collect().map(_.toSeq)

    // batch form with millisecond-exact session end times (the string
    // output truncates to seconds, too coarse to compare against the
    // watermark), same lag+cumsum arithmetic as qSessionize
    val ev = graft.Tables.eventsNanos(spark, sf)
      .withColumn("ms", expr("ts div 1000000"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val sessions = ev
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > 1800000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ms")).as("start_ms"), max(col("ms")).as("end_ms"))
    // final watermark: max event time (micros truncated to ms), no delay
    val wmMs = ev.agg(max(col("ms"))).collect()(0).getLong(0)
    val expected = sessions
      .filter(col("end_ms") + 1800000L < wmMs)
      .select(col("user_id"), col("session_id"), col("n_events"),
        date_format(timestamp_millis(col("start_ms")), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(timestamp_millis(col("end_ms")), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
      .collect().map(_.toSeq)

    assert(streamed.nonEmpty)
    assert(streamed.length == expected.length)
    assert(streamed.toSeq == expected.toSeq)
  }
}
