package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Gap-based sessionization as a stateful streaming operator
  * (`flatMapGroupsWithState` + event-time timeout): per-user state
  * carries the open session; an event beyond the inactivity gap closes
  * it (emitted downstream) and opens the next, and a session with no
  * further events closes by itself when the WATERMARK passes its last
  * event + gap (`GroupStateTimeout.EventTimeTimeout`) — no artificial
  * flush batch needed. This maintains incrementally exactly what the
  * batch window formulation (RelationalQueries.qSessionize: lag +
  * running sum) computes over the full history — the spec pins the two
  * against each other.
  *
  * Gap arithmetic uses millisecond-truncated timestamps with a strict
  * `> gapMs` comparison, bit-matching the batch form's
  * `unix_millis(ts) - lag(...) > 1800000`.
  *
  * A trailing session within the gap of the final watermark stays in
  * state unemitted — correct streaming semantics: it could still grow.
  * (Timeouts for the final watermark fire in the closing no-data
  * micro-batch — `spark.sql.streaming.noDataMicroBatches.enabled`,
  * default on.)
  */
object Sessionize {

  case class RawEvent(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double, props: String)
  case class OpenSession(startMs: Long, lastMs: Long, n: Long, idx: Long)
  case class Session(user_id: Long, session_id: Long, n_events: Long,
      session_start: String, session_end: String)

  // the stream schema comes from one batch footer probe so the reader
  // adapts to the file's physical ts type: TIMESTAMP(NANOS) surfaces as
  // a raw long under the legacy conf and passes through; micros
  // timestamps normalize to epoch nanos (value-preserving, UTC session)
  private def rawStream(spark: SparkSession, dir: String) = {
    val batch = graft.ParquetFooters.read(spark, dir)
    val src = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    batch.schema("ts").dataType match {
      case LongType => src
      case _ => src.withColumn("ts",
        expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }

  private def fmt(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** Runs the streaming sessionizer over a directory of events-schema
    * parquet files (AvailableNow; `maxFilesPerTrigger=1` so multi-file
    * inputs arrive as ordered micro-batches) and returns the CLOSED
    * sessions.
    */
  def sessionizeStream(
      spark: SparkSession,
      dir: String,
      gapMinutes: Int = 30,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    val src = rawStream(spark, dir)
      .withColumn("ets", expr("timestamp_micros(ts div 1000)"))
      .withWatermark("ets", watermarkDelay)
      .as[RawEvent]
    val sessions = src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[RawEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed lastMs + gap with no new events: the gap
            // is certain, close the session and drop the state
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.idx, s.n, fmt(s.startMs), fmt(s.lastMs)))
          } else {
            // within a micro-batch events are unordered: establish event time
            val evs = events.toVector.sortBy(e => (e.ts, e.event_id))
            val closed = Vector.newBuilder[Session]
            var open = state.getOption
            evs.foreach { e =>
              val ms = e.ts / 1000000L // nanos -> ms (truncating, like unix_millis)
              open match {
                case Some(s) if ms - s.lastMs > gapMs =>
                  closed += Session(user, s.idx, s.n, fmt(s.startMs), fmt(s.lastMs))
                  open = Some(OpenSession(ms, ms, 1, s.idx + 1))
                case Some(s) =>
                  open = Some(s.copy(lastMs = math.max(s.lastMs, ms), n = s.n + 1))
                case None =>
                  open = Some(OpenSession(ms, ms, 1, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // close once the watermark passes last event + gap; clamped
              // forward so a straggling old batch can't set a timeout
              // behind the current watermark (which would throw)
              state.setTimeoutTimestamp(
                math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
    MemoryDrain(sessions, OutputMode.Append(), "sessions_")
  }
}
