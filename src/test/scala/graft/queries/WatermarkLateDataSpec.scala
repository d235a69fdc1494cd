package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}

import graft.SparkSpec

/** Watermark semantics proved deterministically, against the semantics
  * Spark ACTUALLY implements (measured on 4.1): in append mode a window
  * is emitted (finalized) at the end of the first batch whose STARTING
  * watermark passes the window end — one batch later than the textbook
  * "watermark advanced past it" phrasing — and a late row is dropped
  * only when its window has already been emitted (before that, it
  * merges silently even if it is older than the current watermark).
  * File mtimes + maxFilesPerTrigger=1 pin the batch order, so the test
  * is exact: batch 0 loads hours 0-10, batch 1 finalizes hours 0-8,
  * batch 2's hour-3 straggler hits a finalized window and MUST be
  * dropped — emitting it again would break append's
  * exactly-once-per-window contract (the state-bounding property that
  * lets a 100 TB stream run with finite window state).
  */
class WatermarkLateDataSpec extends SparkSpec {

  test("a straggler into an emitted window is dropped; windows emit exactly once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("wm-late").toString
    try {
      def ts(h: Int, m: Int = 0): java.sql.Timestamp =
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // batch 0: hours 0..10, two rows in hour 3 → watermark 09:15
      val batch0 = ((0 to 10).map(h => (ts(h, 15), s"on-time-$h")) :+
        (ts(3, 45), "on-time-3b")).toDF("ts", "tag")
      // batch 1: hour 11 → end-of-batch eviction (wm 09:15) EMITS hours 0..8
      val batch1 = Seq((ts(11, 15), "on-time-11")).toDF("ts", "tag")
      // batch 2: hour-3 straggler (window already emitted → must drop)
      // + hour 12; final no-data batch evicts hours 9-10 (wm 11:15)
      val batch2 = Seq(
        (ts(3, 30), "late-3"),
        (ts(12, 15), "on-time-12")).toDF("ts", "tag")
      Seq(batch0, batch1, batch2).zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.parquet(s"$dir/b$i")
        val f = Files.list(Paths.get(dir, s"b$i"))
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        val target = Paths.get(dir, s"$i.parquet")
        Files.move(f, target)
        Files.setLastModifiedTime(target, FileTime.fromMillis(1000000L + i * 60000L))
      }
      val src = spark.readStream.schema(batch0.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      val name = "wm_late_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val dropped = q.recentProgress.flatMap(_.stateOperators.headOption)
        .map(_.numRowsDroppedByWatermark).sum
      val rows = spark.table(name)
        .select(hour(col("window.start")).as("h"), col("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1))
      val got = rows.toMap
      assert(rows.length === rows.map(_._1).distinct.length,
        s"a window was emitted twice: ${rows.toSeq.sorted}")
      assert(dropped === 1L, s"expected exactly the one straggler dropped, got $dropped")
      assert(got(3) === 2L, s"straggler leaked into finalized hour-3: $got")
      // final watermark 11:15 finalizes hours 0..10; 11 and 12 stay pending
      assert(got.keySet === (0 to 10).toSet, s"emitted windows: ${got.keySet}")
      (0 to 10).filter(_ != 3).foreach(h => assert(got(h) === 1L))
    } finally {
      graft.etl.LakeFs.deleteRecursively(spark,
        new org.apache.hadoop.fs.Path(dir))
    }
  }

  /** Bounded state, the property that lets the daily load run as a
    * stream at any volume: state tracks the watermark slack (windows
    * still open) and the key cardinality, never the cumulative input.
    * The 30-day sf0.01 events are sliced into one file per day with
    * ascending mtimes and drained with `maxFilesPerTrigger=1`, so each
    * day is its own micro-batch with real state carryover; the per-batch
    * `StreamingQueryProgress` state rows are asserted for three operators.
    */
  test("streaming state plateaus at the watermark slack and the key cardinality") {
    val dir = Files.createTempDirectory("wm-state").toString
    val wmHours = 2
    try {
      val events = graft.Tables.events(spark, "/root/testdata/sf0.01")
      events.withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(col("day"))
        .write.partitionBy("day").parquet(s"$dir/staged")
      val days = new java.io.File(s"$dir/staged").listFiles()
        .filter(_.getName.startsWith("day=")).sortBy(_.getName)
      days.zipWithIndex.foreach { case (d, i) =>
        val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
        val target = Paths.get(dir, f"$i%02d.parquet")
        Files.move(part.toPath, target)
        Files.setLastModifiedTime(target, FileTime.fromMillis(1000000L + i * 60000L))
      }
      val perDay = events.groupBy(to_date(col("ts"))).count().collect().map(_.getLong(1))
      val nTypes = events.select("event_type").distinct().count()
      val nUsers = events.select("user_id").distinct().count()
      assert(days.length === 30 && perDay.length === 30)

      def src = spark.readStream.schema(events.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(dir)
      /** Drains `df` and returns, per batch that read input, the state
        * rows of the operator `op`, with the last batch's state rows.
        */
      def stateRows(df: org.apache.spark.sql.DataFrame, mode: String, op: String)
          : (Seq[Long], Long) = {
        val name = "wm_state_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.catalog.dropTempView(name)
        def rows(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
          p.stateOperators.find(_.operatorName == op)
            .getOrElse(fail(s"no $op operator in ${p.stateOperators.map(_.operatorName).toSeq}"))
            .numRowsTotal
        val data = q.recentProgress.filter(_.numInputRows > 0)
        assert(data.length === 30, s"$op: one micro-batch per day")
        (data.map(rows).toSeq, rows(q.recentProgress.last))
      }

      // windowed agg, append mode: open windows are the state. A batch
      // holds one day (24 hourly windows) plus the slack still open from
      // the day before, per event type; the input grid is ~25x larger
      val (windowed, _) = stateRows(
        src.withWatermark("ts", s"$wmHours hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events")),
        "append", "stateStoreSave")
      val gridBound = (24 + wmHours + 1) * nTypes
      val allWindows = events.select(date_trunc("hour", col("ts")), col("event_type"))
        .distinct().count()
      assert(windowed.max <= gridBound, s"windowed state $windowed over $gridBound")
      assert(allWindows > 10 * gridBound)

      // dedup within the watermark: one state row per event id still
      // inside the slack, so never more than two days of input
      val (dedup, _) = stateRows(
        src.withWatermark("ts", s"$wmHours hours")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "24 hours"))
          .agg(count(lit(1)).as("n_unique")),
        "append", "dedupeWithinWatermark")
      assert(dedup.max <= 2 * perDay.max, s"dedup state $dedup over two days of input")
      assert(dedup.max < perDay.sum)

      // keyed running profile: one state row per user, however many rows
      // flow through
      import spark.implicits._
      val (keyed, keyedLast) = stateRows(
        src.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
              val n = state.getOption.getOrElse(0L) + rows.size
              state.update(n)
              (user, n)
          }
          .toDF("user_id", "n_events"),
        "update", "flatMapGroupsWithState")
      assert(keyedLast === nUsers && keyed.max <= nUsers, s"keyed state $keyed vs $nUsers users")
    } finally {
      graft.etl.LakeFs.deleteRecursively(spark,
        new org.apache.hadoop.fs.Path(dir))
    }
  }
}
