package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-8 streaming rehearsal — the two receipts the batch probes can't
  * give (ref §2.9 / DEPLOYMENT.md's daily micro-batch loop, re-expressed
  * as Structured Streaming):
  *
  *   sbt "runMain graft.StreamProbe drain /tmp/docs100x [ops-csv]"
  *   sbt "runMain graft.StreamProbe state /tmp/docs100x [watermarkHours]"
  *
  * - `drain`: wall-clock every registered `StreamingQueries` op at scale
  *   (AvailableNow drain of the 100× corpus). The correctness gate runs
  *   them at sf0.01; this is the first throughput measurement.
  * - `state`: the BOUNDED-STATE receipt. The 30-day events table is
  *   sliced into one file per day (modification times forced ascending so
  *   the file source replays them in event-time order — the daily-ingest
  *   shape), then drained with `maxFilesPerTrigger=1` so every day is its
  *   own micro-batch with real state carryover. An append-mode watermarked
  *   hourly aggregation and a `dropDuplicates` dedup then report, per
  *   batch, input rows / watermark / state rows total / rows evicted from
  *   `StreamingQueryProgress`. At 100 TB the property that matters is that
  *   state tracks the WATERMARK SLACK (windows still open) and the KEY
  *   cardinality — never the cumulative input; this prints that curve so
  *   it is measured, not argued. Run against sf0.1 and /tmp/docs100x: the
  *   plateau must be the same number at both scales (same window grid,
  *   same slack), while per-batch input rows grow 100×.
  */
object StreamProbe {

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("state")
    val dir = args.lift(1).getOrElse("/tmp/docs100x")
    val spark = Tables.localSession(cores = 32, probeSplits = true)
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "drain" =>
        val only = args.lift(2).map(_.split(",").toSet)
        runDrain(spark, dir, only)
      case "state" =>
        val wmHours = args.lift(2).map(_.toInt).getOrElse(2)
        // optional: "rocksdb" switches the state backend from the
        // default in-heap HDFSBackedStateStore to the disk-backed
        // RocksDB provider — the bounded-heap choice when keyed state
        // outgrows executor memory (same semantics, state off-heap)
        if (args.lift(3).contains("rocksdb"))
          spark.conf.set("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        runState(spark, dir, wmHours)
      case other => sys.error(s"unknown probe mode: $other")
    }
    spark.stop()
  }

  // --- drain: throughput of the registered ops at scale ---

  private def runDrain(
      spark: SparkSession, dir: String, only: Option[Set[String]]): Unit = {
    val flat = flatLayout(spark, dir)
    // stable order, warmup op first so JVM/codegen startup doesn't land
    // on the first measured op (SURVEY §10.9)
    val names = queries.StreamingQueries.queries.keys.toSeq.sorted
    val warm = Seq("events", "documents").map(t => s"$flat/$t.parquet")
      .find(p => new java.io.File(p).exists).get
    spark.read.parquet(warm).limit(1000).count()
    for (n <- names if only.forall(_(n))) {
      val t0 = System.nanoTime()
      val out = queries.StreamingQueries.queries(n)(spark, flat)
      val rows = out.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$n%-24s $sec%8.1f s  $rows%10d rows")
    }
  }

  /** The registered streaming sources address tables with
    * `pathGlobFilter=<table>.parquet` — the driver-testdata layout where
    * each table is ONE parquet file. Probe corpora are Spark-written
    * DIRECTORIES (the glob matches no leaf file → no schema), so the
    * drain stages a flat single-file view of the tables the streaming
    * ops read.
    */
  private def flatLayout(spark: SparkSession, dir: String): String = {
    val tables = Seq("events", "documents", "customer")
    if (!tables.exists(t => new java.io.File(s"$dir/$t.parquet").isDirectory))
      return dir
    val out = java.nio.file.Paths.get("/tmp/stream_flat",
      new java.io.File(dir).getName)
    val done = out.resolve("_done")
    if (!java.nio.file.Files.exists(done)) {
      java.nio.file.Files.createDirectories(out)
      for (t <- tables
           if new java.io.File(s"$dir/$t.parquet").isDirectory) {
        val src = new java.io.File(s"$dir/$t.parquet")
        val dst = out.resolve(s"$t.parquet")
        val parts = src.listFiles().filter(_.getName.endsWith(".parquet"))
        if (parts.length == 1)
          java.nio.file.Files.copy(parts.head.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        else {
          val tmp = out.resolve(s"_stage_$t").toString
          spark.read.parquet(src.toString).coalesce(1)
            .write.mode("overwrite").parquet(tmp)
          val p = new java.io.File(tmp).listFiles()
            .filter(_.getName.endsWith(".parquet")).head
          java.nio.file.Files.move(p.toPath, dst,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
        }
      }
      java.nio.file.Files.createFile(done)
    }
    out.toString
  }

  // --- state: per-micro-batch state-store accounting ---

  private def runState(spark: SparkSession, dir: String, wmHours: Int): Unit = {
    val slices = sliceByDay(spark, dir)
    val schema = spark.read.parquet(slices).schema

    def drain(agg: DataFrame, outputMode: String, label: String): Unit = {
      val name = "probe_" + label + "_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val q = agg.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val backend = q.recentProgress.reverseIterator
        .flatMap(_.stateOperators.headOption).take(1)
        .map(so => if (so.customMetrics.keySet.stream.anyMatch(_.startsWith("rocksdb")))
          "rocksdb" else "hdfs-backed")
        .toSeq.headOption.getOrElse("stateless")
      println(s"== $label (watermark ${wmHours}h, one micro-batch per day, " +
        s"state backend $backend, output rows ${spark.table(name).count()}) ==")
      println(f"${"batch"}%5s ${"in_rows"}%9s ${"watermark"}%-20s " +
        "per-operator state_rows/updated/evicted")
      for (p <- q.recentProgress if p.numInputRows > 0 || p.batchId == 0) {
        val ops = p.stateOperators.map(so =>
          s"${so.operatorName}=${so.numRowsTotal}/${so.numRowsUpdated}/${so.numRowsRemoved}")
          .mkString("  ")
        val wm = Option(p.eventTime.get("watermark")).getOrElse("-")
        println(f"${p.batchId}%5d ${p.numInputRows}%9d $wm%-20s $ops")
      }
      spark.catalog.dropTempView(name)
    }

    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(slices)

    // windowed agg, append mode: closed windows emit, open ones are the
    // state — the plateau is (watermark slack / 1h + in-flight) × types,
    // independent of row volume
    drain(
      src.withWatermark("ts", s"$wmHours hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events")),
      "append", "windowed_agg")

    // exactly-once dedup state: dropDuplicates keeps one state row per
    // event id INSIDE the watermark; eviction must track day boundaries
    // or state grows with cumulative input — the receipt to check
    drain(
      src.withWatermark("ts", s"$wmHours hours")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "24 hours"))
        .agg(count(lit(1)).as("n_unique")),
      "append", "dedup_watermarked")

    // keyed state: one row per user forever (running profile) — state =
    // key cardinality, flat across batches however many rows flow through
    import spark.implicits._
    val keyed = src
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)],
            state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n_events")
    drain(keyed, "update", "keyed_profile")
  }

  /** One parquet file per event day in a flat directory, modification
    * times strictly ascending so the file source's mod-time ordering
    * replays them as the daily-ingest sequence.
    */
  private def sliceByDay(spark: SparkSession, dir: String): String = {
    val base = java.nio.file.Paths.get("/tmp/stream_slices",
      new java.io.File(dir).getName)
    val out = base.resolve("events").toString
    val done = base.resolve("_done")
    if (java.nio.file.Files.exists(done)) return out

    val staged = base.resolve("staged").toString
    Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(staged)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val days = new java.io.File(staged).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .sortBy(_.getName)
    var t = System.currentTimeMillis() - days.length * 2000L
    days.foreach { d =>
      val part = d.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(out, s"${d.getName.stripPrefix("day=")}.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
      t += 2000L
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staged))
    java.nio.file.Files.createFile(done)
    println(s"sliced ${days.length} day files into $out")
    out
  }
}
