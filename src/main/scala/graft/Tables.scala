package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * Tables are plain parquet files under an sf directory. All queries take
  * the directory as a parameter so the same plan runs at any scale factor.
  * Reads go through `spark.read.parquet` so Catalyst handles column
  * pruning and filter pushdown into the parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; read it as raw nanos and integer-divide to micros
    * (double division would lose precision on ~1.7e18 nano values).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      // driver testdata: TIMESTAMP(NANOS), surfaced as a long under the
      // legacy conf — integer-divide to micros
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // regenerated probe corpora carry plain micros timestamps (NTZ or
      // LTZ); normalize to the session type (UTC session, values intact)
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  /** Events with `ts` as raw epoch NANOS (long) whatever the file's
    * physical type — the layout the streaming code and its specs work
    * in. TIMESTAMP(NANOS) testdata passes through under the legacy
    * conf; micros-timestamp corpora convert (value-preserving, UTC).
    */
  def eventsNanos(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts",
        org.apache.spark.sql.functions
          .expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Round-robin-spread a scan across the session's cores when the source
    * collapses to fewer splits than half the available parallelism — the
    * optimization guide's §2.5 remedy for unsplittable input applied
    * scale-conditionally. The driver testdata is one parquet file with
    * ONE row group, so every scan stage is effectively one task and any
    * compute-dense per-row work (explode + hash, expand for multiple
    * count-distincts, per-replica fan-out) serializes on one core; a
    * production table spans many splits, `getNumPartitions` exceeds the
    * threshold, and this is a no-op. Catalyst pushes column pruning below
    * Repartition, so the shuffle carries only the columns the consumer
    * reads. Apply ONLY where the scan stage itself is the measured
    * bottleneck — the shuffle is not free on cheap queries.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target) else df
  }

  /** The local session Bench, Verify, the probes and the sentinel all
    * run on: shuffle partitions = cores, AQE with a 64 KB coalescing
    * floor, UTC.
    *
    * `probeSplits = true` (ProbeCorpus dirs only) adds
    * scan-split overrides for the replicated probe corpora (round 12):
    * those corpora compress ~100x on disk (49 MB for 5M docs at 1000x),
    * so under the 128 MB default every scan stage was ONE task — every
    * pre-shuffle receipt (the whole signature pass) measured a single
    * core, which models nothing about a real deployment where a 5M-doc
    * table spans many splits. 1 MB splits + zero open cost give one task
    * per ProbeCorpus output file. Non-probe entry points (IncrementalRunner,
    * PipelineDemo, ExplainPlans) keep Spark's defaults — on real-sized
    * data the 1 MB override would schedule one task per megabyte.
    */
  def localSession(cores: Int = 32, probeSplits: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floor (optimization r15, guide §2.2/§2.5): the
      // default 1 MB floor sizes post-shuffle partitions by BYTES, but
      // several verify-stage operators (shingle-set intersection,
      // levenshtein, pair expansion) are CPU-dense per byte —
      // a 6 MB exchange was coalesced to 5 tasks of ~3 s each while the
      // other cores idled. 64 KB keeps small-byte compute-dense stages
      // at full parallelism; at production shuffle sizes (GBs) the floor
      // is irrelevant (advisory size governs), so this is scale-neutral.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val withSplits =
      if (probeSplits)
        b.config("spark.sql.files.maxPartitionBytes", (1 << 20).toString)
          .config("spark.sql.files.openCostInBytes", "0")
      else b
    val s = withSplits.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
