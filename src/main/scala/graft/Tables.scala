package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * Tables are plain parquet files under an sf directory. All queries take
  * the directory as a parameter so the same plan runs at any scale factor.
  * Reads are parquet scans, so Catalyst handles column pruning and filter
  * pushdown. Each read declares the schema Spark would infer, taken from
  * the file's footer on the driver ([[ParquetFooters.read]]), so building
  * a query starts no schema-inference job. The footer is re-read on every
  * call: the physical `events.ts` type differs between testdata
  * generations and probe corpora, so no static catalog would hold.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetFooters.read(spark, s"$dir/$name.parquet")

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
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      // driver testdata: TIMESTAMP(NANOS), surfaced as a long under the
      // legacy conf ([[FixedSettings]]) — integer-divide to micros
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

  /** Generated classes the codegen cache holds: more than one full
    * [[Bench]] pass over all 208 queries compiles, so no query's classes
    * are evicted before it runs again. Measured at sf0.01 with no cap:
    * pass 1 compiled 3301 entries (the driver thread and the executor
    * compile under different class loaders, so most classes take two),
    * the repeat pass 125 more: nothing was evicted, so each is code pass
    * 1 never ran, such as the build side AQE picks for a self-join.
    */
  val CodegenCacheEntries = 4096

  /** The settings every session of this program starts with, whatever
    * its master and partition count: [[localSession]] and the test
    * suite's shared session both apply them, so the tests run under the
    * config the benchmarks time. The codegen cache is one static per
    * JVM, sized by the session that compiles first, and the broadcast
    * piece size is fixed when the SparkContext starts: a session built
    * without these values would set them for every other session.
    *
    * - AQE on, with a 64 KB coalescing floor (optimization r15, guide
    *   §2.2/§2.5): the default 1 MB floor sizes post-shuffle partitions by
    *   BYTES, but several verify-stage operators (shingle-set
    *   intersection, levenshtein, pair expansion) are CPU-dense per byte —
    *   a 6 MB exchange was coalesced to 5 tasks of ~3 s each while the
    *   other cores idled. 64 KB keeps small-byte compute-dense stages at
    *   full parallelism; at production shuffle sizes (GBs) the advisory
    *   size governs, so this is scale-neutral.
    * - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]:
    *   Spark's default keeps 100 generated classes, keyed by (class
    *   loader, source). The dedup trio alone needs about 250, so at 100
    *   entries every `queries_dedup` operation compiled 41–83 classes
    *   again (up to 1.3 s of janino per operation), and a warm-up was
    *   evicted before the query it warmed ran again.
    * - `spark.sql.artifact.isolation.enabled=false`: no caller adds
    *   artifacts, so every session can share the one class loader. With
    *   isolation on, each session's tasks compile under their own artifact
    *   class loader, which is part of the cache key: a query warmed in a
    *   `newSession()` compiled again in the caller's session (124 classes
    *   in pass 1 of `queries_dedup` with the larger cache alone), and that
    *   loader asked the driver over RPC for every name janino probed.
    * - `spark.broadcast.blockSize=256k`: every broadcast (at least one per
    *   stage, for the task binary) is cut into pieces of this size, and
    *   the default 4 MB piece buffer is a humongous object on the 2 MB
    *   regions of a 3 GB G1 heap. Once compiles stop making garbage, young
    *   GCs come further apart and those buffers pile up between them:
    *   without this line the two codegen settings raised `queries_dedup`
    *   peak RSS 2342 → 2551 MB; with it the three together read 2378 →
    *   2080 MB (`etl_daily` 2110 → 1798 MB; perfbench medians, 4 cores).
    * - `spark.sql.legacy.parquet.nanosAsLong=true`: the driver testdata's
    *   `events.ts` is parquet TIMESTAMP(NANOS), which Spark reads only as
    *   a raw long under this flag ([[events]], [[eventsNanos]], the
    *   streaming sources). Set here, once, rather than by each read, so
    *   no query's result depends on which read ran first on the session.
    */
  val FixedSettings: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.broadcast.blockSize" -> "256k",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** A builder with [[FixedSettings]] on `master`, with `partitions`
    * shuffle partitions.
    */
  def sessionBuilder(master: String, partitions: Int): SparkSession.Builder =
    FixedSettings.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.config("spark.sql.shuffle.partitions", partitions.toString)

  /** The local session Bench, Verify, ProbeCorpus, the Sentinel,
    * IncrementalRunner and the benchmark harness all run on: shuffle
    * partitions = cores and [[FixedSettings]].
    *
    * `probeSplits = true` (ProbeCorpus dirs only) adds
    * scan-split overrides for the replicated probe corpora (round 12):
    * those corpora compress ~100x on disk (49 MB for 5M docs at 1000x),
    * so under the 128 MB default every scan stage was ONE task — every
    * pre-shuffle receipt (the whole signature pass) measured a single
    * core, which models nothing about a real deployment where a 5M-doc
    * table spans many splits. 1 MB splits + zero open cost give one task
    * per ProbeCorpus output file. Non-probe entry points (IncrementalRunner,
    * Verify, Bench on the flat testdata) keep Spark's defaults — on
    * real-sized data the 1 MB override would schedule one task per megabyte.
    */
  def localSession(cores: Int = 32, probeSplits: Boolean = false): SparkSession = {
    val b = sessionBuilder(s"local[$cores]", cores).appName("graft")
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
