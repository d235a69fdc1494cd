package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.{CacheScope, HostProbe, SparkEntry, Tables}
import graft.etl.{Incremental, IncrementalRunner, RefQueries, Sinks}
import graft.queries.{FunctionQueries, RelationalQueries}

/** One benchmark run inside one JVM: set-up, the timed closed loop (one
  * client, one thread), the correctness readings, and the raw record
  * of all of it as JSON for `perfbench/run.py`, which turns it into metrics.
  *
  * Usage: `perfbench.Harness <workload> <seed> <units> <trace 0|1>
  *   <inputs dir> <work dir> <out json> <code id>`. A unit is one pass of a
  * query suite, or one simulated day of `etl_daily`.
  */
object Harness {

  /** Three of the dedup suite's ten heavy queries: the eager
    * connected-components fixpoint, a filter–verify target of ROADMAP
    * direction 4 (containment) and the LSH detector on the shared shingle
    * verify. Four timed passes of these fit one run and give 12 operations.
    */
  val DedupQueries: Seq[String] = Seq(
    "q_dedup_components", "q_dedup_containment", "q_dedup_minhash_lsh")

  def coreQueries: Seq[String] =
    (RelationalQueries.queries.keys ++ FunctionQueries.queries.keys).toSeq.sorted

  val RefQ: Seq[String] = Seq("qa", "qb", "qc", "qd", "qe", "qf", "qg", "qh")

  /** `etl_daily` fixture days run in set-up, before the timed days. */
  val WarmDays = 1

  final case class OpRec(id: Int, name: String, pass: Int, wallS: Double,
      rows: Long, xor: Long, ok: Boolean, err: String)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, unitsS, traceS, inputs, work, out, codeId) = args
    val seed = seedS.toLong
    val mainStart = System.currentTimeMillis()
    val jvmBootS =
      (mainStart - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val boxPre = HostProbe.measure(5000)
    val tSession = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Tables.localSession(cores = cores)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = secs(tSession)
    val tracer = new Tracer(spark.sparkContext, traceS == "1")
    val run = new Run(spark, tracer, seed, unitsS.toInt, inputs, work)
    val body: Seq[(String, Any)] = workload match {
      case "queries_core" => run.queries(coreQueries)
      case "queries_dedup" => run.queries(DedupQueries)
      case "etl_daily" => run.etl()
      // build step: load every class a run uses, for the class-data archive
      case "train" => run.queries(DedupQueries) ++ run.etl()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.flush()
    val peakRssMb = vmHwmMb()
    val stamp = Map(
      "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe_min_partition_size" ->
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "code" -> codeId, "seed" -> seed)
    val traced: Seq[(String, Any)] = tracer.listener match {
      case None => Nil
      case Some(l) => Seq(
        "spans" -> tracer.spans.map { s =>
          val c = Option(l.byGroup.get(s"pb${s.id}")).map(_.fields).getOrElse(Nil)
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
            "start_s" -> (s.startNs - run.t0) / 1e9, "end_s" -> (s.endNs - run.t0) / 1e9,
            "attrs" -> s.attrs.toMap, "counters" -> c.toMap)
        },
        "stages" -> l.stagesDone.synchronized(l.stagesDone.toSeq).filter(_.group.startsWith("pb"))
          .map(st => Map("group" -> st.group, "wall_ms" -> st.wallMs, "task_ms" -> st.taskMs)))
    }
    spark.stop()
    val boxPost = HostProbe.measure(5000)
    val doc = Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> tracer.enabled,
      "setup" -> (Map("jvm_boot_s" -> jvmBootS, "session_s" -> sessionS) ++ run.setup),
      "peak_rss_mb" -> peakRssMb, "stamp" -> stamp,
      "box" -> Map("pre" -> Map("ctx_switch_us" -> boxPre.ctxSwitchUs, "steal_pct" -> boxPre.stealPct),
        "post" -> Map("ctx_switch_us" -> boxPost.ctxSwitchUs, "steal_pct" -> boxPost.stealPct))
    ) ++ body ++ traced
    Files.write(Paths.get(out), Json(doc.toMap).getBytes("UTF-8"))
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  /** (rows, bit_xor of xxhash64 over each row) in one aggregate — the timed
    * action. Types xxhash64 cannot hash (maps) fold through their JSON.
    */
  def foldFrame(df: DataFrame): DataFrame = {
    val d = df.toDF(df.columns.indices.map("c" + _): _*)
    val cols = d.columns.map(col)
    def agg(h: org.apache.spark.sql.Column) =
      d.select(h.as("h")).agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
    try agg(xxhash64(struct(cols: _*)))
    catch { case _: AnalysisException => agg(xxhash64(to_json(struct(cols: _*)))) }
  }

  /** Exchange operators in the physical plan as planned (before AQE re-plans
    * it at run time), subqueries included.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => (o.children ++ o.subqueries).map(exchanges).sum
  }

  /** (parquet files, parquet bytes) under a lake table. */
  def lakeStats(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }
}

final class Run(spark: SparkSession, tracer: Tracer, seed: Long, units: Int,
    inputs: String, work: String) {
  import Harness._

  val t0: Long = System.nanoTime()
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val ops = ArrayBuffer.empty[OpRec]
  private val warmOps = ArrayBuffer.empty[OpRec]

  private def timed[T](key: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally setup(key) = setup.getOrElse(key, 0.0) + secs(t)
  }

  /** Plan + fold one frame; returns (rows, xor). */
  private def fold(df: DataFrame): (Long, Long) = {
    val f = tracer.span("plan") {
      val f = foldFrame(df)
      val plan = f.queryExecution.executedPlan
      tracer.attr("exchanges", exchanges(plan).toDouble)
      f
    }
    digest(tracer.span("fold")(f.collect()(0)))
  }

  private def digest(r: Row): (Long, Long) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))

  private def drain(): Unit = tracer.span("drain") {
    if (tracer.on) {
      tracer.attr("frames", CacheScope.registered(spark).toDouble)
      tracer.attr("cache_mb",
        spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
    }
    CacheScope.drain(spark)
  }

  /** One operation: build + fold + drain of one query. */
  private def queryOp(name: String, dir: String, pass: Int): Unit = {
    val id = ops.size
    tracer.op = id
    val t = System.nanoTime()
    val rec =
      try tracer.span("query") {
        val df = tracer.span("build")(SparkEntry.queries(name)(spark, dir))
        val (n, x) = fold(df)
        drain()
        OpRec(id, name, pass, 0, n, x, ok = true, "")
      } catch { case e: Throwable =>
        CacheScope.drain(spark)
        OpRec(id, name, pass, 0, -1, 0, ok = false, String.valueOf(e.getMessage).take(300))
      }
    ops += rec.copy(wallS = secs(t))
  }

  private def opsJson: Seq[(String, Any)] = {
    def m(o: OpRec) = Map("id" -> o.id, "name" -> o.name, "pass" -> o.pass, "wall_s" -> o.wallS,
      "rows" -> o.rows, "xor" -> o.xor, "ok" -> o.ok, "err" -> o.err)
    Seq("ops" -> ops.map(m), "warm_ops" -> warmOps.map(m))
  }

  /** Warm-up: every query once, on `cores` threads, each query in its
    * own session (so one query's `CacheScope.drain` never drops another's
    * frames). It fills the JIT and the generated-code cache the timed passes
    * then run with; its digests are checked like the timed ones.
    */
  private def warmUp(names: Seq[String], dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try {
      val futs = names.zipWithIndex.map { case (name, i) =>
        pool.submit(() => {
          val s = spark.newSession()
          val t = System.nanoTime()
          try {
            val (n, x) = digest(foldFrame(SparkEntry.queries(name)(s, dir)).collect()(0))
            OpRec(-1 - i, name, 0, secs(t), n, x, ok = true, "")
          } catch { case e: Throwable =>
            OpRec(-1 - i, name, 0, secs(t), -1, 0, ok = false,
              String.valueOf(e.getMessage).take(300))
          } finally CacheScope.drain(s)
        })
      }
      warmOps ++= futs.map(_.get())
    } finally pool.shutdown()
  }

  /** A query suite: the warm-up (set-up), then `units` passes, each in an
    * order drawn from the seed.
    */
  def queries(names: Seq[String]): Seq[(String, Any)] = {
    val dir = s"$inputs/tables"
    timed("warmup_s")(warmUp(names, dir))
    val rnd = new scala.util.Random(seed)
    val tRun = System.nanoTime()
    tracer.recording = true
    for (pass <- 1 to units) rnd.shuffle(names).foreach(n => queryOp(n, dir, pass))
    Seq("run_s" -> secs(tRun)) ++ opsJson
  }

  // --- etl_daily ------------------------------------------------------------

  private lazy val expected = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$inputs/etl/expected.json"))
  private lazy val days: Seq[LocalDate] =
    expected.get("days").elements().asScala.map(d => LocalDate.parse(d.get("date").asText)).toSeq

  private def fetchW(d: LocalDate): DataFrame =
    IncrementalRunner.fetchWeatherViaSource(spark,
      Map("mode" -> "fixture", "path" -> s"$inputs/etl/vc/$d"))(d)
  private def fetchV(d: LocalDate): DataFrame =
    IncrementalRunner.fetchViolationsViaSource(spark,
      Map("mode" -> "fixture", "path" -> s"$inputs/etl/arcgis/$d"))(d)

  /** One `runDaily` with `today` = day + 1. Traced, the same two
    * `Incremental.run` calls `runDaily` makes, with fetch and sink wrapped
    * in spans.
    */
  private def day(base: String, d: LocalDate): Seq[Incremental.RunReport] = {
    val today = d.plusDays(1)
    if (!tracer.on) {
      val r = IncrementalRunner.runDaily(spark, base, fetchW, fetchV, today)
      Seq(r.weather, r.violations)
    } else {
      val wPath = IncrementalRunner.weatherPath(base)
      val vPath = IncrementalRunner.violationsPath(base)
      val w = tracer.span("incremental.run") {
        Incremental.run(spark, wPath, "weather_date",
          coldStart = IncrementalRunner.WeatherColdStart, today = today,
          fetchDay = x => tracer.span("sources.fetch")(fetchW(x)),
          sink = (df, _) => tracer.span("sinks.upsert")(
            Sinks.upsert(spark, df, wPath, keys = Seq("weather_date"))))
      }
      val v = tracer.span("incremental.run") {
        Incremental.run(spark, vPath, "violation_date",
          coldStart = IncrementalRunner.ViolationsColdStart, today = today,
          fetchDay = x => tracer.span("sources.fetch")(fetchV(x)),
          sink = (df, _) => tracer.span("sinks.insert")(
            Sinks.insertIgnore(spark, df, vPath, keys = Seq("violation_id"),
              partitionBy = Seq("month"))))
      }
      Seq(w, v)
    }
  }

  /** Qa–Qh over `v` and `w`, each folded: name -> (rows, xor). */
  private def refq(v: DataFrame, w: DataFrame): Seq[(String, (Long, Long))] =
    tracer.span("refq") {
      val dfs = tracer.span("build")(RefQueries.runAllSql(spark, v, w))
      val res = RefQ.map(q => q -> tracer.span("refq." + q)(fold(dfs(q))))
      drain()
      res
    }

  /** One simulated day as one operation (id, name, rows = violation days
    * loaded); a failed day in either `RunReport` fails the operation.
    */
  private def dayOp(base: String, i: Int, into: ArrayBuffer[OpRec]): Unit = {
    val d = days(i)
    tracer.op = i
    val t = System.nanoTime()
    val rec =
      try {
        val reps = tracer.span("day")(day(base, d))
        val failed = reps.flatMap(_.failed).map { case (x, m) => s"$x: $m" }
        OpRec(i, s"day:$d", 1, 0, reps(1).loaded.size.toLong, 0,
          failed.isEmpty, failed.mkString("; ").take(300))
      } catch { case e: Throwable =>
        OpRec(i, s"day:$d", 1, 0, 0, 0, ok = false, String.valueOf(e.getMessage).take(300))
      }
    into += rec.copy(wallS = secs(t))
  }

  /** On the generated lake (the compacted history): warms up on the first
    * `WarmDays` fixture days and on Qa–Qh over the rows the generator says
    * must have landed by the end of the run (the expected digests), then
    * times `units` days, the compaction and Qa–Qh on the lake just written.
    */
  def etl(): Seq[(String, Any)] = {
    val base = s"$inputs/etl/lake"
    val vPath = Paths.get(IncrementalRunner.violationsPath(base))
    val wPath = IncrementalRunner.weatherPath(base)
    val end = WarmDays + units
    val lastDay = days(end - 1)
    def expected(hist: String, fresh: String, dateCol: String, lake: String): DataFrame = {
      val like = spark.read.parquet(lake).schema
      spark.read.parquet(s"$inputs/etl/$hist")
        .unionByName(spark.read.parquet(s"$inputs/etl/$fresh")
          .filter(col(dateCol) <= lit(java.sql.Date.valueOf(lastDay))))
        .select(like.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    }
    val want = timed("warmup_s") {
      (0 until WarmDays).foreach(i => dayOp(base, i, warmOps))
      refq(expected("history_violations.parquet", "expected_new.parquet", "violation_date",
          vPath.toString),
        expected("history_weather.parquet", "expected_weather_new.parquet", "weather_date", wPath))
    }
    val seedStats = lakeStats(vPath)

    tracer.recording = true
    val tRun = System.nanoTime()
    (WarmDays until end).foreach(i => dayOp(base, i, ops))
    val preCompact = lakeStats(vPath)
    tracer.op = end
    tracer.span("sinks.compact")(Sinks.compact(spark, vPath.toString, partitioned = true))
    tracer.op = end + 1
    val lakeV = spark.read.parquet(vPath.toString)
    val got = refq(lakeV, spark.read.parquet(wPath))
    val runS = secs(tRun)
    tracer.recording = false

    // lake invariants (untimed)
    val postCompact = lakeStats(vPath)
    val inv = lakeV.agg(count(lit(1)), countDistinct(col("violation_id"))).collect()(0)
    val wmV = Incremental.watermark(spark, vPath.toString, "violation_date")
    val wmW = Incremental.watermark(spark, wPath, "weather_date")

    Seq(
      "run_s" -> runS,
      "refq" -> got.map { case (q, (n, x)) => Map("name" -> q, "rows" -> n, "xor" -> x) },
      "refq_expected" -> want.map { case (q, (n, x)) => Map("name" -> q, "rows" -> n, "xor" -> x) },
      "lake" -> Map(
        "rows" -> inv.getLong(0), "distinct_ids" -> inv.getLong(1),
        "watermark" -> wmV.map(_.toString).orNull, "weather_watermark" -> wmW.map(_.toString).orNull,
        "last_day" -> lastDay.toString,
        "seed_files" -> seedStats._1, "seed_bytes" -> seedStats._2,
        "pre_compact_files" -> preCompact._1, "pre_compact_bytes" -> preCompact._2,
        "files" -> postCompact._1, "bytes" -> postCompact._2)
    ) ++ opsJson
  }
}

/** Minimal JSON writer for the run record (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
