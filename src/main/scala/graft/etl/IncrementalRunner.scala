package graft.etl

import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's two scheduled Lambda entry points as ONE runnable
  * daily job over the lake sinks (perfbench's `etl_daily` workload runs
  * it end to end and checks the Qa–Qh digests of the lake it writes):
  *
  *  - weather daily  (ref: etl/daily_load/weather_etl_daily.py:217,
  *    DEPLOYMENT.md §6.1 cron 06:00) — VisualCrossing single-day pulls,
  *    last-writer-wins upsert keyed on weather_date;
  *  - violations daily (ref: etl/daily_load/violation_etl_daily.py:318,
  *    DEPLOYMENT.md §6.2 cron 06:10) — ArcGIS per-day fetches,
  *    INSERT IGNORE into the month-partitioned violations lake.
  *
  * The reference staggers the two crons only "to avoid concurrent DB
  * load" (DEPLOYMENT.md §6.3). A lake has no such load, so the two legs
  * run at the same time: weather on a thread of its own, violations on
  * the caller's. Each leg is bound by job dispatch rather than by cores,
  * so a day costs its longer leg, not the sum of both.
  *
  * The contract: when `runDaily` returns, both legs have committed. The
  * legs write disjoint tables and share no mutable session state. No
  * order between them is promised (none held before either: a failed
  * weather day never kept its violations day from landing, and the
  * weather upsert's swap leaves the table absent for a moment), so a
  * reader joining the two tables (Qd/Qh) reads after `runDaily` returns.
  * Scheduling itself stays external (SURVEY §2.9 ST6): cron/Airflow/
  * EventBridge invoke `main` once a day.
  *
  * Both legs run the full watermark loop (Incremental.run): MAX-date
  * probe, [watermark+1, yesterday] range, cold-start defaults, per-day
  * failure isolation, optional gap backfill — ST1–ST5 end to end.
  */
object IncrementalRunner {

  /** Cold-start dates (ST3): violations from the ArcGIS corpus start
    * (ref: violation_etl_daily.py:132-133), weather from the first day
    * after the historical load (ref: weather_etl_daily.py:69-70).
    */
  val ViolationsColdStart: LocalDate = LocalDate.of(2024, 9, 1)
  val WeatherColdStart: LocalDate = LocalDate.of(2024, 12, 1)

  def violationsPath(base: String): String = s"$base/violations"
  def weatherPath(base: String): String = s"$base/weather_daily"

  case class DailyReport(
      weather: Incremental.RunReport,
      violations: Incremental.RunReport)

  /** One daily run, both legs at once. `fetch*Day` produce the RAW-side
    * frame for one date (already transformed to the sink schema); the
    * runner owns watermarks, ranges, and sink semantics.
    *
    * The weather leg runs on a thread started for this call, so it
    * inherits the caller's Spark local properties (job group,
    * description, scheduler pool); a pooled thread would not. A leg that
    * throws outside its per-day isolation does not stop the other one.
    * `runDaily` returns or throws only once both legs have ended, so no
    * job it started outlives it; it rethrows a leg's own exception (the
    * weather leg's first, with the violations leg's suppressed in it).
    */
  def runDaily(
      spark: SparkSession,
      base: String,
      fetchWeatherDay: LocalDate => DataFrame,
      fetchViolationsDay: LocalDate => DataFrame,
      today: LocalDate,
      backfillGaps: Boolean = false,
      weatherColdStart: LocalDate = WeatherColdStart,
      violationsColdStart: LocalDate = ViolationsColdStart): DailyReport = {
    var w: Either[Throwable, Incremental.RunReport] = null
    val weather = new Thread(() => w = attempt(
      Incremental.run(spark, weatherPath(base), "weather_date",
        coldStart = weatherColdStart, today = today,
        fetchDay = fetchWeatherDay,
        sink = (df, _) => Sinks.upsert(spark, df, weatherPath(base),
          keys = Seq("weather_date")),
        backfillGaps = backfillGaps)), "graft-daily-weather")
    weather.start()
    val v = attempt(
      Incremental.run(spark, violationsPath(base), "violation_date",
        coldStart = violationsColdStart, today = today,
        fetchDay = fetchViolationsDay,
        sink = (df, _) => Sinks.insertIgnore(spark, df, violationsPath(base),
          keys = Seq("violation_id"), partitionBy = Seq("month")),
        backfillGaps = backfillGaps))
    joinUninterruptibly(weather)
    (w, v) match {
      case (Right(wr), Right(vr)) => DailyReport(wr, vr)
      case (Left(e), other) =>
        other.left.foreach(o => if (o ne e) e.addSuppressed(o))
        throw e
      case (_, Left(e)) => throw e
    }
  }

  private def attempt[A](body: => A): Either[Throwable, A] =
    try Right(body) catch { case t: Throwable => Left(t) }

  /** `t.join()` that an interrupt does not cut short; the caller's
    * interrupt status is restored once `t` has ended.
    */
  private def joinUninterruptibly(t: Thread): Unit = {
    var interrupted = false
    while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread.interrupt()
  }

  /** Day-scoped ArcGIS fetch through the DSv2 source: the pushed
    * ISSUE_DATE range IS the reference's per-day `where` clause
    * (violation_etl_daily.py builds `ISSUE_DATE >= day AND < day+1`);
    * `SupportsPushDownFilters` ships it to the backend, so only that
    * day's rows cross the wire.
    */
  def fetchViolationsViaSource(
      spark: SparkSession, readerOpts: Map[String, String])(
      d: LocalDate): DataFrame = {
    val (lo, hi) = LayerRouting.dayToMsRange(d)
    val raw = spark.read.format("arcgis").options(readerOpts).load()
      .filter(col("ISSUE_DATE") >= lo && col("ISSUE_DATE") < hi)
    Transforms.violationsFromArcGis(raw, useSyntheticId = true,
      monthOfRecord = Some(LayerRouting.monthKey(d)))
  }

  /** Single-day VisualCrossing pull (the reference's
    * `/timeline/{location}/{date}` shape, weather_etl_daily.py:89-95):
    * start = end = the day. A day the API has nothing for lands as the
    * `missing_from_api` sentinel row (ref: :135-146) so the watermark
    * still advances and the gap is visible, not silent.
    *
    * The pull runs ONCE, here: a one-day range is at most a row, so it is
    * collected on the driver and the sink gets a local frame of those
    * rows (or of the sentinel). Handing the sink the lazy scan would pull
    * the metered API a second time on write, and the emptiness check and
    * the write could see different answers.
    */
  def fetchWeatherViaSource(
      spark: SparkSession, readerOpts: Map[String, String])(
      d: LocalDate): DataFrame = {
    val raw = spark.read.format("visualcrossing")
      .options(readerOpts ++ Map("start" -> d.toString, "end" -> d.toString))
      .load()
    val transformed = Transforms.weatherFromVc(raw, dailySemantics = true)
    val rows = transformed.collect()
    if (rows.isEmpty) {
      import spark.implicits._
      Seq(Transforms.missingWeatherRow(java.sql.Date.valueOf(d))).toDS().toDF()
    } else spark.createDataFrame(java.util.Arrays.asList(rows: _*), transformed.schema)
  }

  /** CLI: `sbt "runMain graft.etl.IncrementalRunner /tmp/graft-lake
    * /path/to/arcgis-fixture /path/to/vc-fixture [today]"` — one daily
    * invocation over the DSv2 fixture sources (the production read path;
    * in a deployment the same options carry mode=http + url instead).
    */
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft-lake")
    val arcgisFx = args.lift(1)
    val vcFx = args.lift(2)
    val today = args.lift(3).map(LocalDate.parse).getOrElse(LocalDate.now(ZoneOffset.UTC))
    val spark = graft.Tables.localSession(cores = 4)
    val arcgisOpts = arcgisFx.map(p => Map("mode" -> "fixture", "path" -> p))
      .getOrElse(sys.error("arcgis fixture dir required (arg 2)"))
    val vcOpts = vcFx.map(p => Map("mode" -> "fixture", "path" -> p))
      .getOrElse(sys.error("vc fixture dir required (arg 3)"))
    val report = runDaily(spark, base,
      fetchWeatherDay = fetchWeatherViaSource(spark, vcOpts),
      fetchViolationsDay = fetchViolationsViaSource(spark, arcgisOpts),
      today = today,
      backfillGaps = false)
    println(s"[runner] weather: loaded=${report.weather.loaded.size} " +
      s"failed=${report.weather.failed} skipped=${report.weather.skipped}")
    println(s"[runner] violations: loaded=${report.violations.loaded.size} " +
      s"failed=${report.violations.failed} skipped=${report.violations.skipped}")
    val wmV = Incremental.watermark(spark, violationsPath(base), "violation_date")
    val wmW = Incremental.watermark(spark, weatherPath(base), "weather_date")
    println(s"[runner] watermarks: violations=$wmV weather=$wmW")
    spark.stop()
  }
}
