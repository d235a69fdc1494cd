package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.{CountDownLatch, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.VcHttpStub

/** The end-to-end daily job (IncrementalRunner = the reference's two
  * staggered Lambda entry points over the lake sinks), driven through
  * the DSv2 fixture sources. Pins the watermark/gap semantics of
  * etl/daily_load/violation_etl_daily.py:120-146 across consecutive
  * days: cold start, watermark+1..yesterday, up-to-date skip, per-day
  * failure isolation leaving a gap the default never backfills (and
  * backfillGaps=true does).
  */
class IncrementalRunnerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def dayMs(d: String): Long =
    java.time.Instant.parse(s"${d}T10:00:00Z").toEpochMilli

  /** ArcGIS fixture: `perDay` rows for each date, ISSUE_DATE inside the
    * day, OBJECTID unique across days.
    */
  private def arcgisFixture(days: Seq[String], perDay: Int): String = {
    val dir = Files.createTempDirectory("runner-arcgis")
    val root = mapper.createObjectNode()
    val features = root.putArray("features")
    days.zipWithIndex.foreach { case (d, di) =>
      (0 until perDay).foreach { i =>
        val attrs = mapper.createObjectNode()
        attrs.put("OBJECTID", (di * 1000 + i).toLong)
        attrs.put("ISSUE_DATE", dayMs(d) + i)
        attrs.put("ISSUING_AGENCY_NAME", "MPD")
        attrs.put("FINE_AMOUNT", "100")
        attrs.put("VIOLATION_PROCESS_DESC", s"DESC $i")
        features.add(mapper.createObjectNode().set[ObjectNode]("attributes", attrs))
      }
    }
    Files.write(dir.resolve("features.json"),
      mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  /** One VisualCrossing day-row. */
  private def vcDay(d: String): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("datetime", d)
    n.put("tempmax", 60.0); n.put("tempmin", 40.0); n.put("temp", 50.0)
    n.put("precip", if (d.endsWith("2")) 0.4 else 0.0)
    n.put("humidity", 70.0); n.put("windspeed", 8.0)
    n.put("conditions", "Clear")
    n
  }

  /** VisualCrossing fixture: one day-row per date. */
  private def vcFixture(days: Seq[String]): String = {
    val dir = Files.createTempDirectory("runner-vc")
    val root = mapper.createObjectNode()
    val arr = root.putArray("days")
    days.foreach(d => arr.add(vcDay(d)))
    Files.write(dir.resolve("days.json"),
      mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  private val fixtureDays = Seq("2024-09-01", "2024-09-02", "2024-09-03")
  private val cold = LocalDate.parse("2024-09-01")

  private def ld(s: String): LocalDate = LocalDate.parse(s)

  private def newJob(): (String, LocalDate => org.apache.spark.sql.DataFrame,
      LocalDate => org.apache.spark.sql.DataFrame) = {
    val base = Files.createTempDirectory("runner-lake").resolve("lake").toString
    val aOpts = Map("mode" -> "fixture", "path" -> arcgisFixture(fixtureDays, 3))
    val vOpts = Map("mode" -> "fixture", "path" -> vcFixture(fixtureDays))
    (base,
      IncrementalRunner.fetchWeatherViaSource(spark, vOpts),
      IncrementalRunner.fetchViolationsViaSource(spark, aOpts))
  }

  private def runDay(base: String,
      fw: LocalDate => org.apache.spark.sql.DataFrame,
      fv: LocalDate => org.apache.spark.sql.DataFrame,
      today: String,
      backfill: Boolean = false): IncrementalRunner.DailyReport =
    IncrementalRunner.runDaily(spark, base, fw, fv, ld(today),
      backfillGaps = backfill, weatherColdStart = cold, violationsColdStart = cold)

  test("two consecutive days: cold start, then watermark+1, then up-to-date skip") {
    val (base, fw, fv) = newJob()
    // day 1 invocation (today = 09-03): cold start loads [09-01, 09-02]
    val r1 = runDay(base, fw, fv, "2024-09-03")
    assert(r1.weather.loaded == Seq(ld("2024-09-01"), ld("2024-09-02")))
    assert(r1.violations.loaded == Seq(ld("2024-09-01"), ld("2024-09-02")))
    assert(r1.weather.failed.isEmpty && r1.violations.failed.isEmpty)
    assert(Incremental.watermark(spark,
      IncrementalRunner.violationsPath(base), "violation_date").contains(ld("2024-09-02")))
    assert(Incremental.watermark(spark,
      IncrementalRunner.weatherPath(base), "weather_date").contains(ld("2024-09-02")))
    // day 2 invocation (today = 09-04): exactly yesterday loads
    val r2 = runDay(base, fw, fv, "2024-09-04")
    assert(r2.weather.loaded == Seq(ld("2024-09-03")))
    assert(r2.violations.loaded == Seq(ld("2024-09-03")))
    // re-invoking the same day: nothing to do (ref :143-146 early exit)
    val r3 = runDay(base, fw, fv, "2024-09-04")
    assert(r3.weather.skipped && r3.violations.skipped)
    // lake contents: 3 days x 3 rows, no duplicates from the re-run
    val v = spark.read.parquet(IncrementalRunner.violationsPath(base))
    assert(v.count() == 9)
    assert(v.select(countDistinct(col("violation_id"))).head().getLong(0) == 9)
    assert(spark.read.parquet(IncrementalRunner.weatherPath(base)).count() == 3)
  }

  test("per-day failure isolation: the gap stays behind the watermark; backfillGaps retries it") {
    val (base, fw, fv) = newJob()
    var failDay: Option[LocalDate] = Some(ld("2024-09-02"))
    val flakyFv = (d: LocalDate) =>
      if (failDay.contains(d)) sys.error(s"injected outage for $d") else fv(d)
    // one invocation spanning all three days; 09-02 fails, later days land
    val r1 = runDay(base, fw, flakyFv, "2024-09-04")
    assert(r1.violations.loaded == Seq(ld("2024-09-01"), ld("2024-09-03")))
    assert(r1.violations.failed.map(_._1) == Seq(ld("2024-09-02")))
    // the MAX watermark moved PAST the failed day (the reference's
    // documented gap semantics, SURVEY §8.4)
    assert(Incremental.watermark(spark,
      IncrementalRunner.violationsPath(base), "violation_date").contains(ld("2024-09-03")))
    // default next run: up to date, the gap is NOT retried
    val r2 = runDay(base, fw, flakyFv, "2024-09-04")
    assert(r2.violations.skipped)
    assert(Incremental.gaps(spark, IncrementalRunner.violationsPath(base),
      "violation_date", cold) == Seq(ld("2024-09-02")))
    // backfillGaps: the outage is over, the gap loads, the lake is whole
    failDay = None
    val r3 = runDay(base, fw, flakyFv, "2024-09-04", backfill = true)
    assert(r3.violations.loaded == Seq(ld("2024-09-02")))
    assert(Incremental.gaps(spark, IncrementalRunner.violationsPath(base),
      "violation_date", cold).isEmpty)
    assert(spark.read.parquet(IncrementalRunner.violationsPath(base)).count() == 9)
  }

  test("weather day absent from the API lands as the missing_from_api sentinel") {
    val (base, _, fv) = newJob()
    // fixture only covers 09-01..09-03; ask through 09-04 so the 4th
    // day's single-day pull returns nothing
    val vOpts = Map("mode" -> "fixture", "path" -> vcFixture(fixtureDays))
    val fw: LocalDate => org.apache.spark.sql.DataFrame =
      IncrementalRunner.fetchWeatherViaSource(spark, vOpts)
    val r = runDay(base, fw, fv, "2024-09-05")
    assert(r.weather.loaded.size == 4)
    val w = spark.read.parquet(IncrementalRunner.weatherPath(base))
    val sentinel = w.filter(col("weather_date") === "2024-09-04").collect()
    assert(sentinel.length == 1)
    assert(sentinel(0).getAs[String]("conditions") == "missing_from_api")
    assert(sentinel(0).getAs[Int]("is_rain") == 0)
    // the watermark advanced over the sentinel day — no eternal refetch
    assert(Incremental.watermark(spark,
      IncrementalRunner.weatherPath(base), "weather_date").contains(ld("2024-09-04")))
  }

  test("daily job budget: one new day onto a warm lake") {
    val (base, fw, fv) = newJob()
    runDay(base, fw, fv, "2024-09-03") // warm: 09-01 and 09-02 land
    // the job group the weather leg's thread runs its jobs under
    var weatherGroup: Option[String] = None
    val groupFw = (d: LocalDate) => {
      weatherGroup = Option(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
      fw(d)
    }
    val ((r, group), jobs) = jobsOf((runDay(base, groupFw, fv, "2024-09-04"),
      spark.sparkContext.getLocalProperty("spark.jobGroup.id")))
    assert(r.weather.loaded == Seq(ld("2024-09-03")))
    assert(r.violations.loaded == Seq(ld("2024-09-03")))
    // the count covers both legs only if the weather thread inherited
    // the caller's job group; without it the count drops to 3 and the
    // budget below would pass on half a day
    assert(group != null && weatherGroup.contains(group),
      s"weather leg ran under group $weatherGroup, the caller under $group")
    // 6 jobs under SparkSpec's config (local[4], 4 shuffle partitions,
    // AQE on): the weather pull (1), its upsert (2) and the violations
    // insert-ignore (3). Both watermarks come from parquet footers and the
    // upsert's mergeSchema read declares the footers' union, so neither
    // starts a job; 11 before that, 18 before the sources reported
    // statistics. A higher count means a sink call left its one-action
    // path or a lake read started inferring again.
    assert(jobs <= 6, s"jobs for one daily run: $jobs")
  }

  test("the weather and violations legs run at the same time") {
    val (base, fw, fv) = newJob()
    // the weather fetch waits for the violations fetch to start: run one
    // after the other, the wait times out and the weather day fails
    val violationsStarted = new CountDownLatch(1)
    val waitingFw = (d: LocalDate) => {
      if (!violationsStarted.await(60, TimeUnit.SECONDS))
        sys.error("the violations leg did not start while the weather leg ran")
      fw(d)
    }
    val signallingFv = (d: LocalDate) => { violationsStarted.countDown(); fv(d) }
    val r = runDay(base, waitingFw, signallingFv, "2024-09-02")
    assert(r.weather.failed.isEmpty, r.weather.failed)
    assert(r.weather.loaded == Seq(ld("2024-09-01")))
    assert(r.violations.loaded == Seq(ld("2024-09-01")))
  }

  test("a leg that throws outside its per-day isolation: the other leg lands, then it rethrows") {
    val (base, fw, fv) = newJob()
    // a corrupt file in the weather lake fails the weather watermark
    // probe, before any day is fetched
    val weatherLake = Files.createDirectories(
      java.nio.file.Paths.get(IncrementalRunner.weatherPath(base)))
    Files.write(weatherLake.resolve("part-00000-corrupt.parquet"),
      "not a parquet file".getBytes(StandardCharsets.UTF_8))
    val e = intercept[Exception](runDay(base, fw, fv, "2024-09-03"))
    // the probe's own exception, not a wrapper from the leg's thread
    assert(e.getClass == classOf[SparkException], e)
    // the violations leg ran to its end before runDaily threw
    assert(Incremental.watermark(spark,
      IncrementalRunner.violationsPath(base), "violation_date").contains(ld("2024-09-02")))
    assert(spark.read.parquet(IncrementalRunner.violationsPath(base)).count() == 6)
  }

  test("the weather leg pulls VisualCrossing once per day, over live HTTP") {
    val base = Files.createTempDirectory("runner-lake").resolve("lake").toString
    val fv = IncrementalRunner.fetchViolationsViaSource(spark,
      Map("mode" -> "fixture", "path" -> arcgisFixture(fixtureDays, 3))) _
    // the API knows 09-01 and 09-02 only: 09-03 lands as the sentinel
    val stub = new VcHttpStub(fixtureDays.take(2).map(vcDay))
    try {
      val fw = IncrementalRunner.fetchWeatherViaSource(spark, stub.options) _
      val r = runDay(base, fw, fv, "2024-09-04")
      assert(r.weather.loaded == fixtureDays.map(ld))
      // one request per day: the emptiness check and the write share it
      assert(stub.requests.get == 3, s"requests: ${stub.requests.get}")
      val w = spark.read.parquet(IncrementalRunner.weatherPath(base))
        .collect().map(r => r.getAs[java.sql.Date]("weather_date").toString ->
          r.getAs[String]("conditions")).toMap
      assert(w == Map("2024-09-01" -> "Clear", "2024-09-02" -> "Clear",
        "2024-09-03" -> "missing_from_api"))
    } finally stub.close()
  }
}
