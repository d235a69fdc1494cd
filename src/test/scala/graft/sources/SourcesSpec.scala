package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.{IncrementalRunner, Sinks, Transforms}

/** DSv2 source tests against fixture payloads (SURVEY.md §5.4: pagination
  * incl. the exact-page-multiple edge, predicate pushdown, pruning,
  * case-coalesced fields) and the planning statistics both scans report.
  */
class SourcesSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def dayMs(day: Int): Long = 1704067200000L + day * 86400000L // 2024-01-01 + day

  /** Writes an ArcGIS fixture of `n` features; every 10th has only
    * lower-case keys (full-load coalesce path) and every 100th a null
    * ISSUE_DATE.
    */
  private def arcgisFixture(n: Int): String = {
    val dir = Files.createTempDirectory("arcgis-fx")
    val root = mapper.createObjectNode()
    val features = root.putArray("features")
    (0 until n).foreach { i =>
      val attrs = mapper.createObjectNode()
      if (i % 10 == 0 && i % 100 != 0) {
        attrs.put("objectid", i.toLong)
        attrs.put("issue_date", dayMs(i % 30))
        attrs.put("issuing_agency_name", "LOWERCASE AGENCY")
        attrs.put("fine_amount", "50")
      } else {
        attrs.put("OBJECTID", i.toLong)
        if (i % 100 == 0) attrs.putNull("ISSUE_DATE")
        else attrs.put("ISSUE_DATE", dayMs(i % 30))
        attrs.put("ISSUING_AGENCY_NAME", "MPD")
        attrs.put("FINE_AMOUNT", (100 + i % 7).toString)
      }
      attrs.put("VIOLATION_PROCESS_DESC", s"DESC $i")
      attrs.put("LATITUDE", 38.9)
      attrs.put("LONGITUDE", -77.0)
      features.add(mapper.createObjectNode().set[ObjectNode]("attributes", attrs))
    }
    Files.write(dir.resolve("features.json"),
      mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  private def readArcgis(dir: String, pageSize: Int = 2000): DataFrame =
    spark.read.format("arcgis")
      .option("mode", "fixture").option("path", dir)
      .option("pageSize", pageSize.toString)
      .load()

  test("arcgis: count-then-page reads every row across page partitions") {
    val dir = arcgisFixture(4100)
    val df = readArcgis(dir, pageSize = 2000)
    assert(df.count() == 4100)
    assert(df.rdd.getNumPartitions == 3) // 2000 + 2000 + 100
    assert(df.select(countDistinct(col("OBJECTID"))).collect()(0).getLong(0) == 4100)
  }

  test("arcgis: exact page-size multiple has no phantom page") {
    val dir = arcgisFixture(4000)
    val df = readArcgis(dir, pageSize = 2000)
    assert(df.count() == 4000)
    assert(df.rdd.getNumPartitions == 2)
  }

  test("arcgis: ISSUE_DATE range predicate is pushed to the source") {
    val dir = arcgisFixture(3000)
    val lo = dayMs(5)
    val hi = dayMs(10)
    val df = readArcgis(dir)
      .filter(col("ISSUE_DATE") >= lo && col("ISSUE_DATE") < hi)
    val explain = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // DSv2 surfaces pushdown through the scan description
    assert(explain.contains(s"range=Some(($lo,$hi))"))
    // correctness: matches a plain in-memory filter of the same fixture
    val all = readArcgis(dir).collect()
      .map(r => Option(r.getAs[java.lang.Long]("ISSUE_DATE")))
    val expect = all.count(o => o.exists(v => v >= lo && v < hi))
    assert(df.count() == expect && expect > 0)
    // fewer rows scanned: the scan itself only returns the range
    assert(readArcgis(dir)
      .filter(col("ISSUE_DATE") >= lo && col("ISSUE_DATE") < hi)
      .rdd.getNumPartitions == 1) // 500 matching rows -> one page
  }

  test("arcgis: column pruning reaches the scan") {
    val dir = arcgisFixture(100)
    val df = readArcgis(dir).select("OBJECTID", "FINE_AMOUNT")
    assert(df.schema.fieldNames.toSeq == Seq("OBJECTID", "FINE_AMOUNT"))
    assert(df.count() == 100)
    val explain = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the scan's ReadSchema should carry only the two pruned columns
    assert(explain.contains("OBJECTID") && !explain.toLowerCase.contains("violation_process_desc"))
  }

  test("arcgis: lower-case attribute keys coalesce (full-load path)") {
    val dir = arcgisFixture(50)
    val lower = readArcgis(dir)
      .filter(col("ISSUING_AGENCY_NAME") === "LOWERCASE AGENCY")
    assert(lower.count() == 4) // i = 10, 20, 30, 40
    assert(lower.select("OBJECTID").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(10L, 20L, 30L, 40L))
  }

  test("arcgis -> transform end-to-end produces canonical violations") {
    val dir = arcgisFixture(300)
    val canonical = Transforms.violationsFromArcGis(
      readArcgis(dir), useSyntheticId = true)
    // 3 null-ISSUE_DATE rows (0,100,200) get null month -> id "<objectid>"
    assert(canonical.count() == 300)
    assert(canonical.filter(col("issue_date").isNull).count() == 3)
    assert(canonical.filter(col("fine_amount").isNull).count() == 0)
    assert(canonical.select("violation_id").distinct().count() == 300)
  }

  test("arcgis: count-then-page equals the reference's loop-until-short-page") {
    // the daily reference pages until a short page (violation_etl_daily.py:
    // 166-192); the DSv2 source plans pages from a count probe instead.
    // Both protocols must yield identical row sets — including when the
    // total is an exact page multiple (the loop does one extra empty pull).
    for (n <- Seq(4100, 4000, 150, 0)) {
      val dir = arcgisFixture(n)
      val viaSource = readArcgis(dir, pageSize = 2000).collect()
        .map(_.getAs[Long]("OBJECTID")).toSet
      val fetcher = new FixtureArcGisFetcher(dir)
      val viaLoop = Iterator.from(0)
        .map(p => fetcher.page(p.toLong * 2000, 2000, None))
        .takeWhile(_.nonEmpty)
        .flatMap(_.iterator)
        .map { a =>
          val upper = a.get("OBJECTID")
          val node = if (upper == null || upper.isNull) a.get("objectid") else upper
          node.asLong
        }.toSet
      assert(viaSource == viaLoop, s"n=$n")
      assert(viaLoop.size == n)
    }
  }

  private def vcFixture(startDay: Int, n: Int): String = {
    val dir = Files.createTempDirectory("vc-fx")
    val root = mapper.createObjectNode()
    val days = root.putArray("days")
    (0 until n).foreach { i =>
      val d = mapper.createObjectNode()
      d.put("datetime", java.time.LocalDate.of(2024, 9, 1).plusDays(startDay + i).toString)
      d.put("tempmax", 60.0 + i)
      d.put("tempmin", 40.0 + i)
      d.put("temp", 50.0 + i)
      if (i % 5 == 0) d.putNull("precip") else d.put("precip", if (i % 3 == 0) 0.4 else 0.0)
      d.put("humidity", 70.0)
      d.put("windspeed", 8.0)
      if (i % 7 == 0) d.put("conditions", "Rain showers") else d.put("conditions", "Clear")
      days.add(d)
    }
    Files.write(dir.resolve("days.json"),
      mapper.writeValueAsString(root).getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  private def readVc(dir: String, start: String, end: String, chunk: Int = 15): DataFrame =
    spark.read.format("visualcrossing")
      .option("mode", "fixture").option("path", dir)
      .option("start", start).option("end", end)
      .option("chunkDays", chunk.toString)
      .load()

  test("visualcrossing: range chunking into partitions, full coverage") {
    val dir = vcFixture(0, 31) // 2024-09-01 .. 2024-10-01
    val df = readVc(dir, "2024-09-01", "2024-10-01", chunk = 15)
    assert(df.count() == 31)
    assert(df.rdd.getNumPartitions == 3) // 15 + 15 + 1
    assert(df.select(min("datetime"), max("datetime")).collect()(0).toSeq
      == Seq("2024-09-01", "2024-10-01"))
  }

  test("visualcrossing: single-day pull is the degenerate one-partition case") {
    val dir = vcFixture(0, 31)
    val df = readVc(dir, "2024-09-10", "2024-09-10", chunk = 15)
    assert(df.count() == 1)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.collect()(0).getAs[String]("datetime") == "2024-09-10")
  }

  test("visualcrossing http: both reference URL shapes, key required") {
    // full-load shape: /location/start/end with unitGroup=us
    // (ref: etl/full_load/weather_etl_history.py:62-69)
    val hist = VcFetcher(Map("mode" -> "http",
      "url" -> "https://example.test/timeline", "location" -> "Washington,DC",
      "key" -> "K EY", "unitGroup" -> "us")).asInstanceOf[HttpVcFetcher]
    assert(hist.requestUri("2024-01-01", "2024-01-15") ==
      "https://example.test/timeline/Washington,DC/2024-01-01/2024-01-15" +
        "?unitGroup=us&include=days&key=K+EY&contentType=json")
    // daily shape: single /date segment with unitGroup=metric (the
    // default) (ref: etl/daily_load/weather_etl_daily.py:96-107)
    val daily = VcFetcher(Map("mode" -> "http",
      "url" -> "https://example.test/timeline", "location" -> "Washington,DC",
      "key" -> "SECRET")).asInstanceOf[HttpVcFetcher]
    assert(daily.requestUri("2024-09-10", "2024-09-10") ==
      "https://example.test/timeline/Washington,DC/2024-09-10" +
        "?unitGroup=metric&include=days&key=SECRET&contentType=json")
    // production parity: the key is not optional (reference reads
    // WEATHER_API_KEY and sends it on every request)
    val e = intercept[IllegalArgumentException] {
      VcFetcher(Map("mode" -> "http",
        "url" -> "https://example.test/timeline", "location" -> "X"))
    }
    assert(e.getMessage.contains("key"))
  }

  test("visualcrossing -> transform end-to-end with both rain semantics") {
    val dir = vcFixture(0, 15)
    val raw = readVc(dir, "2024-09-01", "2024-09-15")
    val hist = Transforms.weatherFromVc(raw, dailySemantics = false)
    val daily = Transforms.weatherFromVc(raw, dailySemantics = true)
    // day 0: precip null + "Rain showers" -> hist 0, daily 1 (§8.2)
    val d0h = hist.filter(col("weather_date") === "2024-09-01").collect()(0)
    val d0d = daily.filter(col("weather_date") === "2024-09-01").collect()(0)
    assert(d0h.getAs[Int]("is_rain") == 0 && d0d.getAs[Int]("is_rain") == 1)
    assert(hist.count() == 15)
  }

  /** The planner's statistics of the frame's one DSv2 scan. */
  private def scanStats(df: DataFrame): Statistics = {
    val scans = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case r: DataSourceV2ScanRelation => r
    }
    assert(scans.size == 1, s"expected one DSv2 scan, got ${scans.size}")
    scans.head.stats
  }

  test("statistics: a one-day arcgis scan reports the pushed range's count") {
    val dir = arcgisFixture(3000)
    val (lo, hi) = (dayMs(5), dayMs(6))
    val expect = new FixtureArcGisFetcher(dir).count(Some((lo, hi)))
    assert(expect == 100)
    val stats = scanStats(readArcgis(dir)
      .filter(col("ISSUE_DATE") >= lo && col("ISSUE_DATE") < hi))
    assert(stats.rowCount.contains(BigInt(expect)))
    assert(stats.sizeInBytes > 0)
  }

  test("statistics: a visualcrossing scan reports one row per day of its range") {
    val dir = vcFixture(0, 31)
    assert(scanStats(readVc(dir, "2024-09-10", "2024-09-10")).rowCount.contains(BigInt(1)))
    assert(scanStats(readVc(dir, "2024-09-01", "2024-09-15")).rowCount.contains(BigInt(15)))
  }

  test("statistics: a zero-column prune of a non-empty scan never reads as 0 bytes") {
    val arcgis = readArcgis(arcgisFixture(100)).groupBy().count()
    val vc = readVc(vcFixture(0, 5), "2024-09-01", "2024-09-05").groupBy().count()
    for (df <- Seq(arcgis, vc)) {
      val leaf = df.queryExecution.optimizedPlan.collectLeaves().head
      assert(leaf.output.isEmpty, s"count(*) should prune every column: ${leaf.output}")
      assert(scanStats(df).sizeInBytes > 0)
    }
  }

  test("statistics: a daily fixture batch plans under the sinks' small-batch bound") {
    // Sinks.DedupPrecheckMinBytes: below it a sink call is one action
    val bound = BigInt(256L << 20)
    val day = java.time.LocalDate.of(2024, 1, 6) // dayMs(5)
    val violations = IncrementalRunner.fetchViolationsViaSource(spark,
      Map("mode" -> "fixture", "path" -> arcgisFixture(3000)))(day)
    val weather = IncrementalRunner.fetchWeatherViaSource(spark,
      Map("mode" -> "fixture", "path" -> vcFixture(0, 31)))(
      java.time.LocalDate.of(2024, 9, 10))
    for (df <- Seq(violations, weather)) {
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size > 0 && size < bound, s"plan size $size")
    }
  }

  test("statistics over live HTTP: a daily insertIgnore sends at most two count probes") {
    // two days of 50 features, the second day offered onto a lake that
    // already holds the first
    val days = Seq(java.time.LocalDate.of(2024, 9, 1), java.time.LocalDate.of(2024, 9, 2))
    val features = days.zipWithIndex.flatMap { case (d, di) =>
      val ms = d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      (0 until 50).map { i =>
        val attrs = mapper.createObjectNode()
        attrs.put("OBJECTID", (di * 1000 + i).toLong)
        attrs.put("ISSUE_DATE", ms + 36000000L + i)
        attrs.put("ISSUING_AGENCY_NAME", "MPD")
        attrs.put("FINE_AMOUNT", "100")
        attrs
      }
    }
    val server = new ArcGisHttpStub(features)
    try {
      val fetch = IncrementalRunner.fetchViolationsViaSource(spark,
        Map("mode" -> "http", "url" -> server.url, "layer" -> "0")) _
      val path = Files.createTempDirectory("stats-http").resolve("v").toString
      def load(d: java.time.LocalDate): Unit = Sinks.insertIgnore(spark, fetch(d), path,
        keys = Seq("violation_id"), partitionBy = Seq("month"))
      load(days(0))
      server.countRequests.set(0)
      load(days(1))
      // one probe sizes the batch for the sink's routing, one plans the
      // write's pages; before the scan reported statistics, the unknown
      // size sent the batch down the big-frame path and the count ran 5
      // times
      assert(server.countRequests.get() <= 2, s"count probes: ${server.countRequests.get()}")
      assert(spark.read.parquet(path).count() == 100)
    } finally server.close()
  }
}
