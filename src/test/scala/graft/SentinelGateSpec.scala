package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The scale gate ([[Sentinel.gate]]) on a 2-copy [[ProbeCorpus]] of
  * sf0.001 (documents only): its ops run through Bench's sample loop, so
  * each prints one `[layers]` row whose rows are the gated rows; ceilings
  * decide breach and pass; a failed op fails the gate and cannot be
  * recorded; incremental_daily's standing index stays outside its row.
  */
class SentinelGateSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val cheap = Seq("exact_substr", "lm_quality")
  private val json = new ObjectMapper()

  private lazy val corpus: String = {
    val out = Files.createTempDirectory("graft-sentinel-corpus").toString
    ProbeCorpus.build(spark, sf, out, copies = 2, onlyTables = Some(Set("documents")))
    out
  }

  /** One gate run: its verdict, `[sentinel]` stdout lines and `[layers]` rows. */
  private def gated(names: Seq[String], ceilings: Map[String, Double])
      : (Sentinel.Verdict, Seq[String], Seq[JsonNode]) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val v = Console.withOut(out) {
      Console.withErr(err)(Sentinel.gate(spark, corpus, sf, names, ceilings))
    }
    (v, out.toString("UTF-8").linesIterator.filter(_.startsWith("[sentinel] ")).toSeq,
      err.toString("UTF-8").linesIterator.collect {
        case l if l.startsWith("[layers] ") => json.readTree(l.stripPrefix("[layers] "))
      }.toSeq)
  }

  private val names = cheap :+ "incremental_daily"
  private lazy val (passing, lines, layers) = gated(names, names.map(_ -> 1e6).toMap)

  test("one [layers] row per op, its rows the op's [sentinel] rows") {
    assert(layers.map(_.get("query").asText) == names)
    assert(passing.results.map(_._1) == names)
    passing.results.zip(layers).zip(lines).foreach { case (((name, s, _), row), line) =>
      assert(row.get("ok").asBoolean, name)
      assert(s.rows > 0 && row.get("rows").asLong == s.rows, name)
      assert(row.get("wall_s").asDouble == s.secs, name)
      assert(line.startsWith(s"[sentinel] $name ") && line.contains(s"rows=${s.rows} "), line)
    }
  }

  test("large ceilings pass; a ceiling of 0 breaches") {
    assert(passing.passed && passing.results.forall(_._3 == "ok"))
    val (v, _, _) = gated(Seq("lm_quality"), Map("lm_quality" -> 0.0))
    assert(v.results.map(_._3) == Seq("BREACH") && !v.passed)
  }

  test("an op whose build throws fails the gate, and --record refuses the run") {
    // the corpus has no customer table
    val (v, lines, layers) = gated(Seq("er_clusters"), Map.empty)
    val Seq((_, s, status)) = v.results
    assert(status == "FAILED" && s.secs == -1.0 && s.rows == -1L && !v.passed)
    assert(v.failed == Seq("er_clusters"))
    assert(lines.size == 1 && lines.head.endsWith("FAILED"))
    assert(layers.size == 1 && !layers.head.get("ok").asBoolean)
    val e = intercept[IllegalArgumentException](Sentinel.recordTier(
      json.createObjectNode(), Sentinel.Tiers("100x"), corpus, sf, v))
    assert(e.getMessage.contains("er_clusters"))
    // a run with no failed op records every op's rows
    val ops = Sentinel.recordTier(json.createObjectNode(), Sentinel.Tiers("100x"),
      corpus, sf, passing).get("ops")
    passing.results.foreach { case (n, s, _) => assert(ops.get(n).get("rows").asLong == s.rows) }
  }

  test("incremental_daily's row holds the day's build jobs, not the standing index's") {
    val (lake, setupJobs) = jobsOf(Sentinel.standingIndex(spark, corpus))
    val day = Sentinel.ops(sf, lake).toMap.apply("incremental_daily")
    val (_, dayJobs) = jobsOf(day(spark, corpus))
    spark.catalog.clearCache()
    etl.LakeFs.deleteRecursively(spark, new org.apache.hadoop.fs.Path(lake).getParent)
    assert(setupJobs > 0)
    val row = layers.find(_.get("query").asText == "incremental_daily").get
    assert(row.get("build_jobs").asInt == dayJobs)
  }
}
