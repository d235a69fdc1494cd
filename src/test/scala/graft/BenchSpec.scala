package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The query-timing main ([[Bench]]) driven on the shared session: its
  * two-line stdout contract, the per-sample `[layers]` rows on stderr, and
  * the probe-corpus session choice.
  */
class BenchSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  // the eager CC fixpoint builds with jobs; the flagship join builds lazily
  private val names = Seq("q_dedup_components", "qd_join_filter_count")
  private val samples = 2
  private val json = new ObjectMapper()

  /** One run's stdout and stderr lines. */
  private def bench(only: Seq[String], samples: Int, anchors: String)
      : (Seq[String], Seq[String]) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    Console.withOut(out) {
      Console.withErr(err) {
        Bench.run(spark, sf, samples, only.toSet, anchors)("""{"pre":null,"post":null}""")
      }
    }
    (out.toString("UTF-8").linesIterator.toSeq, err.toString("UTF-8").linesIterator.toSeq)
  }

  /** One run against the repo's anchors (taken at sf0.1): its stdout
    * lines, stderr lines and parsed `[layers]` rows.
    */
  private lazy val (stdout, stderr, layers): (Seq[String], Seq[String], Seq[JsonNode]) = {
    val (out, err) = bench(names, samples, "anchors.json")
    (out, err, err.collect {
      case l if l.startsWith("[layers] ") => json.readTree(l.stripPrefix("[layers] "))
    })
  }

  private def keys(n: JsonNode): Seq[String] = n.fieldNames().asScala.toSeq

  /** The benchmark harness's `spark.exchanges` rule, restated so the
    * rows are pinned to it rather than to Bench's own copy.
    */
  private def harnessExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => harnessExchanges(a.executedPlan)
    case e: Exchange => 1 + e.children.map(harnessExchanges).sum
    case o => (o.children ++ o.subqueries).map(harnessExchanges).sum
  }

  test("stdout is exactly the metric line and the summary line, keys pinned") {
    assert(stdout.size == 2, stdout.mkString("\n"))
    val Seq(metric, summary) = stdout.map(json.readTree)
    // the anchors were taken at sf0.1: no cross-scale ratios, one reason
    assert(keys(metric) == Seq("metric", "value", "unit", "samples", "action", "sf",
      "queries", "queries_min", "errors", "total_min", "box", "anchors_file"))
    assert(metric.get("anchors_file").isNull)
    assert(keys(summary) == Seq("bench_summary", "ratio_sum", "n_queries", "n_failed",
      "total_min", "box", "samples", "action", "sf"))
    assert(summary.get("ratio_sum").isNull)
    assert(stderr.count(_.contains("ratios would be cross-scale, skipping")) == 1)
    assert(keys(metric.get("queries")) == names.sorted)
    assert(metric.get("errors").size == 0 && summary.get("n_failed").asInt == 0)
    assert(metric.get("box").toString == """{"pre":null,"post":null}""")
  }

  test("anchors taken at the bench's sf dir give per-query ratios, keys pinned") {
    val q = "qd_join_filter_count"
    val anchors = Files.createTempFile("anchors", ".json")
    Files.writeString(anchors,
      s"""{"action":"fold","sf":"$sf/","anchors":{"$q":{"min":1000.0}}}""")
    val (out, err) = bench(Seq(q), 1, anchors.toString)
    assert(!err.exists(_.contains("skipping")), err.mkString("\n"))
    val Seq(metric, summary) = out.map(json.readTree)
    assert(keys(metric) == Seq("metric", "value", "unit", "samples", "action", "sf",
      "queries", "queries_min", "errors", "total_min", "box", "anchors_file",
      "anchored_count", "ratios", "ratio_sum", "ratio_sum_large", "n_large"))
    assert(keys(summary) == Seq("bench_summary", "ratio_sum", "ratio_sum_large",
      "n_large", "max_ratio", "n_over_2x", "worst", "n_queries", "n_failed",
      "total_min", "box", "samples", "action", "sf"))
    assert(keys(metric.get("ratios")) == Seq(q))
    assert(summary.get("n_over_2x").asInt == 0)
  }

  test("one [layers] row per query per sample, with the breakdown's keys") {
    assert(layers.map(r => (r.get("query").asText, r.get("sample").asInt)).sorted ==
      (for (s <- 1 to samples; n <- names) yield (n, s)).sorted)
    layers.foreach { r =>
      assert(keys(r) == Seq("query", "sample", "build_s", "exchanges", "rows", "digest", "ok",
        "wall_s", "codegen_compiles", "codegen_s", "build_jobs", "stages", "tasks",
        "executor_run_s", "executor_cpu_s", "shuffle_read_bytes", "shuffle_read_records", "shuffle_write_bytes",
        "shuffle_write_records", "input_bytes", "build_input_bytes", "spill_bytes",
        "max_task_s", "top_stages"))
      assert(r.get("ok").asBoolean)
      assert(r.get("build_s").asDouble <= r.get("wall_s").asDouble)
      assert(r.get("stages").asInt > 0 && r.get("tasks").asLong >= r.get("stages").asLong)
      assert(r.get("top_stages").size == math.min(3, r.get("stages").asInt))
    }
  }

  test("the second sample of a query compiles no generated class") {
    // sample 1 may compile; sample 2 runs the same plans and finds every
    // class in the codegen cache (CodegenCacheSpec pins the cache itself).
    // q_dedup_components is left out: its banded self-join reads two
    // identical shuffle stages and AQE broadcasts whichever finishes
    // first, so a repeat can run a plan variant, with classes of its own,
    // that sample 1 never ran.
    val r = layers.find(r => r.get("query").asText == "qd_join_filter_count" &&
      r.get("sample").asInt == 2).get
    assert(r.get("codegen_compiles").asLong == 0)
    assert(r.get("codegen_s").asDouble == 0.0)
    assert(layers.forall(_.get("codegen_compiles").asLong >= 0))
    assert(layers.exists(_.get("codegen_compiles").asLong > 0))
  }

  test("build_jobs counts the eager build; rows and exchanges match the fold frame") {
    def rowsOf(q: String) = layers.filter(_.get("query").asText == q)
    // a lazy build starts no job: the tables' schemas come from their
    // parquet footers on the driver
    rowsOf("qd_join_filter_count").foreach { r =>
      assert(r.get("build_jobs").asInt == 0)
      assert(r.get("build_input_bytes").asLong == 0)
    }
    // the CC fixpoint runs its rounds eagerly inside the build
    assert(rowsOf("q_dedup_components").forall(r =>
      r.get("build_jobs").asInt > 2 && r.get("build_input_bytes").asLong > 0))
    names.foreach { q =>
      val folded = Fold.frame(SparkEntry.queries(q)(spark, sf))
      val exchanges = harnessExchanges(folded.queryExecution.executedPlan)
      val row = folded.collect()(0)
      spark.catalog.clearCache()
      CacheScope.drain(spark)
      rowsOf(q).foreach { r =>
        assert(r.get("exchanges").asInt == exchanges, q)
        assert(r.get("rows").asLong == row.getLong(0), q)
        assert(r.get("digest").asLong == row.getLong(1), q)
      }
    }
  }

  test("a directory-table corpus gets the probe split session; a one-file table is rejected") {
    assert(!Bench.probeSplits(sf))
    def corpus(parts: Int): String = {
      val docs = Files.createTempDirectory("bench-corpus").resolve("documents.parquet")
      Files.createDirectories(docs)
      (0 until parts).foreach(i => Files.createFile(docs.resolve(f"part-$i%05d.parquet")))
      docs.getParent.toString
    }
    assert(Bench.probeSplits(corpus(ProbeCorpus.MinScanFiles)))
    val e = intercept[IllegalArgumentException](Bench.probeSplits(corpus(1)))
    assert(e.getMessage.contains("spans only 1 part-file"))
  }
}
