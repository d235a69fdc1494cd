package graft

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.ListenerBusDrain
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Benchmark main (driver contract): times every SparkEntry query at the
  * SPARK_GRAFT_SF_DIR scale factor and prints ONE JSON line.
  *
  * A small warmup (range + parquet footer read + one tiny query) runs
  * before timing so JVM/session/codegen startup doesn't land on whichever
  * query happens to run first; queries then run in name order.
  *
  * Load robustness: this box carries heavy intermittent external load
  * (identical code has measured 3x apart minutes apart — see BASELINE.md),
  * so a single sample per query reads as noise. The harness takes
  * SPARK_GRAFT_BENCH_SAMPLES samples per query (default 3) and reports
  * BOTH the per-query median (the headline `queries` map, robust to one
  * bad sample) and the per-query minimum (`queries_min`, the closest
  * approximation of quiesced truth BASELINE.md instructs rounds to
  * compare on).
  *
  * Per-query cost breakdown: after every sample one `[layers] {json}` row
  * goes to stderr ([[Layers]]), so a reader can tell scan-bound from
  * shuffle-bound from dispatch-bound before touching a plan. Pointed at a
  * [[ProbeCorpus]] (`SPARK_GRAFT_SF_DIR=/tmp/docs10x`) the same run is the
  * scale check ([[probeSplits]]).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt.max(1)
    // host health before the JVM warms anything: lets a reader of the
    // emitted artifact tell box degradation from code regression without
    // any external context (thresholds in HostProbe/BASELINE.md)
    val boxPre = HostProbe.measure()
    val spark = Tables.localSession(cores = cpus.toInt, probeSplits = probeSplits(sfDir))
    // Optional args name a subset to bench (local iteration only; the
    // driver passes no args and benches everything).
    run(spark, sfDir, samples, args.toSet) {
      // host health again after the passes: a burst that arrived
      // mid-sweep shows as pre-healthy/post-degraded (or vice versa).
      // Measured after spark.stop() plus a short settle so the session's
      // draining thread pools don't pollute the wakeup-latency reading
      // (they inflate it ~7x; even settled, an in-JVM post reads somewhat
      // above a cold probe — compare post against pre directionally, pre
      // against the BASELINE.md thresholds absolutely).
      spark.stop()
      Thread.sleep(1000)
      s"""{"pre":${boxPre.json},"post":${HostProbe.measure().json}}"""
    }
  }

  /** Whether `sfDir` is a [[ProbeCorpus]] layout (replicated tables are
    * directories of part-files; a testdata sf dir holds one file per table).
    * A probe corpus must pass [[ProbeCorpus.assertScanParallel]] and runs on
    * the 1 MB split session; a testdata sf dir keeps Spark's split defaults.
    */
  def probeSplits(sfDir: String): Boolean = {
    val probe = ProbeCorpus.ReplicatedTables
      .exists(t => new java.io.File(s"$sfDir/$t.parquet").isDirectory)
    if (probe) ProbeCorpus.assertScanParallel(sfDir)
    probe
  }

  /** Bench the queries named in `only` (all when empty) on `spark`:
    * `samples` full passes with one `[layers]` row per sample on stderr,
    * then the two stdout lines. `box` runs after the passes and yields the
    * host-health JSON object both lines carry.
    */
  def run(spark: SparkSession, sfDir: String, samples: Int, only: Set[String])
      (box: => String): Unit = {
    warmup(spark, sfDir)
    val sc = spark.sparkContext
    val layers = new Layers
    sc.addSparkListener(layers)
    // the warmup's events must not land in the first sample's row
    ListenerBusDrain(sc)
    layers.reset()

    // A failing query must read as a failure, not as a fast success: its
    // time is reported as -1 and it is excluded from the totals. Cached
    // intermediates (sketch/similarity persists) are cleared after each
    // sample so cache occupancy doesn't grow across the run and every
    // sample pays the same cold-cache cost.
    //
    // The timed action is Fold: every output value folds into one row,
    // never count() (see Fold for why). anchors.json carries the metric
    // in its "action" field; "count"-action anchors are NOT comparable
    // per-query.
    def sampleOnce(name: String, sample: Int,
        fn: (SparkSession, String) => DataFrame): Double = {
      val row = Json.createObjectNode().put("query", name).put("sample", sample)
      val t0 = System.nanoTime()
      val ok =
        try {
          val raw = fn(spark, sfDir)
          row.put("build_s", (System.nanoTime() - t0) / 1e9)
          // jobs started from here on are the fold's; every job before
          // this ran eagerly inside the build
          sc.setLocalProperty(PhaseKey, "fold")
          try {
            val folded = Fold.frame(raw)
            row.put("exchanges", exchanges(folded.queryExecution.executedPlan))
            val r = folded.collect()(0)
            // the fold's bit_xor: two runs computed the same output iff
            // rows and digest agree (up to a hash collision)
            row.put("rows", r.getLong(0)).put("digest", r.getLong(1))
          } finally sc.setLocalProperty(PhaseKey, null)
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9 // before cache teardown
      spark.catalog.clearCache()
      CacheScope.drain(spark) // clearCache freed the data; drop the plan refs too
      // outside the timed region: wait until the sample's events landed
      ListenerBusDrain(sc)
      layers.drainInto(row.put("ok", ok).put("wall_s", elapsed))
      Console.err.println("[layers] " + Json.writeValueAsString(row))
      if (ok) elapsed else -1.0
    }
    // full passes over the query list (not N back-to-back runs of one
    // query) so a load burst degrades one PASS, not one query's samples.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val passes =
      try (1 to samples).map { s =>
        names.map { case (name, fn) => name -> sampleOnce(name, s, fn) }.toMap
      } finally sc.removeSparkListener(layers)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val results = names.map { case (name, _) =>
      val xs = passes.map(_(name))
      if (xs.exists(_ < 0)) (name, -1.0, -1.0)
      else (name, median(xs), xs.min)
    }
    def jmap(f: ((String, Double, Double)) => Double): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    val total = results.collect { case (_, v, _) if v >= 0 => v }.sum
    val totalMin = results.collect { case (_, v, m) if v >= 0 => m }.sum
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // vs-anchor accounting: anchors.json (generated by a quiesced
    // 10-sample sweep; see BASELINE.md) holds ONE current min per query.
    // The bench emits each query's min/anchor_min ratio and the sum
    // ratio so the round gate is computed by the instrument itself, not
    // re-derived from prose tables. Min-vs-min is the noise-robust
    // compare BASELINE.md prescribes for this intermittently-loaded box.
    val anchorsPath = sys.env.getOrElse("SPARK_GRAFT_ANCHORS", "anchors.json")
    // (name, my_min, anchor_min) per anchored query, reused by the full
    // line AND the compact summary line below; None when no comparable
    // anchors exist
    val ratioData: Option[Seq[(String, Double, Double)]] = {
      val f = new java.io.File(anchorsPath)
      if (!f.isFile) None
      else try {
        val root = Json.readTree(f)
        // Anchors recorded under a different timed action (e.g. the old
        // count() metric) are NOT comparable — refusing beats silently
        // reporting cross-metric ratios (q_exact_substr would read ~29x).
        val anchorAction =
          if (root.has("action")) root.get("action").asText() else "count"
        if (anchorAction != "fold") {
          System.err.println(
            s"[bench] anchors file $anchorsPath has action=$anchorAction, " +
              "bench action=fold: ratios would be cross-metric, skipping")
          None
        } else {
          val a = root.get("anchors")
          // (name, my_min, anchor_min) for every anchored, non-failing query
          Some(results.collect { case (n, v, m) if v >= 0 && a.has(n) =>
            (n, m, a.get(n).get("min").asDouble())
          })
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] anchors unreadable: ${e.getMessage}")
        None
      }
    }
    def ratioSumOf(rs: Seq[(String, Double, Double)]): String = {
      val anchorSum = rs.map(_._3).sum
      if (anchorSum > 0) f"${rs.map(_._2).sum / anchorSum}%.3f" else "-1"
    }
    // Box-state-robust subtotal (VERDICT r12 item 6): sub-second queries
    // shift ~uniformly +0.1–0.3 s under external load (pure dispatch
    // overhead on tiny 32-way stages — BASELINE.md), which moves the
    // headline ratio_sum 1.08–1.30 on IDENTICAL code. Queries with ≥1 s
    // anchors are dominated by real work, so their subtotal tracks the
    // code, not the box. Readers compare ratio_sum_large first;
    // n_over_2x stays the gate.
    def largeOf(rs: Seq[(String, Double, Double)]): Seq[(String, Double, Double)] =
      rs.filter(_._3 >= 1.0)
    val anchorBlock: String = ratioData match {
      case None => """"anchors_file":null"""
      case Some(rs) =>
        val ratios = rs.map { case (n, m, am) => "\"" + n + "\":" + f"${m / am}%.3f" }
          .mkString("{", ",", "}")
        val lg = largeOf(rs)
        s""""anchors_file":"$anchorsPath","anchored_count":${rs.size},"ratios":$ratios,"ratio_sum":${ratioSumOf(rs)},"ratio_sum_large":${ratioSumOf(lg)},"n_large":${lg.size}"""
    }
    val boxBlock = s""""box":$box"""
    // The driver stores only the TAIL of bench output, so the gate-relevant
    // numbers (errors, totals, anchor ratios, ratio_sum) go LAST — the big
    // per-query maps are what truncation may cut, never the gate block.
    println(s"""{"metric":"total","value":$total,"unit":"sec","samples":$samples,"action":"fold","sf":"$sfDir","queries":${jmap(_._2)},"queries_min":${jmap(_._3)},"errors":$errs,"total_min":$totalMin,$boxBlock,$anchorBlock}""")
    // Compact SUMMARY as the FINAL line: BENCH_r09/r10 proved the big line
    // gets head-truncated to `parsed: null` in the driver's artifact, so
    // the gate numbers also ship in one short self-contained JSON object
    // that survives any tail window and parses on its own.
    val summary: String = ratioData match {
      case Some(rs) if rs.nonEmpty =>
        val withRatio = rs.map { case (n, m, am) => (n, m / am) }
        val worst = withRatio.sortBy(-_._2).take(5)
          .map { case (n, r) => "\"" + n + "\":" + f"$r%.3f" }
          .mkString("{", ",", "}")
        val lg = largeOf(rs)
        s"""{"bench_summary":1,"ratio_sum":${ratioSumOf(rs)},"ratio_sum_large":${ratioSumOf(lg)},"n_large":${lg.size},"max_ratio":${f"${withRatio.map(_._2).max}%.3f"},"n_over_2x":${withRatio.count(_._2 > 2.0)},"worst":$worst,"n_queries":${results.size},"n_failed":${failed.size},"total_min":$totalMin,$boxBlock,"samples":$samples,"action":"fold","sf":"$sfDir"}"""
      case _ =>
        s"""{"bench_summary":1,"ratio_sum":null,"n_queries":${results.size},"n_failed":${failed.size},"total_min":$totalMin,$boxBlock,"samples":$samples,"action":"fold","sf":"$sfDir"}"""
    }
    println(summary)
  }

  /** JVM + codegen + parquet reader paths, so startup doesn't land on
    * whichever query happens to be timed first.
    */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.nation(spark, sfDir).count()
    SparkEntry.queries.get("qd_join_filter_count")
      .foreach(q => q(spark, sfDir).count())
  }

  private val Json = new ObjectMapper()

  /** Local property that tags a sample's fold jobs; a job started without
    * it ran inside the query's build: the eager work (the CC fixpoint, the
    * langid inventory) and any schema inference Spark still runs (a read
    * [[ParquetFooters]] leaves to Spark).
    */
  private val PhaseKey = "graft.bench.phase"

  /** Exchange operators in the physical plan as planned (before AQE
    * re-plans it at run time), subqueries included — the benchmark
    * harness's `spark.exchanges` rule, so the two instruments agree.
    */
  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => (o.children ++ o.subqueries).map(exchanges).sum
  }

  /** The per-sample listener behind the `[layers]` rows: the jobs, stages
    * and tasks delivered since the last [[reset]]. A stage belongs to the
    * phase of the first job that listed it. Every handler and reader
    * synchronizes on the listener; readers run after a bus drain.
    */
  private final class Layers extends SparkListener {
    private val foldStage = mutable.Map.empty[Int, Boolean]
    private val taskMax = mutable.Map.empty[Int, Long]
    private val stages = mutable.ArrayBuffer.empty[StageInfo]
    private var buildJobs = 0

    def reset(): Unit = synchronized {
      foldStage.clear(); taskMax.clear(); stages.clear(); buildJobs = 0
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val fold = js.properties != null && js.properties.getProperty(PhaseKey) != null
      if (!fold) buildJobs += 1
      js.stageIds.foreach(id => if (!foldStage.contains(id)) foldStage(id) = fold)
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      taskMax(te.stageId) = taskMax.getOrElse(te.stageId, 0L).max(te.taskInfo.duration)
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized { stages += sc.stageInfo }

    /** Add the totals since [[reset]] and the top 3 stages by executor
      * run time to `row`, then reset.
      */
    def drainInto(row: ObjectNode): Unit = synchronized {
      def sum(f: TaskMetrics => Long, of: Iterable[StageInfo] = stages): Long =
        of.iterator.map(s => f(s.taskMetrics)).sum
      def fold(s: StageInfo): Boolean = foldStage.getOrElse(s.stageId, false)
      def maxTask(s: StageInfo): Long = taskMax.getOrElse(s.stageId, 0L)
      row.put("build_jobs", buildJobs)
        .put("stages", stages.size)
        .put("tasks", stages.iterator.map(_.numTasks.toLong).sum)
        .put("executor_run_s", sum(_.executorRunTime) / 1e3)
        .put("executor_cpu_s", sum(_.executorCpuTime) / 1e9)
        .put("shuffle_read_bytes", sum(_.shuffleReadMetrics.totalBytesRead))
        .put("shuffle_read_records", sum(_.shuffleReadMetrics.recordsRead))
        .put("shuffle_write_bytes", sum(_.shuffleWriteMetrics.bytesWritten))
        .put("shuffle_write_records", sum(_.shuffleWriteMetrics.recordsWritten))
        .put("input_bytes", sum(_.inputMetrics.bytesRead))
        .put("build_input_bytes", sum(_.inputMetrics.bytesRead, stages.filterNot(fold)))
        .put("spill_bytes", sum(_.diskBytesSpilled))
        .put("max_task_s", stages.iterator.map(maxTask).maxOption.getOrElse(0L) / 1e3)
      val top = row.putArray("top_stages")
      stages.sortBy(-_.taskMetrics.executorRunTime).take(3).foreach { s =>
        val m = s.taskMetrics
        val wallMs = for (a <- s.submissionTime; b <- s.completionTime) yield b - a
        top.addObject()
          .put("phase", if (fold(s)) "fold" else "build")
          .put("name", s.name)
          .put("tasks", s.numTasks)
          .put("executor_run_s", m.executorRunTime / 1e3)
          .put("wall_s", wallMs.getOrElse(0L) / 1e3)
          .put("max_task_s", maxTask(s) / 1e3)
          .put("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          .put("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          .put("input_bytes", m.inputMetrics.bytesRead)
          .put("spill_bytes", m.diskBytesSpilled)
      }
      reset()
    }
  }
}
