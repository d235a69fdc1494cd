package graft

import org.apache.spark.sql.SparkSession

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
    val spark = Tables.localSession(cores = cpus.toInt)
    warmup(spark, sfDir)

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
    def sampleOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try {
          Fold.digest(fn(spark, sfDir))
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9 // before cache teardown
      spark.catalog.clearCache()
      CacheScope.drain(spark) // clearCache freed the data; drop the plan refs too
      if (ok) elapsed else -1.0
    }
    // full passes over the query list (not N back-to-back runs of one
    // query) so a load burst degrades one PASS, not one query's samples.
    // Optional args name a subset to bench (local iteration only; the
    // driver passes no args and benches everything).
    val only = args.toSet
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val passes = (1 to samples).map { _ =>
      names.map { case (name, fn) => name -> sampleOnce(name, fn) }.toMap
    }
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
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
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
    // host health again after the passes: a burst that arrived mid-sweep
    // shows as pre-healthy/post-degraded (or vice versa). Measured after
    // spark.stop() plus a short settle so the session's draining thread
    // pools don't pollute the wakeup-latency reading (they inflate it
    // ~7x; even settled, an in-JVM post reads somewhat above a cold
    // probe — compare post against pre directionally, pre against the
    // BASELINE.md thresholds absolutely).
    spark.stop()
    Thread.sleep(1000)
    val boxPost = HostProbe.measure()
    val boxBlock =
      s""""box":{"pre":${boxPre.json},"post":${boxPost.json}}"""
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
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.nation(spark, sfDir).count()
    SparkEntry.queries.get("qd_join_filter_count")
      .foreach(q => q(spark, sfDir).count())
  }
}
