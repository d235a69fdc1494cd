package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Standing scale-regression gate (VERDICT r10 item 1; tiers r11 item 5).
  *
  * The sf0.1 bench is blind to scale-shape regressions: §10.16's
  * broadcast-flip made dedup_simhash 3× slower at 100× while sf0.1 times
  * never moved. This gate runs the 14 collapse/join-shape-critical ops
  * against the regenerable 100× replicated corpus and FAILS (exit 1) if
  * any exceeds its recorded wall-clock ceiling in `sentinels.json`
  * (checked in, like anchors.json; ceiling = [[CeilingMultiplier]] = 2×
  * the quiet-box receipt — this box swings up to ~2× under external load
  * (BASELINE.md) while the regression class the gate exists for measures
  * 3–10×, so a breach under even moderate load is a real signal — on a
  * breach, re-run once to rule out an extreme burst before treating it
  * as real).
  *
  *   sbt "runMain graft.Sentinel"                 # 100x gate: exit 1 on breach
  *   sbt "runMain graft.Sentinel --record"        # reprint sentinels.json with fresh receipts
  *   sbt "runMain graft.Sentinel --tier 1000x"    # before-release tier (7 ops, ~10 min incl. setup)
  *   sbt "runMain graft.Sentinel --tier 1000x --record"
  *
  * Tiers: `100x` (default) is the standing per-change gate. `1000x` runs
  * the document-only ledger ops (SURVEY §10.17) against the 1000×
  * corpus — too slow for per-commit use; run before a release or after a
  * deliberate change to any gated plan shape. `--record` reads the
  * existing sentinels.json, replaces ONLY the tier being recorded
  * (ceilings at the same [[CeilingMultiplier]] policy), and prints the
  * complete merged file ready to check in — so re-recording one tier
  * can never drift the other, and the emitted ceilings always match the
  * policy SentinelConfigSpec pins.
  *
  * The corpus (default per tier) is regenerated via [[ProbeCorpus]]
  * if missing — only the tables the tier's ops read, so a wiped /tmp
  * costs one rebuild, not a lost gate.
  *
  * The timed action is Bench's: each op is a builder like a
  * [[SparkEntry.queries]] entry, and one pass of [[Bench.sample]] times
  * its build plus [[Fold]] of every output value (not count(), which
  * Catalyst prunes to a bare scan), prints its `[layers]` row on stderr
  * (exchanges, stages, shuffle, spill, max task) and drains the cache. A
  * gated second and row count is that sample's `wall_s` and `rows`. Only
  * incremental_daily has setup, its standing index, which runs before the
  * pass, outside the timed region.
  */
object Sentinel {

  /** Ceiling policy, pinned by SentinelConfigSpec against the checked-in
    * file: every recorded ceiling is exactly ceil(receipt × this). 2×,
    * not tighter: identical code has measured ~2× apart on this box
    * under external load (BASELINE.md), and the regression class the
    * gate targets (broadcast flips, lost collapses) measures 3–10× — a
    * 2× ceiling catches those without crying wolf on load swings.
    */
  private[graft] val CeilingMultiplier = 2.0

  private[graft] def ceilingFor(receiptSec: Double): Double =
    math.ceil(receiptSec * CeilingMultiplier)

  /** The note `--record` emits — same text the checked-in file carries,
    * parameterized only by tier name (SentinelConfigSpec pins both).
    */
  private[graft] def note(tier: String): String =
    s"wall-clock ceilings for the $tier scale gate; ceiling = 2x the " +
      "quiet-box receipt (this box swings up to ~2x under external load " +
      "- BASELINE.md - and every regression this gate exists for " +
      "measured 3-10x). On a breach, re-run once to rule out an extreme burst."

  /** The gated ops in registry order: builders over the corpus, like
    * [[SparkEntry.queries]]. `baseDir` holds the constant benchmark the
    * decontamination ops read; `lake` is incremental_daily's
    * [[standingIndex]].
    */
  private[graft] def ops(baseDir: String, lake: String)
      : Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_simhash" -> queries.SketchDedupQueries.qDedupSimhash,
    "dedup_minhash_lsh" -> queries.SketchDedupQueries.qDedupMinhashLsh,
    "dedup_components" -> queries.SketchDedupQueries.qDedupComponents,
    // the documented recommended path for trio users: three frames over
    // ONE shared signature pass + component resolution. The shared-pass
    // plan shape (one CacheScope persist feeding three frames) is
    // exactly what a refactor can silently break — gate the whole trio
    // as one receipt (VERDICT r12 item 5): one frame of all three
    // frames' rows, each row as its JSON
    "dedup_group_bundle" -> ((s, d) => {
      val frames = queries.SketchDedupQueries.dedupGroupBundle(s, d)
      Seq("components", "apply", "cluster_stats")
        .map(frames(_).select(to_json(struct(col("*"))).as("row")))
        .reduce(_ union _)
    }),
    "semdedup" -> queries.SimilarityQueries.qSemDedup,
    "phash_neardup" -> queries.MultimodalQueries.qPhashNeardup,
    "er_clusters" -> queries.CurationQueries.qErClusters,
    // production decontamination shape: CONSTANT benchmark (an eval
    // suite does not grow with the corpus), broadcast strategy
    "decontaminate_const" -> ((s, d) =>
      pipeline.CorpusPipeline(Tables.documents(s, d))
        .decontaminate(Tables.documents(s, baseDir).filter(col("doc_id") % 97 === 0))
        .df),
    "exact_substr" -> ((s, d) =>
      queries.CorpusOpsQueries.qExactSubstr(s, d).select(col("clean_hash"))),
    // the per-token trio, collapse-carrying since round 11
    "langid_nb" -> queries.TextQueries.qLangIdNb,
    "lm_quality" -> queries.TextQueries.qLmQuality,
    "perplexity" -> queries.CurationQueries.qPerplexity,
    "pipeline_composed" -> ((s, d) =>
      pipeline.CorpusPipeline.composedChain(s, d, baseDir)),
    // steady-state daily dedup: one day's batch (signatures → upsert →
    // pairs) onto the standing index built before the timed region
    "incremental_daily" -> ((s, d) => {
      import queries.IncrementalDedupQueries._
      val sigs = signatures(Tables.documents(s, d).filter(DailyBatch)).persist()
      updateIndex(s, sigs, lake, ingestDate = Some("2026-08-13"))
      pairsForBatchSigs(s.read.parquet(lake), sigs)
    })
  )

  /** The registry's op names, in order. */
  private[graft] val opNames: Seq[String] = ops(baseDir = "", lake = "").map(_._1)

  /** incremental_daily's batch: every fifth document of the base copy. */
  private val DailyBatch = col("doc_id") < 10000000L && col("doc_id") % 5 === 4

  /** incremental_daily's setup: the standing signature index over every
    * other document of `corpus`, in a fresh scratch lake whose path it
    * returns. It is the one-time cost, so [[gate]] runs it outside the
    * timed region (the gate watches the steady-state daily path).
    */
  private[graft] def standingIndex(spark: SparkSession, corpus: String): String = {
    import queries.IncrementalDedupQueries._
    val lake = java.nio.file.Files.createTempDirectory("sentinel-inc")
      .resolve("sig").toString
    updateIndex(spark, signatures(Tables.documents(spark, corpus).filter(!DailyBatch)),
      lake, ingestDate = Some("2026-08-12"))
    lake
  }

  /** Each op's sample and status: `ok` or `BREACH` against its ceiling,
    * `recorded` without one, `FAILED` when its build or fold threw.
    */
  private[graft] final case class Verdict(results: Seq[(String, Bench.Sample, String)]) {
    def failed: Seq[String] = results.collect { case (n, _, "FAILED") => n }
    def passed: Boolean = results.forall(r => r._3 == "ok" || r._3 == "recorded")
  }

  /** Time the ops named in `names` on `spark` against `corpus` (a
    * [[ProbeCorpus]]): one pass of [[Bench.sample]] in registry order, so
    * each op prints its `[layers]` row, then one `[sentinel]` line per op.
    * A failed op reads -1 and fails the gate, never as a fast pass.
    * incremental_daily's [[standingIndex]] is built before the pass, only
    * when that op is named, and deleted after it.
    */
  private[graft] def gate(spark: SparkSession, corpus: String, baseDir: String,
      names: Seq[String], ceilings: Map[String, Double]): Verdict = {
    // layout invariant: no receipt is recorded or gated against a corpus
    // whose scans would run effectively serial (round-12 instrument bug)
    require(Bench.probeSplits(corpus), s"$corpus is not a ProbeCorpus layout")
    val lake = if (names.contains("incremental_daily")) Some(standingIndex(spark, corpus)) else None
    val builds = ops(baseDir, lake.getOrElse("")).filter { case (n, _) => names.contains(n) }
    val pass =
      try Bench.sample(spark, corpus, 1, builds).head
      finally lake.foreach(l =>
        etl.LakeFs.deleteRecursively(spark, new org.apache.hadoop.fs.Path(l).getParent))
    Verdict(builds.map { case (name, _) =>
      val s = pass(name)
      val status =
        if (s.secs < 0) "FAILED"
        else ceilings.get(name) match {
          case Some(c) if s.secs > c => "BREACH"
          case Some(_) => "ok"
          case None => "recorded"
        }
      println(f"[sentinel] $name%-20s ${s.secs}%8.2f s   rows=${s.rows}%-10d $status")
      (name, s, status)
    })
  }

  /** `root` (a parsed sentinels.json, or an empty object) with `tier`'s
    * node replaced by the verdict's receipts, ceilings at the
    * [[CeilingMultiplier]] policy. A failed op has no receipt, so a run
    * with one is refused.
    */
  private[graft] def recordTier(root: ObjectNode, tier: Tier, corpus: String,
      baseDir: String, v: Verdict): ObjectNode = {
    require(v.failed.isEmpty, s"--record refuses a run with failed ops: ${v.failed.mkString(", ")}")
    // the 100x tier keeps its historical top-level layout
    val node = if (tier.name == "100x") root else root.putObject(s"tier_${tier.name}")
    val opsNode = node.put("corpus", corpus).put("built_from", baseDir)
      .put("copies", tier.copies).put("note", note(tier.name)).putObject("ops")
    v.results.foreach { case (n, s, _) =>
      // ceiling derives from the ROUNDED receipt — the value the file
      // stores and SentinelConfigSpec re-derives the policy from
      val receipt = math.rint(s.secs * 10) / 10
      opsNode.putObject(n).put("receipt_sec", receipt)
        .put("ceiling_sec", ceilingFor(receipt)).put("rows", s.rows)
    }
    root
  }

  /** A gate tier: which corpus, which ops, which sentinels.json node.
    * The 100x tier keeps its historical top-level layout ("ops" plus
    * top-level corpus/copies/note); additional tiers nest under
    * "tier_<name>" so re-recording one never rewrites the other.
    */
  private[graft] case class Tier(
      name: String,
      defaultCorpus: String,
      copies: Int,
      tables: Set[String],
      opNames: Seq[String])

  private[graft] val Tiers: Map[String, Tier] = Map(
    "100x" -> Tier("100x", "/tmp/docs100x", 100,
      Set("documents", "embeddings", "customer"), opNames),
    // the document-only §10.17 ledger ops: per-commit they'd be too slow
    // (incremental_daily's untimed index build alone is ~4 min at 1000×);
    // run before a release or after changing a gated plan shape
    "1000x" -> Tier("1000x", "/tmp/docs1000x", 1000, Set("documents"),
      Seq("dedup_components", "dedup_group_bundle", "exact_substr",
        "langid_nb", "lm_quality", "pipeline_composed", "incremental_daily")),
    // another decade up (50M docs): every op here is collapse-carrying
    // or scan-shaped, so output stays bounded while the corpus grows —
    // the tier exists to keep proving exactly that. ~30-40 min + 74 GB
    // including incremental_daily's untimed 50M-row index build.
    // Cadence contract (VERDICT r14 item 4): gate-mode run before a
    // major release AND after any change to a sink write path or a
    // gated op's plan shape — never per-commit. This tier only became runnable
    // at all after the round-13 sink fix (the index bulk load's
    // unconditional dedup window blew 70 GB of local disk).
    "10000x" -> Tier("10000x", "/tmp/docs10000x", 10000, Set("documents"),
      Seq("dedup_components", "dedup_group_bundle", "exact_substr",
        "langid_nb", "lm_quality", "pipeline_composed", "incremental_daily")))

  /** The tier's ops node inside a parsed sentinels.json, or null. */
  private[graft] def tierOpsNode(root: com.fasterxml.jackson.databind.JsonNode,
      tier: String): com.fasterxml.jackson.databind.JsonNode =
    if (tier == "100x") root.get("ops")
    else { val t = root.get(s"tier_$tier"); if (t == null) null else t.get("ops") }

  def main(args: Array[String]): Unit = {
    var record = false
    var tierName = "100x"
    var onlyOps: Option[Set[String]] = None
    val pos = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--record" => record = true
        case "--tier" =>
          require(i + 1 < args.length, "--tier requires a value " +
            s"(have tiers: ${Tiers.keys.mkString(", ")})")
          tierName = args(i + 1); i += 1
        // targeted breach re-runs (the gate's own "re-run once" policy):
        // gate only the named ops against their recorded ceilings instead
        // of paying the full tier again. Gate mode only — a RECORDED
        // receipt set must always come from one whole-tier run.
        case "--ops" =>
          require(i + 1 < args.length, "--ops requires a comma-separated list")
          onlyOps = Some(args(i + 1).split(",").map(_.trim).toSet); i += 1
        case a if a.startsWith("--") =>
          sys.error(s"unknown flag '$a' (known: --record, --tier <name>, --ops <a,b>)")
        case a => pos += a
      }
      i += 1
    }
    require(!(record && onlyOps.nonEmpty),
      "--ops is gate-only: recorded receipts must come from a whole-tier run")
    val tier = Tiers.getOrElse(tierName,
      sys.error(s"unknown tier '$tierName' (have: ${Tiers.keys.mkString(", ")})"))
    val corpus = pos.headOption.getOrElse(tier.defaultCorpus)
    val baseDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val sentinelsPath = "sentinels.json"
    val mapper = new ObjectMapper()

    // host health BEFORE the Spark JVM warms anything, like Bench's pre:
    // a breach line that carries pre ctx_switch_us over the BASELINE.md
    // threshold is a box reading, not an op regression — the artifact
    // says so itself
    val stamp = Bench.box()

    // ceilings from sentinels.json (gate mode)
    val ceilings: Map[String, Double] =
      if (record) Map.empty
      else {
        val f = new java.io.File(sentinelsPath)
        require(f.isFile, s"sentinels file not found: $sentinelsPath " +
          "(run with --record to generate receipts)")
        val o = tierOpsNode(mapper.readTree(f), tier.name)
        require(o != null, s"no recorded receipts for tier ${tier.name} in " +
          s"$sentinelsPath (run with --tier ${tier.name} --record first)")
        o.properties().asScala.map(e => e.getKey -> e.getValue.get("ceiling_sec").asDouble()).toMap
      }
    // gate mode gates the tier's ops that have a ceiling. --ops names must
    // be among them: a typo (or an op with no recorded ceiling) would
    // otherwise drop out of the run and exit 0 — a clean gate for an op
    // that never ran
    val gated = tier.opNames.filter(n => record || ceilings.contains(n))
    onlyOps.foreach { sel =>
      val unknown = sel.filterNot(gated.contains)
      require(unknown.isEmpty,
        s"--ops names not gated in tier ${tier.name}: ${unknown.mkString(", ")} " +
          s"(gated ops: ${gated.mkString(", ")})")
    }

    val spark = Tables.localSession(cores = 32, probeSplits = true)
    if (!new java.io.File(s"$corpus/documents.parquet").exists()) {
      println(s"[sentinel] corpus $corpus missing — regenerating ${tier.copies}x from $baseDir")
      ProbeCorpus.build(spark, baseDir, corpus, copies = tier.copies,
        onlyTables = Some(tier.tables))
    }
    val verdict = gate(spark, corpus, baseDir, gated.filter(n => onlyOps.forall(_(n))), ceilings)
    val box = stamp(spark)
    println(s"[sentinel] box $box")

    if (record) {
      // merge fresh receipts for THIS TIER into the existing file and
      // print the complete result, ready to check in verbatim
      val f = new java.io.File(sentinelsPath)
      val root: ObjectNode =
        if (f.isFile) mapper.readTree(f).asInstanceOf[ObjectNode]
        else mapper.createObjectNode()
      println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(
        recordTier(root, tier, corpus, baseDir, verdict)))
    } else {
      val breaches = verdict.results.collect { case (n, s, "BREACH") =>
        f""""$n": {"sec": ${s.secs}%.1f, "ceiling_sec": ${ceilings(n)}%.1f}""" }
        .mkString("{", ",", "}")
      val failed = verdict.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      println(s"""{"sentinel":1,"tier":"${tier.name}","corpus":"$corpus","n_ops":${verdict.results.size},"n_breach":${verdict.results.count(_._3 == "BREACH")},"breaches":$breaches,"failed":$failed,"box":$box}""")
    }
    if (!verdict.passed) sys.exit(1)
  }
}
