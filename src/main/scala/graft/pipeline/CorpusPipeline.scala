package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ConnectedComponents
import graft.queries.IncrementalDedupQueries

/** Composable corpus-preparation pipeline — the user-facing surface that
  * chains the engine's training-data operators into one lazy plan:
  *
  * {{{
  * CorpusPipeline(docs)
  *   .dedupExact()
  *   .dedupNear(nearDupPairs)            // e.g. SimHash/MinHash pair output
  *   .decontaminate(benchmarkDocs)
  *   .sampleStratified(Map("en" -> 0.5), default = 0.2)
  *   .withSplit(trainPct = 90)
  *   .df                                  // still unexecuted — one plan
  * }}}
  *
  * Every stage is a pure DataFrame -> DataFrame transform (no actions, no
  * driver materialization except dedupNear's bounded component loop), so
  * the composed pipeline stays lazy end-to-end: filters merge, column
  * pruning reaches the scan, and the whole chain benefits from AQE.
  * Stages that FAN OUT their input (stats + rows, detect + rewrite,
  * match + anti-join) persist it via [[graft.CacheScope]] so the
  * upstream chain executes once per stage, not once per reference —
  * see [[persistStage]] for the measured compounding this prevents.
  * Stage semantics match the oracle-gated queries one-to-one (the spec
  * pins pipeline output against q_dedup_apply / q_sample_stratified /
  * q_train_test_split on the shared testdata).
  */
final class CorpusPipeline private (
    val df: DataFrame,
    val idCol: String) {

  private def next(d: DataFrame): CorpusPipeline = new CorpusPipeline(d, idCol)

  /** Conditional materialization for a fan-out stage's input: persist
    * only when the upstream plan is nontrivial. For a scan/filter/
    * project-only input, executing it twice costs two scans — cheaper
    * than materialize+re-read, and at 100 TB persisting a raw corpus
    * would spill the whole table to local disk for no benefit. Anything
    * carrying a join, aggregate, window, generate, or dedup upstream
    * recomputes real work per reference, so it persists (via
    * [[graft.CacheScope]], so bench/verify drain it per query).
    *
    * Why an EXPENSIVE projection-only upstream still doesn't need the
    * waist (the round-13 verdict's one open gap, closed in SURVEY
    * §10.21): Catalyst column-prunes the projection per
    * consumer, so a fan-out's narrow subtrees (count, key-only
    * aggregates, anti-join probes) re-execute only the columns they
    * read — the heavy expressions evaluate once, at the single consumer
    * that uses their output. Measured at 100× with a deliberately hot
    * upstream (three fused byte walks, 2.1 s alone; filterBoilerplate's
    * 4-reference fan-out; terminal fold reading every heavy column —
    * the worst case for recompute): unwaisted 5.10 s vs persistStage()d
    * 4.86 s min-of-4 — a ~5% wash, against certain full-width
    * materialization cost at corpus scale.
    */
  private def waist(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val expensive = d.queryExecution.logical.collectFirst {
      case _: Join => (); case _: Aggregate => (); case _: Window => ()
      case _: Generate => (); case _: Deduplicate => ()
    }.isDefined
    if (expensive) graft.CacheScope.persist(d) else d
  }

  /** Exact dedup: keep the minimum-id document per identical text —
    * `min_by(struct(row), id)` per md5(text) group, so the shuffle
    * PARTIAL-AGGREGATES: each map partition ships at most one row per
    * distinct text it saw, and no partition-wide sort happens at all.
    * On a duplicate-heavy crawl that collapses the exchange to
    * ~|distinct| rows; on a mostly-unique corpus it degrades gracefully
    * to the same bytes the old window form always paid. Measured at the
    * 1000× composed chain (5M docs, 99% dups): see SURVEY §10.20.
    *
    * History: round 11 A/B'd a groupBy-winners + semi-join form (~10%
    * SLOWER end-to-end — it scans and hashes the corpus twice) and kept
    * the `row_number` window; the window, however, shuffles EVERY
    * full-text row (windows cannot map-side combine) and sorts each
    * hash partition. The min_by form is the missing third shape: one
    * scan, one combined shuffle, no sort.
    */
  def dedupExact(textCol: String = "text"): CorpusPipeline = {
    val cols = df.columns
    // ordering key wraps the id in (isNull, id): min_by skips NULL
    // ordering keys entirely, so a bare null id would make an all-null-id
    // group collapse to a single all-null ROW (min_by of no valid key is
    // null) instead of keeping a document. The struct key is never null,
    // non-null ids order before null ones (false < true), and an
    // all-null-id group keeps one real row. Note the struct round-trip
    // makes every output column nullable in the SCHEMA (values are
    // unchanged) — relevant if the output's written schema is compared.
    next(df
      .groupBy(md5(col(textCol)).as("_h"))
      .agg(min_by(struct(cols.map(col): _*),
        struct(col(idCol).isNull.as("_null"), col(idCol).as("_id"))).as("_r"))
      .select(cols.map(c => col("_r").getField(c).as(c)): _*))
  }

  /** Materialization waist: CacheScope-persist the current frame so the
    * plan subtree above it executes ONCE no matter how many times later
    * stages reference their input. Several stages legitimately fan out
    * (boilerplate needs stats + rows, decontaminate matches + anti-joins,
    * span-removal detects + rewrites); a fan-out that re-inlines an
    * uncached upstream RE-EXECUTES it, and the multiplicity compounds
    * multiplicatively down the pipeline — at the 1000× probe the
    * unwaisted post-filter prefixes re-ran the 5M-doc scan+dedup enough
    * times to cost ~105 s for ~3k surviving rows, with planning itself
    * at ~1 s, so it was execution, not Catalyst (SURVEY §10.20). Every
    * fan-out stage therefore persists its own input internally; this
    * public form remains for user-chosen extra waists (e.g. before a
    * sequence of terminal probes over one prefix). At production scale
    * the equivalent is writing survivors to the lake and continuing
    * from that parquet.
    */
  def persistStage(): CorpusPipeline = next(graft.CacheScope.persist(df))

  /** Near-dedup application: given a pair list (two id columns) from any
    * detector (SimHash, MinHash, embedding blocking), resolve groups via
    * connected components and keep only each group's minimum id.
    */
  def dedupNear(pairs: DataFrame): CorpusPipeline = {
    val nonCanonical = ConnectedComponents.components(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    next(df.join(nonCanonical, Seq(idCol), "left_anti"))
  }

  /** Decontamination: drop docs sharing >= minShared distinct 3-gram
    * shingles with any benchmark doc. The join strategy is a knob:
    * [[CorpusPipeline.Broadcast]] (default — real eval suites are tiny
    * next to a corpus) or [[CorpusPipeline.Salted]], the skew-safe
    * shuffle form for a benchmark too big to broadcast (shingle keys are
    * Zipfian, so the corpus side salts 8 ways and the benchmark side
    * replicates across the salts). Output is identical either way — the
    * gate runs both forms against one oracle (q_decontaminate /
    * q_decontaminate_skew).
    */
  def decontaminate(
      benchmark: DataFrame,
      textCol: String = "text",
      minShared: Int = 2,
      strategy: CorpusPipeline.DecontaminateStrategy = CorpusPipeline.Broadcast)
      : CorpusPipeline = {
    def shingled(d: DataFrame, idc: String): DataFrame = d
      .select(col(idc), split(trim(col(textCol)), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col(idc), explode(graft.functions.ShinglesExpr.shingles(col("tk")))
        .as("_shingle"))
    // fan-out stage: the input feeds both the shingle-match side and the
    // final anti-join — waist it so a nontrivial upstream executes once
    // (see persistStage's scaladoc for the compounding this prevents)
    val in = waist(df)
    val corpus = shingled(in, idCol)
    val bench = shingled(benchmark.withColumnRenamed(idCol, "_bench_id"), "_bench_id")
    val joined = strategy match {
      case CorpusPipeline.Broadcast => corpus.join(broadcast(bench), "_shingle")
      case CorpusPipeline.Salted => graft.ops.SkewJoin
        .saltedInnerJoin(corpus, bench, key = "_shingle", saltSource = idCol)
      case CorpusPipeline.Bloom =>
        // 8 KiB summary of the benchmark's shingles drops non-matching
        // corpus shingles BEFORE the shuffle; the exact equi-join below
        // removes the false positives (no false negatives by
        // construction), so the result is strategy-independent
        val bits = graft.functions.Bloom.build(bench, "_shingle")
        corpus.crossJoin(broadcast(bits))
          .filter(graft.functions.Bloom.mightContain(col("_shingle"), col("bloom_bits")))
          .drop("bloom_bits")
          .join(bench.hint("shuffle_hash"), "_shingle")
    }
    val contaminated = joined
      .groupBy(col(idCol), col("_bench_id"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= minShared)
      .select(col(idCol)).distinct()
    next(in.join(contaminated, Seq(idCol), "left_anti"))
  }

  /** Self-contained SimHash near-dedup: detect band-blocked Hamming ≤ 3
    * pairs over THIS pipeline's CURRENT documents and apply [[dedupNear]]
    * to them. Placed after [[dedupExact]] (the intended composition),
    * the detector sees one representative per distinct text — which is
    * what makes the stage survive duplicate-saturated corpora: pair
    * OUTPUT on k exact copies grows as C(k,2) per group (3×10⁹ rows at
    * 1000× replication), while the representative graph is
    * scale-invariant. Lossless for the final kept set: identical texts
    * have identical fingerprints, so the raw-corpus pair graph connects
    * every exact group completely and its component minimum IS the
    * minimum representative — the id [[dedupExact]] already kept
    * (CorpusPipelineSpec pins the equality).
    */
  def dedupNearSimhash(textCol: String = "text"): CorpusPipeline = {
    // fan-out stage: the input feeds the detector AND dedupNear's
    // anti-join — waist it so a nontrivial upstream executes once
    val in = next(waist(df))
    in.dedupNear(graft.queries.SketchDedupQueries
      .simhashPairsOver(in.df, idCol, textCol)
      .select(col("doc_a"), col("doc_b")))
  }

  /** Incremental near-dedup: fingerprint THIS pipeline's documents (the
    * new batch) alone, merge their MinHash signatures into the persisted
    * index at `indexPath` ([[IncrementalDedupQueries]]), detect near-dup
    * pairs batch-vs-index, and drop every batch doc that is not its dup
    * group's canonical (minimum-id) member. The daily-ingest form of
    * [[dedupNear]]: the standing corpus is never re-fingerprinted, and a
    * batch doc that near-duplicates an already-indexed doc drops here.
    * A batch doc with a SMALLER id than all its indexed partners is kept
    * (the historical copies are already shipped — incremental dedup only
    * filters the incoming day).
    *
    * Unlike the other stages this one is not lazy: it UPDATES the index
    * (the ingest side effect) and reads it back before the drop.
    */
  def dedupNearIncremental(
      indexPath: String, textCol: String = "text"): CorpusPipeline = {
    val spark = df.sparkSession
    val batch = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    // sigs feeds BOTH the index merge and the pair detection — persist
    // so both see ONE evaluation (a non-deterministic batch source would
    // otherwise index one execution and detect pairs over another,
    // breaking pairsForBatchSigs' the-index-holds-these-rows premise).
    // O(daily batch) by the broadcast-guard contract, so the cache is
    // small; the gated qDedupIncremental and the sentinel op pin the
    // same persist-before-use shape.
    val sigs = graft.CacheScope.persist(
      IncrementalDedupQueries.signatures(batch))
    IncrementalDedupQueries.updateIndex(spark, sigs, indexPath)
    val pairs = IncrementalDedupQueries.pairsForBatchSigs(
        graft.ParquetFooters.read(spark, indexPath), sigs)
      .select(col("doc_a"), col("doc_b"))
    dedupNear(pairs)
  }

  /** Repetition-based quality filter (the Gopher A1.1 family): keep only
    * documents whose duplicate-bigram fraction and top-token share sit
    * under the thresholds — the same per-row signals as the gated
    * q_repetition_filter. A pure narrow filter: composes into the single
    * pipeline plan, no shuffle.
    */
  def filterRepetition(
      maxDup2: Double = 0.03,
      maxTopRatio: Double = 0.12,
      textCol: String = "text"): CorpusPipeline = {
    val sig = graft.queries.TextQueries.withRepetitionSignals(
      df.withColumn("_tk", split(trim(col(textCol)), "\\s+")), "_tk")
    next(sig
      .filter(col("dup2") <= maxDup2 && col("top_ratio") <= maxTopRatio)
      .drop("_tk", "dup2", "top_ratio"))
  }

  /** Quality-ensemble gate: drop the bottom quintile by the weighted
    * 4-signal composite score (same row-wise scoring core as the gated
    * q_quality_ensemble; quintile boundary from one percentile
    * aggregate broadcast back — never a global rank window). The one
    * extra job is the boundary aggregate; scoring itself composes into
    * the pipeline plan.
    */
  def filterQualityEnsemble(textCol: String = "text"): CorpusPipeline = {
    // fan-out stage: the scored frame feeds the boundary aggregate AND
    // the row filter — persist it so scoring (and everything upstream)
    // runs once
    val scored = waist(
      graft.queries.TextQueries.withEnsembleScore(df, textCol))
    val bound = scored.agg(
      expr("percentile(score_ppm, 0.2)").as("_b0"))
    next(scored.crossJoin(broadcast(bound))
      .filter(col("score_ppm") > col("_b0"))
      .drop("score_ppm", "_b0"))
  }

  /** PII scrubbing: replace emails, phone numbers, and IPv4 addresses in
    * `textCol` with typed placeholder tokens — the privacy pass before
    * training. A pure narrow regexp transform (same expression as the
    * gated q_pii_redact); composes into the single pipeline plan.
    */
  def redactPii(textCol: String = "text"): CorpusPipeline =
    next(df.withColumn(textCol,
      graft.queries.TextQueries.redactPiiCol(col(textCol))))

  /** Inter-document boilerplate filter: drop documents whose fraction of
    * corpus-frequent 3-gram shingles (document frequency >= max(4, 0.8%
    * of docs)) exceeds `maxFrac` — template instances that within-doc
    * signals miss. Same semantics as the gated q_boilerplate; the hot
    * set broadcasts, so the stage adds one df aggregation plus a
    * broadcast join, never a second corpus-wide shuffle.
    */
  def filterBoilerplate(
      maxFrac: Double = 0.5, textCol: String = "text"): CorpusPipeline = {
    // fan-out stage: the input feeds the hot-set aggregate, the per-doc
    // fraction, the doc count, and the final anti-join — waist it so a
    // nontrivial upstream executes once
    val in = waist(df)
    val shingled = in
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("_tk"))
      .filter(size(col("_tk")) >= 3)
      .select(col(idCol), explode(graft.functions.ShinglesExpr.shingles(col("_tk")))
        .as("_shingle"))
    val nDocs = in.agg(count(lit(1)).as("_n_docs"))
    val hot = shingled.groupBy(col("_shingle")).agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("_df") >= greatest(lit(4L), ceil(col("_n_docs") * 0.008)))
      .select(col("_shingle"), lit(1L).as("_hot"))
    val dropIds = shingled.join(broadcast(hot), Seq("_shingle"), "left")
      .groupBy(col(idCol))
      .agg(round(coalesce(sum(col("_hot")), lit(0L)).cast("double")
        / count(lit(1)), 6).as("_frac"))
      .filter(col("_frac") > maxFrac)
      .select(col(idCol))
    next(in.join(dropIds, Seq(idCol), "left_anti"))
  }

  /** ExactSubstr-style repeated-span removal: rewrite each document with
    * the token positions covered by corpus-duplicated `n`-gram spans
    * removed, dropping documents whose every token was duplicated. Same
    * semantics as the gated q_exact_substr
    * ([[graft.queries.CorpusOpsQueries.repeatedSpanClean]]); unlike the
    * id-dropping dedup stages, this REWRITES surviving text, so it runs
    * before fingerprint-based stages that should see the cleaned corpus.
    */
  def removeRepeatedSpans(n: Int = 5, textCol: String = "text"): CorpusPipeline = {
    // fan-out stage: the input feeds span detection AND the rewrite join
    val in = waist(df)
    val cleaned = graft.queries.CorpusOpsQueries
      .repeatedSpanClean(in, idCol, textCol, n)
      .select(col(idCol), col("clean_text"))
      .filter(length(col("clean_text")) > 0)
    next(in.drop(textCol).join(cleaned, Seq(idCol))
      .withColumnRenamed("clean_text", textCol))
  }

  /** Terminal: winnowing-fingerprint near-dup pairs (doc_a, doc_b,
    * shared_fps) over THIS pipeline's documents — the MOSS-style
    * sub-document overlap detector (same core as the gated
    * q_minimizers). Winnowing's hot-fingerprint df cap silently zeroes
    * the op on a duplicate-saturated feed (k exact copies push every
    * fingerprint's document frequency past the cap — the SURVEY §10.7
    * foot-gun), so this stage collapses to ONE representative per
    * distinct text FIRST: the safe composition is built in, not
    * remembered. Lossless for discovery — exact duplicates are
    * [[dedupExact]]'s finding, and winnowing pairs report at
    * representative (min-id) grain.
    */
  def minimizerPairs(textCol: String = "text"): DataFrame =
    graft.queries.SketchDedupQueries.minimizerPairs(
      dedupExact(textCol).df, idCol, textCol)

  /** Terminal transform: re-grain the corpus into overlapping retrieval
    * chunks — (id, chunk_id, start_tok, end_tok, n_chunk_tokens,
    * chunk_text). Terminal because the output granularity is chunks, not
    * documents (same semantics as the gated q_chunk_overlap).
    */
  def chunks(size: Int = 64, stride: Int = 48,
      textCol: String = "text"): DataFrame =
    graft.queries.CorpusOpsQueries.chunks(df, idCol, textCol, size, stride)

  /** Deterministic stratified sampling: per-stratum keep rates decided by
    * a portable md5 hash of the id — a plain filter, reproducible across
    * engines and partitionings.
    */
  def sampleStratified(
      rates: Map[String, Double],
      default: Double,
      stratumCol: String = "lang"): CorpusPipeline = {
    val bucket = expr(
      s"cast(conv(substring(md5(cast($idCol as string)), 1, 15), 16, 10) as bigint) % 10000")
    val threshold = rates.foldLeft(lit((default * 10000).toLong)) {
      case (acc, (k, v)) =>
        when(col(stratumCol) === k, lit((v * 10000).toLong)).otherwise(acc)
    }
    next(df.filter(bucket < threshold))
  }

  /** Importance sampling: keep each row with its own acceptance
    * probability given by `probCol` scaled into [0, 1] (values >= 1 are
    * certain keeps). Same salted-md5 uniform as the other sampling
    * stages (seed-isolated via the salt), integer-exact compare — a pure
    * filter, like q_importance_sample.
    */
  def sampleByImportance(
      probExpr: org.apache.spark.sql.Column,
      salt: String = "imp7"): CorpusPipeline = {
    val bucket = expr(
      s"cast(conv(substring(md5(concat('$salt:', cast($idCol as string))), 1, 15), 16, 10) as bigint) % 10000")
    // probability → basis points via round(), not a truncating cast: the
    // double product can land a half-ulp under the exact integer (e.g.
    // 157/400*10000 = 3924.999…) and truncation would shift the
    // acceptance threshold by one bucket
    next(df.filter(bucket < least(lit(10000L), round(probExpr * 10000).cast("long"))))
  }

  /** Named row-count observation (`Dataset.observe`): production
    * accounting for "rows surviving this point" that rides the terminal
    * action — NO extra job per counter, unlike interleaved `count()`
    * calls. Read the counters after running an action on THIS DataFrame
    * from `df.queryExecution.observedMetrics(name)` (a separate
    * `count()` plans its own execution and leaves them unpopulated).
    */
  def observeCount(name: String): CorpusPipeline =
    next(df.observe(name, count(lit(1)).as("rows")))

  /** Salted deterministic train/test split as a new column. */
  def withSplit(trainPct: Int, salt: String = "split42"): CorpusPipeline =
    next(df.withColumn("split",
      when(expr(
        s"cast(conv(substring(md5(concat('$salt:', cast($idCol as string))), 1, 15), 16, 10) as bigint) % 100")
        < trainPct, "train").otherwise("test")))
}

object CorpusPipeline {
  def apply(docs: DataFrame, idCol: String = "doc_id"): CorpusPipeline =
    new CorpusPipeline(docs, idCol)

  /** The full composed chain at the terminal chunks grain (the
    * Sentinel's `pipeline_composed` op): dedupExact → removeRepeatedSpans
    * → dedupNearSimhash → decontaminate → redactPii → filters → sample →
    * split → chunks as ONE plan, with an `observeCount` row counter
    * `s0_input` … `s8_sampled_split` after each stage riding the
    * terminal action. `dir` is the corpus; the benchmark is the every
    * 97th document of `baseDir`, CONSTANT as the corpus grows (an eval
    * suite does not grow with the corpus; replicating it alongside is
    * the SURVEY §10.7 artifact, not the production shape).
    */
  def composedChain(spark: SparkSession, dir: String, baseDir: String): DataFrame = {
    val benchmark = graft.Tables.documents(spark, baseDir)
      .filter(col("doc_id") % 97 === 0)
    // the near-dup detector runs INSIDE the chain on the exact-deduped
    // representatives (dedupNearSimhash — the scale-correct composition:
    // raw-corpus pair output grows C(k,2) per duplicate group, ~3×10⁹
    // rows at 1000×, while the representative graph is scale-invariant);
    // its component resolution is the pipeline's one eager step
    CorpusPipeline(graft.Tables.documents(spark, dir))
      .observeCount("s0_input")
      .dedupExact()
      .observeCount("s1_dedup_exact")
      .removeRepeatedSpans()
      .observeCount("s2_span_clean")
      .dedupNearSimhash()
      .observeCount("s3_dedup_near")
      .decontaminate(benchmark)
      .observeCount("s4_decontaminate")
      .redactPii()
      .filterRepetition()
      .observeCount("s5_filter_repetition")
      .filterBoilerplate()
      .observeCount("s6_filter_boilerplate")
      .filterQualityEnsemble()
      .observeCount("s7_filter_quality")
      .sampleStratified(Map("en" -> 0.5), default = 0.2)
      .withSplit(trainPct = 90)
      .observeCount("s8_sampled_split")
      .chunks()
  }

  /** How [[CorpusPipeline.decontaminate]] joins corpus to benchmark. */
  sealed trait DecontaminateStrategy
  /** Benchmark side broadcasts — the default; eval suites are tiny. */
  case object Broadcast extends DecontaminateStrategy
  /** Salted shuffle join ([[graft.ops.SkewJoin]]) — for a benchmark too
    * big to broadcast; same output, skew-safe on Zipfian shingle keys.
    */
  case object Salted extends DecontaminateStrategy
  /** Bloom semi-join reduction ([[graft.functions.Bloom]]) — also for a
    * benchmark too big to broadcast, attacking shuffle volume instead of
    * skew: an 8 KiB filter drops non-matching corpus shingles before the
    * exchange; the exact join removes false positives. Same output.
    */
  case object Bloom extends DecontaminateStrategy
}
