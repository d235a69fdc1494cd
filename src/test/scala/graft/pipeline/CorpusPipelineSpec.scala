package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.queries.{IncrementalDedupQueries, PipelineQueries, SketchDedupQueries}

/** The composable pipeline surface must agree stage-for-stage with the
  * oracle-gated queries on the shared testdata, and the composed chain
  * must stay one lazy plan with sane row accounting.
  */
class CorpusPipelineSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf)

  test("dedupNear over SimHash pairs matches q_dedup_apply per-lang counts") {
    val pairs = SketchDedupQueries.qDedupSimhash(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    val got = CorpusPipeline(docs).dedupNear(pairs).df
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs_kept"))
      .orderBy(col("lang")).collect().map(_.toSeq)
    val expect = SketchDedupQueries.qDedupApply(spark, sf)
      .collect().map(_.toSeq)
    assert(got.toSeq == expect.toSeq)
  }

  test("sampleStratified matches q_sample_stratified's kept ids") {
    val got = CorpusPipeline(docs)
      .sampleStratified(Map("en" -> 0.5), default = 0.2).df
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val expect = PipelineQueries.qSampleStratified(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("filterRepetition matches q_repetition_filter's kept counts per source") {
    val got = CorpusPipeline(docs).filterRepetition().df
      .groupBy(col("source")).agg(count(lit(1)).as("kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = graft.queries.TextQueries.qRepetitionFilter(spark, sf)
      .select(col("source"), col("kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .filter(_._2 > 0L) // groupBy over kept docs has no all-dropped sources
    assert(got == expect && got.nonEmpty)
  }

  test("withSplit matches q_train_test_split's counts") {
    val got = CorpusPipeline(docs).withSplit(trainPct = 90).df
      .groupBy(col("lang"), col("split")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split")).collect().map(_.toSeq)
    val expect = PipelineQueries.qTrainTestSplit(spark, sf)
      .collect().map(_.toSeq)
    assert(got.toSeq == expect.toSeq)
  }

  test("decontaminate(Salted) keeps exactly the ids the Broadcast strategy keeps") {
    val benchmark = docs.filter(col("doc_id") % 97 === 0)
    def keptIds(s: CorpusPipeline.DecontaminateStrategy): Seq[Long] =
      CorpusPipeline(docs.filter(col("doc_id") % 97 =!= 0))
        .decontaminate(benchmark, strategy = s).df
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val broadcastKept = keptIds(CorpusPipeline.Broadcast)
    assert(keptIds(CorpusPipeline.Salted) == broadcastKept)
    assert(keptIds(CorpusPipeline.Bloom) == broadcastKept)
    assert(broadcastKept.nonEmpty)
  }

  test("redactPii scrubs known PII forms and leaves clean text untouched") {
    import spark.implicits._
    val in = Seq(
      (1L, "mail me at jo.doe+x@some-host.org today"),
      (2L, "call 555-867-5309 or 555.867.5309 now"),
      (3L, "server at 192.168.0.1 responded"),
      (4L, "nothing sensitive here at all"))
      .toDF("doc_id", "text")
    val got = CorpusPipeline(in).redactPii().df
      .orderBy(col("doc_id")).collect().map(_.getString(1))
    assert(got(0) == "mail me at <EMAIL> today")
    assert(got(1) == "call <PHONE> or <PHONE> now")
    assert(got(2) == "server at <IP> responded")
    assert(got(3) == "nothing sensitive here at all")
  }

  test("filterBoilerplate keeps exactly q_boilerplate's keep=1 ids") {
    // sf0.01: the corpus where the boilerplate signal separates (all
    // docs have >= 3 tokens there, so stage and query cover the same set)
    val d01 = Tables.documents(spark, "/root/testdata/sf0.01")
    val kept = CorpusPipeline(d01).filterBoilerplate().df
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val expect = graft.queries.TextQueries.qBoilerplate(spark, "/root/testdata/sf0.01")
      .filter(col("keep") === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == expect)
    assert(kept.nonEmpty && kept.size < d01.count())
  }

  test("filterQualityEnsemble keeps exactly q_quality_ensemble's keep set") {
    val sf = "/root/testdata/sf0.01"
    val kept = CorpusPipeline(Tables.documents(spark, sf))
      .filterQualityEnsemble().df
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val expect = graft.queries.TextQueries.qQualityEnsemble(spark, sf)
      .filter(col("keep"))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == expect)
    assert(kept.nonEmpty && kept.size < 500)
  }

  test("dedupNearIncremental drops exactly dedupNear over the gated batch-vs-index pairs") {
    // sf0.01: its batch slice provably carries near-dup pairs (the
    // q_dedup_incremental gate returns rows there)
    val sf01 = "/root/testdata/sf0.01"
    val all = Tables.documents(spark, sf01)
    val standing = all.filter(col("doc_id") % 5 =!= 4)
    val batch = all.filter(col("doc_id") % 5 === 4)
    val lake = java.nio.file.Files.createTempDirectory("pipe-inc")
      .resolve("sig").toString
    IncrementalDedupQueries.updateIndex(
      spark, IncrementalDedupQueries.signatures(standing), lake)

    val kept = CorpusPipeline(batch).dedupNearIncremental(lake).df
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq

    // expected: the gated pair computation over the (now merged) index,
    // applied through the batch-global dedupNear stage
    val pairs = IncrementalDedupQueries.pairsForBatchSigs(
        spark.read.parquet(lake),
        IncrementalDedupQueries.signatures(batch))
      .select(col("doc_a"), col("doc_b"))
    assert(pairs.count() > 0, "batch produced no near-dup pairs; test is vacuous")
    val expect = CorpusPipeline(batch).dedupNear(pairs).df
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == expect)
    assert(kept.size <= batch.count())

    graft.etl.LakeFs.deleteRecursively(spark,
      new org.apache.hadoop.fs.Path(lake).getParent)
  }

  test("removeRepeatedSpans rewrites text exactly as q_exact_substr's clean hashes") {
    val got = CorpusPipeline(docs).removeRepeatedSpans().df
      .select(col("doc_id"), md5(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = graft.queries.CorpusOpsQueries.qExactSubstr(spark, sf)
      .select(col("doc_id"), col("clean_hash"), col("n_tokens"), col("n_dup_tokens"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the stage keeps exactly the docs with a non-empty rebuild, with the
    // gated query's clean text
    val nonEmpty = expect.filter { case (_, _, n, d) => d < n }
    assert(got.keySet == nonEmpty.map(_._1).toSet)
    nonEmpty.foreach { case (id, h, _, _) => assert(got(id) == h, s"doc $id") }
  }

  test("chunks re-grains documents exactly as q_chunk_overlap") {
    val got = CorpusPipeline(docs).chunks()
      .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    val expect = graft.queries.CorpusOpsQueries.qChunkOverlap(spark, sf)
      .select(col("doc_id"), col("chunk_id"), col("chunk_hash"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("sampleByImportance matches q_importance_sample's kept ids") {
    val got = CorpusPipeline(docs)
      .sampleByImportance(col("n_chars").cast("double") / 400.0).df
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val expect = graft.queries.CorpusOpsQueries.qImportanceSample(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expect && got.nonEmpty)
  }

  test("observeCount rides the terminal action and reports true stage counts") {
    val p = CorpusPipeline(docs)
      .observeCount("before_dedup")
      .dedupExact()
      .observeCount("after_dedup")
    val out = p.df
    // the action must run THIS DataFrame's execution — count() would
    // plan a separate aggregate and leave these metrics unpopulated
    val kept = out.collect().length.toLong
    val metrics = out.queryExecution.observedMetrics
    assert(metrics("before_dedup").getLong(0) == docs.count())
    assert(metrics("after_dedup").getLong(0) == kept)
  }

  test("dedupNearSimhash on representatives keeps exactly the raw-detector set") {
    // the scale-correct composition (detect AFTER exact dedup) must keep
    // the same final ids as detecting over the raw replicated corpus —
    // identical texts share fingerprints, so the raw pair graph connects
    // exact groups completely and its component minimum is a representative
    val replicated = (0 until 5).map(k =>
        docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          col("text"), col("lang")))
      .reduce(_ unionByName _)
    val composed = CorpusPipeline(replicated).dedupExact().dedupNearSimhash().df
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rawPairs = SketchDedupQueries
      .simhashPairsOver(replicated, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
    val reference = CorpusPipeline(replicated).dedupExact().dedupNear(rawPairs).df
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(composed.nonEmpty && composed == reference,
      s"kept sets differ: only-composed=${(composed -- reference).take(5)}, " +
        s"only-raw=${(reference -- composed).take(5)}")
  }

  test("minimizerPairs survives a duplicate-saturated feed (df-cap foot-gun)") {
    // 60 identical copies of every document — past the winnowing df cap
    // (50), so the RAW fingerprint op finds nothing...
    val replicated = (0 until 60).map(k =>
        docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          col("text")))
      .reduce(_ unionByName _)
    assert(SketchDedupQueries.minimizerPairs(replicated, "doc_id", "text")
      .limit(1).count() == 0,
      "expected the raw op to zero out on a duplicate-saturated feed " +
        "(if this now finds pairs, the df cap changed — revisit the stage)")
    // ...while the pipeline stage composes exact-dedup first and must
    // report exactly the pairs winnowing finds among the representatives
    val got = CorpusPipeline(replicated).minimizerPairs()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = SketchDedupQueries.minimizerPairs(
        CorpusPipeline(docs).dedupExact().df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty, "fixture produced no winnowing pairs at all")
    assert(got == want)
  }

  test("the composed chain runs as one plan with monotone row accounting") {
    // sf0.001 is both the corpus and the benchmark dir
    val folded = graft.Fold.frame(CorpusPipeline.composedChain(spark, sf, sf))
    val chunks = folded.collect()(0).getLong(0)
    // every stage counter rides THIS fold: a counter missing here would
    // mean its stage ran in a separate execution
    val observed = folded.queryExecution.observedMetrics
    val stages = Seq("s0_input", "s1_dedup_exact", "s2_span_clean", "s3_dedup_near",
      "s4_decontaminate", "s5_filter_repetition", "s6_filter_boilerplate",
      "s7_filter_quality", "s8_sampled_split")
    assert(observed.keySet === stages.toSet)
    val rows = stages.map(observed(_).getLong(0))
    assert(rows.head === docs.count())
    assert(rows.zip(rows.tail).forall { case (a, b) => b <= a }, s"row counts $rows")
    assert(rows.last > 0 && chunks > 0)
  }

  test("dedupExact null ids: non-null canonical wins; all-null groups keep a real row") {
    // min_by skips NULL ordering keys — without the (isNull, id) struct
    // key an all-null-id group collapses to one all-null ROW and a mixed
    // group's winner is decided by ignoring its null-id member entirely
    import spark.implicits._
    val in = Seq(
      (Option(5L), "same text", "en"),
      (Option.empty[Long], "same text", "fr"),
      (Option.empty[Long], "only nulls", "de"),
      (Option.empty[Long], "only nulls", "it"))
      .toDF("doc_id", "text", "lang")
    val out = CorpusPipeline(in).dedupExact().df.collect()
    assert(out.length == 2)
    val byText = out.map(r => r.getAs[String]("text") ->
      ((if (r.isNullAt(0)) None else Some(r.getLong(0))),
        r.getAs[String]("lang"))).toMap
    assert(byText("same text") == ((Some(5L), "en")))
    val (nid, nlang) = byText("only nulls")
    assert(nid.isEmpty && Set("de", "it").contains(nlang),
      s"all-null-id group must keep one REAL row, got ($nid, $nlang)")
  }
}
