package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.documents
import graft.ops.MinHashLsh

/** Incremental near-dedup against a persisted signature index must lose
  * nothing versus whole-corpus recompute: after each daily batch lands,
  * the batch-vs-index pair set equals the whole-corpus MinHash+LSH pair
  * set (over everything ingested so far) restricted to batch-touching
  * pairs — chained across two days on ONE lake table, plus idempotent
  * replay of a day.
  */
class IncrementalDedupSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def pairSet(df: DataFrame): Set[(Long, Long, Double, Double)] =
    df.select("doc_a", "doc_b", "minhash_est", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet

  test("two chained daily batches match whole-corpus pairs restricted to each batch") {
    val docs = documents(spark, sf)
    val lake = java.nio.file.Files.createTempDirectory("inc-dedup")
      .resolve("sig").toString
    val day1 = col("doc_id") % 5 === 3
    val day2 = col("doc_id") % 5 === 4
    val standing = col("doc_id") % 5 <= 2

    // day 0: the standing corpus is indexed once
    IncrementalDedupQueries.updateIndex(
      spark, IncrementalDedupQueries.signatures(docs.filter(standing)), lake)

    // day 1 lands: fingerprint the batch alone, merge, dedup vs the index
    val sigs1 = IncrementalDedupQueries.signatures(docs.filter(day1))
    IncrementalDedupQueries.updateIndex(spark, sigs1, lake)
    val got1 = pairSet(IncrementalDedupQueries.pairsForBatchSigs(
      spark.read.parquet(lake), sigs1))
    val want1 = pairSet(
      SketchDedupQueries.minhashPairs(docs.filter(standing || day1))
        .filter(col("doc_a") % 5 === 3 || col("doc_b") % 5 === 3))
    assert(got1 == want1, s"day-1 mismatch: got ${got1.size}, want ${want1.size}")

    // day 2 lands on the SAME index
    val sigs2 = IncrementalDedupQueries.signatures(docs.filter(day2))
    IncrementalDedupQueries.updateIndex(spark, sigs2, lake)
    val got2 = pairSet(IncrementalDedupQueries.pairsForBatchSigs(
      spark.read.parquet(lake), sigs2))
    val want2 = pairSet(
      SketchDedupQueries.minhashPairs(docs)
        .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4))
    assert(got2 == want2, s"day-2 mismatch: got ${got2.size}, want ${want2.size}")
    assert((got1 ++ got2).nonEmpty, "test data produced no batch-touching pairs")

    // idempotent replay (ST5): re-ingesting day 2 changes nothing
    IncrementalDedupQueries.updateIndex(spark, sigs2, lake)
    val replay = pairSet(IncrementalDedupQueries.pairsForBatchSigs(
      spark.read.parquet(lake), sigs2))
    assert(replay == got2)

    // the index holds exactly one signature row per ingested document
    val expectedDocs = docs.filter(standing || day1 || day2)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    assert(spark.read.parquet(lake).count() == expectedDocs)

    graft.etl.LakeFs.deleteRecursively(spark,
      new org.apache.hadoop.fs.Path(lake).getParent)
  }

  test("date-partitioned index: daily merge touches one partition, re-ingest moves the row") {
    val docs = documents(spark, sf)
    val lake = java.nio.file.Files.createTempDirectory("inc-dedup-part")
      .resolve("sig").toString
    val day1Docs = docs.filter(col("doc_id") % 5 <= 3)
    val day2Docs = docs.filter(col("doc_id") % 5 === 4)
    IncrementalDedupQueries.updateIndex(
      spark, IncrementalDedupQueries.signatures(day1Docs), lake,
      ingestDate = Some("2026-08-11"))
    // day 2 re-ingests one day-1 doc (a correction) alongside its batch
    val reingested = docs.filter(col("doc_id") === 0)
    val day2Sigs = IncrementalDedupQueries.signatures(day2Docs.union(reingested))
    IncrementalDedupQueries.updateIndex(
      spark, day2Sigs, lake, ingestDate = Some("2026-08-12"))

    val index = spark.read.parquet(lake)
    // one-row-per-doc survives re-ingestion; the corrected row moved to day 2
    val expectedDocs = docs.filter(col("doc_id") % 5 <= 4)
      .filter(size(split(trim(col("text")), "\\s+")) >= 3).count()
    assert(index.count() == expectedDocs)
    assert(index.groupBy(col("doc_id")).count().filter(col("count") > 1).count() == 0)
    assert(index.filter(col("doc_id") === 0)
      .select(col("ingest_date").cast("string")).collect()
      .map(_.getString(0)).toSeq == Seq("2026-08-12"))

    // the extra partition column changes nothing about pair detection
    val got = pairSet(IncrementalDedupQueries.pairsForBatchSigs(
      index, IncrementalDedupQueries.signatures(day2Docs)))
    val want = pairSet(
      SketchDedupQueries.minhashPairs(docs)
        .filter(col("doc_a") % 5 === 4 || col("doc_b") % 5 === 4))
    assert(got == want)

    graft.etl.LakeFs.deleteRecursively(spark,
      new org.apache.hadoop.fs.Path(lake).getParent)
  }

  test("operational edge days: empty batch and no-duplicate batch") {
    // every real ingest loop eventually sees a day with nothing to load
    // (the reference's gap semantics) and a day whose docs are all new
    // content — neither may error or emit phantom pairs
    val docs = documents(spark, sf)
    val lake = java.nio.file.Files.createTempDirectory("inc-dedup-edge")
      .resolve("sig").toString
    IncrementalDedupQueries.updateIndex(
      spark, IncrementalDedupQueries.signatures(docs.filter(col("doc_id") % 5 =!= 4)),
      lake, ingestDate = Some("2026-08-11"))

    // empty day: zero signature rows through upsert and pairing
    val emptySigs = IncrementalDedupQueries.signatures(docs.filter(lit(false)))
    IncrementalDedupQueries.updateIndex(
      spark, emptySigs, lake, ingestDate = Some("2026-08-12"))
    val index1 = spark.read.parquet(lake)
    assert(IncrementalDedupQueries.pairsForBatchSigs(index1, emptySigs).count() == 0)

    // a batch of genuinely new content (synthetic text no corpus doc
    // shares a shingle with): lands in the index, pairs with nothing
    import spark.implicits._
    val novel = Seq((900000001L, "zzq wwx vvy uut rrs qqp oon mml"))
      .toDF("doc_id", "text")
    val novelSigs = IncrementalDedupQueries.signatures(novel)
    IncrementalDedupQueries.updateIndex(
      spark, novelSigs, lake, ingestDate = Some("2026-08-13"))
    val index2 = spark.read.parquet(lake)
    assert(index2.filter(col("doc_id") === 900000001L).count() == 1)
    assert(IncrementalDedupQueries.pairsForBatchSigs(index2, novelSigs).count() == 0)

    graft.etl.LakeFs.deleteRecursively(spark,
      new org.apache.hadoop.fs.Path(lake).getParent)
  }

  test("batch signatures equal the whole-corpus signature arithmetic") {
    // the in-row (map-only) signature path must reproduce the exploded
    // aggregate path bit-for-bit — same permutations, same md5 prefix mod
    val docs = documents(spark, sf).filter(col("doc_id") < 100)
    val viaIndex = IncrementalDedupQueries.signatures(docs)
      .select("doc_id", "m").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val spark2 = spark
    import spark2.implicits._
    val viaAgg = {
      val base = docs
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(0, size(tk)-3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))")))
          .as("shingle"))
        .withColumn("xm",
          expr("cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint) % 1000000007"))
      val minVec = udaf(new graft.functions.MinPermVec(
        MinHashLsh.as.toArray, MinHashLsh.bs.toArray, MinHashLsh.P))
      base.groupBy(col("doc_id")).agg(minVec(col("xm")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    }
    assert(viaIndex.nonEmpty && viaIndex == viaAgg)
  }
}
