package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Pins [[Sinks.replayableScan]] against the RUNNING Spark version
  * (VERDICT r14 item 2): the predicate decides whether a sink may skip
  * its execution-consistency persist, so a leaf class it silently stops
  * recognizing re-enables corpus-scale persists on bulk merges. The
  * leaf matches are now typed (a rename is a compile error), and this
  * spec asserts the BEHAVIOR each match buys: V1 scans, V2 file scans,
  * and disk-backed caches replay; memory-only caches (which can evict and
  * recompute from the original source — ADVICE r14 low), the HTTP-backed
  * V2 sources, and local / shuffling / non-deterministic plans do not.
  */
class ReplayableScanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val parquetPath: String = {
    val p = Files.createTempDirectory("graft-replay").resolve("t").toString
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.parquet(p)
    p
  }

  test("V1 file scan and pure projections over it are replayable") {
    val df = spark.read.parquet(parquetPath)
    assert(Sinks.replayableScan(df))
    assert(Sinks.replayableScan(
      df.filter(col("id") > 10).select(col("id"), upper(col("v")).as("u"))))
  }

  test("V2 file scan is recognized as replayable on this Spark version") {
    val k = "spark.sql.sources.useV1SourceList"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "")
    try {
      val df = spark.read.parquet(parquetPath)
      // pin that this really exercises the V2 leaf — if Spark routed it
      // elsewhere the replayable assertion below would test nothing
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]),
        s"expected a DataSourceV2ScanRelation leaf, got: ${leaves.map(_.getClass.getSimpleName)}")
      assert(Sinks.replayableScan(df))
    } finally spark.conf.set(k, prev)
  }

  test("disk-backed cache replays; a memory-only cache does not") {
    val base = spark.read.parquet(parquetPath).filter(col("id") % 2 === 0)
    base.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val derived = base.select(col("id"))
      val leaves = derived.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.columnar.InMemoryRelation]),
        s"expected an InMemoryRelation leaf, got: ${leaves.map(_.getClass.getSimpleName)}")
      assert(Sinks.replayableScan(derived))
    } finally base.unpersist()

    // MEMORY_ONLY can evict blocks and recompute them from the original
    // source between a sink's dup pre-check and its write — the exact
    // two-execution inconsistency the consistency persist prevents
    val memOnly = spark.read.parquet(parquetPath).filter(col("id") % 2 === 1)
    memOnly.persist(StorageLevel.MEMORY_ONLY)
    try assert(!Sinks.replayableScan(memOnly.select(col("id"))))
    finally memOnly.unpersist()
  }

  test("local, shuffling, and non-deterministic plans keep the persist") {
    val df = spark.read.parquet(parquetPath)
    assert(!Sinks.replayableScan(Seq((1L, "a")).toDF("id", "v")))
    assert(!Sinks.replayableScan(df.groupBy(col("v")).count()))
    assert(!Sinks.replayableScan(df.join(df.select(col("id")), Seq("id"))))
    assert(!Sinks.replayableScan(df.select(col("id"), rand().as("r"))))
  }

  test("HTTP-backed V2 sources keep the persist: arcgis and its transform") {
    // a V2 scan relation that is NOT a file scan: every execution is a
    // fresh pull (fixture mode stands in for the HTTP backend)
    val dir = Files.createTempDirectory("graft-replay-arcgis")
    Files.write(dir.resolve("features.json"),
      ("""{"features":[{"attributes":{"OBJECTID":1,"ISSUE_DATE":1725184800000,""" +
        """"FINE_AMOUNT":"100"}}]}""").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val raw = spark.read.format("arcgis")
      .option("mode", "fixture").option("path", dir.toString).load()
    val leaves = raw.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]),
      s"expected a DataSourceV2ScanRelation leaf, got: ${leaves.map(_.getClass.getSimpleName)}")
    assert(!Sinks.replayableScan(raw))
    assert(!Sinks.replayableScan(Transforms.violationsFromArcGis(raw, useSyntheticId = true)))
  }
}
