package graft.etl

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the sinks' execution-consistency invariant (Sinks.scala object
  * scaladoc): the batch plan evaluates EXACTLY ONCE per sink call on
  * every path, so the duplicate pre-check's verdict always describes
  * the rows that actually ship. Before the write-then-verify shape, a
  * big FIRST write ran the pre-check and the write as two separate
  * executions of an unpersisted plan — for a non-deterministic source
  * (the reference's HTTP pulls), a stale 'clean' verdict could skip the
  * dedup window over a second execution that DID contain duplicates.
  * Counting evaluations with a single-partition mapPartitions probe
  * makes the once-only property structural: any future path that
  * re-executes the batch fails here, whatever its dedup verdict.
  */
class SinksExecOnceSpec extends SparkSpec {
  import spark.implicits._
  import SinkRouteJobsSpec.withBulkRoute

  private def tmpDir(): String =
    Files.createTempDirectory("graft-sink-once").resolve("t").toString

  /** One-partition batch whose every plan execution bumps the counter. */
  private def countingBatch(n: Int, keyMod: Int): DataFrame =
    spark.range(0, n, 1, 1).as[Long]
      .mapPartitions { it => SinksExecOnceSpec.evals.incrementAndGet(); it }
      .toDF("id")
      .select((col("id") % keyMod).cast("string").as("violation_id"),
        col("id").cast("double").as("fine_amount"),
        col("id").cast("int").as("seq"),
        lit("2024-09").as("month"))

  test("big first-write upsert evaluates the batch once (clean and dirty)") {
    withBulkRoute {
      // clean keys: verify on the written bytes, no rewrite, no re-pull
      SinksExecOnceSpec.evals.set(0)
      val p1 = tmpDir()
      Sinks.upsert(spark, countingBatch(50, keyMod = 1000), p1,
        Seq("violation_id"), tiebreak = Some("seq"))
      assert(SinksExecOnceSpec.evals.get == 1,
        s"clean first write pulled the source ${SinksExecOnceSpec.evals.get}x")
      assert(spark.read.parquet(p1).count() == 50)

      // dirty keys: the rewrite must read the WRITTEN tmp, not the source
      SinksExecOnceSpec.evals.set(0)
      val p2 = tmpDir()
      Sinks.upsert(spark, countingBatch(50, keyMod = 10), p2,
        Seq("violation_id"), tiebreak = Some("seq"))
      assert(SinksExecOnceSpec.evals.get == 1,
        s"dirty first write pulled the source ${SinksExecOnceSpec.evals.get}x")
      // keep-last by seq: each of the 10 keys keeps its highest id
      val kept = spark.read.parquet(p2).collect()
        .map(r => r.getAs[String]("violation_id") -> r.getAs[Double]("fine_amount"))
        .toMap
      assert(kept == (0 until 10).map(k => k.toString -> (40 + k).toDouble).toMap)
    }
  }

  test("big first-write insert-ignore evaluates the batch once (clean and dirty)") {
    withBulkRoute {
      SinksExecOnceSpec.evals.set(0)
      val p1 = tmpDir()
      Sinks.insertIgnore(spark, countingBatch(50, keyMod = 1000), p1,
        Seq("violation_id"), tiebreak = Some("seq"))
      assert(SinksExecOnceSpec.evals.get == 1)
      assert(spark.read.parquet(p1).count() == 50)

      SinksExecOnceSpec.evals.set(0)
      val p2 = tmpDir()
      Sinks.insertIgnore(spark, countingBatch(50, keyMod = 10), p2,
        Seq("violation_id"), tiebreak = Some("seq"))
      assert(SinksExecOnceSpec.evals.get == 1)
      // keep-FIRST by seq: each key keeps its lowest id
      val kept = spark.read.parquet(p2).collect()
        .map(r => r.getAs[String]("violation_id") -> r.getAs[Double]("fine_amount"))
        .toMap
      assert(kept == (0 until 10).map(k => k.toString -> k.toDouble).toMap)
    }
  }

  test("big MERGE paths evaluate the batch once (persist, not re-pull)") {
    withBulkRoute {
      val p = tmpDir()
      Sinks.upsert(spark, countingBatch(10, keyMod = 1000), p,
        Seq("violation_id"), tiebreak = Some("seq"))
      SinksExecOnceSpec.evals.set(0)
      Sinks.upsert(spark, countingBatch(50, keyMod = 1000), p,
        Seq("violation_id"), tiebreak = Some("seq"))
      assert(SinksExecOnceSpec.evals.get == 1,
        s"merge upsert pulled the source ${SinksExecOnceSpec.evals.get}x")

      val q = tmpDir()
      Sinks.insertIgnore(spark, countingBatch(10, keyMod = 1000), q,
        Seq("violation_id"), tiebreak = Some("seq"))
      SinksExecOnceSpec.evals.set(0)
      Sinks.insertIgnore(spark, countingBatch(50, keyMod = 1000), q,
        Seq("violation_id"), tiebreak = Some("seq"))
      assert(SinksExecOnceSpec.evals.get == 1,
        s"merge insert-ignore pulled the source ${SinksExecOnceSpec.evals.get}x")
    }
  }

  test("sinks never clobber a CALLER-held cache of the batch") {
    // Spark's cache has no refcount: the sinks' internal persist/
    // unpersist must leave a batch the caller already persisted cached
    // afterwards — dedupNearIncremental persists its signatures across
    // updateIndex AND the pair detection, and an unconditional sink
    // unpersist silently re-executed the batch source downstream
    import org.apache.spark.storage.StorageLevel
    withBulkRoute {
      // unpartitioned merge path
      val p = tmpDir()
      Sinks.upsert(spark, countingBatch(10, keyMod = 1000), p,
        Seq("violation_id"), tiebreak = Some("seq"))
      val b = countingBatch(30, keyMod = 1000).persist()
      b.count()
      Sinks.upsert(spark, b, p, Seq("violation_id"), tiebreak = Some("seq"))
      assert(b.storageLevel != StorageLevel.NONE,
        "merge upsert dropped the caller's cache")
      b.unpersist()

      // partitioned merge path (persists the batch for its probe)
      val q = tmpDir()
      Sinks.upsert(spark, countingBatch(10, keyMod = 1000), q,
        Seq("violation_id"), partitionBy = Seq("month"), tiebreak = Some("seq"))
      val b2 = countingBatch(30, keyMod = 1000).persist()
      b2.count()
      Sinks.upsert(spark, b2, q, Seq("violation_id"),
        partitionBy = Seq("month"), tiebreak = Some("seq"))
      assert(b2.storageLevel != StorageLevel.NONE,
        "partitioned upsert dropped the caller's cache")
      b2.unpersist()

      // insert-ignore merge path
      val r = tmpDir()
      Sinks.insertIgnore(spark, countingBatch(10, keyMod = 1000), r,
        Seq("violation_id"), tiebreak = Some("seq"))
      val b3 = countingBatch(30, keyMod = 1000).persist()
      b3.count()
      Sinks.insertIgnore(spark, b3, r, Seq("violation_id"), tiebreak = Some("seq"))
      assert(b3.storageLevel != StorageLevel.NONE,
        "insert-ignore dropped the caller's cache")
      b3.unpersist()
    }
  }

  test("a STAGED batch (parquet scan) merges cache-free through every path") {
    // the recommended corpus-scale pattern: land the batch to parquet,
    // sink the scan — replayableScan detects it and the merge paths skip
    // their consistency persist (deterministic files, column-pruned
    // re-scans beat materializing every column)
    withBulkRoute {
      val stage = tmpDir()
      countingBatch(50, keyMod = 1000).write.parquet(stage)
      val staged = spark.read.parquet(stage)

      val p = tmpDir()
      Sinks.upsert(spark, countingBatch(10, keyMod = 1000), p,
        Seq("violation_id"), tiebreak = Some("seq"))
      val before = spark.sparkContext.getPersistentRDDs.size
      Sinks.upsert(spark, staged, p, Seq("violation_id"), tiebreak = Some("seq"))
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        "staged merge upsert cached the batch")
      assert(spark.read.parquet(p).count() == 50)

      val q = tmpDir()
      Sinks.upsert(spark, countingBatch(10, keyMod = 1000), q,
        Seq("violation_id"), partitionBy = Seq("month"), tiebreak = Some("seq"))
      Sinks.upsert(spark, staged, q, Seq("violation_id"),
        partitionBy = Seq("month"), tiebreak = Some("seq"))
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        "staged partitioned upsert cached the batch")

      val r = tmpDir()
      Sinks.insertIgnore(spark, countingBatch(10, keyMod = 1000), r,
        Seq("violation_id"), tiebreak = Some("seq"))
      Sinks.insertIgnore(spark, staged, r, Seq("violation_id"),
        tiebreak = Some("seq"))
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        "staged insert-ignore cached the batch")
      assert(spark.read.parquet(r).count() == 50)
    }
  }

  test("small batches keep the one-action path (no extra evaluation)") {
    // default threshold: no pre-check, the window rides the single write
    SinksExecOnceSpec.evals.set(0)
    val p = tmpDir()
    Sinks.upsert(spark, countingBatch(20, keyMod = 5), p,
      Seq("violation_id"), tiebreak = Some("seq"))
    assert(SinksExecOnceSpec.evals.get == 1)
    assert(spark.read.parquet(p).count() == 5)
  }
}

object SinksExecOnceSpec {
  /** Shared across executor threads — local[*] runs in this JVM. */
  val evals = new AtomicInteger(0)
}
