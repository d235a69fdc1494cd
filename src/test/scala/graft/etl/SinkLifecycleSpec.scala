package graft.etl

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The sink lifecycle composed on one lake directory: a dirty bulk load
  * through write-then-verify, a sweep over interrupted writes (with the
  * crash-recovery guard) and the recovery after it, daily partitioned
  * merges with a global-keys partition move, and insert-ignore appends
  * followed by `compact`. After every phase the set of directories
  * beside the tables is asserted, so a leftover tmp or a lost copy
  * fails here, where `SinksLawSpec` and `SinksRecoverySpec` pin each
  * law on its own.
  *
  * The size route is forced to bulk so the sf0.01 corpus takes the
  * bulk-load branches (write-then-verify, the keys-only duplicate
  * pre-check) that production takes past 256 MB. A dirty bulk load that
  * skipped write-then-verify's rewrite would land duplicate keys.
  */
class SinkLifecycleSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  /** Age a tree past the sweep's 1 h staleness cutoff. */
  private def ageTree(d: File): Unit = {
    val old = System.currentTimeMillis() - 2L * 3600 * 1000
    def walk(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(walk))
      f.setLastModified(old); ()
    }
    walk(d)
  }

  private def parquetFiles(d: File): Int =
    Option(d.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  test("bulk load, sweep and recovery, daily merges, appends and compact " +
    "leave exactly the tables") {
    val work = Files.createTempDirectory("sink-lifecycle").toFile
    val parentDir = new File(work, "lake")
    assert(parentDir.mkdirs())
    def dirSet(): Set[String] =
      Option(parentDir.listFiles()).getOrElse(Array.empty).map(_.getName).toSet
    def assertDirs(expect: Set[String], phase: String): Unit =
      assert(dirSet() === expect, s"[$phase] directory set")
    try SinkRouteJobsSpec.withBulkRoute {
      val docs = Tables.documents(spark, sf)
      val nDocs = docs.count()

      // ---- a DIRTY bulk first load: about 1% of ids arrive twice, the
      // copy with n_chars = -1, so write-then-verify must rewrite
      val dirty = docs.unionByName(
        docs.filter(col("doc_id") % 97 === 0).withColumn("n_chars", lit(-1L)))
      val bulk = s"$parentDir/docs_bulk"
      Sinks.upsert(spark, dirty, bulk, keys = Seq("doc_id"),
        tiebreak = Some("n_chars"), sortBy = Seq("doc_id"))
      assertDirs(Set("docs_bulk"), "bulk")
      val loaded = spark.read.parquet(bulk)
      assert(loaded.count() === nDocs)
      assert(loaded.groupBy("doc_id").count().filter(col("count") > 1).count() === 0,
        "duplicate keys after write-then-verify")
      assert(loaded.filter(col("n_chars") === -1L).count() === 0,
        "the tiebreak lost to the dirty copy")

      // ---- interrupted writes: one stale orphan tmp (sweepable), one
      // fresh tmp (a live write the sweep must not touch), and a crashed
      // whole-table swap on a second table (the aside and the replacement
      // are the only copies, so the guard keeps both)
      val staleTmp = new File(parentDir, "docs_bulk._tmp_orphan01")
      val freshTmp = new File(parentDir, "docs_bulk._tmp_live0001")
      docs.limit(100).write.parquet(staleTmp.toString)
      docs.limit(10).write.parquet(freshTmp.toString)
      ageTree(staleTmp)
      val crashed = s"$parentDir/docs_crashed"
      docs.limit(200).write.parquet(crashed)
      val crashedAside = new File(parentDir, "docs_crashed._old_crash001")
      val crashedTmp = new File(parentDir, "docs_crashed._tmp_crash001")
      assert(new File(crashed).renameTo(crashedAside))
      docs.limit(200).write.parquet(crashedTmp.toString)
      ageTree(crashedAside); ageTree(crashedTmp)

      // ---- sweep: exactly the orphan goes
      val swept = Sinks.sweepLeftovers(spark, bulk) ++ Sinks.sweepLeftovers(spark, crashed)
      assert(swept.size === 1 && swept.head.endsWith("._tmp_orphan01"), s"swept $swept")
      assertDirs(Set("docs_bulk", "docs_bulk._tmp_live0001",
        "docs_crashed._old_crash001", "docs_crashed._tmp_crash001"), "sweep")
      // operator recovery: the old copy goes back in; the next sweep
      // clears the replacement tmp
      assert(crashedAside.renameTo(new File(crashed)))
      ageTree(crashedTmp)
      assert(Sinks.sweepLeftovers(spark, crashed).size === 1)
      val fs = new Path(parentDir.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(freshTmp.toString), true)
      fs.delete(new Path(crashed), true)
      assertDirs(Set("docs_bulk"), "recovery")

      // ---- seven daily partitioned merges, then day 1's docs re-ingested
      // under day 8: the global-keys partition move leaves one row per key
      // and deletes the emptied day-1 partition
      val daily = s"$parentDir/docs_daily"
      (0 until 7).foreach { d =>
        Sinks.upsert(spark,
          docs.filter(col("doc_id") % 7 === d)
            .withColumn("ingest_date", lit(f"2024-09-0${d + 1}%d")),
          daily, keys = Seq("doc_id"), partitionBy = Seq("ingest_date"), globalKeys = true)
      }
      Sinks.upsert(spark,
        docs.filter(col("doc_id") % 7 === 0).withColumn("ingest_date", lit("2024-09-08")),
        daily, keys = Seq("doc_id"), partitionBy = Seq("ingest_date"), globalKeys = true)
      val merged = spark.read.parquet(daily)
      assert(merged.count() === nDocs)
      assert(merged.select("doc_id").distinct().count() === nDocs,
        "duplicate keys after the partition move")
      assert(!new File(daily, "ingest_date=2024-09-01").exists(),
        "the moved-out partition was not deleted")
      assertDirs(Set("docs_bulk", "docs_daily"), "daily")

      // ---- eight insert-ignore appends pile small files into ONE
      // partition; compact rewrites the pile and leaves no scratch
      val append = s"$parentDir/docs_append"
      (0 until 8).foreach { d =>
        Sinks.insertIgnore(spark,
          docs.filter(col("doc_id") % 8 === d).withColumn("month", lit("2024-09")).coalesce(1),
          append, keys = Seq("doc_id"), partitionBy = Seq("month"))
      }
      val monthDir = new File(append, "month=2024-09")
      assert(parquetFiles(monthDir) >= 8)
      Sinks.compact(spark, append, partitioned = true, maxFiles = 4)
      assert(parquetFiles(monthDir) === 1)
      assert(spark.read.parquet(append).count() === nDocs)
      assertDirs(Set("docs_bulk", "docs_daily", "docs_append"), "compact")
    } finally LakeFs.deleteRecursively(spark, new Path(work.toString))
  }
}
