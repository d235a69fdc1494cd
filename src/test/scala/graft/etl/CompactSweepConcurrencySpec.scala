package graft.etl

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import graft.SparkSpec

/** compact + sweepLeftovers interleaving (VERDICT r14 item 5): the
  * sinks exclude concurrent WRITERS, but the maintenance tools are
  * documented safe to run any time — the mtime belt protects a live
  * slow write from the sweep, and a sweep racing compact's own
  * scratch-create/-remove must neither delete in-flight scratch nor
  * crash on an entry that vanished between its listing and its stat.
  * Contract sentence pinned here: "Run it when no writer is active on
  * the table ...; the age filter is a belt, not a lock"
  * (Sinks.sweepLeftovers scaladoc).
  */
class CompactSweepConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-conc").resolve("t").toString

  test("a live slow write is never swept while its leaves stay fresh") {
    val path = tmpDir()
    Seq((1, "a")).toDF("id", "v").write.parquet(path)
    val parent = new java.io.File(path).getParentFile
    val tmp = new java.io.File(parent,
      new java.io.File(path).getName + "._tmp_slowwrite")
    val leaves = new java.io.File(tmp, "_temporary/0")
    assert(leaves.mkdirs())
    // the tmp ROOT's mtime goes stale the moment the job starts — only
    // the leaf files under _temporary keep moving, which is exactly why
    // staleness must be judged by the NEWEST mtime anywhere inside
    val old = System.currentTimeMillis() - 2L * 3600 * 1000
    tmp.setLastModified(old)

    val writing = new AtomicBoolean(true)
    val writer = new Thread(() => {
      var i = 0
      while (writing.get()) {
        Files.write(leaves.toPath.resolve(s"part-$i.parquet"), Array[Byte](1))
        i += 1
        Thread.sleep(40)
      }
    })
    writer.start()
    try {
      // sweep with a short cutoff while the write is live: the newest
      // leaf is always < 400 ms old, so the entry must survive each pass
      (1 to 8).foreach { _ =>
        val del = Sinks.sweepLeftovers(spark, path, minAgeMs = 400)
        assert(del.isEmpty, s"swept a LIVE write: $del")
        Thread.sleep(40)
      }
    } finally { writing.set(false); writer.join() }

    // writer gone: once the newest leaf goes stale the orphan sweeps
    Thread.sleep(500)
    val del = Sinks.sweepLeftovers(spark, path, minAgeMs = 400)
    assert(del.size == 1 && del.head.endsWith("._tmp_slowwrite"))
    assert(!tmp.exists())
  }

  test("sweeps racing compact: content intact, in-flight scratch untouched, no crash") {
    val path = tmpDir()
    // several partitions, each over the compaction threshold
    (0 until 4).foreach { p =>
      (0 until 6).foreach { f =>
        Seq((p * 10 + f, s"p$p")).toDF("id", "part")
          .write.mode("append").partitionBy("part").parquet(path)
      }
    }
    val before = spark.read.parquet(path).as[(Int, String)].collect().toSet
    assert(before.size == 24)

    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val done = new AtomicBoolean(false)
    val compactor = new Thread(() => {
      try Sinks.compact(spark, path, partitioned = true, maxFiles = 4)
      catch { case t: Throwable => failed.set(t) }
      finally done.set(true)
    })
    compactor.start()
    try {
      // hammer the sweep while compact creates and removes its scratch:
      // with the age belt on (anything under a minute is presumed live —
      // compact's scratch lives for well under that) nothing may be
      // swept, and a dir vanishing between the sweep's listing and its
      // stat must not throw
      while (!done.get()) {
        val del = Sinks.sweepLeftovers(spark, path, minAgeMs = 60000)
        assert(del.isEmpty, s"swept compact's in-flight scratch: $del")
      }
    } finally compactor.join()
    assert(failed.get() == null, s"compact failed: ${failed.get()}")

    // content identical, partitions compacted, no scratch left behind
    assert(spark.read.parquet(path).as[(Int, String)].collect().toSet == before)
    (0 until 4).foreach { p =>
      val d = new java.io.File(path, s"part=p$p")
      val n = Option(d.listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      assert(n == 1, s"part=p$p has $n files after compact")
    }
    val scratch = Option(new java.io.File(path).getParentFile.listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.contains("._")).map(_.getName)
    assert(scratch.isEmpty, s"scratch left behind: ${scratch.toSeq}")
  }
}
