package graft.etl

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Generator-law coverage of the sinks' key semantics — the round-13
  * lesson applied to the gated dedup and the write-then-verify
  * first-write path: fixtures and corpus pins can miss boundary key
  * patterns nobody wrote down, so both sinks are checked against an
  * in-memory model over GENERATED duplicate patterns, across the full
  * branch grid: {pre-check forced, pre-check off} × {unpartitioned,
  * partitioned} × {first write, merge} × {clean, dirty} batches (the
  * generator's key domain is small enough that all four dup shapes
  * appear across the seeds; a zero-dup batch exercises the skip branch,
  * a dup-heavy one the window fallback).
  *
  * Model: upsert = last batch wins, within a batch keep-last by
  * tiebreak; insert-ignore = first batch wins, within a batch
  * keep-first by tiebreak — the reference's ON DUPLICATE KEY UPDATE /
  * INSERT IGNORE semantics (SURVEY.md §8.3).
  */
class SinksLawSpec extends SparkSpec {
  import spark.implicits._

  private type Row4 = (String, Double, Int, String)

  /** Batches over a tiny key domain (dup collisions near-certain) with
    * a per-key STABLE partition value — partition-scoped upsert without
    * globalKeys requires it, same as the reference's month-from-id
    * layout. seq is the within-batch tiebreak (unique per row).
    */
  private val batchGen: Gen[Seq[Row4]] = for {
    n <- Gen.choose(0, 14)
    keys <- Gen.listOfN(n, Gen.oneOf(
      Gen.choose(1, 5).map(i => s"k$i"),
      Gen.const("k1"), // extra weight: dup-heavy shapes
      Gen.const("kX")))
    vals <- Gen.listOfN(n, Gen.choose(0, 1000))
  } yield keys.zip(vals).zipWithIndex.map { case ((k, v), i) =>
    (k, v.toDouble, i, if (k.hashCode % 2 == 0) "2024-09" else "2024-10")
  }

  private val seqGen: Gen[Seq[Seq[Row4]]] =
    Gen.choose(1, 3).flatMap(m => Gen.listOfN(m, batchGen))

  private def modelUpsert(batches: Seq[Seq[Row4]]): Map[String, Double] =
    batches.foldLeft(Map.empty[String, Double]) { (acc, b) =>
      acc ++ b.groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._3)._2 }
    }

  private def modelInsertIgnore(batches: Seq[Seq[Row4]]): Map[String, Double] =
    batches.foldLeft(Map.empty[String, Double]) { (acc, b) =>
      b.groupBy(_._1).map { case (k, rows) => k -> rows.minBy(_._3)._2 }
        .filterNot { case (k, _) => acc.contains(k) } ++ acc
    }

  private def run(
      batches: Seq[Seq[Row4]],
      partitioned: Boolean,
      op: (org.apache.spark.sql.DataFrame, String, Seq[String]) => Unit)
      : Map[String, Double] = {
    val path = Files.createTempDirectory("graft-sink-law").resolve("t").toString
    val pby = if (partitioned) Seq("month") else Nil
    batches.foreach { b =>
      op(b.toDF("violation_id", "fine_amount", "seq", "month"), path, pby)
    }
    if (!LakeFs.nonEmptyDataDir(spark, path)) Map.empty
    else spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("violation_id") -> r.getAs[Double]("fine_amount"))
      .toMap
  }

  private def checkGrid(seedBase: Long, runs: Int): Unit =
    (0 until runs).foreach { i =>
      val batches = seqGen.pureApply(
        Gen.Parameters.default.withSize(20), Seed(seedBase + i))
      for (partitioned <- Seq(false, true)) {
        val up = run(batches, partitioned, (df, p, pby) =>
          Sinks.upsert(spark, df, p, Seq("violation_id"),
            partitionBy = pby, tiebreak = Some("seq")))
        assert(up == modelUpsert(batches),
          s"upsert seed=${seedBase + i} partitioned=$partitioned: " +
            s"$up != ${modelUpsert(batches)}")
        val ii = run(batches, partitioned, (df, p, pby) =>
          Sinks.insertIgnore(spark, df, p, Seq("violation_id"),
            partitionBy = pby, tiebreak = Some("seq")))
        assert(ii == modelInsertIgnore(batches),
          s"insertIgnore seed=${seedBase + i} partitioned=$partitioned: " +
            s"$ii != ${modelInsertIgnore(batches)}")
      }
    }

  test("generated key patterns match the model (pre-check off: default gate)") {
    checkGrid(seedBase = 0x51A0L, runs = 6)
  }

  test("generated key patterns match the model (pre-check FORCED: " +
    "write-then-verify first writes, persisted-check merges)") {
    SinkRouteJobsSpec.withBulkRoute(checkGrid(seedBase = 0x51B0L, runs = 6))
  }

  // ---- degenerate batches through every route ----

  private type NullableRow = (String, Option[Double], Option[Int], Option[String])

  test("degenerate batches (empty, one row, all-null non-key columns) through " +
    "every route match the model and leave a readable lake") {
    val base: Seq[NullableRow] = Seq(("k1", Some(1.0), Some(0), Some("2024-09")),
      ("k2", Some(2.0), Some(1), Some("2024-10")), ("k3", Some(3.0), Some(2), Some("2024-09")))
    val degenerate: Map[String, Seq[NullableRow]] = Map(
      "empty" -> Nil,
      "one row" -> Seq(("k2", Some(20.0), Some(5), Some("2024-10"))),
      "all-null non-key columns" -> Seq(("k2", None, None, None), ("k4", None, None, None)))
    type Lake = Map[String, (Option[Double], Option[String])]
    def model(batches: Seq[Seq[NullableRow]], lastWins: Boolean): Lake =
      batches.foldLeft(Map.empty: Lake) { (acc, b) =>
        val rows = b.map(r => r._1 -> ((r._2, r._4))).toMap
        if (lastWins) acc ++ rows else rows ++ acc
      }
    def lake(path: String): Lake =
      if (!LakeFs.nonEmptyDataDir(spark, path)) Map.empty
      else spark.read.parquet(path).collect().map { r =>
        r.getAs[String]("violation_id") ->
          ((Option(r.getAs[java.lang.Double]("fine_amount")).map(_.doubleValue),
            Option(r.getAs[String]("month"))))
      }.toMap
    def routes(): Unit =
      for {
        (shape, b) <- degenerate
        onLake <- Seq(false, true)
        partitioned <- Seq(false, true)
        upsert <- Seq(true, false)
      } {
        val path = Files.createTempDirectory("graft-sink-degenerate").resolve("t").toString
        val pby = if (partitioned) Seq("month") else Nil
        val batches = if (onLake) Seq(base, b) else Seq(b)
        batches.foreach { rows =>
          val df = rows.toDF("violation_id", "fine_amount", "seq", "month")
          if (upsert) Sinks.upsert(spark, df, path, Seq("violation_id"),
            partitionBy = pby, tiebreak = Some("seq"))
          else Sinks.insertIgnore(spark, df, path, Seq("violation_id"),
            partitionBy = pby, tiebreak = Some("seq"))
        }
        val want = model(batches, lastWins = upsert)
        assert(lake(path) == want, s"$shape onLake=$onLake partitioned=$partitioned " +
          s"upsert=$upsert")
      }
    routes()
    SinkRouteJobsSpec.withBulkRoute(routes())
  }

  // ---- globalKeys: keys MOVE partitions (the directory-swap surface) ----

  /** Batches where month is NOT key-stable: any key may reappear under a
    * different (possibly null) month, so the partition-scoped merge must
    * find and drop the stale copy (globalKeys) and delete partitions the
    * moves emptied. Fixtures pin four handwritten shapes; this generates
    * the move patterns nobody wrote down.
    */
  private val movingBatchGen: Gen[Seq[(String, Double, Int, Option[String])]] =
    for {
      n <- Gen.choose(1, 10)
      keys <- Gen.listOfN(n, Gen.choose(1, 4).map(i => s"k$i"))
      months <- Gen.listOfN(n, Gen.frequency(
        4 -> Gen.oneOf("2024-08", "2024-09", "2024-10").map(Option(_)),
        1 -> Gen.const(Option.empty[String])))
      vals <- Gen.listOfN(n, Gen.choose(0, 1000))
    } yield keys.lazyZip(months).lazyZip(vals).toList.zipWithIndex.map {
      case ((k, m, v), i) => (k, v.toDouble, i, m)
    }

  test("globalKeys upsert: generated partition moves keep one copy per key " +
    "and no zombie partitions") {
    (0 until 6).foreach { i =>
      val batches = Gen.choose(2, 3).flatMap(m => Gen.listOfN(m, movingBatchGen))
        .pureApply(Gen.Parameters.default.withSize(20), Seed(0x61C0L + i))
      val path = Files.createTempDirectory("graft-sink-gk").resolve("t").toString
      batches.foreach { b =>
        val df = b.map { case (k, v, s, m) => (k, v, s, m.orNull) }
          .toDF("violation_id", "fine_amount", "seq", "month")
        Sinks.upsert(spark, df, path, Seq("violation_id"),
          partitionBy = Seq("month"), tiebreak = Some("seq"), globalKeys = true)
      }
      // model: last batch wins per key (within batch keep-last by seq),
      // carrying its month — a moved key has exactly ONE copy, in the
      // partition of its final month
      val model = batches.foldLeft(
          Map.empty[String, (Double, Option[String])]) { (acc, b) =>
        acc ++ b.groupBy(_._1).map { case (k, rows) =>
          val w = rows.maxBy(_._3); k -> (w._2, w._4)
        }
      }
      val got = spark.read.parquet(path).collect()
        .map(r => r.getAs[String]("violation_id") ->
          ((r.getAs[Double]("fine_amount"),
            Option(r.getAs[String]("month"))))).toMap
      assert(got == model, s"seed=${0x61C0L + i}: $got != $model")
      // exactly one row per key (the moved key's stale copy is gone)
      assert(spark.read.parquet(path).count() == model.size.toLong)
      // no zombie partition dirs: every month directory on disk holds a
      // surviving row
      val liveMonths = model.values.map {
        case (_, Some(m)) => s"month=$m"
        case (_, None) => "month=__HIVE_DEFAULT_PARTITION__"
      }.toSet
      val dirs = new java.io.File(path).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(dirs == liveMonths, s"seed=${0x61C0L + i}: dirs $dirs != $liveMonths")
    }
  }

  // ---- compaction: content-preserving under generated append patterns ----

  test("compact preserves content exactly and enforces the file policy " +
    "for generated append sequences") {
    (0 until 4).foreach { i =>
      val batches = Gen.choose(3, 8).flatMap(m => Gen.listOfN(m, batchGen))
        .pureApply(Gen.Parameters.default.withSize(20), Seed(0x71D0L + i))
      val path = Files.createTempDirectory("graft-compact-law").resolve("t").toString
      batches.zipWithIndex.foreach { case (b, bi) =>
        // disambiguate keys per batch so every append lands rows (an
        // all-duplicate append writes no file and the file-count
        // pressure this law needs never builds)
        val rows = b.map { case (k, v, s, m) => (s"$k-$bi", v, s, m) }
        Sinks.insertIgnore(spark, rows.toDF("violation_id", "fine_amount", "seq", "month"),
          path, Seq("violation_id"), partitionBy = Seq("month"), tiebreak = Some("seq"))
      }
      if (LakeFs.nonEmptyDataDir(spark, path)) {
        val before = spark.read.parquet(path).collect()
          .map(r => (r.getAs[String]("violation_id"), r.getAs[Double]("fine_amount"),
            r.getAs[String]("month"))).toSet
        Sinks.compact(spark, path, partitioned = true, maxFiles = 2)
        val after = spark.read.parquet(path).collect()
          .map(r => (r.getAs[String]("violation_id"), r.getAs[Double]("fine_amount"),
            r.getAs[String]("month"))).toSet
        assert(after == before, s"seed=${0x71D0L + i}: content changed")
        // every partition dir now holds at most max(2, target) files,
        // and no tmp/aside leftovers exist anywhere near the table
        val root = new java.io.File(path)
        root.listFiles().filter(_.isDirectory).foreach { d =>
          val n = d.listFiles().count(f => f.getName.endsWith(".parquet"))
          assert(n <= 2, s"seed=${0x71D0L + i}: ${d.getName} has $n files")
        }
        val strays = root.getParentFile.listFiles().map(_.getName)
          .filter(n => n.contains("._compact_") || n.contains("._old_"))
        assert(strays.isEmpty, s"seed=${0x71D0L + i}: strays $strays")
      }
    }
  }
}
