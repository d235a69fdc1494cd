package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.Date
import java.time.LocalDate

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

import graft.etl.{Incremental, Sinks}

/** The driver-side footer reader ([[ParquetFooters]]) against Spark's own
  * inferring reads and aggregate scans: the same schemas (field order,
  * types, nullability), the same watermark, no Spark job where the
  * footers answer, and Spark's read — same rows or same error — where
  * they do not.
  */
class ParquetFootersSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(): String =
    Files.createTempDirectory("graft-footers").resolve("t").toString

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  /** The footer read of `path` declares exactly the schema Spark infers,
    * with no job, and reads the same rows.
    */
  private def assertAsInferred(path: String, mergeSchema: Boolean = false): Unit = {
    assert(ParquetFooters.schema(spark, path, mergeSchema).isDefined, path)
    val (viaFooters, jobs) = jobsOf(ParquetFooters.read(spark, path, Some(mergeSchema)))
    val inferred = spark.read.option("mergeSchema", mergeSchema.toString).parquet(path)
    assert(viaFooters.schema == inferred.schema, path)
    assert(jobs == 0, path)
    assert(viaFooters.collect().map(_.toString).sorted.sameElements(
      inferred.collect().map(_.toString).sorted), path)
  }

  /** The scan the watermark ran before footers answered it. */
  private def scanMax(path: String, c: String): Option[LocalDate] =
    Option(spark.read.schema(StructType(Seq(StructField(c, DateType)))).parquet(path)
      .agg(max(col(c))).collect()(0).getAs[Date](0)).map(_.toLocalDate)

  /** The watermark of `path` and the Spark jobs it ran. */
  private def watermark(path: String): (Option[LocalDate], Int) =
    jobsOf(Incremental.watermark(spark, path, "violation_date"))

  private def dated(rows: (Int, String)*): DataFrame =
    rows.map { case (id, d) => (id, Option(d).map(Date.valueOf)) }
      .toDF("id", "violation_date")

  private def append(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("append").parquet(path)

  private def dataFiles(path: String): Seq[File] =
    new File(path).listFiles().toSeq.filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** One parquet file written by parquet-mr itself, for layouts Spark's
    * writer does not produce (TIMESTAMP(NANOS), no column statistics).
    */
  private def writeRaw(file: String, schema: String, stats: Boolean)(
      rows: Seq[Seq[(String, Long)]]): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(t)
      .withStatisticsEnabled(stats).build()
    val groups = new SimpleGroupFactory(t)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach { case (k, v) =>
        if (t.getType(t.getFieldIndex(k)).asPrimitiveType.getPrimitiveTypeName ==
            PrimitiveTypeName.INT32) g.append(k, v.toInt)
        else g.append(k, v)
      }
      w.write(g)
    } finally w.close()
  }

  test("footer schemas equal spark.read.parquet for every sf0.001 table, with no job") {
    Seq("false", "true").foreach { nanos =>
      withConf(NanosAsLong, nanos) {
        Tables.names.foreach(t => assertAsInferred(s"$sf/$t.parquet"))
      }
    }
  }

  test("a TIMESTAMP(NANOS) column: Spark's long under nanosAsLong, Spark's error without it") {
    val dir = Files.createTempDirectory("graft-footers-nanos").toString
    val file = s"$dir/events.parquet"
    val nanos = Seq(1725185106123456789L, 1725185107000000001L)
    writeRaw(file, "message events { required int64 event_id; " +
      "required int64 ts (TIMESTAMP(NANOS,true)); }", stats = true)(
      nanos.zipWithIndex.map { case (ts, i) => Seq("event_id" -> i.toLong, "ts" -> ts) })
    withConf(NanosAsLong, "true") {
      assertAsInferred(file)
      assert(Tables.eventsNanos(spark, dir).select("ts").as[Long].collect().sorted.toSeq == nanos)
    }
    withConf(NanosAsLong, "false") {
      assert(ParquetFooters.schema(spark, file, mergeSchema = false).isEmpty)
      val viaFooters = Try(ParquetFooters.read(spark, file).schema)
      val inferred = Try(spark.read.parquet(file).schema)
      assert(viaFooters.isFailure && inferred.isFailure)
      assert(viaFooters.failed.get.getMessage == inferred.failed.get.getMessage)
    }
  }

  test("a ProbeCorpus directory table: one footer, or all 64 for the union") {
    val out = Files.createTempDirectory("graft-footers-corpus").toString
    ProbeCorpus.build(spark, sf, out, copies = 2, onlyTables = Some(Set("documents")))
    val docs = s"$out/documents.parquet"
    assert(ProbeCorpus.partFileCount(new File(docs)) == 64)
    assertAsInferred(docs)
    assertAsInferred(docs, mergeSchema = true)
  }

  test("the mergeSchema union equals Spark's on evolved lakes, partitioned and not") {
    // insert-ignore appends, a later file adding a column
    val appended = tmp()
    Sinks.insertIgnore(spark, Seq(("a", 1.0)).toDF("violation_id", "fine_amount"),
      appended, Seq("violation_id"))
    Sinks.insertIgnore(spark,
      Seq(("b", 2.0, "note-b")).toDF("violation_id", "fine_amount", "note"),
      appended, Seq("violation_id"))
    // a partitioned upsert whose second partition carries a new column
    val partitioned = tmp()
    Sinks.upsert(spark, Seq(("1", "x", "1"), ("2", "y", "1")).toDF("id", "a", "p"),
      partitioned, Seq("id"), partitionBy = Seq("p"))
    Sinks.upsert(spark, Seq(("3", "z", 7.5, "2")).toDF("id", "a", "b", "p"),
      partitioned, Seq("id"), partitionBy = Seq("p"))
    // a month-partitioned append lake: the later month adds a column
    // that sorts before the existing ones
    val months = tmp()
    Seq(("v1", "2024-09")).toDF("violation_id", "month")
      .write.partitionBy("month").parquet(months)
    Seq(("v2", 3, "2024-10")).toDF("violation_id", "agency", "month")
      .select(col("agency"), col("violation_id"), col("month"))
      .write.mode("append").partitionBy("month").parquet(months)
    Seq(appended, partitioned, months).foreach { p =>
      assertAsInferred(p, mergeSchema = true)
      assertAsInferred(p)
    }
    // with no option the session's spark.sql.parquet.mergeSchema decides
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val (viaFooters, jobs) = jobsOf(ParquetFooters.read(spark, months))
      assert(viaFooters.schema == spark.read.parquet(months).schema && jobs == 0)
      assert(viaFooters.columns.toSeq == Seq("violation_id", "agency", "month"))
    }
    assert(spark.read.option("mergeSchema", "true").parquet(months).columns.toSeq ==
      Seq("violation_id", "agency", "month"))
  }

  test("the footer watermark equals the scan: empty file, all-null file, write leftovers") {
    val lake = tmp()
    append(dated(1 -> "2024-09-03", 2 -> "2024-09-01"), lake)
    append(dated(), lake)
    append(dated(3 -> null), lake)
    assert(dataFiles(lake).size == 3)
    // a later date hidden in every kind of leftover Spark skips
    val lateDir = tmp()
    append(dated(9 -> "2030-01-01"), lateDir)
    val late = dataFiles(lateDir).head.toPath
    val temp = Paths.get(lake, "_temporary", "0", "task_0")
    Files.createDirectories(temp)
    Files.copy(late, temp.resolve("part-00000-late.parquet"))
    Files.copy(late, Paths.get(lake, ".part-00000-late.parquet"))
    Files.copy(late, Paths.get(lake, "part-00001-late.parquet._COPYING_"))
    // and the ones every Spark write leaves
    assert(new File(lake, "_SUCCESS").exists && new File(lake).list().exists(_.endsWith(".crc")))
    val (wm, jobs) = watermark(lake)
    assert(wm.contains(LocalDate.parse("2024-09-03")))
    assert(wm == scanMax(lake, "violation_date"))
    assert(jobs == 0)
    // only an empty file and an all-null one: no watermark, still no job
    val noDates = tmp()
    append(dated(), noDates)
    append(dated(3 -> null), noDates)
    assert(watermark(noDates) == ((None, 0)))
    assert(scanMax(noDates, "violation_date").isEmpty)
  }

  test("the footer watermark on a month-partitioned lake reads no rows") {
    val lake = tmp()
    Seq(("a", "2024-09-30", "2024-09"), ("b", "2024-10-02", "2024-10"))
      .toDF("violation_id", "d", "month")
      .select(col("violation_id"), col("d").cast("date").as("violation_date"), col("month"))
      .write.partitionBy("month").parquet(lake)
    val (wm, jobs) = watermark(lake)
    assert(wm.contains(LocalDate.parse("2024-10-02")) && jobs == 0)
    assert(wm == scanMax(lake, "violation_date"))
  }

  test("where the footers cannot tell, the watermark scans: same answer, at least one job") {
    // a file without the column
    val missing = tmp()
    append(dated(1 -> "2024-09-03"), missing)
    append(Seq(2).toDF("id"), missing)
    // more files than the footer reader reads on the driver
    val many = tmp()
    new File(many).mkdirs()
    (0 to ParquetFooters.MaxFooters).foreach(i =>
      writeRaw(f"$many/part-$i%05d.parquet",
        "message t { required int32 id; optional int32 violation_date (DATE); }",
        stats = true)(Seq(Seq("id" -> i.toLong, "violation_date" -> (19997L + i % 28)))))
    assert(dataFiles(many).size > ParquetFooters.MaxFooters)
    // a row group without statistics
    val noStats = tmp()
    new File(noStats).mkdirs()
    writeRaw(s"$noStats/part-00000.parquet",
      "message t { required int32 id; optional int32 violation_date (DATE); }",
      stats = false)(Seq(Seq("id" -> 1L, "violation_date" -> 19970L)))
    // the date is the partition column
    val byDate = tmp()
    dated(1 -> "2024-09-03", 2 -> "2024-09-05").write.partitionBy("violation_date").parquet(byDate)
    Seq(missing, many, noStats, byDate).foreach { p =>
      val (wm, jobs) = watermark(p)
      assert(wm.isDefined, p)
      assert(wm == scanMax(p, "violation_date"), p)
      assert(jobs >= 1, p)
    }
  }

  test("a string-typed date column: the same result or the same error as the scan") {
    val lake = tmp()
    Seq((1, "2024-09-03")).toDF("id", "violation_date").write.parquet(lake)
    val viaFooters = Try(Incremental.watermark(spark, lake, "violation_date"))
    val scanned = Try(scanMax(lake, "violation_date"))
    assert(viaFooters.isSuccess == scanned.isSuccess)
    if (scanned.isSuccess) assert(viaFooters == scanned)
    else assert(viaFooters.failed.get.getClass == scanned.failed.get.getClass)
  }
}
