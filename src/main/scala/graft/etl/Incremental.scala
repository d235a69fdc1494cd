package graft.etl

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

/** Watermark-driven incremental ingestion (SURVEY.md §2.9 ST1–ST5).
  *
  * The reference's daily Lambda loop: probe MAX(key-date) in the sink,
  * load [max+1 day, yesterday] one day at a time, isolate per-day
  * failures (ref: etl/daily_load/violation_etl_daily.py:120-146, 332-351).
  */
object Incremental {

  /** The [start, end] load range:
    *  - empty sink → cold-start date (ST3;
    *    ref: violation_etl_daily.py:132-133, weather_etl_daily.py:69-70)
    *  - end = today - 1 day: completeness lag (ST2; ref: :139-141)
    *  - start > end → None: nothing to do, early exit (ref: :143-146)
    */
  def range(
      maxInSink: Option[LocalDate],
      coldStart: LocalDate,
      today: LocalDate): Option[(LocalDate, LocalDate)] = {
    val start = maxInSink.map(_.plusDays(1)).getOrElse(coldStart)
    val end = today.minusDays(1)
    if (start.isAfter(end)) None else Some((start, end))
  }

  /** Watermark probe on a lake table: MAX(dateCol) (ST1; the reference's
    * `SELECT MAX(violation_date)`, ref: violation_etl_daily.py:125-126).
    *
    * In MySQL that is an index lookup; here it is the row-group statistics
    * in the parquet footers, read on the driver with no Spark job
    * ([[graft.ParquetFooters.maxDate]]). When the footers cannot tell (a
    * file without the column or with another type, a row group without
    * statistics, more files than the reader's cutoff
    * ([[graft.ParquetFooters.MaxFooters]]), summary files) it falls back
    * to the aggregate scan, which gives the same answer or the same error.
    */
  def watermark(spark: SparkSession, path: String, dateCol: String): Option[LocalDate] = {
    // missing, empty, or containing only write leftovers (_temporary /
    // _SUCCESS) — all read as an empty sink, not a crash
    if (!LakeFs.nonEmptyDataDir(spark, path)) None
    else graft.ParquetFooters.maxDate(spark, path, dateCol).getOrElse(
      readDates(spark, path, dateCol)
        .agg(max(col(dateCol)).as("wm"))
        .collect()(0).getAs[Date]("wm") match {
          case null => None
          case d => Some(d.toLocalDate)
        })
  }

  /** The lake's date column, read with its declared type: a schema-less
    * read would first run a footer-inference job just to learn that the
    * column is a date.
    */
  private def readDates(spark: SparkSession, path: String, dateCol: String): DataFrame =
    spark.read.schema(StructType(Seq(StructField(dateCol, DateType)))).parquet(path)
      .select(col(dateCol))

  /** Result of one incremental run. */
  case class RunReport(
      loaded: Seq[LocalDate],
      failed: Seq[(LocalDate, String)],
      skipped: Boolean)

  /** Dates in [coldStart, watermark] absent from the sink — the gaps that
    * per-day failure isolation leaves behind once a later day succeeded.
    * Stateless by design: derived from the sink itself, not a ledger that
    * a crashed run could lose. One distinct scan of the date column (on a
    * date-partitioned lake the values come from the partition listing);
    * the result is bounded by the calendar span, not the data volume.
    */
  def gaps(
      spark: SparkSession,
      path: String,
      dateCol: String,
      coldStart: LocalDate): Seq[LocalDate] =
    gapsBelow(spark, path, dateCol, coldStart, watermark(spark, path, dateCol))

  private def gapsBelow(
      spark: SparkSession,
      path: String,
      dateCol: String,
      coldStart: LocalDate,
      wm: Option[LocalDate]): Seq[LocalDate] = wm match {
    case None => Nil
    case Some(hi) =>
      val present = readDates(spark, path, dateCol).distinct()
        .collect().flatMap(r => Option(r.getAs[Date](0)).map(_.toLocalDate))
        .toSet
      Iterator.iterate(coldStart)(_.plusDays(1))
        .takeWhile(!_.isAfter(hi)).filterNot(present).toSeq
  }

  /** Runs one incremental load: fetch each day's batch, write it through
    * `sink`, isolate failures per day (ST4). The reference's faithful
    * default never backfills a failed day once a later day succeeded
    * (SURVEY.md §8.4) — that gap behavior is what per-day isolation +
    * a MAX-date watermark produces naturally. With
    * `backfillGaps = true`, each run first retries the dates missing
    * below the watermark (detected via [[gaps]]), then proceeds with the
    * normal [watermark+1, yesterday] range; a day that keeps failing is
    * re-reported and retried on the next run, never silently dropped.
    */
  def run(
      spark: SparkSession,
      sinkPath: String,
      dateCol: String,
      coldStart: LocalDate,
      today: LocalDate,
      fetchDay: LocalDate => DataFrame,
      sink: (DataFrame, LocalDate) => Unit,
      backfillGaps: Boolean = false): RunReport = {
    val wm = watermark(spark, sinkPath, dateCol)
    val gapDays =
      if (backfillGaps) gapsBelow(spark, sinkPath, dateCol, coldStart, wm) else Nil
    val rangeDays = range(wm, coldStart, today) match {
      case None => Nil
      case Some((start, end)) =>
        Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end)).toSeq
    }
    val days = gapDays ++ rangeDays
    if (days.isEmpty) RunReport(Nil, Nil, skipped = true)
    else {
      val results = days.map { d =>
        try {
          sink(fetchDay(d), d)
          Right(d)
        } catch {
          case e: Exception => Left(d -> e.getMessage)
        }
      }
      RunReport(
        results.collect { case Right(d) => d },
        results.collect { case Left(f) => f },
        skipped = false)
    }
  }
}
