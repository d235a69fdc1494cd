package graft.sources

import java.time.LocalDate
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.etl.Model

/** DataSource V2 for the VisualCrossing timeline feed (SURVEY.md §2.1
  * S4/S5).
  *
  * `spark.read.format("visualcrossing")
  *   .option("mode","fixture").option("path",dir)
  *   .option("start","2024-09-01").option("end","2024-12-31")
  *   .option("chunkDays","15")`
  *
  * The reference chunks the full-load range into 15-day API calls
  * sequentially (ref: etl/full_load/weather_etl_history.py:54-61,129);
  * here each chunk is an InputPartition so chunks fetch in parallel. The
  * daily path (single-day pull, ref: etl/daily_load/weather_etl_daily.py:
  * 91-112) is the degenerate start==end single-partition case.
  *
  * Statistics (`SupportsReportStatistics`): the timeline returns one row
  * per day, so `numRows` is the number of days in [start, end], known at
  * planning without a request, and `sizeInBytes` is rows × the pruned
  * read schema's default row size (see [[ScanStatistics]]).
  */
class VisualCrossingTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "visualcrossing"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Model.vcDaySchema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new VcTable(properties.asScala.toMap)
}

class VcTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    s"visualcrossing(${options.getOrElse("path", options.getOrElse("url", "?"))})"
  override def schema(): StructType = Model.vcDaySchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new VcScanBuilder(options ++ caseInsensitiveOptions.asScala)
}

class VcScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = Model.vcDaySchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new VcScan(options, required)
}

class VcScan(options: Map[String, String], required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  private val start = LocalDate.parse(options("start"))
  private val end = LocalDate.parse(options("end"))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** One row per day of [start, end]: known without a request. */
  override def estimateStatistics(): Statistics = ScanStatistics(
    math.max(java.time.temporal.ChronoUnit.DAYS.between(start, end) + 1, 0L), required)

  /** One partition per date chunk (ref 15-day chunking as parallelism). */
  override def planInputPartitions(): Array[InputPartition] = {
    val chunk = options.getOrElse("chunkDays", "15").toInt.max(1)
    Iterator.iterate(start)(_.plusDays(chunk))
      .takeWhile(!_.isAfter(end))
      .map { s =>
        val e = Seq(s.plusDays(chunk - 1), end).min[LocalDate](_ compareTo _)
        VcInputPartition(s.toString, e.toString): InputPartition
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new VcReaderFactory(options, required)
}

case class VcInputPartition(start: String, end: String) extends InputPartition

class VcReaderFactory(options: Map[String, String], required: StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[VcInputPartition]
    new PartitionReader[InternalRow] {
      private lazy val rows: Iterator[JsonNode] =
        VcFetcher(options).days(p.start, p.end).iterator
      private var current: JsonNode = _

      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false

      override def get(): InternalRow = {
        val values: Array[Any] = required.fields.map { f =>
          val n = current.get(f.name)
          if (n == null || n.isNull) null
          else f.dataType match {
            case DoubleType => java.lang.Double.valueOf(n.asDouble)
            case StringType => UTF8String.fromString(n.asText)
            case dt => throw new IllegalStateException(s"unsupported type $dt")
          }
        }
        new GenericInternalRow(values)
      }

      override def close(): Unit = ()
    }
  }
}
