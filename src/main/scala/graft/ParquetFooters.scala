package graft

import java.time.LocalDate

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Driver-side answers from a parquet table's footers, so a read that
  * only needs the schema or a column's maximum starts no Spark job.
  *
  * Spark infers a parquet schema with a job (`SchemaMergeUtils` runs
  * `parallelize(files).mapPartitions(read footers)`), even for one file,
  * and a `MAX(date)` probe is two more (partial and final aggregate under
  * AQE). Both answers sit in the footers: the schema, and min/max per
  * row group. This object lists the table with Spark's own file index
  * (`InMemoryFileIndex`: its hidden-file rule, `pathGlobFilter`,
  * partition discovery; like Spark's read, it lists a level of more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories
  * with a job) and reads the footers in parallel on the driver with
  * Spark's footer reader, its schema converter (under the session conf,
  * so `nanosAsLong` applies) and `StructType.merge`. Every call re-reads
  * the footers: nothing is cached.
  *
  * Each answer is an `Option`, and `None` means "run Spark's read": the
  * listing is empty or holds summary files (`_metadata`,
  * `_common_metadata`), a data column shares a partition column's name,
  * more than [[MaxFooters]] footers would be read, or a footer fails to
  * read or merge. The fallback is the read the caller ran before, so it
  * returns the same rows or raises the same error.
  */
object ParquetFooters {

  /** The most footers one call reads on the driver. Measured on a 4-core
    * box (`local[4]`, local disk, 200-row files, medians of 9): the
    * `mergeSchema` union took 17/24/41/125 ms on the driver against
    * Spark's 128/113/142/218 ms at 32/128/256/1024 files, and `maxDate`
    * 20/23/38/119 ms against Spark's `MAX` scan at 217/214/288/609 ms.
    * At 2048 and 4096 files the union's lead shrank to 1.27x and 1.19x,
    * while Spark's footer job, unlike the driver, scales with executors;
    * so past 1024 footers the answer is left to Spark.
    */
  private[graft] val MaxFooters = 1024

  /** A table's data files in Spark's inference order (sorted by path) and
    * the names of its partition columns, in directory order.
    */
  private case class Listing(files: Seq[FileStatus], partitionCols: Seq[String]) {
    def isPartitionCol(name: String): Boolean = partitionCols.exists(_.equalsIgnoreCase(name))
  }

  private val summaryFiles =
    Set(ParquetFileWriter.PARQUET_METADATA_FILE, ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)

  /** The files Spark's read of `path` lists (with `pathGlobFilter` when
    * `glob` is set), or None where this reader defers to Spark.
    */
  private def list(spark: SparkSession, path: String, glob: Option[String]): Option[Listing] = {
    val root = new Path(path)
    val qualified = root.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(root)
    val index = new InMemoryFileIndex(
      spark, Seq(qualified), glob.map("pathGlobFilter" -> _).toMap, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    if (files.isEmpty || files.exists(f => summaryFiles(f.getPath.getName))) None
    else Some(Listing(files, index.partitionSpec().partitionColumns.fieldNames.toSeq))
  }

  /** `f` over one call's files, in parallel on the global execution
    * context (as many threads as cores); the first failure is rethrown.
    */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
  }

  private def footer(spark: SparkSession, f: FileStatus, rowGroups: Boolean): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration),
      if (rowGroups) ParquetMetadataConverter.NO_FILTER
      else ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** `None` for any failure of `body`: the caller's Spark read reports it. */
  private def orDefer[T](body: => Option[T]): Option[T] =
    try body catch { case NonFatal(_) => None }

  /** The data schema Spark infers for a read of `path`: the first data
    * file's footer, or with `mergeSchema` the union of every footer in
    * path order. Partition columns are left to the reader, as in Spark.
    */
  def schema(
      spark: SparkSession, path: String, mergeSchema: Boolean,
      glob: Option[String] = None): Option[StructType] =
    schemaAndPartitions(spark, path, mergeSchema, glob).map(_._1)

  /** [[schema]] with the names of the partition columns the listing found. */
  private def schemaAndPartitions(
      spark: SparkSession, path: String, mergeSchema: Boolean,
      glob: Option[String]): Option[(StructType, Seq[String])] = orDefer {
    list(spark, path, glob).flatMap { l =>
      val touched = if (mergeSchema) l.files else l.files.take(1)
      if (touched.size > MaxFooters) None
      else {
        // the converter SchemaMergeUtils' footer reader builds
        val conf = Shims.sqlConf(spark)
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        val merged = parMap(touched)(f => ParquetFileFormat.readSchemaFromFooter(
            new Footer(f.getPath, footer(spark, f, rowGroups = false)), converter))
          .reduceLeft(Shims.merge(_, _, conf.caseSensitiveAnalysis))
        // a data column named like a partition column takes the partition
        // column's type in Spark's relation: leave that to Spark
        Some(merged -> l.partitionCols).filterNot(_._1.fieldNames.exists(l.isPartitionCol))
      }
    }
  }

  /** `spark.read.parquet(path)` (with `pathGlobFilter` when `glob` is set,
    * and the `mergeSchema` option when `mergeSchema` is set; unset, the
    * session's `spark.sql.parquet.mergeSchema` decides, as in Spark) that
    * declares the footer schema instead of inferring it, or the inferring
    * read when [[schema]] defers.
    *
    * With `stringPartitions`, the read also declares every partition
    * column as a string, so Spark parses its directory values without
    * type inference (SPARK-26188): `month=09` reads "09", never 9. Where
    * the footers defer, the inferring read's schema is declared again
    * with its partition columns retyped, which starts no second job.
    * The session conf is never touched, so concurrent readers on the
    * same session see no change.
    */
  def read(
      spark: SparkSession, path: String, mergeSchema: Option[Boolean] = None,
      glob: Option[String] = None, stringPartitions: Boolean = false): DataFrame = {
    val reader = glob.foldLeft(spark.read)((r, g) => r.option("pathGlobFilter", g))
    val merge = mergeSchema.getOrElse(Shims.sqlConf(spark).isParquetSchemaMergingEnabled)
    schemaAndPartitions(spark, path, merge, glob) match {
      case Some((s, parts)) =>
        val declared = if (stringPartitions) parts.map(StructField(_, StringType)) else Nil
        reader.schema(StructType(s.fields ++ declared)).parquet(path)
      case None =>
        val inferred = mergeSchema.foldLeft(reader)((r, m) => r.option("mergeSchema", m))
          .parquet(path)
        val parts = if (stringPartitions) partitionColumns(inferred).toSet else Set.empty[String]
        if (parts.isEmpty) inferred
        else reader.schema(StructType(inferred.schema.map(f =>
          if (parts(f.name)) f.copy(dataType = StringType) else f))).parquet(path)
    }
  }

  /** The partition columns of a file read's relation. */
  private def partitionColumns(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.partitionSchema.fieldNames.toSeq
    }.getOrElse(Nil)

  // the Julian/Gregorian switch day: on and after it the calendars agree,
  // so no datetime rebase mode can change a stored value
  private val GregorianStartDay = LocalDate.of(1582, 10, 15).toEpochDay

  /** MAX of the DATE column `column` from row-group statistics: `Some(None)`
    * when the table holds no non-null value, `None` when the footers cannot
    * tell — a file lacks the column or stores it as another type, a row
    * group has no statistics (or a null count that does not cover its
    * values), a value predates the Gregorian calendar, or the column is a
    * partition column.
    */
  def maxDate(spark: SparkSession, path: String, column: String): Option[Option[LocalDate]] =
    orDefer {
      list(spark, path, None)
        .filter(l => !l.isPartitionCol(column) && l.files.size <= MaxFooters)
        .flatMap { l =>
          val perFile = parMap(l.files)(f => fileMaxDay(footer(spark, f, rowGroups = true), column))
          if (perFile.contains(None)) None
          else Some(perFile.flatten.flatten.maxOption.map(LocalDate.ofEpochDay(_)))
        }
    }

  /** One file's MAX day of `column`: `Some(None)` when it holds no value. */
  private def fileMaxDay(m: ParquetMetadata, column: String): Option[Option[Long]] = {
    val schema = m.getFileMetaData.getSchema
    val isDate = schema.containsField(column) && {
      val t = schema.getType(schema.getFieldIndex(column))
      t.isPrimitive && !t.isRepetition(Repetition.REPEATED) &&
        t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT32 &&
        t.getLogicalTypeAnnotation.isInstanceOf[DateLogicalTypeAnnotation]
    }
    if (!isDate) None
    else {
      val path = ColumnPath.get(column)
      val perGroup = m.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { b =>
        b.getColumns.asScala.find(_.getPath == path).flatMap { c =>
          val s: Statistics[_] = c.getStatistics
          if (s == null || s.isEmpty) None
          else if (s.hasNonNullValue) {
            val lo = s.genericGetMin.asInstanceOf[Integer].longValue
            val hi = s.genericGetMax.asInstanceOf[Integer].longValue
            if (lo < GregorianStartDay) None else Some(Some(hi))
          } else if (s.isNumNullsSet && s.getNumNulls == c.getValueCount) Some(None)
          else None
        }
      }
      if (perGroup.contains(None)) None else Some(perGroup.flatten.flatten.maxOption)
    }
  }
}
