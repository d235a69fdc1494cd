package graft.sources

import java.util.OptionalLong

import org.apache.spark.sql.connector.read.Statistics
import org.apache.spark.sql.types.StructType

/** The planning statistics both DSv2 sources report: an exact row count
  * and `rows × readSchema.defaultSize` bytes. Without them Spark sizes a
  * scan at `spark.sql.defaultSizeInBytes` (Long.MaxValue), and every
  * plan-stats decision downstream — broadcast, the sinks' small-batch
  * routing — reads a one-day batch as unbounded. A row costs at least one
  * byte, so a zero-column prune (`count(*)`) of a non-empty scan never
  * reads as empty.
  */
private[sources] object ScanStatistics {
  def apply(rows: Long, readSchema: StructType): Statistics = new Statistics {
    override def numRows(): OptionalLong = OptionalLong.of(rows)
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(rows * math.max(readSchema.defaultSize, 1))
  }
}
