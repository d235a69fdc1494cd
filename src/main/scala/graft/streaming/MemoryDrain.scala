package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Drains a streaming frame to completion: every input available now
  * goes through an AvailableNow trigger into a memory sink, and the
  * sink's rows come back as a batch frame.
  *
  * The memory sink registers its result as a temp view under the query
  * name. The returned frame is resolved against that view once, and then
  * the view is dropped, so the rows live only as long as the frame does
  * and a session's catalog does not grow by one view per drain.
  */
private[graft] object MemoryDrain {

  def apply(stream: Dataset[_], mode: OutputMode, prefix: String): DataFrame = {
    val spark = stream.sparkSession
    val name = prefix + java.util.UUID.randomUUID.toString.replace("-", "")
    stream.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    val rows = spark.table(name)
    spark.catalog.dropTempView(name)
    rows
  }
}
