package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

/** The timed action every instrument runs ([[Bench.sample]], the loop of
  * Bench and the Sentinel): fold EVERY output value into one row of (rows,
  * bit_xor of xxhash64 over each row), as one aggregate and so one job.
  *
  * Not count(): under count() Catalyst legitimately prunes all columns and
  * eliminates unique-key joins, so a projection-shaped query (pii_redact,
  * token_dropout, exact_substr ...) is timed as a bare scan and the op's
  * actual work never runs (measured up to 29x under-report). bit_xor is
  * overflow-free under ANSI. The row count is count(1): a guard like
  * `h =!= 0` would silently drop rows whose xxhash64 happens to be 0, and
  * two identical rows cancel in the xor but never in the count.
  */
object Fold {

  /** The one-row `(n, x)` frame, unexecuted — callers that read
    * `queryExecution.observedMetrics` after the action need the frame
    * itself. Columns are renamed by position first: a query output with
    * duplicate or dotted column names would otherwise fail name resolution
    * in the fold even though the query itself is fine. xxhash64 rejects a
    * few types (maps); those rows fold through their JSON instead, so
    * materialization is still forced. Empty input folds to `(0, 0)`.
    */
  def frame(df: DataFrame): DataFrame = {
    val safe = df.toDF(df.columns.indices.map("c" + _): _*)
    val row = struct(safe.columns.map(col): _*)
    def agg(h: Column): DataFrame = safe.select(h.as("h"))
      .agg(count(lit(1)).as("n"), coalesce(bit_xor(col("h")), lit(0L)).as("x"))
    try agg(xxhash64(row))
    catch { case _: AnalysisException => agg(xxhash64(to_json(row))) }
  }

  /** Run the fold: `(rows, xor)`. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = frame(df).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}
