package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's transform semantics (SURVEY.md §2.8) as reusable,
  * codegen'd Column derivations — zero UDFs.
  *
  * Where the reference's two code paths disagree (SURVEY.md §8), both
  * variants exist, named, with the divergence documented.
  */
object Transforms {

  /** NaN/garbage-safe double coercion: None/uncastable/NaN → NULL.
    * ref: etl/daily_load/violation_etl_daily.py:201-210 (to_float_safe).
    * try_cast keeps this ANSI-safe; NaN maps to NULL like the reference.
    */
  def toDoubleSafe(c: Column): Column = {
    val d = c.cast(StringType).try_cast(DoubleType)
    when(isnan(coalesce(d, lit(0.0))), lit(null).cast(DoubleType)).otherwise(d)
  }

  /** Epoch-milliseconds → UTC timestamp; NULL-safe.
    * ref: etl/daily_load/violation_etl_daily.py:213-224 (ms_to_datetime).
    */
  def msToTimestamp(ms: Column): Column = timestamp_millis(ms.cast(LongType))

  /** Date part of the issue timestamp.
    * ref: etl/daily_load/violation_etl_daily.py:222,245.
    */
  def toViolationDate(ts: Column): Column = to_date(ts)

  /** 'YYYY-MM' month key. ref: etl/daily_load/violation_etl_daily.py:61-62. */
  def monthKey(d: Column): Column = date_format(d, "yyyy-MM")

  /** Synthetic violation id "{month}_{OBJECTID}" (daily path).
    * ref: etl/daily_load/violation_etl_daily.py:247-248.
    */
  def syntheticViolationId(month: Column, objectId: Column): Column =
    concat_ws("_", month, objectId.cast(StringType))

  /** History-path rain flag: precip > 0 only.
    * ref: etl/full_load/weather_etl_history.py:85. (SURVEY.md §8.2)
    */
  def isRainHistory(precip: Column): Column =
    when(coalesce(precip, lit(0.0)) > 0.0, 1).otherwise(0)

  /** Daily-path rain flag: precip > 0 OR "rain" in lower(conditions).
    * ref: etl/daily_load/weather_etl_daily.py:156-160. (SURVEY.md §8.2)
    */
  def isRainDaily(precip: Column, conditions: Column): Column =
    when(coalesce(precip, lit(0.0)) > 0.0
      || lower(coalesce(conditions, lit(""))).contains("rain"), 1).otherwise(0)

  /** Raw ArcGIS attributes (Model.arcgisAttributesSchema) → canonical
    * violations rows. Narrow projection: no shuffle, fully codegen'd.
    * ref: etl/daily_load/violation_etl_daily.py:227-278 (transform_row).
    *
    * @param monthOfRecord when None (daily path), the month key derives
    *   from the issue date; the synthetic id always uses the derived key.
    * @param useSyntheticId daily path synthesizes "{month}_{OBJECTID}";
    *   full load trusts the API's violation_id (SURVEY.md §8.7).
    */
  def violationsFromArcGis(
      raw: DataFrame,
      useSyntheticId: Boolean = true,
      monthOfRecord: Option[String] = None): DataFrame = {
    val issueTs = msToTimestamp(col("ISSUE_DATE"))
    val vDate = toViolationDate(issueTs)
    val mKey = monthOfRecord.map(lit(_)).getOrElse(monthKey(vDate))
    val vid =
      if (useSyntheticId) syntheticViolationId(mKey, col("OBJECTID"))
      else col("violation_id").cast(StringType)
    raw.select(
        vid.as("violation_id"),
        issueTs.as("issue_date"),
        vDate.as("violation_date"),
        col("ISSUING_AGENCY_NAME").as("issuing_agency_name"),
        col("ACCIDENT_INDICATOR").as("accident_indicator"),
        col("LOCATION").as("location"),
        col("VIOLATION_CODE").as("violation_code"),
        col("VIOLATION_PROCESS_DESC").as("violation_desc"),
        toDoubleSafe(col("FINE_AMOUNT")).as("fine_amount"),
        toDoubleSafe(col("TOTAL_PAID")).as("total_paid"),
        col("LATITUDE").cast(DoubleType).as("latitude"),
        col("LONGITUDE").cast(DoubleType).as("longitude"),
        mKey.as("month"))
      // non-empty-key filter, ref: etl/full_load/violation_etl_history.py:124
      .filter(col("violation_id").isNotNull && length(col("violation_id")) > 0)
  }

  /** Raw VisualCrossing day rows (Model.vcDaySchema) → canonical
    * weather_daily rows.
    * ref: etl/full_load/weather_etl_history.py:70-87 and
    *      etl/daily_load/weather_etl_daily.py:118-172.
    *
    * @param dailySemantics selects the daily is_rain variant (§8.2).
    */
  def weatherFromVc(raw: DataFrame, dailySemantics: Boolean): DataFrame = {
    val rain =
      if (dailySemantics) isRainDaily(col("precip"), col("conditions"))
      else isRainHistory(col("precip"))
    raw.select(
      to_date(col("datetime"), "yyyy-MM-dd").as("weather_date"),
      col("tempmax"), col("tempmin"), col("temp"),
      col("precip"), col("humidity"), col("windspeed"),
      col("conditions"),
      rain.as("is_rain"))
  }

  /** The daily path's no-data sentinel row for a date the API has nothing
    * for. ref: etl/daily_load/weather_etl_daily.py:135-146.
    */
  def missingWeatherRow(date: java.sql.Date): Model.WeatherDaily =
    Model.WeatherDaily(date, None, None, None, None, None, None,
      Some("missing_from_api"), 0)

  /** Declarative parse of raw ArcGIS response bodies: a column of
    * `{"features":[{"attributes":{...}}]}` payload strings →
    * one row per feature with Model.arcgisAttributesSchema, via
    * `from_json` over the transient nested schema (SURVEY.md §1.4).
    * The DSv2 source is the scan path; this is the transform-side parse
    * for payloads that arrive as data (e.g. queued/archived responses).
    */
  def parseArcGisResponses(raw: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val responseSchema = StructType(Seq(StructField("features",
      ArrayType(StructType(Seq(StructField("attributes", Model.arcgisAttributesSchema)))))))
    raw
      .select(from_json(col(payloadCol), responseSchema).as("r"))
      .select(explode(col("r.features")).as("f"))
      .select(col("f.attributes.*"))
  }

  /** Same for VisualCrossing timeline bodies: `{"days":[{...}]}` →
    * one row per day with Model.vcDaySchema.
    * ref: etl/daily_load/weather_etl_daily.py:111-112.
    */
  def parseVcResponses(raw: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val responseSchema = StructType(Seq(
      StructField("days", ArrayType(Model.vcDaySchema))))
    raw
      .select(from_json(col(payloadCol), responseSchema).as("r"))
      .select(explode(col("r.days")).as("d"))
      .select(col("d.*"))
  }
}
