package graft.etl

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.types._

/** Canonical table schemas of the reference engine (SURVEY.md §1.3).
  *
  * The violations DDL follows the ETL-embedded CREATE TABLE
  * (ref: etl/full_load/violation_etl_history.py:45-61 — 13 columns), which
  * is canonical over the stale sql/create_tables.sql:27-39 (SURVEY.md §8.8).
  */
object Model {

  case class Violation(
      violation_id: String,
      issue_date: Option[Timestamp],
      violation_date: Option[Date],
      issuing_agency_name: Option[String],
      accident_indicator: Option[String],
      location: Option[String],
      violation_code: Option[String],
      violation_desc: Option[String],
      fine_amount: Option[Double],
      total_paid: Option[Double],
      latitude: Option[Double],
      longitude: Option[Double],
      month: String)

  case class WeatherDaily(
      weather_date: Date,
      tempmax: Option[Double],
      tempmin: Option[Double],
      temp: Option[Double],
      precip: Option[Double],
      humidity: Option[Double],
      windspeed: Option[Double],
      conditions: Option[String],
      is_rain: Int)

  /** Raw ArcGIS feature attributes as they arrive from the API
    * (ref: etl/daily_load/violation_etl_daily.py:180-184; FIXTURES.md §1).
    */
  val arcgisAttributesSchema: StructType = StructType(Seq(
    StructField("OBJECTID", LongType),
    StructField("ISSUE_DATE", LongType), // epoch MILLIseconds
    StructField("ISSUING_AGENCY_NAME", StringType),
    StructField("ACCIDENT_INDICATOR", StringType),
    StructField("LOCATION", StringType),
    StructField("VIOLATION_CODE", StringType),
    StructField("VIOLATION_PROCESS_DESC", StringType),
    StructField("FINE_AMOUNT", StringType), // arrives as number OR string; coerced NaN-safe
    StructField("TOTAL_PAID", StringType),
    StructField("LATITUDE", DoubleType),
    StructField("LONGITUDE", DoubleType),
    StructField("violation_id", StringType))) // full-load path trusts an API-provided id

  /** Raw VisualCrossing `days[]` element
    * (ref: etl/full_load/weather_etl_history.py:70-87; FIXTURES.md §2).
    */
  val vcDaySchema: StructType = StructType(Seq(
    StructField("datetime", StringType), // 'YYYY-MM-DD'
    StructField("tempmax", DoubleType),
    StructField("tempmin", DoubleType),
    StructField("temp", DoubleType),
    StructField("precip", DoubleType),
    StructField("humidity", DoubleType),
    StructField("windspeed", DoubleType),
    StructField("conditions", StringType)))
}
