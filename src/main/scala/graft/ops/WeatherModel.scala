package graft.ops

import java.time.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.sources.Tables

/** The weather fact model, projected from the shared `events` table.
  *
  * The reference's read-side record is `WeatherRecord {timestamp_utc,
  * temperature_deg_c, rain_fall_total_mm, data_source}` keyed by city
  * (`/root/reference/categorize-trail-conditions/src/models.py:12-18`); its
  * fact stream is ~49 rows/city/day. The driver's `events` table plays that
  * stream: `user_id` is the city key, `ts` the event time, and the measures
  * are derived deterministically from `value` so the DuckDB oracle can
  * reproduce them exactly:
  *
  *   temperature_deg_c = value / 4.0 - 12.0     (≈ −12 … +38 °C)
  *   rain_fall_total_mm = value / 25.0          (≈ 0 … 8 mm)
  *   data_source = HISTORICAL when event_type ∈ {click,view,purchase}
  *                 else FORECAST                (discriminator column, §1.1)
  *
  * Determinism rule (SURVEY §7): "now" is an injected anchor, never
  * `current_timestamp()`, so classification is reproducible and oracle-able.
  *
  * Scale: this is a stateless projection — narrow, codegen'd, no shuffle.
  * At 100 TB it runs entirely map-side on top of the parquet scan with the
  * event-time filters pushed down.
  */
object WeatherModel {

  /** Fixed classification anchor ("now"): inside the events table's
    * 2024-01-01..2024-01-30 range, leaving a full 2-day trailing window and a
    * 48 h forecast horizon on either side.
    */
  val Anchor = "2024-01-20 00:00:00"

  val Historical = "HISTORICAL"
  val Forecast = "FORECAST"

  /** events → WeatherRecord-shaped facts (map-side only). `extra` columns
    * over the raw `events` row ride along in the same projection.
    */
  def weatherRecords(spark: SparkSession, sfDir: String, extra: Column*): DataFrame =
    Tables.read(spark, sfDir, "events").select(Seq(
      col("user_id").as("city_id"),
      col("ts").as("timestamp_utc"),
      (col("value") / 4.0d - 12.0d).as("temperature_deg_c"),
      (col("value") / 25.0d).as("rain_fall_total_mm"),
      when(col("event_type").isin("click", "view", "purchase"), Historical)
        .otherwise(Forecast)
        .as("data_source")) ++ extra: _*)

  /** The ingestion validity gate (P6): a temperature and a non-negative
    * rain total.
    */
  def isValid: Column =
    col("temperature_deg_c").isNotNull && col("rain_fall_total_mm") >= 0.0

  /** Matching SQL fragment for the DuckDB oracle (one definition, reused by
    * every oracle query so Spark and DuckDB always agree on the projection).
    */
  val weatherRecordsSql: String =
    """SELECT user_id AS city_id, ts AS timestamp_utc,
      |  value / 4.0 - 12.0 AS temperature_deg_c,
      |  value / 25.0 AS rain_fall_total_mm,
      |  CASE WHEN event_type IN ('click','view','purchase')
      |       THEN 'HISTORICAL' ELSE 'FORECAST' END AS data_source
      |FROM events""".stripMargin

  // ---- window predicates (SURVEY §2.6 W1–W3, §2.3 P9/P10) ----------------
  // All are event-time bounds relative to the injected anchor; the
  // reference's order-dependent `forecast[:24]` slice becomes the
  // declarative `[anchor, anchor+24h)` bound (SURVEY §7 "row-order
  // dependence").

  /** The anchor as a timestamp in the session time zone, as the SQL
    * `TIMESTAMP '<anchor>'` of the `*Sql` fragments reads it. The cast
    * takes the `DataType` itself, so building the bound parses no type
    * string; with a `Duration` added or subtracted, the optimizer folds it
    * to the same timestamp literal the SQL form folds to. */
  private[ops] def at(anchor: String): Column = lit(anchor).cast(TimestampType)

  def isHist: Column = col("data_source") === Historical
  def isFcst: Column = col("data_source") === Forecast

  /** Trailing 2-day historical window anchored at "now" (P10/W3,
    * `classifier.py:29-36`).
    */
  def hist2d(anchor: String = Anchor): Column =
    isHist &&
      col("timestamp_utc") >= at(anchor) - lit(Duration.ofDays(2)) &&
      col("timestamp_utc") < at(anchor)

  /** First 24 h of the forecast horizon (P9/W1, `classifier.py:30`). */
  def fcst24(anchor: String = Anchor): Column =
    isFcst &&
      col("timestamp_utc") >= at(anchor) &&
      col("timestamp_utc") < at(anchor) + lit(Duration.ofHours(24))

  /** Full 48 h forecast horizon (W2, `api.py:133,139`). */
  def fcst48(anchor: String = Anchor): Column =
    isFcst &&
      col("timestamp_utc") >= at(anchor) &&
      col("timestamp_utc") < at(anchor) + lit(Duration.ofHours(48))

  /** SQL fragments mirroring the predicates above, for oracle queries. */
  def hist2dSql(anchor: String = Anchor): String =
    s"data_source = 'HISTORICAL' AND timestamp_utc >= TIMESTAMP '$anchor' - INTERVAL 2 DAY" +
      s" AND timestamp_utc < TIMESTAMP '$anchor'"
  def fcst24Sql(anchor: String = Anchor): String =
    s"data_source = 'FORECAST' AND timestamp_utc >= TIMESTAMP '$anchor'" +
      s" AND timestamp_utc < TIMESTAMP '$anchor' + INTERVAL 24 HOUR"
  def fcst48Sql(anchor: String = Anchor): String =
    s"data_source = 'FORECAST' AND timestamp_utc >= TIMESTAMP '$anchor'" +
      s" AND timestamp_utc < TIMESTAMP '$anchor' + INTERVAL 48 HOUR"
}
