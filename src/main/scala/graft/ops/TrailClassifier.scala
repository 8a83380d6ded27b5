package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Swappable classifier contract — the Spark form of the reference's
  * `TrailConditionClassifier` ABC
  * (`/root/reference/categorize-trail-conditions/src/classifier.py:7-17`):
  * a `DataFrame => DataFrame` transform so an ML model stays drop-in.
  */
trait TrailConditionClassifier {
  /** weather: WeatherRecord-shaped facts (city_id, timestamp_utc,
    * temperature_deg_c, rain_fall_total_mm, data_source).
    * Returns (city_id, class_label) with class_label the comma-joined
    * multi-label output (sink shape K3,
    * `categorize-trail-conditions/src/tasks.py:75-76`).
    */
  def classify(weather: DataFrame, anchor: String): DataFrame
}

/** Rule-based multi-label trail classifier — the reference's flagship
  * computation (`classifier.py:20-94`) re-expressed as ONE hash aggregation:
  * per-city conditional aggregates (SURVEY §2.5 A1–A7) feeding a CASE-WHEN
  * label array. No UDFs — everything is a codegen'd Catalyst expression.
  *
  * Scale shape: a single shuffle on `city_id` with map-side partial
  * aggregation; the event-time window predicate is applied BEFORE the
  * aggregate so it pushes down to the parquet scan. At 100 TB this is the
  * minimal plan: pruned scan → partial agg → exchange(city_id) → final agg →
  * project. No second shuffle, no driver-side state.
  *
  * Semantic choices vs the reference (documented per SURVEY §7):
  *  - `forecast[:24]` (row-order dependent, `classifier.py:30`) becomes the
  *    event-time bound `[anchor, anchor+24h)`.
  *  - `max([])` raises in the reference (`classifier.py:74`); here null-safe
  *    `max` makes the heat rule simply not fire on an empty horizon.
  *  - "all historical" (`classifier.py:61`) means the store's rows, which are
  *    by construction ≤ now; here explicitly `ts < anchor`.
  */
object RuleBasedTrailClassifier extends TrailConditionClassifier {

  // Thresholds — `classifier.py:21-26`.
  val RainThresholdMm = 5.0
  val HeavyRainThresholdMm = 10.0
  val FreezingPointC = 0.0
  val WarmDayC = 10.0
  val SnowmeltWarmC = 5.0
  val HeatAdvisoryC = 35.0

  import WeatherModel._

  private def temp = col("temperature_deg_c")
  private def rain = col("rain_fall_total_mm")

  /** All rows any rule can see: historical up to "now" plus the 48 h
    * forecast horizon. Applied pre-aggregate so it reaches the scan.
    */
  def relevantWindow(anchor: String): Column =
    (isHist && col("timestamp_utc") < lit(anchor).cast("timestamp")) ||
      fcst48(anchor)

  def relevantWindowSql(anchor: String): String =
    s"(data_source = 'HISTORICAL' AND timestamp_utc < TIMESTAMP '$anchor')" +
      s" OR (${fcst48Sql(anchor)})"

  override def classify(weather: DataFrame, anchor: String = Anchor): DataFrame =
    label(weather, anchor, None)

  /** [[classify]] minus every city that has a row where `exclude` holds
    * (null counts as false). The test is one more aggregate on the same
    * city_id shuffle, not a join: such rows pass the window filter so they
    * reach the aggregate, and whatever else they add to it is dropped with
    * their city.
    */
  def classifyExcluding(weather: DataFrame, anchor: String, exclude: Column): DataFrame =
    label(weather, anchor, Some(exclude))

  private def label(weather: DataFrame, anchor: String, exclude: Option[Column]): DataFrame = {
    val aggs = Seq(
      // A2: trailing 2-day rain; empty → 0 (`classifier.py:34-36`)
      coalesce(sum(when(hist2d(anchor), rain)), lit(0.0)).as("rain_2d"),
      // A3: any warm day in the 2-day window (`classifier.py:37-38`)
      (max(when(hist2d(anchor) && temp > WarmDayC, 1).otherwise(0)) === 1)
        .as("warm_days"),
      // A1: first-24 h forecast rain; empty → 0 (`classifier.py:30,46`)
      coalesce(sum(when(fcst24(anchor), rain)), lit(0.0)).as("fcst_rain_24h"),
      // A4: avg forecast-24 h temp, 0 when empty (`classifier.py:49-53`)
      coalesce(avg(when(fcst24(anchor), temp)), lit(0.0)).as("avg_temp_24h"),
      // A5: max historical temp (`classifier.py:61`)
      max(when(isHist, temp)).as("max_hist_temp"),
      // A6: min forecast-24 h temp (`classifier.py:62`)
      min(when(fcst24(anchor), temp)).as("min_fcst_temp_24h"),
      // A7: max temp over the whole 48 h horizon (`classifier.py:74`)
      max(when(fcst48(anchor), temp)).as("max_fcst_temp"))
    val agg = exclude match {
      case None =>
        weather.where(relevantWindow(anchor)).groupBy(col("city_id"))
          .agg(aggs.head, aggs.tail: _*)
      case Some(p) =>
        weather.where(relevantWindow(anchor) || p).groupBy(col("city_id"))
          .agg(aggs.head, aggs.tail :+ max(coalesce(p, lit(false))).as("excluded"): _*)
          .where(!col("excluded"))
    }

    // Rule order fixed by `classifier.py:85-91`: mud, heat, wind (stub,
    // always null — `classifier.py:69-71`), snowpack, heavy precipitation.
    val mud = when(
      col("rain_2d") >= RainThresholdMm && !col("warm_days"),
      "TRAIL_MUD_WARNING")
      .when(
        col("rain_2d") < RainThresholdMm &&
          col("fcst_rain_24h") < RainThresholdMm,
        "TRAIL_DRY_EXCELLENT")
    val heat = when(col("max_fcst_temp") > HeatAdvisoryC, "HEAT_ADVISORY")
    // Null-safe comparisons encode the reference's both-non-empty guard
    // (`classifier.py:60`): an empty side yields null → rule doesn't fire.
    val snowpack = when(
      col("max_hist_temp") > FreezingPointC &&
        col("min_fcst_temp_24h") < FreezingPointC,
      "SNOWPACK_ICY_CONDITIONS")
      .when(
        col("max_hist_temp") > SnowmeltWarmC &&
          col("min_fcst_temp_24h") > FreezingPointC,
        "SNOWPACK_HEAVY_WET")
    val heavy = when(
      col("fcst_rain_24h") >= HeavyRainThresholdMm,
      when(col("avg_temp_24h") < FreezingPointC, "HEAVY_SNOW_WARNING")
        .otherwise("TRAIL_CLOSED_HEAVY_RAIN"))

    // K3 sink shape: multi-label list flattened to one CSV field
    // (`tasks.py:76`, `client.py:66-70`). concat_ws skips nulls = the
    // reference's collect-non-null (`classifier.py:92-93`).
    agg.select(
      col("city_id"),
      concat_ws(",", mud, heat, snowpack, heavy).as("class_label"))
  }

  /** DuckDB oracle for [[classify]] over the shared events table.
    * `weatherSql` swaps the weather source CTE — the end-to-end pipeline
    * oracle reuses this exact classifier SQL over its deduped/validated
    * slice instead of the raw projection.
    */
  def oracleSql(
      anchor: String = Anchor,
      weatherSql: String = weatherRecordsSql): String = {
    val h2 = hist2dSql(anchor)
    val f24 = fcst24Sql(anchor)
    val f48 = fcst48Sql(anchor)
    s"""WITH w AS ($weatherSql),
       |agg AS (
       |  SELECT city_id,
       |    coalesce(sum(CASE WHEN $h2 THEN rain_fall_total_mm END), 0) AS rain_2d,
       |    max(CASE WHEN $h2 AND temperature_deg_c > 10.0 THEN 1 ELSE 0 END) = 1 AS warm_days,
       |    coalesce(sum(CASE WHEN $f24 THEN rain_fall_total_mm END), 0) AS fcst_rain_24h,
       |    coalesce(avg(CASE WHEN $f24 THEN temperature_deg_c END), 0) AS avg_temp_24h,
       |    max(CASE WHEN data_source = 'HISTORICAL' THEN temperature_deg_c END) AS max_hist_temp,
       |    min(CASE WHEN $f24 THEN temperature_deg_c END) AS min_fcst_temp_24h,
       |    max(CASE WHEN $f48 THEN temperature_deg_c END) AS max_fcst_temp
       |  FROM w
       |  WHERE ${relevantWindowSql(anchor)}
       |  GROUP BY city_id)
       |SELECT city_id, concat_ws(',',
       |  CASE WHEN rain_2d >= 5.0 AND NOT warm_days THEN 'TRAIL_MUD_WARNING'
       |       WHEN rain_2d < 5.0 AND fcst_rain_24h < 5.0 THEN 'TRAIL_DRY_EXCELLENT' END,
       |  CASE WHEN max_fcst_temp > 35.0 THEN 'HEAT_ADVISORY' END,
       |  CASE WHEN max_hist_temp > 0.0 AND min_fcst_temp_24h < 0.0 THEN 'SNOWPACK_ICY_CONDITIONS'
       |       WHEN max_hist_temp > 5.0 AND min_fcst_temp_24h > 0.0 THEN 'SNOWPACK_HEAVY_WET' END,
       |  CASE WHEN fcst_rain_24h >= 10.0 THEN
       |    CASE WHEN avg_temp_24h < 0.0 THEN 'HEAVY_SNOW_WARNING'
       |         ELSE 'TRAIL_CLOSED_HEAVY_RAIN' END END) AS class_label
       |FROM agg ORDER BY city_id""".stripMargin
  }
}
