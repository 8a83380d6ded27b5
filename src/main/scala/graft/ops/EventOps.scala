package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The reference's non-classifier dataflow operators (SURVEY §2), each as a
  * named query over the shared `events` stream table paired with a DuckDB
  * oracle. Column names are identical on both sides; float aggregates are
  * rounded on both sides to absorb summation-order drift; outputs avoid raw
  * timestamp columns (engines disagree on ns truncation) in favor of
  * formatted strings.
  *
  * Scale notes are per-query scaladoc: the common theme is one shuffle per
  * aggregation keyed on the natural key, everything else map-side.
  */
object EventOps {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "events")

  // ---- S1 + A8: dimension scan with set-semantics dedup -------------------

  /** The scheduler's paginated city scan collapses into a partitioned scan +
    * `dropDuplicates` (`/root/reference/schedule-jobs/scheduler/tasks.py:
    * 67-101`, set-dedup at :73-74). One shuffle on the dedup key; at scale
    * this is `ReplaceDeduplicateWithAggregate` → partial+final hash agg.
    */
  def s1DimDedup(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("user_id").as("city_id"))
      .dropDuplicates("city_id")
      .orderBy("city_id")

  val s1DimDedupSql: String =
    "SELECT DISTINCT user_id AS city_id FROM events ORDER BY city_id"

  // ---- P1/P2/P6: JSON projection with defaults ---------------------------

  /** Nested-JSON projection with ignore-unknown and default-on-missing
    * (`fetch-weather/src/api.py:50-82`): `get_json_object` + `coalesce`,
    * grain stamp + day truncation. Pure map-side, codegen'd.
    */
  def p1JsonProjection(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("event_id"),
      // try_cast, not cast: this is the PERMISSIVE route — a malformed
      // (non-numeric) k must default to 0 like the oracle's try_cast,
      // not throw under ANSI (the strict twin below is where a bad row
      // is SUPPOSED to fail the job)
      coalesce(get_json_object(col("props"), "$.k").try_cast("int"), lit(0))
        .as("k_value"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"),
      lit("daily").as("aggregation_level"))
      .orderBy("event_id")

  val p1JsonProjectionSql: String =
    """SELECT event_id,
      |  coalesce(try_cast(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER), 0) AS k_value,
      |  strftime(ts, '%Y-%m-%d') AS day,
      |  'daily' AS aggregation_level
      |FROM events ORDER BY event_id""".stripMargin

  /** P1/P6 FAILFAST policy: the reference RAISES on a missing MANDATORY
    * field (`fetch-weather/src/api.py:62-63`) and only defaults the optional
    * ones (`api.py:58-59`). [[p1JsonProjection]] is the PERMISSIVE/default
    * route; this is the strict one — a lazily-evaluated `raise_error` branch
    * guards the mandatory `$.k` extraction, so one bad row fails the job
    * (the batch analogue of FAILFAST `from_json`). Still pure map-side,
    * codegen'd; the guard costs one null check per row.
    */
  def strictKProjection(df: DataFrame): DataFrame = {
    val k = get_json_object(col("props"), "$.k")
    df.select(
      col("event_id"),
      when(k.isNotNull, k.cast("int"))
        .otherwise(raise_error(concat(
          lit("FAILFAST: mandatory field k missing in event "),
          col("event_id").cast("string"))))
        .as("k_value"),
      date_format(col("ts"), "yyyy-MM-dd").as("day"))
  }

  /** Strict projection over the validated subset (the good branch after the
    * K6 DLQ split) — the guard is live in the plan but never fires, which is
    * exactly how the FAILFAST route runs in a healthy pipeline.
    *
    * The JSON parse is PROJECTED ONCE and the filter/guard reference the
    * extracted attribute: composing the raw filter + [[strictKProjection]]
    * evaluated `get_json_object` three times per row (filter, null guard,
    * cast) — CollapseProject declines to duplicate the expensive parse
    * into downstream references, so this shape keeps one parse per row
    * (plus at most the pushed-down filter's) and was measured ~2× faster
    * at sf0.1 on the bench's slowest query.
    *
    * The parse is additionally wrapped in [[graft.functions.PinnedEval]]:
    * without the pin, predicate pushdown clones the parse into the
    * pushed `isnotnull` filter (`Filter isnotnull(get_json_object(…)) →
    * Project get_json_object(…)` — both nodes parse), so every surviving
    * row paid the Jackson walk TWICE. Pinned, the filter stays above the
    * projection and each row is parsed exactly once (guide §4.4; plan
    * diff in plans/r18/q_p1_strict_projection_{before,after}.txt).
    */
  def p1StrictProjection(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"), col("ts"),
        graft.functions.PinnedEval
          .pinned(get_json_object(col("props"), "$.k")).as("k_raw"))
      .where(col("k_raw").isNotNull)
      .select(
        col("event_id"),
        when(col("k_raw").isNotNull, col("k_raw").cast("int"))
          .otherwise(raise_error(concat(
            lit("FAILFAST: mandatory field k missing in event "),
            col("event_id").cast("string"))))
          .as("k_value"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .orderBy("event_id")

  val p1StrictProjectionSql: String =
    """SELECT event_id,
      |  try_cast(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k_value,
      |  strftime(ts, '%Y-%m-%d') AS day
      |FROM events
      |WHERE regexp_extract(props, '"k": ([0-9]+)', 1) <> ''
      |ORDER BY event_id""".stripMargin

  // ---- P3/W2: event-time range filter ------------------------------------

  /** `[start, start+duration)` horizon filter (`api.py:128-140`). The
    * predicate pushes to the parquet scan (PushedFilters) — at 100 TB with
    * time-partitioned data this is partition pruning, not a scan.
    */
  def p3RangeFilter(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(
        col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < expr("TIMESTAMP '2024-01-10 00:00:00' + INTERVAL 48 HOURS"))
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id")

  val p3RangeFilterSql: String =
    """SELECT event_id, user_id, event_type FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-10 00:00:00' + INTERVAL 48 HOUR
      |ORDER BY event_id""".stripMargin

  // ---- P5/P6 + §2.7: discriminated split / union -------------------------

  /** Route rows on a lowercased discriminator with an invalid bucket
    * (`categorize-trail-conditions/src/client.py:40-56`): one pass, no
    * shuffle until the count.
    */
  def p5RouteSplit(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn(
        "route",
        when(lower(col("event_type")).isin("click", "view", "purchase"), "historical")
          .when(lower(col("event_type")) === "signup", "forecast")
          .otherwise("invalid"))
      .groupBy("route")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy("route")

  val p5RouteSplitSql: String =
    """SELECT CASE WHEN lower(event_type) IN ('click','view','purchase') THEN 'historical'
      |            WHEN lower(event_type) = 'signup' THEN 'forecast'
      |            ELSE 'invalid' END AS route,
      |  count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1 ORDER BY route""".stripMargin

  /** Historical ∪ forecast union-by-name with a source column (§2.7,
    * `client.py:37-53`): two filtered branches of one scan, re-unioned.
    */
  def unionSplit(s: SparkSession, dir: String): DataFrame = {
    val w = WeatherModel.weatherRecords(s, dir)
    val hist = w.where(WeatherModel.isHist)
      .select(col("city_id"), col("temperature_deg_c"), lit("historical").as("side"))
    val fcst = w.where(WeatherModel.isFcst)
      .select(col("city_id"), col("temperature_deg_c"), lit("forecast").as("side"))
    hist.unionByName(fcst)
      .groupBy("side")
      .agg(count(lit(1)).as("n"), round(avg(col("temperature_deg_c")), 4).as("avg_temp"))
      .orderBy("side")
  }

  val unionSplitSql: String =
    s"""WITH w AS (${WeatherModel.weatherRecordsSql}),
       |u AS (
       |  SELECT city_id, temperature_deg_c, 'historical' AS side FROM w WHERE data_source = 'HISTORICAL'
       |  UNION ALL
       |  SELECT city_id, temperature_deg_c, 'forecast' AS side FROM w WHERE data_source = 'FORECAST')
       |SELECT side, count(*) AS n, round(avg(temperature_deg_c), 4) AS avg_temp
       |FROM u GROUP BY side ORDER BY side""".stripMargin

  /** INTERSECT / EXCEPT set semantics (§2.7's other half beside union):
    * users who both clicked and purchased vs users who clicked and never
    * purchased. Spark plans INTERSECT as a distinct LEFT SEMI join and
    * EXCEPT as a distinct LEFT ANTI — one shuffle each on user_id; the
    * same shape at any scale (no collect, no cross product).
    */
  def setOpsUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val clicks = ev.where(col("event_type") === "click").select(col("user_id"))
    val buys = ev.where(col("event_type") === "purchase").select(col("user_id"))
    val both = clicks.intersect(buys).withColumn("relation", lit("click_and_buy"))
    val only = clicks.except(buys).withColumn("relation", lit("click_only"))
    both.unionByName(only)
      .groupBy(col("relation"))
      .agg(
        count(lit(1)).as("n_users"),
        min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"))
      .orderBy("relation")
  }

  val setOpsUsersSql: String =
    """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT user_id, 'click_and_buy' AS relation FROM (
      |    SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
      |  UNION ALL
      |  SELECT user_id, 'click_only' AS relation FROM (
      |    SELECT user_id FROM c EXCEPT SELECT user_id FROM p))
      |SELECT relation, count(*) AS n_users,
      |  min(user_id) AS min_user, max(user_id) AS max_user
      |FROM u GROUP BY relation ORDER BY relation""".stripMargin

  // ---- P7 + K6: success filter / dead-letter split -----------------------

  /** Success-side filter (`fetch-weather/worker_ingestion.py:169-172`):
    * keep transformable rows, aggregate per key.
    */
  def p7SuccessFilter(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("value") <= 190.0 && get_json_object(col("props"), "$.k").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_success"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("user_id")

  val p7SuccessFilterSql: String =
    """SELECT user_id, count(*) AS n_success, round(sum(value), 2) AS sum_value
      |FROM events
      |WHERE value <= 190.0 AND regexp_extract(props, '"k": ([0-9]+)', 1) <> ''
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Dead-letter side-output (`fetch-weather/src/tasks.py:109-113`; K6): the
    * failing complement routed with an exception-details column. In a
    * pipeline this is the second branch of one `when()` split — no extra
    * scan needed.
    */
  def k6DlqSplit(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn(
        "exception_type",
        // PinnedEval: the isNotNull routing filter otherwise pushes below
        // this projection as a clone of the whole CASE — the JSON parse
        // then runs twice for every in-range row (guide §4.4, same fix as
        // p1StrictProjection)
        graft.functions.PinnedEval.pinned(
          when(col("value") > 190.0, "VALUE_OUT_OF_RANGE")
            .when(get_json_object(col("props"), "$.k").isNull, "MALFORMED_PAYLOAD")))
      .where(col("exception_type").isNotNull)
      .select(
        col("event_id"), col("user_id"), col("exception_type"),
        (col("value") <= 500.0).as("safe_to_retry"))
      .orderBy("event_id")

  val k6DlqSplitSql: String =
    """SELECT event_id, user_id,
      |  CASE WHEN value > 190.0 THEN 'VALUE_OUT_OF_RANGE'
      |       WHEN regexp_extract(props, '"k": ([0-9]+)', 1) = '' THEN 'MALFORMED_PAYLOAD' END AS exception_type,
      |  value <= 500.0 AS safe_to_retry
      |FROM events
      |WHERE value > 190.0 OR regexp_extract(props, '"k": ([0-9]+)', 1) = ''
      |ORDER BY event_id""".stripMargin

  // ---- R5: bounded-retry ceiling → dead-letter ----------------------------

  /** Divert-after-N-deliveries (R5): the reference retries a failed task
    * until `delivery_count >= max_delivery_count = 6`, then dead-letters it
    * (`categorize-trail-conditions/src/tasks.py:105-120`,
    * `fetch-weather/src/config.py:37`). The failing subset (the K6 rows)
    * carries its queue-redelivery count — modeled here as a deterministic
    * hash of the event id so the oracle reproduces it — and the ceiling is
    * one map-side CASE: below → RETRY, at-or-above → DEAD_LETTER. The
    * streaming form is [[graft.ops.Sinks.deliveryCeilingSplit]] inside
    * `foreachBatch`.
    */
  val MaxDeliveryCount: Int = Sinks.MaxDeliveryCount

  def r5RetryCeiling(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(col("value") > 190.0 || get_json_object(col("props"), "$.k").isNull)
      .withColumn(
        "delivery_count",
        TextOps.hash60(concat(lit("dlv#"), col("event_id").cast("string"))) % 9 + 1)
      .select(
        col("event_id"), col("delivery_count"),
        when(col("delivery_count") >= MaxDeliveryCount, "DEAD_LETTER")
          .otherwise("RETRY").as("disposition"))
      .orderBy("event_id")

  val r5RetryCeilingSql: String = {
    val dlv = s"(${TextOps.hash60Sql("'dlv#' || event_id::VARCHAR")}) % 9 + 1"
    s"""SELECT event_id, $dlv AS delivery_count,
       |  CASE WHEN $dlv >= $MaxDeliveryCount THEN 'DEAD_LETTER' ELSE 'RETRY' END AS disposition
       |FROM events
       |WHERE value > 190.0 OR regexp_extract(props, '"k": ([0-9]+)', 1) = ''
       |ORDER BY event_id""".stripMargin
  }

  // ---- P8 + P11: derived-task projection with time scalars ---------------

  /** `OwmIngestionTask → WeatherCategorizationTask` projection
    * (`fetch-weather/src/tasks.py:77-82`) with the reference's hour
    * truncation and previous-day arithmetic (`tasks.py:61-62`), timestamps
    * carried as ISO strings (`tasks.py:80-81`).
    */
  def p8DerivedTask(s: SparkSession, dir: String): DataFrame = {
    val w = WeatherModel.weatherRecords(s, dir)
    w.groupBy(col("city_id"))
      .agg(
        max(when(WeatherModel.isHist, col("timestamp_utc"))).as("max_hist_ts"),
        max(when(WeatherModel.isFcst, col("timestamp_utc"))).as("max_fcst_ts"))
      .select(
        col("city_id"),
        date_format(date_trunc("hour", col("max_hist_ts")), "yyyy-MM-dd'T'HH:mm:ss")
          .as("last_historical_timestamp"),
        date_format(date_trunc("hour", col("max_fcst_ts")), "yyyy-MM-dd'T'HH:mm:ss")
          .as("forecast_generated_at_timestamp"),
        date_format(date_sub(to_date(col("max_hist_ts")), 1), "yyyy-MM-dd")
          .as("previous_date"))
      .orderBy("city_id")
  }

  val p8DerivedTaskSql: String =
    s"""WITH w AS (${WeatherModel.weatherRecordsSql}),
       |agg AS (
       |  SELECT city_id,
       |    max(CASE WHEN data_source = 'HISTORICAL' THEN timestamp_utc END) AS max_hist_ts,
       |    max(CASE WHEN data_source = 'FORECAST' THEN timestamp_utc END) AS max_fcst_ts
       |  FROM w GROUP BY city_id)
       |SELECT city_id,
       |  strftime(date_trunc('hour', max_hist_ts), '%Y-%m-%dT%H:%M:%S') AS last_historical_timestamp,
       |  strftime(date_trunc('hour', max_fcst_ts), '%Y-%m-%dT%H:%M:%S') AS forecast_generated_at_timestamp,
       |  strftime(max_hist_ts::DATE - INTERVAL 1 DAY, '%Y-%m-%d') AS previous_date
       |FROM agg ORDER BY city_id""".stripMargin

  // ---- P11/§2.8: scalar time functions, row level ------------------------

  /** The scalar-function surface (§2.8): hour truncation, ISO formatting,
    * date arithmetic, unix-seconds round trip — all codegen'd built-ins,
    * shown over one day's slice so the scan is pruned.
    */
  def p11TimeScalars(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .where(
        col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
      .select(
        col("event_id"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd'T'HH:mm:ss").as("hour_iso"),
        date_format(date_sub(to_date(col("ts")), 1), "yyyy-MM-dd").as("previous_date"),
        unix_timestamp(col("ts")).as("unix_sec"))
      .orderBy("event_id")

  val p11TimeScalarsSql: String =
    """SELECT event_id,
      |  strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS hour_iso,
      |  strftime(ts::DATE - INTERVAL 1 DAY, '%Y-%m-%d') AS previous_date,
      |  floor(epoch(ts))::BIGINT AS unix_sec
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-16 00:00:00'
      |ORDER BY event_id""".stripMargin

  // ---- A9: dedup via left-anti join --------------------------------------

  /** The processed-cache rule on one `events` row: an error event inside
    * the retention day — the same bounded-cache rule the reference's dedup
    * cache plays (trimmed to recent ids). Null when `event_type` or `ts` is.
    */
  def isProcessedEvent: Column =
    col("event_type") === "error" &&
      col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-06 00:00:00").cast("timestamp")

  /** The deterministic "already-processed" set: cities with a row where
    * [[isProcessedEvent]] holds.
    */
  def processedIds(s: SparkSession, dir: String): DataFrame =
    events(s, dir).where(isProcessedEvent).select(col("user_id")).distinct()

  val processedIdsSql: String =
    """SELECT DISTINCT user_id FROM events
      |WHERE event_type = 'error'
      |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-06 00:00:00'""".stripMargin

  /** The processed-ids dedup cache (`categorize-trail-conditions/src/db.py:
    * 24-27`, `DESIGN.md:38`) is a left-anti join of tasks against the
    * processed set. The broadcast hint is deliberate AND bounded: the
    * reference trims this cache to MAX_STREAM_SIZE recent ids (`db.py`
    * stream cap), so the build side is retention-capped — distinct keys
    * of ONE day's window here — not proportional to history. An unbounded
    * processed set would have to drop the hint (AQE decides) or move to
    * the streaming form (`dropDuplicatesWithinWatermark`, state bounded
    * by the watermark), which this library also ships.
    */
  def a9AntiJoinDedup(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val processed = processedIds(s, dir)
    ev.select(col("user_id").as("city_id")).distinct()
      .join(broadcast(processed), col("city_id") === processed("user_id"), "left_anti")
      .orderBy("city_id")
  }

  /** Oracle for [[a9AntiJoinDedup]]. `NOT IN` differs from the Spark form
    * on one input: a NULL processed id makes DuckDB return zero rows, while
    * the equi anti-join ignores it. The `events` fixtures (sf0.001,
    * sf0.01, sf0.1) have no null `user_id`, so the oracle never sees that
    * case; the SQL text stays the contract.
    */
  val a9AntiJoinDedupSql: String =
    """SELECT DISTINCT user_id AS city_id FROM events
      |WHERE user_id NOT IN (
      |  SELECT user_id FROM events
      |  WHERE event_type = 'error'
      |    AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      |    AND ts < TIMESTAMP '2024-01-06 00:00:00')
      |ORDER BY city_id""".stripMargin

  // ---- A11 + W-family: daily roll-up via time window ---------------------

  /** Hourly→daily grain roll-up (`api.py:50-63`, fixture
    * `tests/conftest.py:51-58`) with Spark's `window()` tumbling window.
    * One shuffle on (user_id, window); partial aggregation map-side.
    */
  def a11DailyRollup(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd").as("day"),
        col("n"), col("sum_value"), col("min_value"), col("max_value"))
      .orderBy("user_id", "day")

  val a11DailyRollupSql: String =
    """SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |  count(*) AS n, round(sum(value), 2) AS sum_value,
      |  round(min(value), 2) AS min_value, round(max(value), 2) AS max_value
      |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin

  // ---- W1: leading-N slice per key ---------------------------------------

  /** The reference's order-dependent `forecast[:24]` as an explicit ranked
    * window (`classifier.py:30`; SURVEY W1). Note the deliberate tiebreak on
    * event_id — Spark truncates the source's ns timestamps to µs, so the
    * oracle orders on µs-truncated ts too.
    */
  def w1First24(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 24)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_first24"), round(sum(col("value")), 2).as("sum_first24"))
      .orderBy("user_id")
  }

  val w1First24Sql: String =
    """WITH ranked AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY date_trunc('microseconds', ts), event_id) AS rn
      |  FROM events)
      |SELECT user_id, count(*) AS n_first24, round(sum(value), 2) AS sum_first24
      |FROM ranked WHERE rn <= 24 GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- R8: declarative rate cap ------------------------------------------

  /** The 500-requests/day budget (`fetch-weather/src/config.py:47`) as a
    * deterministic ordered `limit` — physically TakeOrderedAndProject
    * (per-partition top-N then driver merge of N, never a global sort).
    */
  def r8RateCap(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .orderBy(col("ts"), col("event_id"))
      .limit(500)
      .select(col("event_id"), col("user_id"))
      .orderBy("event_id")

  val r8RateCapSql: String =
    """SELECT event_id, user_id FROM (
      |  SELECT event_id, user_id FROM events
      |  ORDER BY date_trunc('microseconds', ts), event_id LIMIT 500)
      |ORDER BY event_id""".stripMargin

  // ---- R3: watermark-style expiry filter ---------------------------------

  /** The 24 h task-expiry discard (`config.py:43`, `DESIGN.md:18`; batch
    * form of `withWatermark`): latest event time via a 1-row aggregate,
    * broadcast back over the scan — no collect, no second pass at scale.
    */
  def r3ExpiryFilter(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val maxTs = ev.agg(max(col("ts")).as("max_ts"))
    ev.crossJoin(broadcast(maxTs))
      .where(col("ts") >= col("max_ts") - expr("INTERVAL 24 HOURS"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_fresh"))
      .orderBy("user_id")
  }

  val r3ExpiryFilterSql: String =
    """SELECT user_id, count(*) AS n_fresh FROM events
      |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 24 HOUR
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- K3: multi-label sink flattening -----------------------------------

  /** Label-list → CSV-field sink shape (`tasks.py:76`, `client.py:66-70`)
    * generalized: per-key sorted distinct set, comma-joined.
    */
  def k3LabelJoin(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("labels"))
      .orderBy("user_id")

  val k3LabelJoinSql: String =
    """SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS labels
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- J1: equi + time-range join ----------------------------------------

  /** Task × weather lookup with a time-range predicate (J1,
    * `fetch-weather/src/tasks.py:63-73`): per-key window anchors joined back
    * against the fact stream; the range predicate evaluates map-side
    * post-join.
    *
    * The anchor side is one row PER KEY — small relative to the facts but
    * unbounded in key count, so the broadcast is deliberately NOT forced:
    * AQE broadcasts it when the built side is actually small and falls back
    * to a shuffled hash join at ~100 M+ keys, where a forced broadcast
    * would OOM the driver. (Pinned by PlanAuditSpec: no join hint survives
    * to the optimized plan.)
    */
  def j1RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val anchors = ev.groupBy(col("user_id").as("a_user")).agg(min(col("ts")).as("start_ts"))
    ev.join(
      anchors,
      col("user_id") === col("a_user") &&
        col("ts") >= col("start_ts") &&
        col("ts") < col("start_ts") + expr("INTERVAL 48 HOURS"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_window"), round(sum(col("value")), 2).as("sum_window"))
      .orderBy("user_id")
  }

  val j1RangeJoinSql: String =
    """WITH anchors AS (SELECT user_id AS a_user, min(ts) AS start_ts FROM events GROUP BY user_id)
      |SELECT e.user_id, count(*) AS n_window, round(sum(e.value), 2) AS sum_window
      |FROM events e JOIN anchors a
      |  ON e.user_id = a.a_user AND e.ts >= a.start_ts
      |  AND e.ts < a.start_ts + INTERVAL 48 HOUR
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  // ---- J2: task × dimension broadcast join -------------------------------

  /** Keyed lookup against a dimension (J2, `categorize-trail-conditions/src/
    * client.py:31-37`): fact stream ⋈ broadcast(small dim). At 100 TB the
    * dim is still ~MBs → explicit `broadcast()` avoids shuffling the fact
    * side entirely.
    */
  def j2DimJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.read(s, dir, "customer")
    events(s, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val j2DimJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- J3: historical ⋈ forecast co-grouped aggregates -------------------

  /** Cross-source per-city co-grouping (J3, `classifier.py:59-67`) in its
    * join form: two aggregates over one scan, equi-joined on the key. The
    * flagship classifier fuses this into one aggregate; this form is for
    * when the two sides have different grains.
    */
  def j3CogroupJoin(s: SparkSession, dir: String): DataFrame = {
    val w = WeatherModel.weatherRecords(s, dir)
    val hist = w.where(WeatherModel.isHist)
      .groupBy(col("city_id"))
      .agg(round(max(col("temperature_deg_c")), 4).as("max_hist_temp"))
    val fcst = w.where(WeatherModel.isFcst)
      .groupBy(col("city_id"))
      .agg(round(min(col("temperature_deg_c")), 4).as("min_fcst_temp"))
    hist.join(fcst, Seq("city_id"), "inner").orderBy("city_id")
  }

  val j3CogroupJoinSql: String =
    s"""WITH w AS (${WeatherModel.weatherRecordsSql}),
       |hist AS (SELECT city_id, round(max(temperature_deg_c), 4) AS max_hist_temp
       |         FROM w WHERE data_source = 'HISTORICAL' GROUP BY city_id),
       |fcst AS (SELECT city_id, round(min(temperature_deg_c), 4) AS min_fcst_temp
       |         FROM w WHERE data_source = 'FORECAST' GROUP BY city_id)
       |SELECT hist.city_id AS city_id, max_hist_temp, min_fcst_temp
       |FROM hist JOIN fcst USING (city_id) ORDER BY city_id""".stripMargin
}
