package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{EventOps, RuleBasedTrailClassifier, Sinks, WeatherModel}

/** The reference's three services (SURVEY §3.1–3.3) as batch stage
  * compositions. Queues, outboxes, worker threads, and PEL sweeps all
  * collapse into DataFrame→DataFrame functions + one idempotent write per
  * stage — the design the reference's own retrospective calls for
  * (`/root/reference/DESIGN.md:71-73`).
  *
  * Scale: each stage is one or two shuffles keyed on city_id; stages chain
  * without materialization unless a sink is interposed. Each broadcast
  * build and each AQE query stage runs as its own Spark job:
  * [[pipelineE2E]] scans its facts once and shuffles them once, in 2 jobs
  * per action (traced `trail_batch` in `trailbench/`).
  */
object Pipelines {

  /** A10: running counters (`schedule-jobs/scheduler/worker_scheduler.py:
    * 21-26` `total_num_flushed`; `fetch-weather/worker_ingestion.py:50-57`)
    * via Spark's `Observation` API — declarative metrics collected as a side
    * effect of the next action, with no UDF and no codegen/pushdown break
    * (an accumulator-in-UDF counter would poison the whole plan).
    */
  final case class Observed(df: DataFrame, observation: org.apache.spark.sql.Observation) {
    /** Metric values; blocks until the df's first action completes. */
    def rows: Long = observation.get("rows").asInstanceOf[Long]
    def sumValue: Double = observation.get("sum_value").asInstanceOf[Double]
  }

  /** Attach flushed-rows counters to any stage output. */
  def withCounters(df: DataFrame, valueCol: String = "city_id"): Observed = {
    val obs = org.apache.spark.sql.Observation()
    Observed(
      df.observe(obs, count(lit(1)).as("rows"), sum(col(valueCol)).cast("double").as("sum_value")),
      obs)
  }

  /** §3.1 scheduler: enumerate cities (paginated scan → partitioned scan),
    * set-dedup (A8), stamp task ids. The outbox/flush stages are the write
    * action + checkpointing.
    */
  def schedulerStage(spark: SparkSession, sfDir: String): DataFrame =
    EventOps.s1DimDedup(spark, sfDir)
      .select(
        expr("uuid()").as("task_id"),
        col("city_id"))

  final case class IngestionOutput(
      historical: DataFrame, forecast: DataFrame, derivedTasks: DataFrame,
      deadLetters: DataFrame)

  /** §3.2 ingestion: tasks × weather lookup (J1) → typed projection with
    * validity (P1/P2/P6) → success/DLQ split (P7/K6) → upsert shapes
    * (K1/K2) + derived categorization tasks (P8).
    */
  def ingestionStage(
      spark: SparkSession, sfDir: String, tasks: DataFrame): DataFrame => IngestionOutput = {
    weather =>
      val joined = weather.join(
        broadcast(tasks.select(col("city_id"))), Seq("city_id"))
      val (ok, dlq) = Sinks.successDlqSplit(
        joined, WeatherModel.isValid)
      IngestionOutput(
        historical = ok.where(WeatherModel.isHist),
        forecast = ok.where(WeatherModel.isFcst),
        derivedTasks = EventOps.p8DerivedTask(spark, sfDir),
        deadLetters = dlq)
  }

  final case class CategorizationOutput(labels: DataFrame, unlabeled: DataFrame)

  /** §3.3 categorization: dedup vs processed set (A9, left-anti) →
    * per-city window fetch = the weather table itself (J2) → flagship
    * classifier (§2.9) → label sink shape (K3).
    */
  def categorizationStage(
      weather: DataFrame,
      processedCityIds: DataFrame,
      anchor: String = WeatherModel.Anchor): CategorizationOutput = {
    val fresh = weather.join(
      broadcast(processedCityIds), Seq("city_id"), "left_anti")
    val labels = RuleBasedTrailClassifier.classify(fresh, anchor)
    // In the reference an empty label list still posts successfully
    // (",".join([]) = ""); the engine additionally surfaces those cities as
    // a monitoring side-channel. classify() builds class_label with
    // concat_ws, which returns "" (never null) when no rule fires.
    CategorizationOutput(
      labels = labels,
      unlabeled = labels.where(col("class_label") === ""))
  }

  /** The WHOLE reference pipeline (SURVEY §3.1→§3.3) as ONE oracled query:
    * S1 city enumeration + set-dedup → A9 left-anti dedup against the
    * bounded processed cache → §3.2 ingest join (task × weather lookup,
    * P1/P2 typed projection, P6 validity gate) → §2.9 flagship classifier →
    * K3 label sink shape. Deterministic end to end (injected anchor, rule
    * of [[EventOps.processedIds]] for the cache), so the driver's DuckDB
    * compare pins the full composition, not just the stages.
    *
    * Scale: every fact's city is in the §3.1 task list by construction,
    * so the §3.2 task × weather join reduces to dropping null cities (an
    * inner join never matches a null key). The A9 anti-join depends only
    * on city_id, so it folds into the classifier's aggregate as one more
    * column: each fact carries its [[EventOps.isProcessedEvent]] flag, a
    * row is kept if it is valid or flagged (validity must not hide a
    * flag), and cities with a flagged row are dropped after the aggregate.
    * One fact scan, one hash exchange (city_id), no join, no broadcast;
    * 2 jobs per action with AQE on: the scan and partial aggregate, and
    * the result stage. Rows come out in no particular order: the label
    * sink is a keyed upsert, and the oracle compare sorts. Plan pinned in
    * PlanAuditSpec, parity with the task-list composition in PipelineSpec.
    */
  def pipelineE2E(spark: SparkSession, sfDir: String): DataFrame = {
    val facts = WeatherModel
      .weatherRecords(spark, sfDir, EventOps.isProcessedEvent.as("processed"))
      .where(col("city_id").isNotNull && (WeatherModel.isValid || col("processed")))
    RuleBasedTrailClassifier.classifyExcluding(facts, WeatherModel.Anchor, col("processed"))
  }

  /** Oracle: the classifier SQL verbatim, over the composed CTE pipeline.
    * `NOT IN` differs from [[pipelineE2E]] on one input: a NULL processed
    * id makes DuckDB return zero rows, while the Spark form ignores it
    * (pinned in PipelineSpec). The `events` fixtures (sf0.001, sf0.01,
    * sf0.1) have no null `user_id`, so the oracle never sees that case;
    * the SQL text stays the contract.
    */
  val pipelineE2ESql: String = RuleBasedTrailClassifier.oracleSql(
    weatherSql = s"""SELECT w.* FROM (${WeatherModel.weatherRecordsSql}) w
       |  JOIN (SELECT DISTINCT user_id AS city_id FROM events
       |        WHERE user_id NOT IN (${EventOps.processedIdsSql})) fresh
       |    USING (city_id)
       |  WHERE w.temperature_deg_c IS NOT NULL AND w.rain_fall_total_mm >= 0
       |""".stripMargin)

  /** Full three-stage flow on the shared tables: scheduler → ingestion →
    * categorization, returning the final label table. One DAG, no
    * intermediate materialization.
    */
  def endToEnd(spark: SparkSession, sfDir: String): DataFrame = {
    val tasks = schedulerStage(spark, sfDir)
    val weather = WeatherModel.weatherRecords(spark, sfDir)
    val ingest = ingestionStage(spark, sfDir, tasks)(weather)
    val processed = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("city_id", org.apache.spark.sql.types.LongType))
    categorizationStage(
      ingest.historical.unionByName(ingest.forecast), processed).labels
  }
}
