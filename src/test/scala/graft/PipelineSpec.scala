package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventOps, RuleBasedTrailClassifier, Sinks, WeatherModel}
import graft.pipeline.Pipelines

/** End-to-end pipeline compositions (SURVEY §3) + sink semantics. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  test("scheduler stage: one task per city with a fresh task id") {
    val tasks = Pipelines.schedulerStage(spark, dir)
    assert(tasks.count() == 15)
    assert(tasks.select("task_id").distinct().count() == 15)
  }

  test("end-to-end: scheduler -> ingestion -> categorization produces labels") {
    val labels = Pipelines.endToEnd(spark, dir)
    assert(labels.count() > 0)
    assert(labels.columns.toSeq == Seq("city_id", "class_label"))
    // matches the flagship query on the same data
    val flagship = graft.ops.RuleBasedTrailClassifier
      .classify(WeatherModel.weatherRecords(spark, dir))
    assert(labels.except(flagship).count() == 0)
  }

  test("categorization stage skips already-processed cities (A9)") {
    val weather = WeatherModel.weatherRecords(spark, dir)
    val processed = Seq(0L, 1L, 2L).toDF("city_id")
    val out = Pipelines.categorizationStage(weather, processed).labels
    assert(out.where(col("city_id").isin(0, 1, 2)).count() == 0)
  }

  test("categorization surfaces unlabeled cities (empty class_label, not null)") {
    val weather = WeatherModel.weatherRecords(spark, dir)
    val stage = Pipelines.categorizationStage(weather, spark.emptyDataFrame
      .select(lit(0L).as("city_id")).limit(0))
    val unlabeled = stage.unlabeled.collect()
    // sf0.001 is known to contain a no-rule city (city 5)
    assert(unlabeled.nonEmpty)
    unlabeled.foreach(r => assert(r.getString(1) == ""))
    // and unlabeled ⊆ labels output (they are emitted, just flagged)
    assert(stage.labels.where(col("class_label") === "").count() == unlabeled.length)
  }

  /** Parity reference: the task-list composition `pipelineE2E` retired.
    * §3.1 distinct cities → A9 left-anti against the processed cache →
    * §3.2 broadcast task × weather inner join → validity → classifier.
    */
  private def taskListPipelineE2E(sfDir: String) = {
    val tasks = EventOps.s1DimDedup(spark, sfDir)
    val fresh = tasks.join(
      broadcast(EventOps.processedIds(spark, sfDir)
        .select(col("user_id").as("city_id"))),
      Seq("city_id"), "left_anti")
    val weather = WeatherModel.weatherRecords(spark, sfDir)
      .join(broadcast(fresh), Seq("city_id"))
      .where(col("temperature_deg_c").isNotNull && col("rain_fall_total_mm") >= 0.0)
    RuleBasedTrailClassifier.classify(weather, WeatherModel.Anchor)
  }

  test("pipeline e2e equals the task-list form on null, processed and invalid rows") {
    // value < 0 or null is invalid. City 1 is processed (an error event on
    // 2024-01-05); city 2 has only invalid rows; city 3 has one invalid
    // forecast row among valid ones; null cities appear both as facts and
    // in the processed cache. Cities 5 and 6 are processed only by an
    // invalid error row (null, negative value), so validity must not be
    // applied before the processed check; city 7's only row is processed.
    val rows = Seq[(Long, String, Option[Long], String, Option[Double])](
      (1, "2024-01-19 10:00:00", None, "click", Some(150.0)),
      (2, "2024-01-05 12:00:00", None, "error", Some(10.0)),
      (3, "2024-01-05 12:00:00", Some(1L), "error", Some(10.0)),
      (4, "2024-01-19 10:00:00", Some(1L), "click", Some(150.0)),
      (5, "2024-01-19 10:00:00", Some(2L), "click", Some(-5.0)),
      (6, "2024-01-20 02:00:00", Some(2L), "error", Some(-10.0)),
      (7, "2024-01-19 10:00:00", Some(3L), "view", Some(300.0)),
      (8, "2024-01-20 05:00:00", Some(3L), "error", Some(120.0)),
      (9, "2024-01-20 06:00:00", Some(3L), "error", Some(-40.0)),
      (10, "2024-01-18 10:00:00", Some(4L), "purchase", Some(100.0)),
      (11, "2024-01-20 03:00:00", Some(4L), "signup", Some(200.0)),
      (12, "2024-01-19 10:00:00", Some(5L), "click", Some(150.0)),
      (13, "2024-01-20 04:00:00", Some(5L), "signup", Some(100.0)),
      (14, "2024-01-05 12:00:00", Some(5L), "error", None),
      (15, "2024-01-19 10:00:00", Some(6L), "view", Some(150.0)),
      (16, "2024-01-20 04:00:00", Some(6L), "signup", Some(100.0)),
      (17, "2024-01-05 12:00:00", Some(6L), "error", Some(-20.0)),
      (18, "2024-01-05 12:00:00", Some(7L), "error", Some(10.0)))
    val sfDir = Files.createTempDirectory("graft_e2e_edges").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), col("value"), lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(s"$sfDir/events.parquet")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    // the outputs carry no row order: compare them sorted by city_id,
    // nulls first as in an ascending orderBy
    def byCity(df: DataFrame) =
      df.collect().toSeq.sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
    val got = byCity(Pipelines.pipelineE2E(spark, sfDir))
    assert(got == byCity(taskListPipelineE2E(sfDir)))
    assert(!got.exists(_.isNullAt(0)), got)
    assert(got.map(_.getLong(0)) == Seq(3L, 4L), got)
  }

  test("A10: observe() counters report flushed rows without breaking the plan") {
    val obs = Pipelines.withCounters(Pipelines.schedulerStage(spark, dir))
    val n = obs.df.count()
    assert(obs.rows == n && n == 15)
  }

  test("S7: mock weather generator is deterministic and 48 rows") {
    val g1 = graft.sources.MockWeather.hourlyForecast(spark).collect()
    val g2 = graft.sources.MockWeather.hourlyForecast(spark).collect()
    assert(g1.length == 48 && g1.sameElements(g2))
    assert(g1.head.getDouble(2) == 18.0) // temp = 18.0 + i*0.1
  }

  test("upsertPartitioned: only touched partitions rewritten, replay idempotent") {
    val path = Files.createTempDirectory("graft_pupsert").toString + "/store"
    val day1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b")).toDF("k", "day", "v")
    val day2 = Seq((3L, "2024-01-02", "c")).toDF("k", "day", "v")
    Sinks.upsertPartitioned(day1, path, Seq("k"), "day")
    Sinks.upsertPartitioned(day2, path, Seq("k"), "day")
    // capture day1's physical files, then upsert into day2 only
    val d1dir = new java.io.File(s"$path/day=2024-01-01")
    val before = d1dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    val day2v2 = Seq((3L, "2024-01-02", "c2"), (4L, "2024-01-02", "d")).toDF("k", "day", "v")
    Sinks.upsertPartitioned(day2v2, path, Seq("k"), "day")
    val after = d1dir.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "untouched partition was rewritten")
    val m = spark.read.parquet(path).select("k", "v")
      .as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "a", 2L -> "b", 3L -> "c2", 4L -> "d"))
    // replay of the same batch converges
    Sinks.upsertPartitioned(day2v2, path, Seq("k"), "day")
    assert(spark.read.parquet(path).count() == 4)
  }

  test("upsertParquet: replay converges, new rows win on key collision") {
    val path = Files.createTempDirectory("graft_upsert").toString + "/store"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Sinks.upsertParquet(v1, path, Seq("k"))
    assert(spark.read.parquet(path).count() == 2)
    // replay same batch → no dups
    Sinks.upsertParquet(v1, path, Seq("k"))
    assert(spark.read.parquet(path).count() == 2)
    // updated value wins
    val v2 = Seq((2L, "b2"), (3L, "c")).toDF("k", "v")
    Sinks.upsertParquet(v2, path, Seq("k"))
    val m = spark.read.parquet(path).as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }
}
