package graft

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanTags
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

  private type Fact = (Long, String, Option[Long], String, Option[Double])

  /** Writes `rows` (event_id, ts, user_id, event_type, value) as one part
    * file under `<sfDir>/events.parquet`, added to those already there. `ts`
    * is read in the session time zone and stored as TIMESTAMP(MICROS). */
  private def writeEvents(sfDir: String, rows: Seq[Fact]): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), col("value"), lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("append").parquet(s"$sfDir/events.parquet")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // the outputs carry no row order: compare them sorted by city_id,
  // nulls first as in an ascending orderBy
  private def byCity(df: DataFrame) =
    df.collect().toSeq.sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))

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
    writeEvents(sfDir, rows)
    val got = byCity(Pipelines.pipelineE2E(spark, sfDir))
    assert(got == byCity(taskListPipelineE2E(sfDir)))
    assert(!got.exists(_.isNullAt(0)), got)
    assert(got.map(_.getLong(0)) == Seq(3L, 4L), got)
  }

  // ---- pipelineE2E keeps its analysed plan per (session, directory) --------

  /** City 1's facts: three cold rainy hours in the 2 days before the anchor
    * (6 mm, no warm day: TRAIL_MUD_WARNING) and one older row that keeps
    * the city in the window wherever the anchor falls. */
  private val mudCity: Seq[Fact] = Seq(
    (1, "2024-01-10 12:00:00", Some(1L), "click", Some(40.0)),
    (2, "2024-01-19 20:00:00", Some(1L), "click", Some(50.0)),
    (3, "2024-01-19 21:00:00", Some(1L), "view", Some(50.0)),
    (4, "2024-01-19 22:00:00", Some(1L), "purchase", Some(50.0)))

  private def factsDir(rows: Seq[Fact]): String = {
    val sfDir = Files.createTempDirectory("graft_e2e_memo").toString
    writeEvents(sfDir, rows)
    sfDir
  }

  /** The second call sees what changed: its rows equal a fresh build's,
    * and differ from the first call's. */
  private def assertSeesChange(sfDir: String)(change: => Unit): Unit = {
    val first = byCity(Pipelines.pipelineE2E(spark, sfDir))
    change
    val second = byCity(Pipelines.pipelineE2E(spark, sfDir))
    assert(second == byCity(Pipelines.buildPipelineE2E(spark, sfDir)))
    assert(second != first, second)
  }

  test("pipeline e2e memo: a fact file added between two calls shows in the second") {
    val sfDir = factsDir(mudCity)
    assertSeesChange(sfDir) {
      writeEvents(sfDir, Seq((5, "2024-01-19 10:00:00", Some(2L), "click", Some(20.0))))
    }
    assert(byCity(Pipelines.pipelineE2E(spark, sfDir)).map(_.getLong(0)) == Seq(1L, 2L))
  }

  /** `rows` in one parquet file written by parquet-mr with `ts` as
    * TIMESTAMP(NANOS), the other encoding `events` has shipped in (UTC). */
  private def nanosEventsFile(rows: Seq[Fact]): java.nio.file.Path = {
    val file = Files.createTempDirectory("graft_e2e_nanos").resolve("events.parquet")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new HPath(file.toString))
      .withType(schema).build()
    val group = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, ts, city, kind, value) =>
      val nanos = LocalDateTime.parse(ts.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC) *
        1000000000L
      writer.write(group.newGroup().append("event_id", id).append("ts", nanos)
        .append("user_id", city.get).append("event_type", kind).append("value", value.get))
    } finally writer.close()
    file
  }

  test("pipeline e2e memo: a part file rewritten in place shows in the second call") {
    val sfDir = factsDir(mudCity)
    val target = Files.list(Paths.get(sfDir, "events.parquet")).iterator().asScala
      .find(p => p.getFileName.toString.matches("part-.*\\.parquet")).get
    // the same name, new bytes: the city's hours dry, and ts stored as
    // TIMESTAMP(NANOS), which the analysed plan's scan schema depends on
    val dry = nanosEventsFile(
      mudCity.map { case (id, ts, city, kind, _) => (id, ts, city, kind, Some(10.0)) })
    assertSeesChange(sfDir) {
      Files.write(target, Files.readAllBytes(dry))
      Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    }
  }

  test("pipeline e2e memo: a session time zone change shows in the second call") {
    // east of UTC the anchor falls before the rainy hours, so they leave
    // the 2-day window and the label turns from mud to dry
    val sfDir = factsDir(mudCity)
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    try assertSeesChange(sfDir)(spark.conf.set(key, "Asia/Tokyo"))
    finally spark.conf.set(key, prev)
  }

  test("pipeline e2e memo: calls on an unchanged directory share one analysed plan, " +
    "each in its own query, and building the frame runs no job") {
    val sfDir = factsDir(mudCity)
    var a: DataFrame = null
    assert(TestSpark.jobsDuring { a = Pipelines.pipelineE2E(spark, sfDir) } == 0)
    val kept = a.queryExecution.analyzed.children.head
    val tags = PlanTags.datasetIds(kept)
    var b: DataFrame = null
    assert(TestSpark.jobsDuring { b = Pipelines.pipelineE2E(spark, sfDir) } == 0)
    assert(a.queryExecution ne b.queryExecution)
    assert(b.queryExecution.analyzed.children.head eq kept)
    (1 to 3).foreach(_ => Pipelines.pipelineE2E(spark, sfDir).collect())
    assert(byCity(b) == byCity(Pipelines.buildPipelineE2E(spark, sfDir)))
    // each call's Dataset id lands on its own root, not on the kept plan
    assert(PlanTags.datasetIds(kept) == tags)
    // the final plan is the un-memoised frame's: the no-op root is gone
    assert(b.queryExecution.optimizedPlan.canonicalized ==
      Pipelines.buildPipelineE2E(spark, sfDir).queryExecution.optimizedPlan.canonicalized)
    // a changed listing replaces the entry
    (6 to 8).foreach { i =>
      writeEvents(sfDir, Seq((i.toLong, "2024-01-19 10:00:00", Some(i.toLong), "click",
        Some(20.0))))
      Pipelines.pipelineE2E(spark, sfDir)
    }
    assert(Pipelines.analysedEntries(spark).count(_ == sfDir) == 1)
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
