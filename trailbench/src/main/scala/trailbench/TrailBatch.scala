package trailbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{RuleBasedTrailClassifier, WeatherModel}
import graft.pipeline.Pipelines
import graft.streaming.StreamingPipeline

/** `trail_batch`: one operation is a full-fleet categorization,
  * `Pipelines.pipelineE2E` materialized with a `noop` write, over one
  * generated fact table. Each set-up repetition appends one block of
  * cities to it, so a pass covers every block. Each pass's labels are
  * checked against a reference computed per block by another path: the
  * benchmark's own projection and filters, folded by the streaming
  * classifier run as a batch Dataset. The label digest adds up over
  * blocks, as blocks share no city.
  */
final class TrailBatch(spark: SparkSession, opts: Opts) extends Workload(opts) {
  /** Cities per block: three blocks of 1500 give a pass of 1.3 M rows. */
  private val (cities, histPerCity, fcstPerCity) =
    if (opts.tiny) (300, 240, 48) else (1500, 240, 48)
  private val dir = s"${opts.work}/facts"

  /** Every label token the classifier can emit; each must fire somewhere. */
  private val Tokens = Seq("TRAIL_MUD_WARNING", "TRAIL_DRY_EXCELLENT", "HEAT_ADVISORY",
    "SNOWPACK_ICY_CONDITIONS", "SNOWPACK_HEAVY_WET", "HEAVY_SNOW_WARNING",
    "TRAIL_CLOSED_HEAVY_RAIN")

  private var rows = 0L
  private var digest = (0L, 0L)

  val primary = "pass"

  /** Label digest: city count and a sum of per-row hashes. */
  private def digestCols = Seq(count(lit(1)).as("n"),
    sum(pmod(xxhash64(col("city_id"), col("class_label")), lit(1L << 40))).as("h"))

  def prepare(rep: Int, rec: Recorder): Unit = {
    val base = rep * cities
    rows += Gen.facts(spark, dir, Gen.mix(opts.seed, 100 + rep), base, cities,
      histPerCity, fcstPerCity, files = opts.cores)
    val ref = reference(base).persist()
    val row = ref.agg(digestCols.head, digestCols.tail: _*).head()
    val fired = ref.select(explode(split(col("class_label"), ",")).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    ref.unpersist()
    val missing = Tokens.filterNot(fired)
    require(missing.isEmpty, s"generated facts fire no ${missing.mkString(", ")}")
    digest = (digest._1 + row.getLong(0), digest._2 + row.getLong(1))
  }

  /** Labels by a path other than the timed one: this file's projection
    * and validity/processed filters, classified by the streaming
    * classifier's per-city fold run as a batch.
    */
  private def reference(base: Int): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
      .where(col("user_id") >= base && col("user_id") < base + cities)
    val processed = raw.where(col("event_type") === "error" &&
        col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-06 00:00:00").cast("timestamp"))
      .select(col("user_id")).distinct()
    val weather = raw.join(broadcast(processed), Seq("user_id"), "left_anti")
      .select(col("user_id").as("city_id"), col("ts").as("timestamp_utc"),
        (col("value") / 4.0 - 12.0).as("temperature_deg_c"),
        (col("value") / 25.0).as("rain_fall_total_mm"),
        when(col("event_type").isin("click", "view", "purchase"), "HISTORICAL")
          .otherwise("FORECAST").as("data_source"))
      .where(col("temperature_deg_c").isNotNull && col("rain_fall_total_mm") >= 0.0)
    StreamingPipeline.streamingClassifier(spark,
      StreamingPipeline.weatherEvents(spark, weather))
      .select(col("city_id"), col("class_label"))
  }

  def op(i: Long, rec: Recorder): Unit = {
    val obs = Observation()
    val (_, s) = rec.timeGated("pass") {
      Trace.span("pipelines.e2e", "pipelines") {
        val out = Pipelines.pipelineE2E(spark, dir)
        val shown = if (corruptNow(rec)) flipOneLabel(out) else out
        shown.observe(obs, digestCols.head, digestCols.tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
    }
    val got = obs.get
    val passDigest = (got("n").asInstanceOf[Long], got("h").asInstanceOf[Long])
    rec.check(passDigest == digest, s"pass $i labels $passDigest != reference $digest")
    rec.add("rows_per_s", rows / s)
    if (Trace.on && rec.measuring) {
      // the traced run also times the pass's two layers on their own
      rec.time("project") {
        Trace.span("weather_model.project", "weather_model") {
          WeatherModel.weatherRecords(spark, dir).write.format("noop").mode("overwrite").save()
        }
      }
      rec.time("classify") {
        Trace.span("trail_classifier.classify", "trail_classifier") {
          RuleBasedTrailClassifier.classify(WeatherModel.weatherRecords(spark, dir),
            WeatherModel.Anchor).write.format("noop").mode("overwrite").save()
        }
      }
    }
  }

  /** The deliberately corrupted output of the self-check: one label
    * changed.
    */
  private def flipOneLabel(out: DataFrame): DataFrame = {
    val first = out.select(min(col("city_id"))).head().getLong(0)
    out.withColumn("class_label", when(col("city_id") === first,
      concat(col("class_label"), lit(",FLIPPED"))).otherwise(col("class_label")))
  }

  def finish(rec: Recorder): Unit = ()
  def close(): Unit = ()

  def rowsPerS(rec: Recorder): Double = Stats.median(rec.get("rows_per_s"))

  def figures(rec: Recorder): Seq[Figure] = Seq(
    Figure("rows_per_s", rowsPerS(rec), "1/s",
      s"$rows fact rows per pass, ${opts.reps} blocks of $cities cities"),
    Report.pct("pass_p50_s", rec.get("pass"), 50))

  def layers(rec: Recorder, facts: Seq[OpFacts]): Seq[(Figure, String)] = {
    def spansOf(layer: String) = facts.filter(_.root.layer == layer)
    val e2e = spansOf("pipelines")
    val proj = spansOf("weather_model")
    val cls = spansOf("trail_classifier")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq(
      Figure("pipelines.e2e_s", med(e2e.map(_.root.durMs / 1000)), "s") ->
        "pass_p50_s, rows_per_s on trail_batch",
      Figure("weather_model.project_s", med(proj.map(_.root.durMs / 1000)), "s") ->
        "pass_p50_s on trail_batch",
      Figure("weather_model.scan_bytes", med(e2e.map(_.inputBytes.toDouble)), "bytes") ->
        "pass_p50_s on trail_batch",
      Figure("weather_model.scan_rows", med(e2e.map(_.inputRows.toDouble)), "rows") ->
        "pass_p50_s on trail_batch",
      Figure("trail_classifier.classify_s", med(cls.map(_.root.durMs / 1000)), "s") ->
        "pass_p50_s, rows_per_s on trail_batch",
      Figure("trail_classifier.shuffle_bytes", med(cls.map(_.shuffleWriteBytes.toDouble)),
        "bytes") -> "pass_p50_s, rows_per_s on trail_batch")
  }
}
