package trailbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The program only ever sees the files these
  * write; every size is a parameter of the workload that calls them.
  */
object Gen {
  val Day = 86400L

  def epoch(ts: String): Long =
    LocalDateTime.parse(ts.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC)

  /** The facts straddle the program's classification anchor. */
  val Anchor: Long = epoch(graft.ops.WeatherModel.Anchor)
  val Jan1: Long = epoch("2024-01-01 00:00:00")

  /** A non-negative 62-bit mix of a seed and a stream number. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & 0x3FFFFFFFFFFFFFFFL
  }

  /** Uniform [0, 1) per row from a column, the seed and a salt. */
  private def unif(c: Column, seed: Long, salt: Int): Column =
    pmod(xxhash64(c, lit(seed), lit(salt)), lit(1000003L)).cast("double") / 1000003.0

  // ---- trail_batch: weather facts in the `events` shape -----------------

  /** Measure units: a fact's `value` is 25·k/64 for an integer k in
    * [0, 512], so rain (value/25 = k/64) and temperature (value/4 − 12)
    * are exact binary fractions. Window sums then come out bit-identical
    * in any summation order, and a threshold comparison cannot differ
    * between the program and the reference.
    */
  val MaxK = 512

  /** Per-city climates, chosen so that every label rule fires for some
    * cities: (hist base, hist spread, forecast base, forecast spread) in k
    * units. 0 dry and cold; 1 mud (cool, wet past); 2 heat; 3 icy
    * snowpack + heavy snow; 4 heavy wet snowpack + heavy rain; 5 anything.
    */
  private val climates: Seq[(Int, Int, Int, Int)] = Seq(
    (2, 2, 2, 2), (130, 60, 60, 40), (300, 100, 470, 40),
    (160, 30, 70, 40), (240, 50, 200, 50), (256, 256, 256, 256))

  /** Writes `<dir>/events.parquet`: per city, HISTORICAL facts every
    * 30 d / `histPerCity` across 2024-01-01..30 (so past and future of the
    * anchor), FORECAST facts every 72 h / `fcstPerCity` from 12 h before
    * the anchor, about 0.5 % invalid rows (negative or null measure), and
    * one `error` event on 2024-01-05 for about 5 % of cities (the
    * program's processed-city cache). The cities are numbered from
    * `cityBase`, and the rows are appended to what `dir` already holds, so
    * that set-up can build one fact table in blocks of cities. Returns the
    * number of rows appended.
    */
  def facts(spark: SparkSession, dir: String, seed: Long, cityBase: Int, cities: Int,
      histPerCity: Int, fcstPerCity: Int, files: Int): Long = {
    val histStep = 30 * Day / histPerCity
    val fcstStep = 72 * 3600L / fcstPerCity
    def climate(city: Column, i: Int): Column = element_at(
      array(climates.map(c => lit(c.productElement(i).asInstanceOf[Int])): _*),
      (pmod(xxhash64(city, lit(seed), lit(7)), lit(climates.size.toLong)) + 1).cast("int"))
    def measure(id: Column, city: Column, base: Int, spread: Int, salt: Int): Column = {
      val k = round(climate(city, base) +
        climate(city, spread) * (unif(id, seed, salt) * 2 - 1)).cast("long")
      val clamped = least(greatest(k, lit(0L)), lit(MaxK.toLong))
      val bad = unif(id, seed, salt + 1)
      when(bad < 0.002, lit(null).cast("double"))
        .when(bad < 0.005, lit(-25.0 / 64))
        .otherwise(clamped.cast("double") * 25.0 / 64.0)
    }
    val nHist = cities.toLong * histPerCity
    val nFcst = cities.toLong * fcstPerCity
    val eventBase = cityBase.toLong * (histPerCity + fcstPerCity + 1)
    val hist = spark.range(nHist).select(
      (col("id") + eventBase).as("event_id"),
      timestamp_seconds(lit(Jan1) + (col("id") / cities).cast("long") * histStep +
        pmod(xxhash64(col("id"), lit(seed)), lit(histStep))).as("ts"),
      (col("id") % cities + cityBase).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        (pmod(xxhash64(col("id"), lit(seed), lit(3)), lit(3L)) + 1).cast("int"))
        .as("event_type"),
      measure(col("id"), col("id") % cities, 0, 1, 11).as("value"))
    val fcst = spark.range(nFcst).select(
      (col("id") + nHist + eventBase).as("event_id"),
      timestamp_seconds(lit(Anchor - 12 * 3600) + (col("id") / cities).cast("long") * fcstStep +
        pmod(xxhash64(col("id"), lit(seed), lit(5)), lit(fcstStep))).as("ts"),
      (col("id") % cities + cityBase).as("user_id"),
      lit("forecast").as("event_type"),
      measure(col("id"), col("id") % cities, 2, 3, 21).as("value"))
    val errors = spark.range(cities.toLong)
      .where(unif(col("id"), seed, 31) < 0.05)
      .select(
        (col("id") + nHist + nFcst + eventBase).as("event_id"),
        timestamp_seconds(lit(epoch("2024-01-05 12:00:00"))).as("ts"),
        (col("id") + cityBase).as("user_id"), lit("error").as("event_type"), lit(0.0).as("value"))
    val all = hist.unionByName(fcst).unionByName(errors)
      .withColumn("props", concat(lit("{\"k\":"), col("event_id") % 97, lit("}")))
    all.coalesce(files).write.mode("append").parquet(s"$dir/events.parquet")
    nHist + nFcst + errors.count()
  }

  // ---- store_rw: keyed facts for the merge-table store ------------------

  /** Key layout of the store, after the reference's ingestion write: per
    * city and fetch, one daily historical row (keyed by its date) and 48
    * hourly forecast rows (keyed by their hour). Fetch round r of every
    * city happens at `epoch` + (r + 1) days: its daily row is day r
    * (midnight of the day before the fetch) and its hourly rows are hours
    * [24(r + 1), 24(r + 3)) after `epoch`. Event `j` of city `u` has
    * event_id u·2^20 + j, with j = hour for an hourly row and
    * 2^19 + day for a daily row. A key's city and timestamp are functions
    * of the key and its value a function of (key, round), so the expected
    * state is one round number per key.
    */
  final case class StoreKeys(seed: Long, epoch: Long) {
    private val s3 = mix(seed, 3) % 801
    val DailyBase = 1 << 19
    def eventId(u: Int, j: Int): Long = (u.toLong << 20) + j
    def daily(day: Int): Int = DailyBase + day
    def tsOf(e: Long): Long = {
      val j = e & 0xFFFFF
      if (j >= DailyBase) epoch + (j - DailyBase) * Day else epoch + j * 3600
    }
    def kOf(e: Long, v: Int): Long = (e * 31L + v * 1009L + s3) % 801

    /** Events-shaped rows for (event_id, version) pairs. */
    def rows(keys: DataFrame): DataFrame = {
      val j = col("event_id").bitwiseAND(0xFFFFF)
      keys.select(
        col("event_id"),
        timestamp_seconds(when(j >= DailyBase, lit(epoch) + (j - DailyBase) * Day)
          .otherwise(lit(epoch) + j * 3600)).as("ts"),
        shiftright(col("event_id"), 20).as("user_id"),
        when(j >= DailyBase, lit("daily")).otherwise(lit("hourly")).as("event_type"),
        ((col("event_id") * 31L + col("version") * 1009L + s3) % 801 * 0.25).as("value"),
        concat(lit("{\"k\":"), col("version"), lit("}")).as("props"))
    }
  }

  // ---- store_rw, ANN part: embeddings with planted clusters ------------

  /** `n` 64-d vectors in two levels of planted clusters: `clusters`
    * random centres, groups of `groupSize` vectors around a group centre
    * (centre + Gaussian noise of `spread` per dimension), and each vector
    * its group centre plus noise of `spread` / 10. A vector's true nearest
    * neighbours are then its group mates, clearly closer than the rest of
    * its cluster, so recall measures the index rather than ties. Returns
    * the vectors as the program reads them (float, widened to double).
    */
  def corpus(seed: Long, n: Int, clusters: Int, groupSize: Int,
      spread: Double): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val centres = Array.fill(clusters, 64)(rnd.nextGaussian())
    var group: Array[Double] = null
    Array.tabulate(n) { i =>
      if (i % groupSize == 0) {
        val c = centres(rnd.nextInt(clusters))
        group = Array.tabulate(64)(d => c(d) + spread * rnd.nextGaussian())
      }
      Array.tabulate(64)(d => (group(d) + spread / 10 * rnd.nextGaussian()).toFloat.toDouble)
    }
  }

  /** Appends vectors [lo, hi) of a corpus to `<dir>/embeddings.parquet`. */
  def writeCorpus(spark: SparkSession, dir: String, vecs: Array[Array[Double]],
      lo: Int, hi: Int, groupSize: Int): Unit = {
    import spark.implicits._
    (lo until hi).map(i => (i.toLong, vecs(i).map(_.toFloat), i / groupSize))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("append").parquet(s"$dir/embeddings.parquet")
  }

  /** Cosine as the program scores it: a left fold over the 64 elements. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }
}
