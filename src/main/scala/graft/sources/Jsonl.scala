package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-lines source with schema-on-read and explicit malformed-row policy —
  * the Spark-native form of the reference's REST-JSON ingestion
  * (fetch-weather/src/api.py:52-63 parses a fixed JSON shape and either
  * defaults optional fields or raises on mandatory ones).
  *
  * Design:
  *  - the reader declares the full `StructType` up front (never inference —
  *    inference is a second pass over 100 TB) and reads PERMISSIVE with a
  *    `_corrupt` capture column, so malformed lines become routable rows
  *    (the K6 dead-letter shape) instead of task failures; FAILFAST is the
  *    strict P6 policy and both are one option away.
  *  - timestamps cross the text boundary as int64 microseconds, not
  *    formatted strings: exact round-trip, no format/zone drift.
  *  - the dump side writes via `to_json(struct(...))` + text — JSON-in-JSON
  *    (the `props` payload) is escaped/unescaped by the codec, proving
  *    nested-payload fidelity.
  */
object Jsonl {

  /** Read schema: events with ts as int64 micros + corrupt-line capture. */
  val eventsJson: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts_us", LongType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("_corrupt", StringType)))

  /** Deterministic JSONL dump of the events table, written once per input
    * dir (concurrent processes coordinate via write-to-temp + atomic
    * rename). Lives under java.io.tmpdir — never inside the repo or
    * testdata.
    */
  def dumpEvents(s: SparkSession, sfDir: String): String = {
    val tmp = System.getProperty("java.io.tmpdir", "/tmp")
    // cache key = source-file identity (see Tables.fileIdent): a
    // regenerated events.parquet (the driver rewrites testdata between
    // rounds, and has changed the ts encoding before) invalidates the dump
    // instead of silently serving stale rows
    val out = s"$tmp/graft-jsonl/${java.util.UUID.nameUUIDFromBytes(
      Tables.fileIdent(s, sfDir, "events").getBytes("UTF-8"))}"
    // write-to-temp + atomic rename: a concurrent process either sees the
    // complete dump or none — never a half-written/mid-overwrite directory
    // (mode("overwrite") DELETES before writing, so a marker-file
    // check-then-act would race across JVMs)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out))) {
      graft.ops.IndexStore.recordFixtureBuild("jsonl-dump")
      val staging = s"$out.tmp-${java.util.UUID.randomUUID()}"
      Tables.read(s, sfDir, "events")
        .select(to_json(struct(
          col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value"), col("props")))
          .as("value"))
        .write.mode("overwrite").text(staging)
      try
        java.nio.file.Files.move(
          java.nio.file.Paths.get(staging), java.nio.file.Paths.get(out),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // another process won the rename — its complete dump is in place
        case _: java.nio.file.FileAlreadyExistsException
            | _: java.nio.file.DirectoryNotEmptyException =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm))
            f.delete(): Unit
          }
          rm(new java.io.File(staging))
      }
    }
    out
  }

  /** PERMISSIVE schema-on-read: malformed lines land in `_corrupt` with all
    * data fields null — one filter splits clean rows from the DLQ route.
    */
  def readEvents(s: SparkSession, path: String): DataFrame =
    s.read
      .schema(eventsJson)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** FAILFAST variant: any malformed line fails the scan (strict P6). */
  def readEventsStrict(s: SparkSession, path: String): DataFrame =
    s.read.schema(eventsJson).option("mode", "FAILFAST").json(path)
      .withColumn("ts", timestamp_micros(col("ts_us")))

  /** q_jsonl_roundtrip: parquet → JSONL → schema-on-read → aggregate; the
    * oracle aggregates the parquet directly, so a pass proves byte-exact
    * round-trip of ids, doubles, timestamps and the nested JSON payload.
    */
  def roundtripAgg(s: SparkSession, sfDir: String): DataFrame = {
    val path = dumpEvents(s, sfDir)
    readEvents(s, path)
      .where(col("_corrupt").isNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        max(col("ts")).as("max_ts"),
        countDistinct(col("props")).as("n_props"))
      .orderBy("event_type")
  }

  val roundtripAggSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS sum_value,
      |  max(date_trunc('microseconds', ts)) AS max_ts,
      |  count(DISTINCT props) AS n_props
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
}
