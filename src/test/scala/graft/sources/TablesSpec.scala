package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Tables.eventsTsIsNanos]] reads one footer on the driver: it runs no
  * Spark job, and the events schema it picks reads `ts` right whether the
  * column is TIMESTAMP(NANOS) or TIMESTAMP(MICROS), in one file or in a
  * directory of part files. */
class TablesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val epochSeconds = Seq(1705708800L, 1705712400L, 1705795200L)

  /** A fresh `<dir>/events.parquet` file written by parquet-mr with `ts` in
    * `unit` ("NANOS" or "MICROS"). */
  private def eventsFile(unit: String): String = {
    val dir = Files.createTempDirectory(s"graft-tables-$unit").toString
    val schema = MessageTypeParser.parseMessageType(
      s"""message events {
         |  required int64 event_id;
         |  required int64 ts (TIMESTAMP($unit,true));
         |  required int64 user_id;
         |  required binary event_type (STRING);
         |  required double value;
         |  required binary props (STRING);
         |}""".stripMargin)
    val perSecond = if (unit == "NANOS") 1000000000L else 1000000L
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try epochSeconds.zipWithIndex.foreach { case (s, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", s * perSecond).append("user_id", 7L)
        .append("event_type", "view").append("value", 1.5).append("props", "{}"))
    } finally writer.close()
    dir
  }

  /** A fresh `<dir>/events.parquet` directory of Spark part files, `ts`
    * written as TIMESTAMP(MICROS). */
  private def eventsDirectory(): String = {
    val dir = Files.createTempDirectory("graft-tables-dir").toString
    val old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try epochSeconds.zipWithIndex.toDF("s", "i")
      .select(col("i").cast("long").as("event_id"), timestamp_seconds(col("s")).as("ts"),
        lit(7L).as("user_id"), lit("view").as("event_type"), lit(1.5).as("value"),
        lit("{}").as("props"))
      .repartition(2).write.parquet(s"$dir/events.parquet")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    dir
  }

  test("eventsTsIsNanos reads a footer on the driver: no Spark job, and the " +
    "events schema it picks reads ts right") {
    for ((dir, nanos) <- Seq(eventsFile("NANOS") -> true, eventsFile("MICROS") -> false,
        eventsDirectory() -> false)) {
      var got: Option[Boolean] = None
      assert(TestSpark.jobsDuring { got = Some(Tables.eventsTsIsNanos(spark, dir)) } == 0)
      assert(got.contains(nanos), dir)
      val ev = Tables.read(spark, dir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.orderBy("event_id").select(unix_seconds(col("ts"))).as[Long].collect().toSeq ==
        epochSeconds, dir)
    }
  }
}
