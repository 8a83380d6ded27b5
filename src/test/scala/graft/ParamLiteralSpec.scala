package graft

import java.nio.file.Files
import java.time.{Duration, Instant, LocalDate, LocalDateTime, Period}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MergeTable
import graft.plans.ParamLiteral

/** `ParameterizeLookups`: a lookup's filter literals become
  * [[ParamLiteral]]s that read their value from `references[]`, so reads
  * that differ only in their keys share one compiled class. Pinned here:
  * the rows are those of the plain plan for every inlined type and edge
  * value, compiled or interpreted; two graft city reads generate one
  * source and the second compiles nothing; plans that are not lookups
  * keep their literals. */
class ParamLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def params(plan: SparkPlan): Seq[ParamLiteral] =
    collectWithSubqueries(plan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case p: ParamLiteral => p }))

  private def filterLiterals(plan: SparkPlan): Seq[Literal] =
    collectWithSubqueries(plan) { case f: FilterExec => f }
      .flatMap(_.condition.collect { case l: Literal if l.value != null => l })

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).sorted.toSeq

  /** One parquet table per type: `id`, and `v` over the edge values. */
  private def table(values: Seq[Any]): (DataFrame, Seq[Column]) = {
    val path = Files.createTempDirectory("graft-param-").resolve("t").toString
    val lits = values.map(lit)
    lits.zipWithIndex
      .map { case (l, i) => spark.range(1).select(lit(i.toLong).as("id"), l.as("v")) }
      .reduce(_ unionByName _)
      .write.parquet(path)
    (spark.read.parquet(path), lits)
  }

  private val edgeValues: Seq[(String, Seq[Any])] = Seq(
    "boolean" -> Seq(true, false),
    "byte" -> Seq(Byte.MinValue, -1.toByte, 0.toByte, Byte.MaxValue),
    "short" -> Seq(Short.MinValue, -1.toShort, 0.toShort, Short.MaxValue),
    "int" -> Seq(Int.MinValue, -1, 0, 7, Int.MaxValue),
    "long" -> Seq(Long.MinValue, -1L, 0L, 7L, Long.MaxValue),
    "float" -> Seq(Float.NaN, 0.0f, -0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.MinValue, Float.MaxValue, Float.MinPositiveValue),
    "double" -> Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinValue, Double.MaxValue, Double.MinPositiveValue),
    "date" -> Seq(LocalDate.of(1, 1, 1), LocalDate.of(1969, 12, 31),
      LocalDate.of(1970, 1, 1), LocalDate.of(9999, 12, 31)),
    "timestamp" -> Seq(Instant.parse("0001-01-01T00:00:00Z"),
      Instant.parse("1969-12-31T23:59:59.999999Z"), Instant.EPOCH,
      Instant.parse("9999-12-31T23:59:59.999999Z")),
    "timestamp_ntz" -> Seq(LocalDateTime.of(1, 1, 1, 0, 0),
      LocalDateTime.of(1970, 1, 1, 0, 0), LocalDateTime.of(9999, 12, 31, 23, 59, 59)),
    "interval year to month" -> Seq(Period.ofMonths(-13), Period.ZERO,
      Period.ofYears(178956970)),
    "interval day to second" -> Seq(Duration.ofDays(-2), Duration.ZERO,
      Duration.ofNanos(1000), Duration.ofDays(106751991)))

  private val modes = Seq(
    "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
    "codegen'd predicate" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  test("a lookup through the rule returns the plain plan's rows for every " +
    "inlined type and edge value, compiled and interpreted") {
    for ((tpe, values) <- edgeValues) {
      val (t, lits) = table(values)
      var replaced = 0
      for ((mode, conf) <- modes; l <- lits;
           pred <- Seq(col("v") === l, col("v") < l, col("v") <=> l)) {
        withConf(conf: _*) {
          val lookup = t.where(pred).select(col("id"))
          // a repartition puts an exchange over the same scan and filter:
          // not a lookup, so the filter keeps its Literal
          val plain = t.where(pred).repartition(1).select(col("id"))
          val got = ids(lookup)
          // the optimizer may drop a literal (`v = true` is `v`); any
          // literal left in the lookup's filter is a ParamLiteral
          val lookupPlan = lookup.queryExecution.executedPlan
          assert(filterLiterals(lookupPlan).isEmpty, s"$tpe $mode $pred: $lookupPlan")
          replaced += params(lookupPlan).size
          assert(params(plain.queryExecution.executedPlan).isEmpty)
          assert(got == ids(plain), s"$tpe $mode $pred")
        }
      }
      assert(replaced > 0, tpe)
    }
  }

  test("two graft city reads share one generated source; the second compiles " +
    "nothing") {
    val t = Files.createTempDirectory("graft-param-read").resolve("t").toString
    val lo = 1705000000L
    MergeTable.mergeUpsert(spark, t,
      (0L until 400L).map(i => (i, i % 20, lo + i * 3600L, i * 0.5)).toDF(
        "event_id", "user_id", "epoch", "value")
        .select(col("event_id"), col("user_id"),
          timestamp_seconds(col("epoch")).as("ts"), col("value")),
      Seq("user_id", "event_id"), Seq("user_id"))
    def read(u: Int): DataFrame = spark.read.format("graft").load(t)
      .where(col("user_id") === u &&
        col("ts") >= timestamp_seconds(lit(lo + 24 * 3600L)) &&
        col("ts") < timestamp_seconds(lit(lo + 300 * 3600L)))
    def window(u: Int): Int =
      (0 until 400).count(i => i % 20 == u && i >= 24 && i < 300)
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(read(3).collect().length == window(3))
    val before = compiled
    val second = read(4)
    assert(second.collect().length == window(4))
    assert(compiled == before, "the second read compiled a class")
    val first = read(3)
    first.collect()
    def sources(df: DataFrame): Seq[String] =
      org.apache.spark.sql.execution.debug.codegenStringSeq(
        df.queryExecution.executedPlan).map(_._2)
    assert(sources(first).nonEmpty)
    assert(sources(first) == sources(second))
    // the key is a reference, and the plan still prints it as a literal
    assert(params(second.queryExecution.executedPlan).map(_.value).contains(4L))
    assert(second.queryExecution.executedPlan.toString.contains(" = 4)"))
  }

  /** The executed plans of every query `body` runs, in order. */
  private def plansDuring(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (qe.executedPlan.toString.contains("plans-during-marker")) marker.countDown()
        else seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      Seq(1).toDF("plans-during-marker").collect()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("plans that are not lookups keep their literals: the flagship pass, a " +
    "merge, a deletion-vector read") {
    // a small events table around the classification anchor
    val sf = Files.createTempDirectory("graft-param-e2e").toString
    spark.range(600).select(col("id").as("event_id"),
        timestamp_seconds(lit(1705536000L) + col("id") * 600L).as("ts"),
        (col("id") % 12).as("user_id"),
        element_at(array(lit("view"), lit("click"), lit("error"), lit("forecast")),
          (col("id") % 4 + 1).cast("int")).as("event_type"),
        (col("id") % 90).cast("double").as("value"), lit("{}").as("props"))
      .write.parquet(s"$sf/events.parquet")
    val e2e = SparkEntry.queries("q_pipeline_e2e")(spark, sf)
    assert(e2e.count() > 0)
    e2e.collect()
    assert(filterLiterals(e2e.queryExecution.executedPlan).nonEmpty)
    assert(params(e2e.queryExecution.executedPlan).isEmpty)

    val t = Files.createTempDirectory("graft-param-scope").resolve("t").toString
    val rows = (1L to 300L).map(i => (i, i % 7, i * 1.5)).toDF("event_id", "user_id", "value")
    MergeTable.mergeUpsert(spark, t, rows, Seq("event_id"), Seq("event_id"),
      targetRowsPerFile = 50)
    val merged = plansDuring {
      MergeTable.mergeUpsert(spark, t,
        rows.where(col("value") > 30.0).withColumn("value", col("value") + 1.0),
        Seq("event_id"), Seq("event_id"))
    }
    assert(merged.nonEmpty)
    merged.foreach(p => assert(params(p).isEmpty, p))

    MergeTable.mergeDelete(spark, t, (1L to 300L by 29).toDF("event_id"),
      deletionVectors = true)
    assert(MergeTable.latestManifest(t).get.files.exists(_.dv.nonEmpty))
    val masked = spark.read.format("graft").load(t).where(col("value") > 30.0)
    assert(masked.count() == MergeTable.read(spark, t).where(col("value") > 30.0).count())
    masked.collect()
    assert(filterLiterals(masked.queryExecution.executedPlan).nonEmpty)
    assert(params(masked.queryExecution.executedPlan).isEmpty)
  }
}
