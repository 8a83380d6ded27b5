package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.{ChangeCapture, TextOps}
import graft.sources.Tables

/** Dev harness for optimization work; Bench and Verify never load it.
  *
  * Run: sbt "Test/runMain graft.Dev <subcommand> ..."
  *
  *  - `time [filter ...]`: per-sample noop timing of the registered queries
  *    whose names contain a filter (none = every query), with the classes
  *    each sample compiled;
  *  - `ab q21|diff`: two arms of one computation, timed interleaved so
  *    window drift hits both alike;
  *  - `plans <tag> <suffix> [query ...]`: each query's final plan into
  *    `plans/<tag>/<query>_<suffix>.txt`, run-local ids masked so a rerun
  *    on unchanged code diffs empty except in the known flips it names;
  *    a pass over every query also rewrites the `PLANS.md` table from
  *    the same plans.
  *
  * Every subcommand runs on `SPARK_GRAFT_SF_DIR` (default sf0.1) in a
  * 32-core session; timings take `SPARK_GRAFT_REPS` samples (default 3).
  */
object Dev {

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "time" :: filters => time(_, filters)
      case "ab" :: "q21" :: Nil => abQ21
      case "ab" :: "diff" :: Nil => abDiff
      case "plans" :: tag :: suffix :: names => plans(_, tag, suffix, names)
      case _ => throw new IllegalArgumentException(
        "usage: Dev time [filter ...] | ab q21|diff | plans <tag> <suffix> [query ...]")
    }
    val spark = GraftSession.local(32, "graft-dev")
    try run(spark) finally spark.stop()
  }

  // ---- timing core ---------------------------------------------------------

  /** Wall seconds to build `df` and materialize it through a noop write
    * (Bench's sink), so planning and eager checkpoint jobs are counted. */
  private def noopSeconds(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def report(label: String, secs: Seq[Double]): Unit =
    println(f"$label%-32s ${secs.map(t => f"$t%7.2f").mkString(" ")}")

  /** Classes compiled in this JVM so far: each is a code-cache miss. */
  private def compiledClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Per sample: the seconds, then the classes compiled while it ran, so a
    * plan that compiles anew on every run (a literal in generated code)
    * shows as a non-zero count after the first sample. */
  private def time(spark: SparkSession, filters: Seq[String]): Unit =
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filters.isEmpty || filters.exists(n.contains))
      .foreach { n =>
        val samples = (1 to reps).map { _ =>
          val before = compiledClasses
          val secs = noopSeconds(SparkEntry.queries(n)(spark, sfDir))
          (secs, compiledClasses - before)
        }
        report(n, samples.map(_._1))
        println(f"${"  classes compiled"}%-32s ${samples.map(s => f"${s._2}%7d").mkString(" ")}")
      }

  /** One sample per arm per round, arms alternating within a round. */
  private def interleave(arms: (String, () => DataFrame)*): Unit = {
    val rounds = (1 to reps).map(_ => arms.map { case (_, df) => noopSeconds(df()) })
    arms.zipWithIndex.foreach { case ((label, _), i) => report(label, rounds.map(_(i))) }
  }

  // ---- ab ------------------------------------------------------------------

  /** TPC-H Q21: the shipped EXISTS/NOT-EXISTS text (three lineitem scans,
    * two broadcast in full) against a per-order two-level aggregate
    * (n_supp >= 2 replaces EXISTS, n_late = 1 replaces NOT EXISTS) that
    * shuffles lineitem by orderkey instead: the escape hatch for a scale
    * where lineitem no longer broadcasts. Both engines accept the text. */
  private def abQ21(spark: SparkSession): Unit = {
    Seq("supplier", "lineitem", "orders", "nation")
      .foreach(n => Tables.read(spark, sfDir, n).createOrReplaceTempView(n))
    val rewrite =
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN (
        |  SELECT l_orderkey AS agg_orderkey,
        |    count(*) AS n_supp, sum(late) AS n_late
        |  FROM (
        |    SELECT l_orderkey, l_suppkey,
        |      max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |               THEN 1 ELSE 0 END) AS late
        |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |    GROUP BY l_orderkey, l_suppkey) per_supp
        |  GROUP BY l_orderkey) osupp
        |  ON agg_orderkey = l1.l_orderkey
        |WHERE n_name = 'NATION_1'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND n_supp >= 2 AND n_late = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin
    val shipped = () => SparkEntry.queries("q21_waiting_suppliers")(spark, sfDir)
    val rewritten = () => spark.sql(rewrite)
    val a = shipped().collect().map(_.toSeq).toSeq
    val b = rewritten().collect().map(_.toSeq).toSeq
    println(s"[dev] q21 rows equal: ${a == b} (${a.size} rows)")
    interleave("q21 rewrite" -> rewritten, "q21 shipped" -> shipped)
  }

  /** Snapshot diff as a tagged union plus one conditional aggregate, against
    * the shipped full-outer-join form, on the q_snapshot_diff inputs.
    * Rejected in round 19 (about 20% slower): the string payloads' first()
    * buffers are not fixed-width, so the aggregate falls back from the
    * codegen'd HashAggregate, which costs more than the two sorts it saves. */
  private def abDiff(spark: SparkSession): Unit = {
    val ev = Tables.read(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    def band(c: Column) = pmod(TextOps.hash60(c.cast("string")), lit(100L))
    val old = ev.where(band(col("event_id")) < 80)
    val neu = ev.where(band(col("event_id")) >= 10 && band(col("event_id")) < 90)
      .withColumn("value",
        when(band(col("event_id")) >= 70, round(col("value") * 2.0, 2))
          .otherwise(col("value")))
    val cols = Seq("event_type", "value")
    def unionAggForm: DataFrame = {
      def side(df: DataFrame, isNew: Boolean): DataFrame = {
        val sentineled = cols.map(c => coalesce(col(c).cast("string"), lit("\u0002")))
        df.select(
          Seq(col("event_id").as("k0"),
            xxhash64(sentineled: _*).as("h0"),
            xxhash64(lit("\u0003") +: sentineled: _*).as("h1"),
            lit(isNew).as("is_new")) ++
            cols.zipWithIndex.map { case (c, i) =>
              (if (isNew) col(c)
              else lit(null).cast(neu.schema(c).dataType)).as(s"p$i")
            }: _*)
      }
      def only(isNew: Boolean, c: Column) = max(when(col("is_new") === isNew, c))
      side(old, isNew = false).unionAll(side(neu, isNew = true))
        .groupBy(col("k0"))
        .agg(
          only(isNew = false, col("h0")).as("o_h0"),
          Seq(
            only(isNew = false, col("h1")).as("o_h1"),
            only(isNew = false, lit(true)).as("o_present"),
            only(isNew = true, col("h0")).as("n_h0"),
            only(isNew = true, col("h1")).as("n_h1"),
            only(isNew = true, lit(true)).as("n_present")) ++
            cols.indices.map(i =>
              first(col(s"p$i"), ignoreNulls = true).as(s"n_p$i")): _*)
        .withColumn("change_type",
          when(col("o_present").isNull, "INSERT")
            .when(col("n_present").isNull, "DELETE")
            .when(col("o_h0") =!= col("n_h0") || col("o_h1") =!= col("n_h1"),
              "UPDATE"))
        .where(col("change_type").isNotNull)
        .select(Seq(col("k0").as("event_id"), col("change_type")) ++
          cols.zipWithIndex.map { case (c, i) => col(s"n_p$i").as(c) }: _*)
        .orderBy("event_id")
    }
    interleave(
      "diff union-agg (rejected)" -> (() => unionAggForm),
      "diff join (shipped)" -> (() =>
        ChangeCapture.snapshotDiff(old, neu, "event_id", cols).orderBy("event_id")))
  }

  // ---- plans ---------------------------------------------------------------

  /** The plan `df` actually ran: executes the frame's OWN QueryExecution (a
    * write would plan a separate command and leave this one's adaptive
    * plan initial), then keeps the outer final plan only. Cached-build
    * subtrees are cut first: they run once at cache fill, not per
    * execution, and a nested adaptive plan inside one prints its own
    * `== Initial Plan ==` marker, which would otherwise end the outer
    * final plan early. */
  def finalPlan(df: DataFrame): String = {
    df.collect()
    def indentOf(l: String): Int = l.indexWhere(c => c != ' ' && c != ':')
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var skipDeeperThan = -1
    df.queryExecution.executedPlan.toString.split("\n").foreach { l =>
      val ind = indentOf(l)
      if (skipDeeperThan >= 0 && ind >= 0 && ind <= skipDeeperThan)
        skipDeeperThan = -1
      if (skipDeeperThan < 0) {
        out += l
        if (l.contains("+- InMemoryRelation")) skipDeeperThan = ind
      }
    }
    out.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
  }

  /** `plan` with its run-local tokens masked, so rerunning `plans` on
    * unchanged code rewrites the files unchanged and a diff shows the
    * plans that moved: expression ids (`#12`) and lambda variable numbers
    * (`lambda x_40#`), both JVM-global counters; exchange ids
    * (`plan_id=598`); object identities (`GraftV1Relation@3f7baa9f`) and
    * lambda class names; the application id, UUIDs and random suffixes
    * that scratch paths and table names carry; query-stage and codegen
    * stage numbers, which follow AQE's stage completion order; and scan
    * metadata Spark cut to a fixed length (`DataFilters: [...`), whose cut
    * point moves with the width of the ids in it. What is left to differ
    * between two runs is AQE choosing differently (a join side, a
    * grouping-key order), which is a real difference in what ran. */
  def stablePlan(plan: String): String = plan
    .replaceAll("(?m)(\\b[A-Z]\\w*: )(?:(?!, [A-Z]\\w*: ).)*\\.\\.\\.(?=, [A-Z]\\w*: |$)", "$1...")
    .replaceAll("#\\d+", "#")
    .replaceAll("(lambda \\w+?)_\\d+#", "$1_#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
    .replaceAll("@[0-9a-f]{5,}\\b", "@")
    .replaceAll("local-?\\d{10,}", "local-")
    .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
    .replaceAll("_[0-9a-f]{8}_[0-9a-f]{8}\\b", "_<id>")
    .replaceAll("QueryStage \\d+", "QueryStage")
    .replaceAll("\\*\\(\\d+\\)", "*")

  /** `yes` when a file scan of the executed plan (subqueries and AQE
    * stages included, cached builds not) has filters pushed into its
    * reader (its `PushedFilters`: the data filters that translate to
    * source filters), `-` when none has, and `n/a` when the plan scans no
    * file, as a metadata-only answer does (a `LocalTableScan` of the
    * manifest's figures). Read from the scan nodes, not the plan text. */
  private def pushdown(plan: SparkPlan): String = {
    val scans = PlanWalk.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    if (scans.isEmpty) "n/a"
    else if (scans.exists(_.dataFilters.exists(Bridge.translateFilter(_).isDefined))) "yes"
    else "-"
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Final plans that differ between two runs of unchanged code at
    * sf0.01 because AQE's own choice varies, and what varies. They are
    * named, never masked: the choice is a real difference in what ran. */
  private val knownFlips = Seq(
    "q_profile_table" -> "grouping-key order",
    "q_sketch_rollup" -> "broadcast side",
    "q_j3_cogroup_join" -> "build side",
    "q_hll_distinct" -> "build side")

  private def plans(
      spark: SparkSession, tag: String, suffix: String, only: Seq[String]): Unit = {
    val names = if (only.nonEmpty) only else SparkEntry.queries.keys.toSeq.sorted
    val outDir = Paths.get("plans", tag)
    Files.createDirectories(outDir)
    val rows = names.map { n =>
      val row = try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val p = finalPlan(df)
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), stablePlan(p) + "\n")
        val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
        val broadcasts = "BroadcastExchange".r.findAllIn(p).size
        val sorts = "Sort ".r.findAllIn(p).size
        val codegen = """\*\(\d+\)""".r.findAllIn(p).size
        val pushed = pushdown(df.queryExecution.executedPlan)
        s"| $n | $shuffles | $broadcasts | $sorts | $codegen | $pushed |"
      } catch {
        case e: Throwable => s"| $n | ERROR: ${e.getMessage.take(60)} |"
      }
      println(row)
      row
    }
    if (only.isEmpty) {
      val header = Seq(
        s"# PLANS — physical-plan audit (post-AQE, $sfDir)",
        "",
        s"Generated by `SPARK_GRAFT_SF_DIR=$sfDir sbt \"Test/runMain graft.Dev plans $tag $suffix\"`;",
        s"each row counts the final plan in `plans/$tag/<query>_$suffix.txt`.",
        "Columns: shuffle exchanges, broadcast exchanges, sorts,",
        "whole-stage-codegen stages, filters pushed into a file scan (n/a: the",
        "plan scans no file, as a metadata-only answer does).",
        "",
        "| query | shuffles | broadcasts | sorts | codegen stages | pushdown |",
        "|---|---|---|---|---|---|")
      Files.writeString(Paths.get("PLANS.md"), (header ++ rows).mkString("", "\n", "\n"))
      println(s"[dev] wrote PLANS.md (${rows.size} queries)")
    }
    val flips = knownFlips.filter(f => names.contains(f._1))
    if (flips.nonEmpty) println("[dev] known flip: " +
      flips.map { case (q, what) => s"$q ($what)" }.mkString(", "))
  }
}
