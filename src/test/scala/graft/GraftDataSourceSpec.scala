package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{MergeTable, StatsPruning}
import graft.sources.GraftScanAudit

/** The DataSource V2 door: format reads equal the engine's own snapshot
  * reads, pushed predicates prune files through the manifest stats (and
  * ONLY soundly), deletion vectors mask through the scan, and the catalog
  * serves SQL + time travel. Plus the [[StatsPruning]] evaluator's
  * boundary semantics, which the scan's correctness leans on.
  */
class GraftDataSourceSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-dsv2-$tag")
    Files.delete(p)
    p.toString
  }

  /** 1000 rows across ~10 range-clustered files; `value` and `label` are
    * NON-cluster columns with per-file-disjoint value ranges. */
  private def seeded(tag: String): String = {
    val t = freshTable(tag)
    val df = (1L to 1000L).map(i => (i, s"label${i % 5}",
      if (i % 13 == 0) null else s"p$i", i * 1.5)).toSeq
      .toDF("event_id", "label", "payload", "value")
    MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
      targetRowsPerFile = 100)
    t
  }

  test("format read equals the engine snapshot read, column-for-column") {
    val t = seeded("parity")
    val a = spark.read.format("graft").load(t)
      .orderBy("event_id").collect().toSeq
    val b = MergeTable.read(spark, t).orderBy("event_id").collect().toSeq
    assert(a == b)
    assert(spark.read.format("graft").load(t).columns.toSeq ==
      Seq("event_id", "label", "payload", "value"))
  }

  test("a NON-cluster-column predicate prunes files via manifest stats, " +
    "and the files read are exactly the stats-overlapping subset") {
    val t = seeded("prune")
    val m = MergeTable.latestManifest(t).get
    GraftScanAudit.reset()
    val out = spark.read.format("graft").load(t)
      .where(col("value") > 1400.0).select("event_id", "value")
      .as[(Long, Double)].collect().toSet
    // correctness first: equal to the engine-read + filter
    val expect = MergeTable.read(spark, t)
      .where(col("value") > 1400.0).select("event_id", "value")
      .as[(Long, Double)].collect().toSet
    assert(out == expect && out.nonEmpty)
    // pruning: strictly fewer files than the table holds…
    val audit = GraftScanAudit.lastFor(t).get
    assert(audit.totalFiles == m.files.size && m.files.size >= 8)
    assert(audit.scannedFiles < audit.totalFiles,
      s"expected pruning, scanned ${audit.scannedFiles}/${audit.totalFiles}")
    // …and exactly the subset whose value-box admits the predicate
    val overlapping = StatsPruning.prune(m.files,
      Seq(GreaterThan("value", 1400.0))).map(_.path).toSet
    assert(audit.scannedPaths.toSet == overlapping)
    // every row > 1400 is in a scanned file (soundness, by construction
    // of the equality check above) and no stats-refuted file was read
    assert(audit.scannedPaths.toSet.subsetOf(m.files.map(_.path).toSet))
  }

  test("aggregate pushdown: count(*)/count(col)/min/max answer from the " +
    "manifest with ZERO files scanned, and match the full-scan answers") {
    val t = seeded("aggpush")
    val df = spark.read.format("graft").load(t)
    GraftScanAudit.reset()
    val row = df.agg(
      count(lit(1)), count(col("payload")), min(col("value")),
      max(col("value")), min(col("label")), max(col("event_id"))).head()
    val audit = GraftScanAudit.lastFor(t).get
    assert(audit.scannedFiles == 0,
      s"metadata-only aggregate must open no files, scanned ${audit.scannedFiles}")
    assert(row.getLong(0) == 1000L)
    assert(row.getLong(1) == 1000L - (1000L / 13L), "count skips nulls")
    assert(row.getDouble(2) == 1.5 && row.getDouble(3) == 1500.0)
    assert(row.getString(4) == "label0")
    assert(row.getLong(5) == 1000L)
    // the plan carries no real scan work: compare against engine truth
    val truth = MergeTable.read(spark, t).agg(
      count(lit(1)), count(col("payload")), min(col("value")),
      max(col("value")), min(col("label")), max(col("event_id"))).head()
    assert(row == truth)
  }

  test("SUM/AVG aggregate pushdown: integral sums answer from the " +
    "manifest's exact per-file sums with ZERO files scanned; a DOUBLE " +
    "column's sum (order-dependent) and a sums-less legacy manifest " +
    "fall back to the real scan") {
    val t = seeded("sumpush")
    val df = spark.read.format("graft").load(t)
    GraftScanAudit.reset()
    val row = df.agg(sum(col("event_id")), avg(col("event_id")),
      count(lit(1))).head()
    val audit = GraftScanAudit.lastFor(t).get
    assert(audit.scannedFiles == 0,
      s"metadata-only SUM/AVG must open no files, scanned ${audit.scannedFiles}")
    assert(row.getLong(0) == 500500L) // Σ 1..1000
    assert(row.getDouble(1) == 500.5)
    assert(row.getLong(2) == 1000L)
    // bit-for-bit against the engine's own scan-based answer
    val truth = MergeTable.read(spark, t).agg(sum(col("event_id")),
      avg(col("event_id")), count(lit(1))).head()
    assert(row == truth)
    // a scalar Project ABOVE the aggregate (the registered query's
    // round-the-avg shape) must not break the complete pushdown
    GraftScanAudit.reset()
    val rounded = df.agg(avg(col("event_id")).as("a"))
      .select(round(col("a"), 4).as("avg_id")).head().getDouble(0)
    assert(rounded == 500.5)
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
      "round-above-aggregate must still answer from the manifest")
    // GROUPED sums ride the same per-file machinery: point-filed layout
    val tg = freshTable("sumGroup")
    (0 until 3).foreach { g =>
      MergeTable.mergeUpsert(spark, tg,
        (1L to 50L).map(i => (g * 1000L + i, g.toLong, i * 2L))
          .toDF("event_id", "g", "w"),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 20)
    }
    GraftScanAudit.reset()
    val grouped = spark.read.format("graft").load(tg)
      .groupBy(col("g")).agg(sum(col("w")), avg(col("w")))
      .orderBy("g").collect()
    assert(GraftScanAudit.lastFor(tg).get.scannedFiles == 0,
      "grouped SUM/AVG over point files must stay metadata-only")
    grouped.foreach { r =>
      assert(r.getLong(1) == 2550L) // Σ 2,4,…,100
      assert(r.getDouble(2) == 51.0)
    }
    // a double column's sum refuses (order-dependent): the real scan runs
    GraftScanAudit.reset()
    val dbl = df.agg(sum(col("value"))).head().getDouble(0)
    assert(math.abs(dbl - 500500L * 1.5) < 1e-6)
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "sum over a double column must fall back to the scan")
    // merge-on-read deletes: the DV commit records the masked rows'
    // exact per-column deltas, so SUM / AVG / count(col) STAY
    // metadata-only — and repeated DV commits accumulate exactly
    MergeTable.mergeDelete(spark, t, Seq(7L).toDF("event_id"),
      deletionVectors = true)
    MergeTable.mergeDelete(spark, t, Seq(13L).toDF("event_id"),
      deletionVectors = true) // 13's payload is NULL: null-delta path
    GraftScanAudit.reset()
    val afterDv = spark.read.format("graft").load(t)
      .agg(sum(col("event_id")), avg(col("event_id")),
        count(col("payload"))).head()
    assert(afterDv.getLong(0) == 500500L - 7L - 13L)
    assert(afterDv.getDouble(1) == (500500L - 20L).toDouble / 998L)
    // payloads: 1000 − 76 nulls − the one non-null deleted (7)
    assert(afterDv.getLong(2) == 1000L - 76L - 1L)
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
      "SUM/AVG/count(col) under recorded DV deltas must stay metadata-only")
    // engine truth, bit-for-bit
    val dvTruth = MergeTable.read(spark, t).agg(sum(col("event_id")),
      avg(col("event_id")), count(col("payload"))).head()
    assert(afterDv == dvTruth)
    // min/max stay refused under DVs — no delta can repair a bound
    GraftScanAudit.reset()
    spark.read.format("graft").load(t).agg(max(col("event_id"))).head()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "MIN/MAX under deletion vectors must still fall back")
  }

  test("GROUPED aggregate pushdown: GROUP BY a point-filed column " +
    "answers from the manifest with ZERO files scanned; a wide-box " +
    "group column falls back to the real scan") {
    // per-group ingest: one commit per bucket, disjoint key ranges →
    // every file's `g` box is a point
    val t = freshTable("aggGroup")
    (0 until 4).foreach { g =>
      MergeTable.mergeUpsert(spark, t,
        (1L to 100L).map(i => (g * 1000L + i, g.toLong, s"p$i", i * 1.5))
          .toDF("event_id", "g", "payload", "value"),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 30)
    }
    val df = spark.read.format("graft").load(t)
    GraftScanAudit.reset()
    val rows = df.groupBy(col("g"))
      .agg(count(lit(1)), count(col("payload")), min(col("value")),
        max(col("value")), max(col("event_id")))
      .orderBy("g").collect()
    val audit = GraftScanAudit.lastFor(t).get
    assert(audit.scannedFiles == 0,
      s"grouped metadata aggregate must open no files, scanned " +
        s"${audit.scannedFiles}")
    assert(rows.length == 4)
    rows.zipWithIndex.foreach { case (r, g) =>
      assert(r.getLong(0) == g.toLong)
      assert(r.getLong(1) == 100L && r.getLong(2) == 100L)
      assert(r.getDouble(3) == 1.5 && r.getDouble(4) == 150.0)
      assert(r.getLong(5) == g * 1000L + 100L)
    }
    // engine truth, bit-for-bit
    val truth = MergeTable.read(spark, t).groupBy(col("g"))
      .agg(count(lit(1)), count(col("payload")), min(col("value")),
        max(col("value")), max(col("event_id")))
      .orderBy("g").collect()
    assert(rows.toSeq == truth.toSeq)
    // a WIDE-box group column (value spans each file) must fall back
    GraftScanAudit.reset()
    val wide = df.groupBy(col("value")).count().count()
    assert(wide == 100L)
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "a wide-box group column must run the real scan")
    // a deletion vector does NOT evict a point file from its group: the
    // masked rows shared the point value, and the recorded delta proves
    // zero visible nulls — grouped count/sum stay metadata-only
    MergeTable.mergeDelete(spark, t, Seq(1001L).toDF("event_id"),
      deletionVectors = true)
    GraftScanAudit.reset()
    val afterDv = spark.read.format("graft").load(t)
      .groupBy(col("g")).agg(count(lit(1)), sum(col("event_id")))
      .orderBy("g").collect()
    assert(afterDv.map(_.getLong(1)).toSeq == Seq(100L, 99L, 100L, 100L))
    assert(afterDv(1).getLong(2) ==
      (1001L to 1100L).sum - 1001L, "the masked key's sum delta subtracts")
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
      "grouped count/sum under recorded DV deltas stay metadata-only")
    // grouped MIN/MAX still fall back while any group file is DV'd
    GraftScanAudit.reset()
    spark.read.format("graft").load(t)
      .groupBy(col("g")).agg(max(col("event_id"))).collect()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "grouped min/max under DVs must fall back")
  }

  test("OPTIMIZE SPLIT BY re-lays ANY clustered table into point files: " +
    "grouped pushdown goes from fallback to metadata-only, big groups " +
    "split across files, single-value predicates prune exactly") {
    val t = freshTable("splitby")
    // ONE interleaved commit: every file's `g` box spans several values
    MergeTable.mergeUpsert(spark, t,
      (1L to 1100L).map(i => (i, i % 3, s"p$i", i * 1.5))
        .toDF("event_id", "g", "payload", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val df0 = spark.read.format("graft").load(t)
    GraftScanAudit.reset()
    val before = df0.groupBy(col("g")).count().orderBy("g").collect()
    assert(before.map(_.getLong(1)).toSeq == Seq(366L, 367L, 367L))
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "interleaved layout: grouped pushdown must fall back")
    // the identity-split rewrite (each ~367-row group → 3 files at 150)
    val rewritten = MergeTable.optimize(spark, t,
      targetRowsPerFile = 150, splitBy = Seq("g"))
    assert(rewritten > 0)
    val m = MergeTable.latestManifest(t).get
    assert(m.files.size == 9, s"3 groups × ceil(367/150) files, got " +
      s"${m.files.map(_.numRows)}")
    m.files.foreach { f =>
      val cs = f.stats("g")
      assert(cs.min == cs.max, s"file ${f.path} g-box [${cs.min},${cs.max}]")
    }
    // grouped aggregates now answer from the manifest, zero files opened
    GraftScanAudit.reset()
    val after = spark.read.format("graft").load(t)
      .groupBy(col("g"))
      .agg(count(lit(1)), min(col("value")), max(col("value")))
      .orderBy("g").collect()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
      "post-split grouped aggregate must be metadata-only")
    assert(after.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 366L), (1L, 367L), (2L, 367L)))
    assert(after.map(_.getDouble(2)).toSeq == Seq(4.5, 1.5, 3.0))
    // rows survived the rewrite bit-for-bit
    assert(spark.read.format("graft").load(t).count() == 1100L)
    // a single-value COUNT is now a claimed-filter aggregate: metadata-only
    GraftScanAudit.reset()
    assert(spark.read.format("graft").load(t)
      .where(col("g") === 1L).count() == 367L)
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
      "count under a claimed point-column filter answers from the manifest")
    // a single-value ROW read prunes to exactly that value's files
    GraftScanAudit.reset()
    assert(spark.read.format("graft").load(t)
      .where(col("g") === 1L).select("event_id").collect().length == 367)
    val audit = GraftScanAudit.lastFor(t).get
    assert(audit.scannedFiles == 3,
      s"g=1 lives in exactly 3 point files, scanned ${audit.scannedFiles}")
    // cardinality cap is loud
    intercept[IllegalArgumentException](MergeTable.optimize(spark, t,
      splitBy = Seq("event_id")))
    // zorderBy and splitBy are mutually exclusive
    intercept[IllegalArgumentException](MergeTable.optimize(spark, t,
      zorderBy = Seq("event_id", "g"), splitBy = Seq("g")))

    // INCREMENTAL maintenance: an interleaved INSERT wave adds ONE
    // straddling file; re-optimizing rewrites only it — the nine point
    // files carry by reference untouched
    MergeTable.mergeUpsert(spark, t,
      (2000L to 2059L).map(i => (i, i % 3, s"p$i", 1.0))
        .toDF("event_id", "g", "payload", "value"),
      Seq("event_id"), Seq("event_id"))
    val m2 = MergeTable.latestManifest(t).get
    val points = m2.files.filter(f =>
      f.stats.get("g").exists(cs => cs.min == cs.max))
    assert(points.size == 9 && m2.files.size == 10)
    GraftScanAudit.reset()
    spark.read.format("graft").load(t).groupBy(col("g")).count().collect()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "one straddler refuses the grouped answer (exactness first)")
    val n2 = MergeTable.optimize(spark, t,
      targetRowsPerFile = 150, splitBy = Seq("g"))
    assert(n2 == 1, s"only the straddler rewrites, got $n2")
    val m3 = MergeTable.latestManifest(t).get
    assert(points.forall(p => m3.files.contains(p)),
      "point files must carry by reference, entry-identical")
    GraftScanAudit.reset()
    val counts2 = spark.read.format("graft").load(t)
      .groupBy(col("g")).count().orderBy("g").collect()
    assert(counts2.map(_.getLong(1)).toSeq == Seq(386L, 387L, 387L))
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0)
    // already split: a re-run is a commit-free no-op
    val v3 = m3.version
    assert(MergeTable.optimize(spark, t, splitBy = Seq("g")) == 0)
    assert(MergeTable.latestManifest(t).get.version == v3)
  }

  test("SPLIT BY over candidates whose every row is DV-deleted commits " +
    "the dead files' removal instead of crashing on an empty route set") {
    val t = freshTable("splitEmpty")
    // one interleaved commit → every file straddles g values (non-point)
    MergeTable.mergeUpsert(spark, t,
      (1L to 300L).map(i => (i, i % 3, s"p$i")).toDF("event_id", "g", "payload"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    // DV-delete EVERY row: the files stay, fully masked
    MergeTable.mergeDelete(spark, t, (1L to 300L).toDF("event_id"),
      deletionVectors = true)
    val before = MergeTable.latestManifest(t).get
    assert(before.files.nonEmpty && before.files.forall(_.visibleRows == 0L))
    // all files are non-point candidates with zero visible rows — the
    // rewrite must retire them via an empty adds list, not throw
    val n = MergeTable.optimize(spark, t, splitBy = Seq("g"))
    assert(n == before.files.size)
    val after = MergeTable.latestManifest(t).get
    assert(after.files.isEmpty, "fully-deleted candidates must retire")
    assert(spark.read.format("graft").load(t).count() == 0L)
    // and the now-empty table is a stable fixpoint
    assert(MergeTable.optimize(spark, t, splitBy = Seq("g")) == 0)
  }

  test("FILTERED aggregate pushdown: a WHERE on a point-filed column is " +
    "row-exact at the file level — claimed by the scan, the aggregate " +
    "stays metadata-only; non-point filters fall back") {
    val t = freshTable("fagg")
    MergeTable.mergeUpsert(spark, t,
      (1L to 900L).map(i => (i, i % 3, i * 1.5))
        .toDF("event_id", "g", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    MergeTable.optimize(spark, t, targetRowsPerFile = 150,
      splitBy = Seq("g"))
    val df = spark.read.format("graft").load(t)
    // filtered GLOBAL aggregate: zero files opened
    GraftScanAudit.reset()
    val one = df.where(col("g") === 1L)
      .agg(count(lit(1)), min(col("event_id")), max(col("event_id"))).head()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
      "claimed-filter aggregate must be metadata-only")
    assert(one.getLong(0) == 300L)
    assert(one.getLong(1) == 1L && one.getLong(2) == 898L)
    // filtered GROUPED aggregate: zero files opened, exact groups
    GraftScanAudit.reset()
    val ge = df.where(col("g") >= 1L).groupBy(col("g")).count()
      .orderBy("g").collect()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0)
    assert(ge.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 300L), (2L, 300L)))
    // a PLAIN scan with the claimed filter reads only the matching files
    // and returns exactly the engine's filtered rows
    GraftScanAudit.reset()
    val rows = df.where(col("g") === 1L).select("event_id")
      .as[Long].collect().toSet
    val audit = GraftScanAudit.lastFor(t).get
    assert(audit.scannedFiles == 2, s"g=1 point files only, " +
      s"scanned ${audit.scannedFiles}")
    assert(rows == MergeTable.read(spark, t).where(col("g") === 1L)
      .select("event_id").as[Long].collect().toSet)
    // a filter on a NON-point column cannot be claimed: fallback, correct
    GraftScanAudit.reset()
    val nonPoint = df.where(col("value") > 1000.0).agg(count(lit(1)))
      .head().getLong(0)
    assert(nonPoint == MergeTable.read(spark, t)
      .where(col("value") > 1000.0).count())
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0)
    // mixed claimed + unclaimed: fallback, correct
    GraftScanAudit.reset()
    val mixed = df.where(col("g") === 1L && col("value") > 1000.0)
      .agg(count(lit(1))).head().getLong(0)
    assert(mixed == MergeTable.read(spark, t)
      .where(col("g") === 1L && col("value") > 1000.0).count())
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0)
  }

  test("SPLIT BY vs a concurrent merge: a winner rewriting a candidate " +
    "file between staging and commit forces the full re-derive — no row " +
    "lost, the winner's update lands, the layout completes") {
    val t = freshTable("splitrace")
    MergeTable.mergeUpsert(spark, t,
      (1L to 300L).map(i => (i, i % 3, i * 1.5))
        .toDF("event_id", "g", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50)
    // the winner updates key 1 (touching a candidate file) exactly once,
    // between the split's staging and its commit
    var fired = false
    MergeTable.testPrecommitHook = () => if (!fired) {
      fired = true
      MergeTable.mergeUpsert(spark, t,
        Seq((1L, 1L, 999.0)).toDF("event_id", "g", "value"),
        Seq("event_id"), Seq("event_id"), targetRowsPerFile = 50)
    }
    try MergeTable.optimize(spark, t,
      targetRowsPerFile = 50, splitBy = Seq("g"))
    finally MergeTable.testPrecommitHook = () => ()
    assert(fired, "the race must actually have run")
    // the winner's update survived the re-laid table…
    val out = spark.read.format("graft").load(t)
      .where(col("event_id") === 1L).select("g", "value")
      .as[(Long, Double)].collect().toSeq
    assert(out == Seq((1L, 999.0)))
    // …no row lost or duplicated…
    assert(spark.read.format("graft").load(t).count() == 300L)
    // …and the retry completed the layout: every file is a g-point
    val m = MergeTable.latestManifest(t).get
    m.files.foreach { f =>
      val cs = f.stats("g")
      assert(cs.min == cs.max, s"${f.path} straddles [${cs.min},${cs.max}]")
    }
    GraftScanAudit.reset()
    val counts = spark.read.format("graft").load(t)
      .groupBy(col("g")).count().orderBy("g").collect()
    assert(counts.map(_.getLong(1)).toSeq == Seq(100L, 100L, 100L))
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0)
  }

  test("SHOW TBLPROPERTIES / DESCRIBE surface the pinned manifest facts " +
    "(version, keys, clustering, file/row/byte counts) through plain SQL") {
    val t = seeded("props")
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.`$t`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("format") == "graft")
    assert(props("version") == "0")
    assert(props("keys") == "event_id" && props("clusterBy") == "event_id")
    assert(props("numRows") == "1000")
    assert(props("numFiles").toInt >= 8)
    assert(props("sizeBytes").toLong > 0L)
    assert(props("deletionVectors") == "0")
    // DESCRIBE lists the schema through the same catalog door
    val desc = spark.sql(s"DESCRIBE TABLE graft.`$t`")
      .collect().map(_.getString(0)).toSet
    assert(Set("event_id", "label", "payload", "value").subsetOf(desc))
  }

  test("multi-column SPLIT BY: every file is a point for EVERY split " +
    "column, and GROUP BY the pair OR any subset answers metadata-only") {
    val t = freshTable("splitby2")
    MergeTable.mergeUpsert(spark, t,
      (1L to 1200L).map(i => (i, i % 2, i % 3, i * 1.5))
        .toDF("event_id", "g", "h", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 100)
    val n = MergeTable.optimize(spark, t,
      targetRowsPerFile = 300, splitBy = Seq("g", "h"))
    assert(n > 0)
    val m = MergeTable.latestManifest(t).get
    // 6 (g,h) tuples × ceil(200/300) = 6 point files
    assert(m.files.size == 6, m.files.map(_.numRows).toString)
    m.files.foreach { f =>
      assert(f.stats("g").min == f.stats("g").max)
      assert(f.stats("h").min == f.stats("h").max)
    }
    // GROUP BY the full pair: metadata-only
    GraftScanAudit.reset()
    val pair = spark.read.format("graft").load(t)
      .groupBy(col("g"), col("h")).count().orderBy("g", "h").collect()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0)
    assert(pair.length == 6 && pair.forall(_.getLong(2) == 200L))
    // GROUP BY a SUBSET: each file is a point for g alone too
    GraftScanAudit.reset()
    val gOnly = spark.read.format("graft").load(t)
      .groupBy(col("g")).count().orderBy("g").collect()
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0)
    assert(gOnly.map(_.getLong(1)).toSeq == Seq(600L, 600L))
    // engine truth
    assert(spark.read.format("graft").load(t).count() == 1200L)
    val truth = MergeTable.read(spark, t)
      .groupBy(col("g"), col("h")).count().orderBy("g", "h").collect()
    assert(pair.toSeq == truth.toSeq)
  }

  test("aggregate pushdown REFUSES when it cannot be exact: deletion " +
    "vectors, filters, group-bys, distinct — the normal scan answers") {
    val t = seeded("aggrefuse")
    // a filter above the aggregate → normal pruned scan, right answer
    GraftScanAudit.reset()
    val filtered = spark.read.format("graft").load(t)
      .where(col("value") > 1400.0).agg(count(lit(1))).head().getLong(0)
    assert(filtered == MergeTable.read(spark, t)
      .where(col("value") > 1400.0).count())
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "a filtered aggregate must run the real scan")
    // group-by → normal scan
    val grouped = spark.read.format("graft").load(t)
      .groupBy("label").count().collect().map(r =>
        r.getString(0) -> r.getLong(1)).toMap
    assert(grouped("label0") == 200L && grouped.size == 5)
    // distinct count → normal scan
    assert(spark.read.format("graft").load(t)
      .agg(countDistinct(col("label"))).head().getLong(0) == 5L)

    // deletion vectors: count(*) stays metadata-exact, min/max refuses
    MergeTable.mergeDelete(spark, t, Seq(1L, 1000L).toDF("event_id"),
      deletionVectors = true)
    GraftScanAudit.reset()
    val cnt = spark.read.format("graft").load(t).agg(count(lit(1))).head().getLong(0)
    assert(cnt == 998L)
    assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
      "count(*) is DV-exact (visibleRows) — still metadata-only")
    GraftScanAudit.reset()
    val mx = spark.read.format("graft").load(t)
      .agg(max(col("event_id"))).head().getLong(0)
    assert(mx == 999L, "the DV'd extreme row must not answer from stale bounds")
    assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
      "min/max under DVs must fall back to the real scan")
  }

  test("min/max LEDGER pushdown (spark.graft.stats.ledgerK, opt-in): " +
    "bounds stay metadata-only and EXACT under small deletion vectors, " +
    "accumulate across stacked DV commits, and refuse back to the real " +
    "scan once a file's ledger exhausts") {
    spark.conf.set("spark.graft.stats.ledgerK", "4")
    try {
      val t = freshTable("ledger")
      val df = (1L to 1000L).map(i => (i, i * 1.5)).toDF("event_id", "value")
      MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
        targetRowsPerFile = 100)
      val m0 = MergeTable.latestManifest(t).get
      assert(m0.files.forall(f => f.bottomK.contains("event_id") &&
        f.topK.contains("value")), "flag-on writes must record ledgers")
      assert(m0.files.head.bottomK("event_id").size == 4)
      // mask the global min AND max rows (plus a mid row): the ledgers
      // repair both bounds — still zero files opened
      MergeTable.mergeDelete(spark, t,
        Seq(1L, 500L, 1000L).toDF("event_id"), deletionVectors = true)
      GraftScanAudit.reset()
      val r = spark.read.format("graft").load(t)
        .agg(min(col("event_id")), max(col("event_id")),
          min(col("value")), max(col("value"))).head()
      assert(r.getLong(0) == 2L && r.getLong(1) == 999L)
      assert(r.getDouble(2) == 3.0 && r.getDouble(3) == 999L * 1.5)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
        "ledger-repaired bounds must stay metadata-only")
      // a SECOND DV commit stacks: the masked prefixes accumulate
      MergeTable.mergeDelete(spark, t,
        Seq(2L, 3L).toDF("event_id"), deletionVectors = true)
      GraftScanAudit.reset()
      val r2 = spark.read.format("graft").load(t)
        .agg(min(col("event_id"))).head()
      assert(r2.getLong(0) == 4L)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
        "stacked-DV repair must stay metadata-only")
      // a FOURTH bottom deletion exhausts the k=4 ledger of the first
      // file: the answer refuses back to the real scan — and stays right
      MergeTable.mergeDelete(spark, t,
        Seq(4L).toDF("event_id"), deletionVectors = true)
      GraftScanAudit.reset()
      val r3 = spark.read.format("graft").load(t)
        .agg(min(col("event_id"))).head()
      assert(r3.getLong(0) == 5L)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
        "an exhausted ledger must refuse to the scan, never guess")
      // OPTIMIZE rewrites the DV-bearing files, retires their vectors
      // and (flag still on) writes FRESH ledgers — the exhausted bound
      // answers metadata-only again
      assert(MergeTable.optimize(spark, t, targetRowsPerFile = 100) > 0)
      val mOpt = MergeTable.latestManifest(t).get
      assert(mOpt.files.forall(_.dv.isEmpty))
      assert(mOpt.files.forall(_.bottomK.contains("event_id")))
      GraftScanAudit.reset()
      val r4 = spark.read.format("graft").load(t)
        .agg(min(col("event_id")), max(col("event_id"))).head()
      assert(r4.getLong(0) == 5L && r4.getLong(1) == 999L)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
        "a compaction must refresh the ledgers back to metadata-only")
    } finally spark.conf.unset("spark.graft.stats.ledgerK")
  }

  test("min/max ledgers over STRING and TIMESTAMP columns: the same " +
    "rendering/ordering as the stats entries, repaired bounds exact " +
    "and metadata-only under DVs") {
    spark.conf.set("spark.graft.stats.ledgerK", "4")
    try {
      val t = freshTable("ledgerstr")
      val df = (1L to 500L).map(i => (i, f"s$i%04d",
        new java.sql.Timestamp(1700000000000L + i * 1000L)))
        .toDF("event_id", "name", "ts")
      MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
        targetRowsPerFile = 100)
      // mask the rows holding the global string/timestamp extremes
      MergeTable.mergeDelete(spark, t,
        Seq(1L, 500L).toDF("event_id"), deletionVectors = true)
      GraftScanAudit.reset()
      val r = spark.read.format("graft").load(t)
        .agg(min(col("name")), max(col("name")),
          min(col("ts")), max(col("ts"))).head()
      assert(r.getString(0) == "s0002" && r.getString(1) == "s0499")
      assert(r.getTimestamp(2).getTime == 1700000000000L + 2000L)
      assert(r.getTimestamp(3).getTime == 1700000000000L + 499000L)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
        "string/timestamp ledger repair must stay metadata-only")
    } finally spark.conf.unset("spark.graft.stats.ledgerK")
  }

  test("LEDGER BACKFILL (OPTIMIZE policy): a table written BEFORE " +
    "ledgerK was set loses metadata-only min/max under DVs; one " +
    "ledgerBackfill rewrite re-ledgerS every file, the purged bounds " +
    "answer metadata-only again, and FUTURE purges subtract exactly; " +
    "idempotent re-run is a no-op; flag-off backfill rejects loudly") {
    val t = freshTable("ledgerbf")
    // written with the flag OFF: no ledgers anywhere
    val df = (1L to 1000L).map(i => (i, i * 1.5)).toDF("event_id", "value")
    MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
      targetRowsPerFile = 100)
    assert(MergeTable.latestManifest(t).get.files.forall(f =>
      f.bottomK.isEmpty && f.topK.isEmpty))
    spark.conf.set("spark.graft.stats.ledgerK", "4")
    try {
      // a purge on the un-ledgered table: min/max must refuse to the scan
      MergeTable.mergeDelete(spark, t, Seq(1L, 1000L).toDF("event_id"),
        deletionVectors = true)
      GraftScanAudit.reset()
      val r0 = spark.read.format("graft").load(t)
        .agg(min(col("event_id")), max(col("event_id"))).head()
      assert(r0.getLong(0) == 2L && r0.getLong(1) == 999L)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles > 0,
        "pre-ledger files must refuse under DVs (nothing to subtract from)")
      // BACKFILL: one rewrite re-ledgers the whole table and retires DVs
      assert(MergeTable.optimize(spark, t, targetRowsPerFile = 100,
        ledgerBackfill = true) > 0)
      val m1 = MergeTable.latestManifest(t).get
      assert(m1.files.forall(f => f.dv.isEmpty &&
        f.bottomK.contains("event_id") && f.topK.contains("value")),
        "backfill must leave every file ledgered and vector-free")
      GraftScanAudit.reset()
      val r1 = spark.read.format("graft").load(t)
        .agg(min(col("event_id")), max(col("event_id"))).head()
      assert(r1.getLong(0) == 2L && r1.getLong(1) == 999L)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
        "post-backfill bounds answer metadata-only")
      // the completed purge story: a FUTURE GDPR delete now subtracts
      // exactly — bounds stay metadata-only through the new DV
      MergeTable.mergeDelete(spark, t, Seq(2L, 999L).toDF("event_id"),
        deletionVectors = true)
      GraftScanAudit.reset()
      val r2 = spark.read.format("graft").load(t)
        .agg(min(col("event_id")), max(col("event_id"))).head()
      assert(r2.getLong(0) == 3L && r2.getLong(1) == 998L)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
        "purges after a backfill must stay metadata-only")
      // idempotence: nothing left to backfill → no rewrite, version holds.
      // (The new DV-bearing file IS a compaction candidate, so compare
      // against a backfill-only target: drop the DV debt first.)
      assert(MergeTable.optimize(spark, t, targetRowsPerFile = 100) > 0)
      val vBefore = MergeTable.latestManifest(t).get.version
      assert(MergeTable.optimize(spark, t, targetRowsPerFile = 100,
        ledgerBackfill = true) == 0)
      assert(MergeTable.latestManifest(t).get.version == vBefore)
    } finally spark.conf.unset("spark.graft.stats.ledgerK")
    // flag off: the policy rejects (the rewrite would not ledger anything)
    val e = intercept[IllegalArgumentException](
      MergeTable.optimize(spark, t, ledgerBackfill = true))
    assert(e.getMessage.contains("ledgerK"))
  }

  test("min/max ledgers over a DECIMAL column: a DV delete accumulates " +
    "the ledger without error (decimal is stats-indexed, so the ledger " +
    "merge must compare it), and the repaired bounds stay exact and " +
    "metadata-only") {
    spark.conf.set("spark.graft.stats.ledgerK", "4")
    try {
      val t = freshTable("ledgerdec")
      val df = (1L to 500L).map(i => (i, BigDecimal(i) * BigDecimal("0.01")))
        .toDF("event_id", "amount")
      assert(df.schema("amount").dataType.isInstanceOf[
        org.apache.spark.sql.types.DecimalType])
      MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
        targetRowsPerFile = 100)
      val m0 = MergeTable.latestManifest(t).get
      assert(m0.files.forall(_.bottomK.contains("amount")),
        "decimal columns are stats-indexed, so flag-on writes ledger them")
      // mask the rows holding the global decimal extremes — the DV
      // commit's ledger ACCUMULATION walks the decimal comparator
      // (pre-fix: scala.MatchError in statLeq)
      MergeTable.mergeDelete(spark, t,
        Seq(1L, 500L).toDF("event_id"), deletionVectors = true)
      GraftScanAudit.reset()
      val r = spark.read.format("graft").load(t)
        .agg(min(col("amount")), max(col("amount"))).head()
      assert(r.getDecimal(0).compareTo(new java.math.BigDecimal("0.02")) == 0)
      assert(r.getDecimal(1).compareTo(new java.math.BigDecimal("4.99")) == 0)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0,
        "decimal ledger repair must stay metadata-only")
      // a SECOND DV commit stacks through the same comparator
      MergeTable.mergeDelete(spark, t,
        Seq(2L).toDF("event_id"), deletionVectors = true)
      GraftScanAudit.reset()
      val r2 = spark.read.format("graft").load(t)
        .agg(min(col("amount"))).head()
      assert(r2.getDecimal(0).compareTo(new java.math.BigDecimal("0.03")) == 0)
      assert(GraftScanAudit.lastFor(t).get.scannedFiles == 0)
    } finally spark.conf.unset("spark.graft.stats.ledgerK")
  }

  test("deletion-vector rows are masked through the DSv2 scan") {
    val t = seeded("dv")
    MergeTable.mergeDelete(spark, t,
      (1L to 1000L by 10).toDF("event_id"), deletionVectors = true)
    val m = MergeTable.latestManifest(t).get
    assert(m.files.exists(_.dv.nonEmpty), "fixture must carry DVs")
    val ids = spark.read.format("graft").load(t)
      .select("event_id").as[Long].collect().toSet
    assert(ids.size == 900)
    assert((1L to 1000L by 10).forall(i => !ids.contains(i)))
    // hidden position columns never leak
    assert(!spark.read.format("graft").load(t).columns.exists(_.startsWith("__dv")))
  }

  test("versionAsOf option and SQL VERSION AS OF time-travel the scan") {
    val t = seeded("tt")
    MergeTable.mergeUpsert(spark, t,
      Seq((5000L, "x", "p", 1.0)).toDF("event_id", "label", "payload", "value"),
      Seq("event_id"), Seq("event_id"))
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(t).count() == 1000L)
    assert(spark.read.format("graft").load(t).count() == 1001L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$t` VERSION AS OF 0")
      .as[Long].head() == 1000L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$t`")
      .as[Long].head() == 1001L)
  }

  test("getTable pins inferSchema's snapshot, even if the table goes away") {
    // Spark resolves a read in two steps, inferSchema then getTable; the
    // second must reuse the first's resolution (one log listing per read),
    // not re-list the log and fall back to the pre-creation placeholder
    val t = seeded("pinned")
    val provider = new graft.sources.GraftTableProvider
    val props = java.util.Map.of("path", t)
    val schema = provider.inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(props))
    val log = java.nio.file.Paths.get(t, "_graft_log")
    val aside = java.nio.file.Paths.get(s"$t-log-aside")
    Files.move(log, aside)
    try {
      val table = provider.getTable(schema, Array.empty, props)
      assert(table.isInstanceOf[graft.sources.GraftTable], table.getClass.getName)
      assert(table.schema() == schema)
    } finally Files.move(aside, log)
    // a provider that never resolved the path still sees a missing table
    // as the write door's placeholder
    val fresh = freshTable("absent")
    assert(new graft.sources.GraftTableProvider()
      .getTable(schema, Array.empty, java.util.Map.of("path", fresh))
      .isInstanceOf[graft.sources.GraftPreCreationTable])
  }

  test("IsNull / IsNotNull prune from null counts; value predicates " +
    "prune all-null files") {
    val t = freshTable("nulls")
    // file A: payload all null; file B: payload never null (cluster-key
    // ranges disjoint → two files)
    val df = ((1L to 100L).map(i => (i, Option.empty[String], i * 1.0)) ++
      (1001L to 1100L).map(i => (i, Some(s"p$i"), i * 1.0)))
      .toDF("event_id", "payload", "value")
    MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
      targetRowsPerFile = 100)
    val files = MergeTable.latestManifest(t).get.files
    assert(files.size >= 2)
    val isNull = StatsPruning.prune(files, Seq(IsNull("payload")))
    val notNull = StatsPruning.prune(files, Seq(IsNotNull("payload")))
    val eq = StatsPruning.prune(files, Seq(EqualTo("payload", "p1050")))
    assert(isNull.size < files.size, "all-non-null files must prune for IsNull")
    assert(notNull.size < files.size, "all-null files must prune for IsNotNull")
    assert(eq.size < files.size, "all-null files must prune for EqualTo")
    // and the engine result through the scan stays correct
    assert(spark.read.format("graft").load(t)
      .where(col("payload").isNull).count() == 100L)
    assert(spark.read.format("graft").load(t)
      .where(col("payload") === "p1050").count() == 1L)
  }

  test("StatsPruning boundary semantics over a synthetic entry") {
    import MergeTable.{ColStat, DataFileEntry}
    val f = DataFileEntry("data/x/p.parquet", 100L,
      Map("v" -> ColStat("long", "10", "20"),
        "s" -> ColStat("string", "carrot", "melon")),
      nullCounts = Map("v" -> 0L, "s" -> 5L))
    def m(flt: Filter) = StatsPruning.canMatch(f, flt)
    // inclusive bounds
    assert(m(EqualTo("v", 10L)) && m(EqualTo("v", 20L)) && m(EqualTo("v", 15L)))
    assert(!m(EqualTo("v", 9L)) && !m(EqualTo("v", 21L)))
    // int literal against long stat
    assert(m(EqualTo("v", 15)) && !m(EqualTo("v", 9)))
    // strict vs non-strict at the bound
    assert(!m(GreaterThan("v", 20L)) && m(GreaterThanOrEqual("v", 20L)))
    assert(!m(LessThan("v", 10L)) && m(LessThanOrEqual("v", 10L)))
    // In: any member may hit
    assert(m(In("v", Array(1L, 99L, 12L))) && !m(In("v", Array(1L, 99L))))
    // null bookkeeping
    assert(!m(IsNull("v")) && m(IsNull("s")) && m(IsNotNull("s")))
    // string prefix: in-range, out-of-range, and truncation edges
    assert(m(StringStartsWith("s", "d")))
    assert(m(StringStartsWith("s", "carrot"))) // == min
    assert(m(StringStartsWith("s", "c"))) // min has prefix-range overlap
    assert(!m(StringStartsWith("s", "n"))) // beyond max
    assert(!m(StringStartsWith("s", "b"))) // before min
    // And / Or composition
    assert(!m(And(EqualTo("v", 15L), EqualTo("v", 25L))))
    assert(m(Or(EqualTo("v", 25L), EqualTo("v", 15L))))
    // unknown column / shapes stay conservative
    assert(m(EqualTo("unknown_col", 1L)))
    assert(m(StringContains("s", "zzz")))
    // type-mismatched literal: keep
    assert(m(EqualTo("v", "not-a-long")))
    // legacy entry: no nullCounts at all → IsNull/IsNotNull keep
    val legacy = f.copy(nullCounts = Map.empty)
    assert(StatsPruning.canMatch(legacy, IsNull("v")))
    assert(StatsPruning.canMatch(legacy, IsNotNull("v")))
    // all-null column (no stat, nullCount == numRows): value predicates
    // prune, IsNull keeps
    val allNull = DataFileEntry("p", 50L, Map.empty,
      nullCounts = Map("c" -> 50L))
    assert(!StatsPruning.canMatch(allNull, EqualTo("c", 1L)))
    assert(!StatsPruning.canMatch(allNull, IsNotNull("c")))
    assert(StatsPruning.canMatch(allNull, IsNull("c")))
  }

  test("generalized stats: a float column containing NaN carries no " +
    "min/max entry for that file (NaN-largest ordering would mis-prune), " +
    "and predicates on it keep the file") {
    val t = freshTable("nan")
    val df = ((1L to 50L).map(i => (i, i * 1.0)) ++
      Seq((51L, Double.NaN)) ++ (1001L to 1050L).map(i => (i, i * 1.0)))
      .toDF("event_id", "score")
    MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
      targetRowsPerFile = 60)
    val files = MergeTable.latestManifest(t).get.files
    val nanFile = files.find(f => f.minLong("event_id") <= 51L &&
      f.maxLong("event_id") >= 51L).get
    assert(!nanFile.stats.contains("score"),
      s"NaN-bearing file must not carry a score box: ${nanFile.stats}")
    assert(nanFile.nullCounts.get("score").contains(0L))
    val cleanFile = files.find(_.minLong("event_id") >= 1001L).get
    assert(cleanFile.stats.contains("score"))
    // the NaN file survives any score predicate; correctness holds —
    // and is exactly why it must: Spark orders NaN LARGER than every
    // double, so the NaN row itself satisfies `score > 1040` (11 rows:
    // 1041..1050 plus the NaN). A [min,max] box over the file's non-NaN
    // values (1..51) would have wrongly pruned it.
    assert(StatsPruning.canMatch(nanFile, GreaterThan("score", 1e9)))
    assert(spark.read.format("graft").load(t)
      .where(col("score") > 1040.0).count() == 11L)
  }

  test("stats cap: at most StatsColumnCap columns are indexed, cluster " +
    "columns always included") {
    val t = freshTable("cap")
    val wide = (1L to 10L).map { i =>
      Row.fromSeq(i +: (1 to 40).map(c => i * 100L + c))
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType) +:
        (1 to 40).map(c => org.apache.spark.sql.types.StructField(
          s"c$c", org.apache.spark.sql.types.LongType)))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(wide.asJava, schema)
    MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"))
    val f = MergeTable.latestManifest(t).get.files.head
    assert(f.stats.size == MergeTable.StatsColumnCap)
    assert(f.stats.contains("event_id"))
    assert(f.stats.contains("c1") && !f.stats.contains("c40"))
  }

  test("pushed filters re-apply INSIDE the inner plan (parquet sees " +
    "them) with exact row parity — including null-tricky shapes") {
    val t = seeded("innerpush")
    def parity(cond: org.apache.spark.sql.Column): Unit = {
      val viaScan = spark.read.format("graft").load(t).where(cond)
        .select("event_id").as[Long].collect().toSet
      val direct = MergeTable.read(spark, t).where(cond)
        .select("event_id").as[Long].collect().toSet
      assert(viaScan == direct, s"filter parity broke for $cond")
    }
    parity(col("value") > 1400.0)
    parity(col("payload").isNull)
    parity(col("payload").isNotNull && col("value") <= 30.0)
    parity(col("payload") <=> lit(null))
    parity(!(col("label") === "label1"))
    parity(col("label").isin("label1", "label2") || col("value") < 9.0)
    parity(col("payload").startsWith("p1") && col("payload").endsWith("3"))
    // translation unit checks: shapes that must NOT translate stay None
    import org.apache.spark.sql.sources._
    val a = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "a", org.apache.spark.sql.types.IntegerType)()
    def tr(f: Filter) = graft.plans.GraftScanStrategy.toPredicate(
      f, n => Some(a).filter(_.name == n))
    assert(tr(AlwaysTrue()).isEmpty)
    assert(tr(Not(AlwaysTrue())).isEmpty,
      "Not over untranslated child stays None")
    assert(tr(And(EqualTo("a", 1), AlwaysTrue())).isEmpty)
    assert(tr(EqualTo("a", 1)).nonEmpty)
    // a value of another type, or a name that resolves to no column,
    // stays untranslated rather than guessed at
    assert(tr(EqualTo("a", 1L)).isEmpty)
    assert(tr(EqualTo("b", 1)).isEmpty)
  }

  test("the scan reports manifest-derived statistics: a small graft " +
    "table broadcasts in a join, and the row estimate is exact") {
    val t = freshTable("stats")
    MergeTable.mergeUpsert(spark, t,
      (1L to 50L).map(i => (i, s"n$i")).toDF("event_id", "name"),
      Seq("event_id"), Seq("event_id"))
    val big = spark.range(0, 200000).toDF("event_id")
    val joined = big.join(spark.read.format("graft").load(t), "event_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a 50-row graft side must broadcast:\n$plan")
    assert(joined.count() == 50L)
  }

  test("DECIMAL columns get skipping stats and prune through the scan") {
    val t = freshTable("decimal")
    val df = (1L to 400L).map(i => (i, BigDecimal(i) * BigDecimal("1.25")))
      .toDF("event_id", "amount")
      .select(col("event_id"), col("amount").cast("decimal(12,2)").as("amount"))
    MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"),
      targetRowsPerFile = 100)
    val files = MergeTable.latestManifest(t).get.files
    assert(files.head.stats.contains("amount"))
    assert(files.head.stats("amount").t == "decimal")
    val kept = StatsPruning.prune(files,
      Seq(GreaterThan("amount", new java.math.BigDecimal("450.00"))))
    assert(kept.size < files.size, s"decimal box must prune: ${kept.size}/${files.size}")
    GraftScanAudit.reset()
    // a DECIMAL literal keeps the predicate on the column (a double
    // literal would cast the COLUMN and nothing pushes — Spark semantics)
    val out = spark.read.format("graft").load(t)
      .where(col("amount") > lit(new java.math.BigDecimal("450.00")))
      .select("event_id").as[Long].collect().toSet
    assert(out == (361L to 400L).toSet) // 1.25*i > 450 ⇔ i > 360
    assert(GraftScanAudit.lastFor(t).get.scannedFiles < files.size)
    // decimal CLUSTER keys stay rejected with a pointed message
    val e = intercept[IllegalArgumentException] {
      MergeTable.mergeUpsert(spark, freshTable("decimalkey"),
        df.select(col("amount"), col("event_id")), Seq("amount"), Seq("amount"))
    }
    assert(e.getMessage.contains("decimal"))
  }

  test("graft_history / graft_detail table functions serve commit " +
    "metadata through plain SQL") {
    val t = seeded("tvf")
    MergeTable.mergeDelete(spark, t,
      (1L to 1000L by 100).toDF("event_id"), deletionVectors = true)
    val hist = spark.sql(s"SELECT * FROM graft_history('$t')")
      .as[(Long, Long, String, Int, Int)].collect()
    assert(hist.map(_._1).toSeq == Seq(0L, 1L))
    assert(hist.forall(_._3 == "delta"))
    assert(hist(0)._4 >= 8, "v0 adds the initial file set")
    val d = spark.sql(s"SELECT * FROM graft_detail('$t')").collect().head
    assert(d.getLong(0) == 1L)                  // version
    assert(d.getLong(2) == 1000L)               // physical rows
    assert(d.getLong(3) == 990L)                // visible rows (10 DV'd)
    assert(d.getInt(4) >= 1)                    // dv files
    assert(d.getLong(5) > 0L)                   // size bytes (manifest sum)
    assert(d.getString(6) == "event_id")
    assert(d.getString(8).contains("payload"))
    // contract columns: no constraints/properties/blooms on this table
    assert(d.getString(11) == "" && d.getString(12) == "" &&
      d.getInt(13) == 0)
    // declared contracts surface in the same row
    MergeTable.addConstraint(spark, t, "pos_id", "event_id > 0")
    MergeTable.setProperties(spark, t, Map("team" -> "etl"))
    val d2 = spark.sql(s"SELECT * FROM graft_detail('$t')").collect().head
    assert(d2.getString(11) == "pos_id CHECK (event_id > 0)")
    assert(d2.getString(12) == "team=etl")
    // composes with ordinary SQL (v1 + the two contract commits)
    assert(spark.sql(
      s"SELECT max(version) FROM graft_history('$t')").as[Long].head() == 3L)
  }

  /** Spark jobs started while `df` is built and its physical plan is made. */
  private def jobsWhilePlanning(df: => org.apache.spark.sql.DataFrame): Int =
    TestSpark.jobsDuring(df.queryExecution.executedPlan)

  test("planning a graft read runs no Spark job") {
    // more files than parallelPartitionDiscoveryThreshold (32): listing
    // them as paths would be a parallel listing job
    val wide = freshTable("planjobs")
    MergeTable.mergeUpsert(spark, wide,
      (1L to 1000L).map(i => (i, i * 1.5)).toDF("event_id", "value"),
      Seq("event_id"), Seq("event_id"), targetRowsPerFile = 20)
    val files = MergeTable.latestManifest(wide).get.files.size
    assert(files > 32, s"want more than 32 files, got $files")
    assert(jobsWhilePlanning(spark.read.format("graft").load(wide)) == 0)
    assert(spark.read.format("graft").load(wide).count() == 1000L)
    // deletion vectors: the masked files' DV datasets are read with their
    // declared schema (no footer inference job)
    val dv = seeded("planjobsdv")
    MergeTable.mergeDelete(spark, dv, (1L to 1000L by 97).toDF("event_id"),
      deletionVectors = true)
    assert(MergeTable.latestManifest(dv).get.files.exists(_.dv.nonEmpty))
    def masked = spark.read.format("graft").load(dv).where(col("value") > 30.0)
    assert(jobsWhilePlanning(masked) == 0)
    assert(jobsWhilePlanning(MergeTable.read(spark, dv)) == 0)
    assert(masked.count() == MergeTable.read(spark, dv)
      .where(col("value") > 30.0).count())
    // the scan is planned inline: no nested query behind a row scan
    val p = masked.queryExecution.executedPlan.toString
    assert(p.contains("FileScan parquet") &&
      !p.contains("RowDataSourceScan"), p)
  }

  test("a nested field read through the scan prunes the struct and reads " +
    "the field it names") {
    val t = freshTable("nested")
    val df = (1L to 50L).map(i => (i, (i * 2L, s"n$i", i * 0.5)))
      .toDF("event_id", "s")
      .select(col("event_id"),
        struct(col("s._1").as("a"), col("s._2").as("b"), col("s._3").as("c")).as("s"))
    MergeTable.mergeUpsert(spark, t, df, Seq("event_id"), Seq("event_id"))
    val q = spark.read.format("graft").load(t)
      .where(col("event_id") > 40L).select(col("event_id"), col("s.c"))
    assert(q.orderBy("event_id").as[(Long, Double)].collect().toSeq ==
      (41L to 50L).map(i => (i, i * 0.5)))
    val scan = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.requiredSchema
    }
    assert(scan.map(_.simpleString) == Seq("struct<event_id:bigint,s:struct<c:double>>"), scan)
  }

  test("a legacy manifest entry without a recorded size reads every row") {
    val t = seeded("legacybytes")
    val log = java.nio.file.Paths.get(t, "_graft_log")
    val v0 = log.resolve("v" + "0" * 20 + ".json")
    val rec = new String(Files.readAllBytes(v0), "UTF-8")
    assert(rec.contains("\"bytes\":"))
    // manifests written before sizes were recorded parse bytes = 0
    Files.write(v0, rec.replaceAll("\"bytes\":\\d+", "\"bytes\":0")
      .getBytes("UTF-8"))
    MergeTable.evictCachedManifest(t)
    assert(MergeTable.latestManifest(t).get.files.forall(_.bytes == 0L))
    // (a bare count would answer from the manifest without a scan)
    assert(spark.read.format("graft").load(t).select("value")
      .collect().length == 1000)
    assert(MergeTable.read(spark, t).where(col("value") > 0.0).count() == 1000L)
    assert(spark.read.format("graft").load(t)
      .where(col("value") > 1400.0).count() == 67L)
  }

  private val Row = org.apache.spark.sql.Row
}
