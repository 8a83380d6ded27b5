package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventOps, RelationalOps}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits — the 100 TB contract. Correctness says the query is
  * right; these say the PLAN is the one that survives a 1000-executor
  * cluster: filters pushed to the scan, dimensions broadcast (no fact-side
  * shuffle), top-k without a global sort, window top-k with group limits,
  * codegen on the hot path.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // At 100 TB a selective dim filter should become a row-level runtime
    // filter on the fact scan (Spark's runtime bloom filter), killing
    // fact rows before the shuffle. Local thresholds are tuned to let the
    // tiny test tables qualify; the assertion is on the plan shape.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // the rule fires when the application side already shuffles
      // (probablyHasShuffle) — the canonical shape is a fact-side join
      // chain getting pruned by a later selective dim
      val cust = Tables.read(spark, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
      val fact = Tables.read(spark, dir, "lineitem")
        .join(Tables.read(spark, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
      val j = fact.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val p = plan(j).toLowerCase
      assert(p.contains("bloom_filter_agg") &&
        (p.contains("might_contain") || p.contains("mightcontain")), plan(j))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition-pruned scan: a day-partitioned layout reads only matching partitions") {
    // the 100 TB layout: facts written partitioned by day, query filters
    // on the partition column -> the scan lists only matching directories
    // (partition pruning), independent of row-group statistics
    val base = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.read(spark, dir, "events")
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(base)
    val q = spark.read.parquet(base)
      .where(col("day") === "2024-01-03")
      .agg(count(lit(1)).as("n"))
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2024-01-03"), scan)
    // and the pruned count matches the unpartitioned filter
    val expected = Tables.read(spark, dir, "events")
      .where(to_date(col("ts")) === "2024-01-03").count()
    assert(q.first().getLong(0) == expected && expected > 0)
  }

  test("q_partitioned_scan reads only the three matching day directories") {
    val q = graft.sources.Partitioned.partitionedScanAgg(spark, dir)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"), scan)
    // the listing-time filter carries both date bounds
    assert(scan.contains("2024-01-10") || scan.contains("19732"), scan)
  }

  test("P3 range filter is pushed to the parquet scan") {
    val p = plan(EventOps.p3RangeFilter(spark, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(ts)") || p.contains("GreaterThanOrEqual(ts"), p)
  }

  test("projection prunes the scan to referenced columns only") {
    val df = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
      .where(col("l_quantity") > 30)
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("Q17 correlated scalar subquery is decorrelated to an aggregate join") {
    val df = RelationalOps.q17CorrelatedSubquery(spark, dir)
    // the optimizer must rewrite the per-row subquery into an Aggregate
    // joined back — a surviving scalar-subquery would re-execute per row
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("scalar-subquery"), opt)
    assert(opt.contains("Join") && opt.contains("Aggregate"), opt)
    // physical: the one-row-per-part aggregate joins back as a hash join
    val p = plan(df)
    assert(p.contains("HashJoin"), p)
    // and it computes the same answer as the explicit-join form
    val a = df.collect().head
    val b = RelationalOps.q17SmallQuantity(spark, dir).collect().head
    assert(a.getDouble(0) == b.getDouble(0) && a.getLong(1) == b.getLong(1))
  }

  test("Q2 argmin equality subquery decorrelates to an aggregate join") {
    val df = RelationalOps.q2MinCostSupplier(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("scalar-subquery"), opt)
    assert(opt.contains("Join") && opt.contains("Aggregate"), opt)
    // argmin semantics: every returned price IS its part's minimum
    import spark.implicits._
    val mins = Tables.read(spark, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(min(col("l_extendedprice")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    df.collect().foreach { r =>
      assert(r.getDouble(2) == math.rint(mins(r.getLong(0)) * 100) / 100)
    }
  }

  test("Q21 EXISTS + NOT-EXISTS decorrelate to one semi and one anti join") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.{LeftSemi, LeftAnti}
    val df = RelationalOps.q21WaitingSuppliers(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    // no subquery may survive — a residual would re-execute per outer row
    assert(!opt.toString.toLowerCase.contains("subquery"), opt.toString)
    val joinTypes = opt.collect { case j: Join => j.joinType }
    assert(joinTypes.contains(LeftSemi) && joinTypes.contains(LeftAnti),
      joinTypes.mkString(","))
  }

  test("Q20 nested IN chain decorrelates to stacked semi joins") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val df = RelationalOps.q20PromoSuppliers(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.toString.toLowerCase.contains("subquery"), opt.toString)
    val semis = opt.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.size == 2, opt.toString)
  }

  test("Q19 disjunctive bands push per-table residuals into BOTH scans") {
    val p = plan(RelationalOps.q19BandedRevenue(spark, dir))
    // the OR of brand/size bands references only part columns -> it must
    // reach the part scan as a pushed Or filter; lineitem gets the
    // quantity-band disjunction likewise
    val scans = p.split('\n').filter(_.contains("PushedFilters"))
    assert(scans.exists(l => l.contains("p_brand") && l.contains("Or")), p)
    assert(scans.exists(l => l.contains("l_quantity") && l.contains("Or")), p)
  }

  test("SCD2 history runs on a single user_id exchange (windows + agg reuse it)") {
    val p = plan(graft.ops.ChangeCapture.scd2History(spark, dir))
    // both window passes and the run aggregation are keyed on user_id —
    // the plan must carry exactly ONE hash exchange (plus none for the
    // final presentation sort, which is a range exchange)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("Q15 twice-referenced aggregate view reuses one exchange, not two scans") {
    val df = RelationalOps.q15TopSupplier(spark, dir)
    df.collect() // finalize AQE so reuse nodes materialize
    val p = plan(df).split("== Initial Plan ==").head
    info(s"reused=${"ReusedExchange".r.findAllIn(p).size} " +
      s"scans=${"Scan parquet".r.findAllIn(p).size} " +
      s"aggs=${"HashAggregate".r.findAllIn(p).size}")
    assert("ReusedExchange".r.findAllIn(p).size >= 1, p)
  }

  test("Q11 threshold folds from the per-supplier aggregate — one fact scan") {
    val df = RelationalOps.q11SupplierValue(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("ReusedExchange".r.findAllIn(p).size >= 1, p)
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("adaptive quality filter scores the corpus once (window cut, single scan)") {
    val df = graft.ops.TextOps.adaptiveQualityFilter(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("tf-idf tokenizes the corpus once: df is a window over tf, not a rejoin") {
    val df = graft.ops.CorpusOps.tfIdfTopTerms(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // 2 scans total: the tokenizing tf scan + the count-only nDocs scan
    assert("Scan parquet".r.findAllIn(p).size == 2, p)
  }

  test("LM score folds the token total from the unigram counts — two scans, one reused exchange") {
    val df = graft.ops.TextOps.lmScore(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(p).size == 2, p)
    assert("ReusedExchange".r.findAllIn(p).size >= 1, p)
  }

  test("Q16 NOT IN plans a null-aware anti join (no residual subquery)") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val df = RelationalOps.q16SupplierCounts(spark, dir)
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.toString.toLowerCase.contains("subquery"), opt.toString)
    assert(opt.collect { case j: Join if j.joinType == LeftAnti => j }.nonEmpty,
      opt.toString)
  }

  test("bucketed join: the only exchange is the group-by's — none on the join key") {
    val df = graft.sources.Bucketed.bucketedJoinAgg(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert(p.contains("SortMergeJoin"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!"Exchange hashpartitioning\\((l|o)_orderkey".r.findFirstIn(p).isDefined, p)
  }

  test("CSV roundtrip scans CSV and aggregates with one exchange") {
    val df = graft.sources.Csv.roundtripAgg(spark, dir)
    val p = plan(df)
    assert(p.toLowerCase.contains("csv"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("ORC roundtrip scans ORC and aggregates with one exchange") {
    val df = graft.sources.Orc.roundtripAgg(spark, dir)
    val p = plan(df)
    assert(p.toLowerCase.contains("orc"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("J2 dimension join broadcasts the small side — no fact shuffle") {
    val p = plan(EventOps.j2DimJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("Q5 snowflake: all dimension joins broadcast, single big-side shuffle") {
    val p = plan(RelationalOps.q5LocalSupplierRevenue(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    // lineitem⋈orders may be broadcast at this sf; at scale AQE decides.
  }

  test("R8 rate cap is TakeOrderedAndProject, not a global sort") {
    val p = plan(
      Tables.read(spark, dir, "events")
        .orderBy(col("ts"), col("event_id")).limit(500)
        .select(col("event_id")))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("Q3 top-10 avoids a global sort") {
    val p = plan(RelationalOps.q3ShippingPriority(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("per-group top-k inserts WindowGroupLimit below the shuffle") {
    val p = plan(RelationalOps.topOrdersPerPriority(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("SF-scaled sides carry no forced broadcast; stats still pick broadcast locally") {
    // customer/supplier/part scale linearly with SF — a forced broadcast()
    // pins a driver-OOM plan at 100 TB. Constant-size nation/region keep
    // their hints. Pin BOTH halves of the contract per query: (a) only the
    // constant-size dims are hinted in the optimized plan, (b) parquet size
    // statistics still plan every dim side broadcast-hash at this sf, so
    // the local plan shape is unchanged by the un-hinting.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def hintedJoins(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
      }.size
    val cases = Seq(
      // (query, hinted joins expected = constant-size dims only, broadcast joins expected)
      ("q3", RelationalOps.q3ShippingPriority(spark, dir), 0, 2),
      ("q5", RelationalOps.q5LocalSupplierRevenue(spark, dir), 2, 4),
      ("q7", RelationalOps.q7TradeVolume(spark, dir), 2, 4),
      ("q10", RelationalOps.q10ReturnedItems(spark, dir), 1, 3),
      ("q18", RelationalOps.q18LargeOrders(spark, dir), 0, 2),
      ("q14", RelationalOps.q14PromoRevenue(spark, dir), 0, 1),
      ("q17", RelationalOps.q17SmallQuantity(spark, dir), 0, 1),
      ("brand", RelationalOps.brandRevenue(spark, dir), 0, 1))
    cases.foreach { case (name, df, nHints, nBroadcast) =>
      assert(hintedJoins(df) == nHints, s"$name hint count\n${df.queryExecution.optimizedPlan}")
      val p = plan(df)
      assert("BroadcastHashJoin".r.findAllIn(p).size >= nBroadcast, s"$name\n$p")
    }
  }

  test("ngram-Jaccard per-doc counts join is unhinted and non-cartesian") {
    // counts is one row per corpus document (linear): the hint is gone and
    // AQE chooses broadcast at runtime from the measured aggregate size.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.ops.DedupOps.ngramJaccardDedup(spark, dir)
    val hints = df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
    assert(hints.nonEmpty)
    assert(hints.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty), hints.mkString(";"))
    df.collect() // materialize so AQE finalizes join strategies
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("J1 anchor join has no forced broadcast — AQE decides by actual size") {
    // The anchor side is one row PER KEY (unbounded cardinality): a forced
    // broadcast would OOM the driver at ~100M keys. The plan must leave the
    // strategy to AQE, i.e. no join hint survives to the optimized plan.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val hints = EventOps.j1RangeJoin(spark, dir)
      .queryExecution.optimizedPlan.collect { case j: Join => j.hint }
    assert(hints.nonEmpty)
    assert(hints.forall(h => h.leftHint.isEmpty && h.rightHint.isEmpty), hints.mkString(";"))
  }

  test("LSH ANN: bounded probe side broadcast, no cartesian product") {
    // The probe side is NQueries × L·37 short rows — bounded by construction,
    // so the forced broadcast is safe at any corpus size; the corpus side
    // must never cross-join.
    val p = plan(graft.ops.SimilarityOps.annLshBucketed(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embedding near-dup: candidate join moves ids+buckets, vectors refetched by key") {
    // The corpus×corpus candidate join must not carry the 64-dim vectors —
    // they rejoin by vec_id only after DISTINCT shrinks the pair set.
    val df = graft.ops.SimilarityOps.embeddingNearDup(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    // the bucket-collision join's keys/output are free of vector columns
    val candJoin = joins.find(_.condition.exists(_.references.exists(_.name == "probe_bucket")))
    assert(candJoin.isDefined, joins.mkString(";"))
    assert(!candJoin.get.output.exists(a => a.name.startsWith("vec") && a.name != "vec_id"),
      candJoin.get.output.mkString(","))
  }

  test("flagship classifier is a single-shuffle hash aggregate") {
    val df = graft.ops.RuleBasedTrailClassifier.classify(
      graft.ops.WeatherModel.weatherRecords(spark, dir))
    val p = plan(df)
    // exactly one exchange pair for the groupBy (partial+final agg)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange hashpartitioning\\(city_id".r.findAllIn(p).size == 1, p)
  }

  test("classifier hot path stays inside whole-stage codegen") {
    val df = graft.ops.RuleBasedTrailClassifier.classify(
      graft.ops.WeatherModel.weatherRecords(spark, dir))
    df.collect() // AQE only materializes codegen stages in the final plan
    // codegen stages print as "*(n) HashAggregate..." in the compact tree
    assert("""\*\(\d+\) HashAggregate""".r.findFirstIn(plan(df)).isDefined, plan(df))
  }

  test("doc fingerprint: single scan, zero hash exchanges (native per-row pass)") {
    val df = graft.ops.TextOps.docFingerprint(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    // the only exchange is the presentation orderBy's range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
  }

  test("chunking: single scan, generate-only pipeline, no hash exchange") {
    val df = graft.ops.CorpusOps.chunkDocuments(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty, p)
    assert("Generate".r.findAllIn(p).nonEmpty, p)
  }

  test("bm25: term filter sits below the tf aggregate; corpus stats broadcast") {
    val df = graft.ops.CorpusOps.bm25TopK(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the tokenizing tf scan + the stats scan — never a third
    assert("Scan parquet".r.findAllIn(p).size == 2, p)
    assert("BroadcastExchange".r.findAllIn(p).nonEmpty, p)
    // the term filter prunes exploded rows BEFORE the (doc_id, term)
    // aggregate: no HashAggregate may appear below the Filter in the
    // generate pipeline — i.e. the plan contains Filter ... Generate with
    // no aggregate between them
    val gen = p.split("\n").map(_.trim)
    val genIdx = gen.indexWhere(_.contains("Generate explode"))
    assert(genIdx >= 0, p)
    val above = gen.slice(0, genIdx).reverse.takeWhile(!_.contains("Exchange"))
    assert(above.exists(_.matches(".*Filter.*term.*")), p)
    // the final ranking is a distributed top-k, never a global sort of
    // every matching doc: TakeOrderedAndProject keeps k per partition and
    // merges k·p rows at the driver
    assert("TakeOrderedAndProject".r.findAllIn(p).nonEmpty, p)
    // the ONLY SinglePartition exchanges are one-row-per-partition scalar
    // aggregates (the corpus n_docs/avgdl stats): each must feed a
    // partial HashAggregate, never a Sort/Window over scored docs
    val lines = p.split("\n").map(_.trim)
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val below = lines.slice(i + 1, i + 3).mkString(" ")
        assert(below.contains("partial_"), s"SinglePartition exchange not a scalar-agg partial at line $i\n$p")
    }
    // and the ranking window (if present at all) runs over the already
    // top-k-limited rows, i.e. above TakeOrderedAndProject, never below
    val takeIdx = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx < 0 || winIdx < takeIdx, p)
  }

  test("pipeline e2e: one fact scan, one hash exchange, no join") {
    val df = graft.pipeline.Pipelines.pipelineE2E(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    // the facts are scanned once; the processed cache is a flag on them
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1, p)
    // the classifier aggregation is the only exchange
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning\\(city_id".r.findAllIn(p).size == 1, p)
    assertNoPresentationSort(p)
    assert(!p.contains("BroadcastExchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  /** The labels feed a keyed upsert and the oracle compare sorts, so a
    * flagship plan carries no range exchange (a sort's sample job and
    * its own stage) and no Sort. */
  private def assertNoPresentationSort(p: String): Unit = {
    assert(!p.contains("rangepartitioning"), p)
    assert("""\bSort\b""".r.findFirstIn(p).isEmpty, p)
  }

  test("q_classifier: one hash exchange, no range exchange, no sort") {
    val df = SparkEntry.queries("q_classifier")(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Exchange ".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning\\(city_id".r.findAllIn(p).size == 1, p)
    assertNoPresentationSort(p)
  }

  test("q_dsv2_read: the graft scan plans inline as a parquet FileScan, " +
    "its filters pushed, in the filter's codegen stage") {
    val df = SparkEntry.queries("q_dsv2_read")(spark, dir)
    val p = Dev.finalPlan(df)
    assert(!p.contains("RowDataSourceScan"), p)
    val lines = p.split("\n")
    val scans = lines.indices.filter(i => lines(i).contains("FileScan parquet"))
    assert(scans.nonEmpty, p)
    scans.foreach { i =>
      assert(lines(i).contains(
        "PushedFilters: [IsNotNull(value), GreaterThanOrEqual(value,300.0)]"), p)
      // every operator from the scan up to its Filter is one codegen stage
      val above = lines.take(i).reverse
      val upTo = above.indexWhere(_.contains(" Filter ("))
      assert(upTo >= 0, p)
      val stages = above.take(upTo + 1).map(l =>
        "\\*\\((\\d+)\\)".r.findFirstMatchIn(l).map(_.group(1)))
      assert(stages.forall(_.nonEmpty) && stages.distinct.size == 1, p)
    }
    // the optimized plan keeps the scan relation and its description
    val described = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }
    assert(described.exists(_.matches("GraftScan \\S+ v\\d+ files=\\d+/\\d+ .*")),
      described)
  }

  test("change-feed reads plan inline as parquet FileScans; metadata-only " +
    "aggregates as a local table scan") {
    Seq("q_cdf_net", "q_cdf_since_ts").foreach { name =>
      val p = Dev.finalPlan(SparkEntry.queries(name)(spark, dir))
      assert(p.contains("FileScan parquet"), s"$name:\n$p")
      assert(!p.contains("GraftCdfRelation") && !p.contains("RowDataSourceScan"),
        s"$name:\n$p")
    }
    SparkEntry.queries.keys.filter(_.startsWith("q_agg_pushdown")).foreach { name =>
      val p = Dev.finalPlan(SparkEntry.queries(name)(spark, dir))
      assert(p.contains("LocalTableScan") && !p.contains("GraftAggRelation"),
        s"$name:\n$p")
    }
  }

  test("hard negatives: one hash exchange total (single conditional aggregate)") {
    val df = graft.ops.SimilarityOps.hardNegatives(spark, dir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("BroadcastExchange".r.findAllIn(p).nonEmpty, p)
  }

  test("meta-audit: no registered query plans a CartesianProduct") {
    // The one plan shape with no 100 TB story at all: a non-broadcast
    // cross join. Every intentional small-side cross in the repo rides a
    // broadcast (1-row aggregates, query sets, LUTs) and plans
    // BroadcastNestedLoopJoin instead. Sweep EVERY registered query's
    // physical plan — construction only, no execution (memoized builders
    // may run their own bounded jobs).
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        val p = q(spark, dir).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("meta-audit: no registered query runs a Spark job while it is planned, " +
    "and only listed queries run one while their frame is built") {
    // Building a plan must not run a job. Each frame is built twice so
    // fixtures and memos are warm; the second build and its physical
    // planning are counted. A frame whose build runs jobs (eager
    // checkpoints, driver-side collects) is named here; the list may
    // only shrink, so an entry whose build no longer runs a job fails too.
    val buildRunsJobs = Set("q_compact_digest", "q_knn_graph",
      "q_partitioned_scan", "q_point_lookup", "q_sem_dedup",
      "q_source_drift", "q_token_budget")
    val census = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      q(spark, dir)
      var df: DataFrame = null
      val built = TestSpark.jobsDuring { df = q(spark, dir) }
      val planned = TestSpark.jobsDuring(df.queryExecution.executedPlan)
      (name, built, planned)
    }
    val planning = census.collect { case (n, _, p) if p > 0 => s"$n ($p)" }
    assert(planning.isEmpty, s"jobs while planning: ${planning.mkString(", ")}")
    val building = census.collect { case (n, b, _) if b > 0 => n }.toSet
    assert(building -- buildRunsJobs == Set.empty,
      s"jobs while building, not listed: ${census.filter(c =>
        (building -- buildRunsJobs)(c._1)).mkString(", ")}")
    assert(buildRunsJobs -- building == Set.empty,
      s"listed but no longer runs a job (drop it): ${buildRunsJobs -- building}")
  }

  test("meta-audit: every registered query carries a DuckDB oracle") {
    // The driver records a weaker rows-only check for queries without
    // oracle SQL; the repo's contract is stronger — 1:1.
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      s"unoracled: ${(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).mkString(",")}; " +
        s"dangling: ${(SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).mkString(",")}")
  }

  test("simhash two-lane vote aggregate stays inside whole-stage codegen") {
    // The 120-bit fingerprint's vote pass packs ones-counts 3-per-long
    // (41 agg columns) precisely to stay under spark.sql.codegen.maxFields
    // = 100 — the naive 120-column sum(±1) form fell out of codegen and
    // ran interpreted (round-5 bench: 71 s vs ~2 s). Pin it: EVERY
    // HashAggregate in the fingerprint plan must carry the codegen star.
    val df = graft.ops.DedupOps.simhashLanes128(spark, dir)
    df.collect()
    // audit the FINAL adaptive plan only — the string dump repeats the
    // pre-execution "Initial Plan", whose stages never carry the star
    val p = plan(df).split("== Initial Plan ==").head
    val all = """(\*\(\d+\) )?HashAggregate""".r.findAllIn(p).toSeq
    assert(all.nonEmpty, p)
    assert(all.forall(_.startsWith("*")), p)
  }

  test("shuffle-shard: keyed window, no SinglePartition, one data shuffle") {
    // the training-shard shuffle must stay a hash permutation: a window
    // PARTITIONED by shard_id (thousands of independent sorts at scale),
    // never an unpartitioned global sort of the corpus
    val df = graft.ops.ShardOps.shuffleShardStats(spark, dir)
    val p = plan(df)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(shard_id"), p)
    // exchanges: the shard_id hash (window + reused by the aggregate) and
    // the 8-row final orderBy — nothing proportional to corpus size beyond
    // the one hash shuffle
    val nEx = "Exchange ".r.findAllIn(p).length
    assert(nEx <= 2, s"$nEx exchanges\n$p")
  }

  test("DSIR: training histogram is one partial aggregate; scoring is joinless map-side") {
    // training: the bucket histogram must plan partial+final hash
    // aggregates so only B-row partials cross the wire at 100 TB, and the
    // totals crossJoin must broadcast its single row (never cartesian)
    val train = graft.ops.CorpusOps.dsirLogRatioOf(
      Tables.read(spark, dir, "documents"))
    val pt = plan(train)
    assert(pt.contains("HashAggregate"), pt)
    assert(!pt.contains("CartesianProduct"), pt)
    // scoring: every feature's contribution resolves in the PROJECTION
    // via element_at on the collected literal table — NO join anywhere;
    // the exchanges are the map-side-combined per-doc sum and the doc_id
    // presentation sort, nothing else
    val score = graft.ops.CorpusOps.dsirWeights(spark, dir)
    val ps = plan(score)
    assert(!ps.toLowerCase.contains("join"), ps)
    val nEx = "Exchange ".r.findAllIn(ps).length
    assert(nEx <= 2 && !ps.contains("Exchange SinglePartition"), ps)
  }

  test("normalized dedup: one exchange on the 16-byte hash, map-side normalize") {
    // normalization + both hashes are scan-side projections; the only
    // corpus-sized exchange is the norm_hash group-by (plus the bounded
    // presentation sort) — same contract as exact dedup
    val df = graft.ops.DedupOps.normalizedDedup(spark, dir)
    val p = plan(df)
    assert(p.contains("hashpartitioning(norm_hash"), p)
    assert(!p.contains("CartesianProduct"), p)
    val nEx = "Exchange ".r.findAllIn(p).length
    assert(nEx <= 3, s"$nEx exchanges\n$p")
  }

  test("sketch rollup: daily sketches are map-side partials, merge is bounded") {
    // the raw-events aggregate must plan partial_hll_sketch_agg (each task
    // sketches its split; only kilobyte registers cross the wire), and the
    // rollup side must merge via hll_union_agg over the bounded sketch rows
    val df = graft.ops.SketchOps.sketchRollup(spark, dir)
    val p = plan(df)
    assert(p.contains("partial_hll_sketch_agg"), p)
    assert(p.contains("hll_union_agg"), p)
  }

  test("Dev.finalPlan: the executed final plan, cached builds not counted") {
    // the cached aggregate's build shuffles on user_id once, at cache
    // fill; per execution the frame shuffles only on event_type
    val ev = Tables.read(spark, dir, "events")
    val perUser = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n")).cache()
    try {
      val df = ev.join(perUser, Seq("user_id"))
        .groupBy(col("event_type")).agg(sum(col("n")).as("n"))
      val p = Dev.finalPlan(df)
      assert(p.startsWith("AdaptiveSparkPlan isFinalPlan=true"), p)
      assert(!p.contains("== Initial Plan =="), p)
      assert(p.contains("InMemoryTableScan"), p)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
      assert(!p.contains("hashpartitioning(user_id"), p)
    } finally perUser.unpersist()
  }

  test("Dev.stablePlan: the same query built twice prints the same plan") {
    // expression and exchange ids are JVM-global counters: two builds of
    // one query differ in every `#n` and `plan_id=`, and nowhere else
    def q = Tables.read(spark, dir, "events").groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val (a, b) = (Dev.finalPlan(q), Dev.finalPlan(q))
    assert(a != b)
    assert(Dev.stablePlan(a) == Dev.stablePlan(b), s"$a\n----\n$b")
    assert(Dev.stablePlan("GraftV1Relation@3f7baa9f x#12L [plan_id=598] " +
      "/tmp/graft-merge/t-sf0.01-ab12cd-local1792405414176 lambda x_40#41 " +
      "*(3) ShuffleQueryStage 5 Ops$$$Lambda$8363/0x00007f0655ed7ac0@1f2e3d4c") ==
      "GraftV1Relation@ x#L [plan_id=] /tmp/graft-merge/t-sf0.01-ab12cd-local- lambda x_# " +
      "* ShuffleQueryStage Ops$$$Lambda@")
    // metadata Spark cut to a fixed length keeps its key, not its cut tail
    assert(Dev.stablePlan("Batched: true, DataFilters: [(a#1 < 2) OR ..., Format: Parquet") ==
      "Batched: true, DataFilters: ..., Format: Parquet")
  }
}
