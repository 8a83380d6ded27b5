package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities. AQE's skew-join split (enabled in
  * GraftSession) handles join-side skew at runtime; SALTED AGGREGATION is
  * the explicit form for aggregations over pathologically hot keys, where
  * one reducer would otherwise receive a whole key's rows.
  *
  * Two-phase shape: groupBy(key, salt) computes partial aggregates across
  * `salts` reducers per key, then groupBy(key) merges the partials. The
  * shown aggregates are reassociatable: counts/min/max are exactly equal to
  * the unsalted form; double sums are equal up to floating-point
  * reassociation (last-ulp drift when the regrouping changes summation
  * order) — both pinned by SkewSpec.
  *
  * At 100 TB: hot keys in the events stream (a viral user, a default
  * city_id) would stall the single-reducer plan; salting bounds any
  * reducer's share to 1/salts of the hottest key.
  */
object Skew {

  /** Salted per-key count/sum/min/max over `valueCol`, numerically equal to
    * the direct `groupBy(key)` aggregate.
    */
  def saltedStats(df: DataFrame, key: String, valueCol: String, salts: Int = 16): DataFrame = {
    val salted = df.withColumn(
      "__salt", (rand(seed = 42) * salts).cast("int"))
    salted
      .groupBy(col(key), col("__salt"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col(valueCol)).as("__sum"),
        min(col(valueCol)).as("__min"),
        max(col(valueCol)).as("__max"))
      .groupBy(col(key))
      .agg(
        sum(col("__n")).as("n"),
        sum(col("__sum")).as("sum_value"),
        min(col("__min")).as("min_value"),
        max(col("__max")).as("max_value"))
  }

  /** Salted broadcast-join helper for a skewed fact ⋈ small dim: explodes
    * the dim to (dimKey, salt) pairs so the fact side's hot key spreads
    * over `salts` partitions even under a shuffle join.
    */
  def saltedDimForJoin(dim: DataFrame, key: String, salts: Int = 16): DataFrame =
    dim.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))

  def saltFactKey(fact: DataFrame, salts: Int = 16): DataFrame =
    fact.withColumn("__salt", (rand(seed = 42) * salts).cast("int"))

  /** AQE skew-join split demonstrated as a first-class oracled query — the
    * RUNTIME complement to the manual salting above: events are skewed
    * deterministically onto one hot customer key (~90 % of rows), then
    * joined to the customer dim under a sort-merge join and aggregated per
    * market segment.
    *
    * The skew handling is CONFIG, not code: broadcast is disabled (at real
    * scale both sides exceed any broadcast threshold) and the AQE skew
    * thresholds are scaled to the test data's MBs (defaults are sized for
    * 256 MB production partitions). The overrides live on a SESSION CLONE
    * (`newSession()` shares the SparkContext but owns its SQLConf), so the
    * returned frame executes under them whenever the driver materializes
    * it, and the shared session is never mutated — the scoped-config
    * pattern a multi-tenant job server uses for per-query tuning.
    * OptimizeSkewedJoin then splits the hot partition into
    * advisory-sized slices at runtime (SortMergeJoin(skew=true), pinned in
    * SkewSpec); the unsalted single-reducer plan would stall one task with
    * 90 % of the fact table.
    */
  /** One tuned clone per base session, built lazily and reused: a
    * `newSession()` materializes a whole SessionState (conf, catalog,
    * analyzer, registered extensions) on first use — per-CALL cloning
    * charged that to every execution (measured ~2× on the steady samples),
    * where the multi-tenant pattern this demonstrates builds its tuned
    * session once and runs many queries through it.
    */
  private val scopedSessionCache =
    IndexMemo.cache[org.apache.spark.sql.SparkSession, org.apache.spark.sql.SparkSession]()

  def skewedJoinAgg(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // bound the cache: dropping another base session's clone is harmless
    // (an in-flight user's reference keeps working; the next call just
    // re-clones), so unlike the checkpoint registry a simple size cap is
    // safe here — what matters is not pinning dead sessions forever
    if (scopedSessionCache.size > 4)
      scopedSessionCache.keys.filterNot(_ eq s).take(1)
        .foreach(scopedSessionCache.remove)
    // attribution: Bench surfaces these per-query, so a clone REBUILT on a
    // later sample (memo eviction, key churn) is visible in bench.json
    // instead of showing up only as an unexplained runtime rise
    IndexStore.events.putIfAbsent("skew-scoped-session", "load")
    val scoped = IndexMemo(scopedSessionCache, s) {
      IndexStore.events.put("skew-scoped-session",
        s"build@${System.nanoTime() / 1000000}")
      val c = s.newSession()
      Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
        // size-based post-shuffle coalescing (not parallelism-based): the
        // demo's 8KB advisory makes parallelism-first AQE keep one tiny
        // task per core on the post-join aggregate/sort stages, so their
        // task count scaled with the core count against KB-sized data —
        // the round-19 quiet-window 32-vs-8-core inversion (0.60 vs
        // 0.46 s min). Size-based coalescing collapses those stages to
        // one task at any core count; the skew SPLIT (the thing this
        // query demonstrates) is governed by the skewJoin confs above
        // and is unaffected.
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"
      ).foreach { case (k, v) => c.conf.set(k, v) }
      c
    }
    // Skew splitting slices a hot reduce partition at MAP-OUTPUT-BLOCK
    // granularity: a partition fed by one mapper cannot be split at all.
    // At 100 TB the fact scan has thousands of mappers naturally; the
    // single-row-group test file has ONE, so spread it explicitly — the
    // round-robin stands in for the real scan's mapper count, it is not
    // part of the operator's scale shape.
    val hot = graft.sources.Tables.read(scoped, dir, "events")
      .repartition(32)
      .select(
        when(col("event_id") % 10 =!= 0, lit(7L))
          .otherwise(pmod(col("user_id"), lit(100L))).as("cust_key"),
        col("value"))
    val dim = graft.sources.Tables.read(scoped, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    hot.join(dim, col("cust_key") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  val skewedJoinAggSql: String =
    """SELECT c_mktsegment, count(*) AS n_events,
      |  round(sum(value), 2) AS sum_value
      |FROM (
      |  SELECT CASE WHEN event_id % 10 <> 0 THEN 7
      |              ELSE user_id % 100 END AS cust_key, value
      |  FROM events) e
      |JOIN customer ON cust_key = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
}
