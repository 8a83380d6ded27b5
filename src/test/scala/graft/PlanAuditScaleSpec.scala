package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SimilarityOps

/** Physical-plan pins at the BENCH scale factor (sf0.1) for the expensive
  * tier. [[PlanAuditSpec]] pins shapes at sf0.001/sf0.01; round 5 proved
  * plans can change shape with scale (q_brand_revenue's un-hinted join),
  * so the ~most-expensive registered queries get their shape re-asserted
  * against the FINAL post-AQE plan at the scale the bench actually runs.
  *
  * Pins are structural, not cosmetic: shuffle-exchange counts (the 100 TB
  * cost driver), broadcast presence where a bounded side must never
  * shuffle, no CartesianProduct anywhere, and SinglePartition exchanges
  * only as one-row-per-partition scalar-agg partials.
  */
class PlanAuditScaleSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.1"

  /** Final adaptive plan ([[Dev.finalPlan]]), executed once per query and
    * memoized. */
  private val planCache = scala.collection.mutable.Map.empty[String, String]
  private def finalPlan(name: String): String = planCache.getOrElseUpdate(name,
    Dev.finalPlan(SparkEntry.queries(name)(spark, dir)))

  private def hashExchanges(p: String): Int =
    "\\+- Exchange hashpartitioning".r.findAllIn(p).size
  private def broadcasts(p: String): Int =
    "\\+- BroadcastExchange".r.findAllIn(p).size

  /** Common 100 TB invariants for every pinned query. */
  private def auditCommon(name: String): String = auditCommon(name, finalPlan(name))

  private def auditCommon(name: String, p: String): String = {
    assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
    // SinglePartition exchanges may only carry one row per upstream
    // partition (scalar-agg partials) — never data rows
    val lines = p.split("\n").map(_.trim)
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val below = lines.slice(i + 1, i + 3).mkString(" ")
        assert(below.contains("partial_"),
          s"$name: SinglePartition exchange of data rows at line $i:\n$p")
    }
    p
  }

  test("sf0.1 q_dedup_embedding: one shuffle, and it carries only scored pairs") {
    val p = auditCommon("q_dedup_embedding")
    // the single hash exchange is the post-filter distinct over
    // (a_id, b_id, cosine) — vectors and raw candidates never shuffle
    assert(hashExchanges(p) == 1, p)
    val ex = p.split("\n").find(_.contains("Exchange hashpartitioning")).get
    assert(ex.contains("a_id") && ex.contains("cosine"), ex)
    // both vector re-fetches broadcast (one reused)
    assert(broadcasts(p) >= 2, p)
    assert(p.contains("ReusedExchange"), p)
  }

  test("sf0.1 q_ann_pq_adc: broadcast LUT, bounded shuffles") {
    val p = auditCommon("q_ann_pq_adc")
    // the ADC lookup table rides a broadcast, never a shuffle
    assert(broadcasts(p) >= 1, p)
    // codes aggregation + per-query rank: three key-partitioned exchanges
    assert(hashExchanges(p) <= 3, p)
  }

  /** Shared pins for the two in-cell self-join queries after the round-19
    * rewrite: the assignment is computed ONCE per execution into a
    * localCheckpoint, and every consumer (both self-join sides + the
    * output spine) reads the checkpoint — so the query plan must scan the
    * checkpoint RDD, never the embeddings parquet, and the k-way
    * centroid crossJoin (now inside the checkpoint build job) must not
    * reappear here as a BroadcastNestedLoopJoin. Exchange budget: the cid
    * self-join pair + the per-vector aggregate + the output-spine
    * alignment — ≤ 4 key-partitioned shuffles of bounded rows.
    */
  private def auditInCellSelfJoin(name: String): Unit = {
    val p = auditCommon(name)
    assert(hashExchanges(p) <= 4, p)
    // the executed plan prints the checkpoint as Scan ExistingRDD (the
    // "localCheckpoint at ..." provenance only appears in formatted
    // explain output, not in the executed-plan tree)
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("embeddings.parquet"),
      s"$name recomputes the assignment from parquet:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  /** A quantizer assignment that is one map-side projection: the
    * nearest-centroid kernel against the candidate literal, with no
    * exchange of any kind, no aggregate, no window, no sort and no join. */
  private def auditMapSideAssign(name: String, df: => org.apache.spark.sql.DataFrame,
      kernel: String): String = {
    val p = auditCommon(name, Dev.finalPlan(df))
    assert(p.contains(kernel), p)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Aggregate") && !p.contains("Window"), p)
    assert("Sort \\[".r.findFirstIn(p).isEmpty && !p.contains("Join"), p)
    p
  }

  test("sf0.1 coarse-cell assignment: map-side kernel, no exchange") {
    // the kmeans assignment q_sem_dedup and q_knn_graph build inside their
    // checkpoint job, which the query plans above only see as Scan
    // ExistingRDD; it was a broadcast crossJoin into a vec_id SortAggregate
    auditMapSideAssign("coarseCells", SimilarityOps.coarseCells(spark, dir), "nearest_cosine")
  }

  test("sf0.1 embedding scans: the array<double> widening runs in the scan's codegen stage") {
    // SimilarityOps.emb widens with an element-wise cast; the retired
    // transform(x -> cast(x as double)) lambda left this Project uncompiled
    val p = Dev.finalPlan(SimilarityOps.coarseCells(spark, dir))
    val lines = p.split("\n")
    val scan = lines.indexWhere(l => l.contains("FileScan parquet") && l.contains("embedding"))
    assert(scan > 0, p)
    // the projection that makes `vec` from the scanned `embedding`
    val widen = lines.take(scan).lastIndexWhere(_.contains(" AS vec#"))
    assert(widen >= 0, p)
    assert(lines.slice(widen, scan).forall("\\*\\(\\d+\\) ".r.findFirstIn(_).nonEmpty), p)
  }

  test("sf0.1 PQ codes encode: map-side kernel, no window, no sort") {
    // the codes build was a join on j into a (vec_id, j) row_number window
    auditMapSideAssign("pqEncode", SimilarityOps.pqEncode(spark, dir), "nearest_l2")
  }

  test("sf0.1 q_sem_dedup: assignment checkpointed once, bounded self-join shuffles") {
    auditInCellSelfJoin("q_sem_dedup")
  }

  test("sf0.1 q_knn_graph: same checkpointed in-cell shape as sem_dedup") {
    auditInCellSelfJoin("q_knn_graph")
  }

  test("sf0.1 q_clean_corpus: memoized components, bounded exchange budget") {
    val p = auditCommon("q_clean_corpus")
    // quality + dedup + decontam + exclusion compose into at most five
    // key-partitioned shuffles; the reason joins broadcast
    assert(hashExchanges(p) <= 5, p)
    assert(broadcasts(p) >= 3, p)
  }

  test("sf0.1 q_scd2_history: exactly one shuffle, on user_id") {
    val p = auditCommon("q_scd2_history")
    assert(hashExchanges(p) == 1, p)
    val ex = p.split("\n").find(_.contains("Exchange hashpartitioning")).get
    assert(ex.contains("user_id"), ex)
  }

  test("sf0.1 q_bm25_topk: distributed top-k survives the bench scale") {
    val p = auditCommon("q_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    // ranking window (over the k limited rows) sits above the top-k
    val lines = p.split("\n").map(_.trim)
    val takeIdx = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx < 0 || winIdx < takeIdx, p)
  }

  test("sf0.1 q_dedup_span_scrub: skew-safe dup test, one gram exchange, no window") {
    val p = auditCommon("q_dedup_span_scrub")
    // (h, doc_id) pre-aggregate + df count + dup rejoin + per-doc
    // reassembly + the doc-side join: at most four key-partitioned
    // exchanges, none of them text-bearing beyond the final doc join
    assert(hashExchanges(p) <= 4, p)
    // the hot-gram path must NOT be a per-key window (round-7 skew watch
    // item): the dup test rides aggregates with map-side partials, and the
    // (h, doc_id) exchange is built once for both branches
    assert(!p.contains("Window"), p)
    assert(p.contains("ReusedExchange"), p)
    // the global orderBy of the output is a range exchange, never a
    // single-partition sort
    assert(!p.contains("Exchange SinglePartition") ||
      p.split("\n").exists(_.contains("partial_")), p)
  }

  test("sf0.1 q_token_budget: no SinglePartition window at bench scale") {
    val p = auditCommon("q_token_budget")
    // the running sum must stay partitioned (pid window + broadcast
    // offsets); the only SinglePartition exchanges allowed are scalar-agg
    // partials (auditCommon), and the offsets join is a broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert("Window .*pid".r.findFirstIn(p).isDefined ||
      p.split("\n").exists(l => l.contains("Window") && l.contains("pid")), p)
  }

  test("sf0.1 q_cluster_sample: group-limited cid top-m over the assignment argmax") {
    val p = auditCommon("q_cluster_sample")
    // partial WindowGroupLimit trims to m per cell BEFORE the cid shuffle
    assert(p.contains("WindowGroupLimit"), p)
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined, p)
    // key exchanges: the cid top-m (the assignment itself is map-side)
    assert(hashExchanges(p) <= 2, p)
  }
}
