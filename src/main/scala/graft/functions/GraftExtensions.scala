package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** Session extensions: registers the engine's native expressions for SQL
  * users (`SELECT cosine_sim(a, b)`) and the custom-plan-tier strategies
  * ([[graft.plans.RangeJoinStrategy]], and [[graft.plans.GraftScanStrategy]],
  * which plans every graft batch read) and the lookup rule
  * ([[graft.plans.ParameterizeLookups]]). Install via
  * `SparkSession.builder.withExtensions(new GraftExtensions)` — done by
  * [[graft.GraftSession]] — or
  * `spark.sql.extensions=graft.functions.GraftExtensions` on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    // graft batch scans plan inline: snapshot and change-feed reads as
    // the engine's own parquet reads (no graft scan has a batch reader)
    e.injectPlannerStrategy(graft.plans.GraftScanStrategy(_))
    e.injectOptimizerRule(_ => graft.plans.NativeKernelRule)
    // a lookup's filter literals become references, so point reads of
    // one shape share one compiled whole-stage class
    e.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.ParameterizeLookups
    })
    // OPTIMIZE / VACUUM graft.`/path` — grammar Spark doesn't have,
    // added by a delegating parser (everything else parses verbatim)
    e.injectParser((_, delegate) => new graft.ops.GraftSqlParser(delegate))
    // MERGE INTO graft.`/path` ... — swap the analyzed MergeIntoTable for
    // the engine's transactional merge command before Spark's row-level
    // rewrite would reject the (non-SupportsRowLevelOperations) target
    e.injectPostHocResolutionRule(session => graft.ops.GraftMergeRule(session))
    // metadata table functions: DESCRIBE HISTORY / DETAIL analogs
    e.injectTableFunction((
      FunctionIdentifier("graft_history"),
      new ExpressionInfo(graft.ops.GraftTvf.getClass.getName, "graft_history"),
      (children: Seq[Expression]) => graft.ops.GraftTvf.history(children)))
    e.injectTableFunction((
      FunctionIdentifier("graft_detail"),
      new ExpressionInfo(graft.ops.GraftTvf.getClass.getName, "graft_detail"),
      (children: Seq[Expression]) => graft.ops.GraftTvf.detail(children)))
    // the change data feed as a composable SQL relation (same framing as
    // the batch readChangeFeed option and the streaming source)
    e.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo(graft.ops.GraftTvf.getClass.getName, "graft_changes"),
      (children: Seq[Expression]) => graft.ops.GraftTvf.changes(children)))
    e.injectTableFunction((
      FunctionIdentifier("graft_changes_since"),
      new ExpressionInfo(graft.ops.GraftTvf.getClass.getName,
        "graft_changes_since"),
      (children: Seq[Expression]) => graft.ops.GraftTvf.changesSince(children)))
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(
          children.size == 2,
          s"cosine_sim requires exactly 2 arguments (two array<double>), got ${children.size}")
        CosineSimilarity(children.head, children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(
          children.size == 2,
          s"dot_product requires exactly 2 arguments (two array<double>), got ${children.size}")
        DotProduct(children.head, children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("l2_sq"),
      new ExpressionInfo(classOf[L2SquaredDistance].getName, "l2_sq"),
      (children: Seq[Expression]) => {
        require(
          children.size == 2,
          s"l2_sq requires exactly 2 arguments (two array<double>), got ${children.size}")
        L2SquaredDistance(children.head, children(1))
      }))
    e.injectFunction((
      FunctionIdentifier("simhash_row"),
      new ExpressionInfo(classOf[SimhashRowFp].getName, "simhash_row"),
      (children: Seq[Expression]) => {
        require(
          children.size == 2,
          s"simhash_row requires exactly 2 arguments (array<string>, int bits), got ${children.size}")
        val bits = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"simhash_row bits must be an integer literal, got $other")
        }
        SimhashRowFp(children.head, bits)
      }))
    e.injectFunction((
      FunctionIdentifier("fingerprint_row"),
      new ExpressionInfo(classOf[FingerprintRowFp].getName, "fingerprint_row"),
      (children: Seq[Expression]) => {
        require(
          children.size == 2,
          s"fingerprint_row requires exactly 2 arguments (array<string>, int gram), got ${children.size}")
        val gram = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"fingerprint_row gram must be an integer literal, got $other")
        }
        FingerprintRowFp(children.head, gram)
      }))
    e.injectFunction((
      FunctionIdentifier("gram_hash60s"),
      new ExpressionInfo(classOf[GramHash60s].getName, "gram_hash60s"),
      (children: Seq[Expression]) => {
        require(
          children.size == 2,
          s"gram_hash60s requires exactly 2 arguments (array<string>, int gram), got ${children.size}")
        val gram = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"gram_hash60s gram must be an integer literal, got $other")
        }
        GramHash60s(children.head, gram)
      }))
  }
}
