package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SimilarityOps

/** NativeKernelRule: the declarative aggregate(zip_with(·,·,*),0,+) fold is
  * rewritten to the native codegen'd dot_product, with semantics preserved
  * on every edge the composed form defines (null element, length mismatch,
  * empty array, zero vector).
  *
  * Inputs are parquet-backed: a literal-backed frame is collapsed by
  * ConvertToLocalRelation before the operator-optimization batch ever runs,
  * so the rule (correctly) never sees it — scans are the case that matters.
  */
class NativeKernelRuleSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def composedDot = SimilarityOps.dot(col("a"), col("b"))

  private lazy val vecsPath: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-nk-").toString
    Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
      (2L, Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
      (3L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](4.0, 5.0, 6.0)),
      (4L, Seq.empty[java.lang.Double], Seq.empty[java.lang.Double]),
      (5L, Seq[java.lang.Double](0.0, 0.0), Seq[java.lang.Double](0.0, 0.0)))
      .toDF("id", "a", "b")
      .write.mode("overwrite").parquet(p)
    p
  }

  private def vecs = spark.read.parquet(vecsPath)

  test("the composed fold optimizes to dot_product (no interpreted lambda left)") {
    val df = vecs.select(composedDot.as("d"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("dot_product"), opt)
    assert(!opt.contains("aggregate("), opt)
    // and it reaches the physical plan inside a codegen stage
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("dot_product"), phys)
  }

  test("composed cosine gets three native folds (divide stays Spark's)") {
    val df = vecs.where(col("id") === 1)
      .select(VectorExpressionSpec.cosineComposed(col("a"), col("b")).as("c"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert("dot_product".r.findAllIn(opt).size == 3, opt)
    assert(!opt.contains("aggregate("), opt)
  }

  test("rewrite preserves values and every null edge of the composed form") {
    val out = vecs.select(col("id"), composedDot.as("d"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(1L).contains(32.0)) // 4 + 10 + 18
    assert(out(2L).isEmpty)        // null element poisons the fold
    assert(out(3L).isEmpty)        // length mismatch -> zip_with pads null
    assert(out(4L).contains(0.0))  // empty fold = zero
    assert(out(5L).contains(0.0))  // zero vector: dot is 0.0, not null/NaN
  }

  test("SQL-authored fold is rewritten too (zero literal via cast)") {
    vecs.createOrReplaceTempView("nk_vecs")
    val q = spark.sql(
      """SELECT aggregate(zip_with(a, b, (x, y) -> x * y),
        |  cast(0 as double), (acc, v) -> acc + v) AS d
        |FROM nk_vecs WHERE id = 1""".stripMargin)
    assert(q.queryExecution.optimizedPlan.toString.contains("dot_product"),
      q.queryExecution.optimizedPlan.toString)
    assert(q.collect().head.getDouble(0) == 32.0)
  }

  test("non-dot folds are left alone") {
    // sum of sums — same skeleton, different lambda: must NOT rewrite
    val q = vecs.where(col("id") === 1).select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x + y),
      lit(0.0), (acc, v) => acc + v).as("s"))
    val opt = q.queryExecution.optimizedPlan.toString
    assert(!opt.contains("dot_product"), opt)
    assert(q.collect().head.getDouble(0) == 21.0)
  }

  test("the bulk ANN path under the rule matches the native expression") {
    val e = graft.sources.Tables
      .read(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
    val q = e.limit(3).select(col("vec_id").as("qid"), col("vec").as("qv"))
    val viaRule = e.crossJoin(q)
      .select(col("vec_id"), col("qid"),
        SimilarityOps.dot(col("vec"), col("qv")).as("d"))
    val native = e.crossJoin(q)
      .select(col("vec_id"), col("qid"),
        graft.functions.VectorExpressions.dot_product(col("vec"), col("qv")).as("d"))
    assert(viaRule.exceptAll(native).isEmpty && native.exceptAll(viaRule).isEmpty)
  }
}
