package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorExpressions.cosine_sim
import graft.ops.SimilarityOps

/** Native CosineSimilarity expression: codegen + interpreted parity, type
  * checking, and bit-identity with the composed higher-order form.
  */
class VectorExpressionSpec extends AnyFunSuite {
  import VectorExpressionSpec.cosineComposed

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Composed higher-order squared-L2: the reference form the native
    * expression is tested against (same left-fold, bit-identical). */
  private def l2sqComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** The retired composed ADC fold: the reference form
    * [[graft.functions.AdcSum]] is tested against (same left-fold). */
  private def adcFoldComposed(codes: Column, dtab: Column): Column =
    aggregate(sequence(lit(0), lit(SimilarityOps.PqM - 1)), lit(0.0),
      (acc, j) => acc + element_at(dtab,
        (j * SimilarityOps.PqK + element_at(codes, j + 1) + 1).cast("int")))

  private def vecs = Seq(
    (1L, Seq(1.0, 0.0, 2.0), Seq(1.0, 0.0, 2.0)),   // identical → 1.0
    (2L, Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),   // orthogonal → 0.0
    (3L, Seq(1.0, 2.0, 3.0), Seq(-1.0, -2.0, -3.0)) // opposite → -1.0
  ).toDF("id", "a", "b")

  test("known geometry: identical/orthogonal/opposite vectors") {
    val out = vecs.select($"id", round(cosine_sim($"a", $"b"), 9).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0 && out(2L) == 0.0 && out(3L) == -1.0)
  }

  test("dot_product: parity with the composed fold, and zero-vector signs") {
    import graft.functions.VectorExpressions.dot_product
    val e = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
      .select(transform($"embedding", x => x.cast("double")).as("vec"))
    val q = e.limit(5).select($"vec".as("qv"))
    val n = e.crossJoin(q)
      .where(dot_product($"vec", $"qv") =!= SimilarityOps.dot($"vec", $"qv"))
      .count()
    assert(n == 0)
    // the LSH sign-bit edge case: a zero-norm vector has dot 0 (>= 0 → bit
    // set) while cosine is NaN (>= 0 → false). The signature path must take
    // the dot semantics, i.e. every plane bit set → bucket 2^P − 1.
    val zero = Seq(Tuple1(Seq.fill(SimilarityOps.Dim)(0.0))).toDF("vec")
    val sig = zero.select(SimilarityOps.lshSignatures($"vec").as("sigs"))
      .collect().head.getSeq[Long](0)
    assert(sig.length == SimilarityOps.LshTables)
    assert(sig.forall(_ == (1L << SimilarityOps.LshPlanes) - 1), sig.mkString(","))
  }

  test("bit-identical to the composed higher-order form on real embeddings") {
    val e = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
      .select(transform($"embedding", x => x.cast("double")).as("vec"))
    val q = e.limit(5).select($"vec".as("qv"))
    val n = e.crossJoin(q)
      .where(
        cosine_sim($"vec", $"qv") =!=
          cosineComposed($"vec", $"qv"))
      .count()
    assert(n == 0)
  }

  test("embedding widening: the element-wise cast equals the lambda cast bit for bit") {
    // SimilarityOps.emb widens with cast("array<double>"), which stays in
    // codegen; the retired lambda form is the reference
    val odd: Seq[Option[Seq[java.lang.Float]]] = Seq(
      Some(Seq(0.1f, null, -0.0f, Float.NaN, Float.MaxValue,
        Float.MinPositiveValue, Float.NegativeInfinity)),
      None, Some(Seq.empty), Some(Seq(null, null)))
    val rnd = new scala.util.Random(7)
    val dense = Seq.fill(200)(Some(Seq.fill(SimilarityOps.Dim)(
      java.lang.Float.valueOf(rnd.nextGaussian().toFloat))))
    val got = (odd ++ dense).toDF("embedding").select(
      transform($"embedding", x => x.cast("double")).as("lambda"),
      $"embedding".cast("array<double>").as("cast")).collect()
    assert(got.length == odd.size + dense.size)
    def bits(r: org.apache.spark.sql.Row, i: Int): Option[Seq[Option[Long]]] =
      Option(r.getSeq[java.lang.Double](i)).map(_.map(d =>
        Option(d).map(x => java.lang.Double.doubleToRawLongBits(x))))
    got.foreach(r => assert(bits(r, 0) == bits(r, 1), r))
    assert(got.count(_.isNullAt(1)) == 1)
    assert(got.head.getSeq[java.lang.Double](1).count(_ == null) == 1)
  }

  test("interpreted eval path matches codegen (null-safe too)") {
    // force interpreted evaluation through the expression's eval()
    val expr = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0, 4.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(4.0, 3.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    assert(math.abs(expr.eval(null).asInstanceOf[Double] - 24.0 / 25.0) < 1e-12)
    val withNull = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      expr.right)
    assert(withNull.eval(null) == null)
  }

  test("length mismatch yields null (matching the composed form), not a silent score") {
    val out = spark.sql(
      "SELECT cosine_sim(array(1.0d), array(1.0d, 9.9d)) AS c").first()
    assert(out.isNullAt(0))
    val composed = Seq((Seq(1.0), Seq(1.0, 9.9))).toDF("a", "b")
      .select(cosineComposed($"a", $"b").as("c")).first()
    assert(composed.isNullAt(0))
  }

  test("cosine_sim is callable from SQL via GraftExtensions") {
    val v = spark.sql(
      "SELECT round(cosine_sim(array(3.0d, 4.0d), array(4.0d, 3.0d)), 6) AS c")
      .first().getDouble(0)
    assert(v == 0.96)
  }

  test("l2_sq: known geometry, bit-identity with composed form, null on mismatch") {
    import graft.functions.VectorExpressions.l2_sq
    val out = vecs.select($"id", l2_sq($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.0 && out(2L) == 2.0 && out(3L) == 56.0)
    // bit-identity vs the composed fold on real embeddings
    val e = graft.sources.Tables.read(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val pairs = e.as("x").crossJoin(e.as("y"))
      .where(col("x.vec_id") < 4 && col("y.vec_id") < 4)
    val diff = pairs.select(
      (l2_sq(col("x.v"), col("y.v")) -
        l2sqComposed(col("x.v"), col("y.v"))).as("d"))
      .agg(max(abs(col("d")))).first().getDouble(0)
    assert(diff == 0.0, s"native vs composed drift: $diff")
    // mismatched lengths -> null
    val m = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(l2_sq($"a", $"b").as("d")).first()
    assert(m.isNullAt(0))
  }

  test("l2_sq is callable from SQL via GraftExtensions") {
    val r = spark.sql("SELECT l2_sq(array(1.0d, 2.0d), array(4.0d, 6.0d)) AS d").first()
    assert(r.getDouble(0) == 25.0)
  }

  test("dot_product is callable from SQL; zero vector gives 0.0, not NaN") {
    val r = spark.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").first()
    assert(r.getDouble(0) == 11.0)
    val z = spark.sql("SELECT dot_product(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS d").first()
    assert(z.getDouble(0) == 0.0)
    // length mismatch -> null, same contract as the siblings
    val m = spark.sql("SELECT dot_product(array(1.0d), array(1.0d, 2.0d)) AS d").first()
    assert(m.isNullAt(0))
  }

  test("type check rejects non-array arguments with a named error") {
    val bad = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal(1.0),
      org.apache.spark.sql.catalyst.expressions.Literal(2.0))
    val res = bad.checkInputDataTypes()
    assert(!res.isSuccess)
  }

  test("adc_sum: native loop is bit-parity with the composed fold; null poisons") {
    import graft.functions.VectorExpressions.adc_sum
    val m = SimilarityOps.PqM
    val k = SimilarityOps.PqK
    // deterministic synthetic pairs over the full slot space: codes walk
    // every residue pattern, dtab values are irregular doubles so a wrong
    // slot or a reassociated sum cannot cancel out
    val rows = (0 until 64).map { r =>
      val codes = (0 until m).map(j => ((r * 31 + j * 7) % k).toLong)
      val dtab = (0 until m * k).map(i => 1.0 / (i + 1) + (r % 5) * 0.137)
      (r.toLong, codes, dtab)
    }
    val df = rows.toDF("id", "codes", "dtab")
    val drift = df.select(
      (adc_sum(col("codes"), col("dtab"), k) -
        adcFoldComposed(col("codes"), col("dtab"))).as("d"))
      .agg(max(abs(col("d")))).first().getDouble(0)
    assert(drift == 0.0, s"native vs composed ADC drift: $drift")
    // a null code element poisons the sum to null, like acc + null
    val withNull = Seq((Seq[java.lang.Long](1L, null, 2L),
      (0 until 3 * k).map(_.toDouble))).toDF("codes", "dtab")
      .select(adc_sum(col("codes"), col("dtab"), k).as("d")).first()
    assert(withNull.isNullAt(0))
    // an out-of-range slot yields null, never a fabricated distance
    val oob = Seq((Seq(99L), Seq(1.0, 2.0))).toDF("codes", "dtab")
      .select(adc_sum(col("codes"), col("dtab"), k).as("d")).first()
    assert(oob.isNullAt(0))
  }

  test("nearest: interpreted eval equals codegen, scores equal the kernels, metric checked") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import graft.functions.{NearestCentroid, VectorExpressions}
    import VectorExpressions.{candidates, l2_sq, nearest}
    val cands = candidates(Seq(Row(3L, Seq(1.0, 0.0)), Row(1L, Seq(0.0, 1.0)),
      Row(2L, Seq(0.6, 0.8))))
    val vs = Seq(Seq(1.0, 0.1), Seq(0.0, 0.0), Seq(0.3, 0.4)).toDF("v")
    val compiled = vs.select(nearest($"v", cands, "cosine").as("c"),
      nearest($"v", cands, "l2").as("l")).collect()
    val vecType = ArrayType(DoubleType)
    vs.collect().map(_.getSeq[Double](0)).zip(compiled).foreach { case (v, row) =>
      for ((metric, i) <- Seq("cosine" -> 0, "l2" -> 1)) {
        val interp = NearestCentroid(Literal.create(v, vecType),
          org.apache.spark.sql.graftbridge.Bridge.expression(cands), metric).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        val c = row.getStruct(i)
        assert(interp.getLong(0) == c.getLong(0), s"$metric $v")
        assert(java.lang.Double.compare(interp.getDouble(1), c.getDouble(1)) == 0, s"$metric $v")
      }
    }
    // the winner's score is the pairwise kernel's, bit for bit
    val check = vs.select(nearest($"v", cands, "cosine").as("c"), nearest($"v", cands, "l2").as("l"),
      $"v").collect()
    val cv = Map(3L -> Seq(1.0, 0.0), 1L -> Seq(0.0, 1.0), 2L -> Seq(0.6, 0.8))
    check.foreach { r =>
      val (c, l, v) = (r.getStruct(0), r.getStruct(1), r.getSeq[Double](2))
      val pair = Seq((v, cv(c.getLong(0)), cv(l.getLong(0)))).toDF("v", "a", "b")
        .select(cosine_sim($"v", $"a"), l2_sq($"v", $"b")).first()
      assert(java.lang.Double.compare(pair.getDouble(0), c.getDouble(1)) == 0)
      assert(pair.getDouble(1) == l.getDouble(1))
    }
    assert(check(1).getStruct(0).getLong(0) == 1L) // zero vector: NaN ties, smallest cid
    assert(!NearestCentroid(Literal.create(Seq(1.0), vecType),
      org.apache.spark.sql.graftbridge.Bridge.expression(cands), "dot")
      .checkInputDataTypes().isSuccess)
  }
}

object VectorExpressionSpec {

  /** Composed higher-order cosine — six interpreted array walks; the
    * reference form the native expression (and NativeKernelRuleSpec's
    * rewrite) is tested against. */
  def cosineComposed(a: Column, b: Column): Column =
    SimilarityOps.dot(a, b) /
      (sqrt(SimilarityOps.dot(a, a)) * sqrt(SimilarityOps.dot(b, b)))
}
