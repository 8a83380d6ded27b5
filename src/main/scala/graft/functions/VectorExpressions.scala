package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, Expression, GenericInternalRow, Literal, PrettyAttribute}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{
  ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Native Catalyst expression for cosine similarity over two double arrays.
  *
  * Why custom (SURVEY §2.11 preference order (b)): the composed form —
  * `aggregate(zip_with(a,b,*),0,+) / (sqrt(..)*sqrt(..))` — walks each array
  * SIX times through interpreted higher-order lambdas (no codegen, no
  * subexpression sharing). This expression makes ONE codegen'd pass
  * accumulating dot, ‖a‖² and ‖b‖² together.
  *
  * Numeric contract: each accumulator is a left-fold in index order —
  * bit-identical to the composed form and to the DuckDB oracle's
  * `list_sum(list_transform(...))`, so ANN rankings are unchanged.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  // Length mismatch OR a null element → null, matching the composed
  // zip_with/aggregate form exactly (zip_with pads the shorter side with
  // nulls, and any null poisons the whole fold). A malformed embedding
  // surfaces as a null, not a plausible wrong score — and the exact parity
  // is what licenses NativeKernelRule to substitute this expression for
  // the composed fold unconditionally.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // null element → null result, matching the composed form (a null
      // poisons the whole zip_with/aggregate fold)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_sim"
}

/** Native squared-L2 distance over two double arrays — the PQ hot path
  * (codebook assignment + ADC lookup tables both score Σ(aᵢ−bᵢ)²). Same
  * design rules as [[CosineSimilarity]]: one codegen'd pass, left-fold in
  * index order (bit-identical to the composed `aggregate(zip_with(...))`
  * form and DuckDB's `list_sum(list_transform(...))`), length mismatch →
  * null.
  */
case class L2SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "l2_sq"
}

/** Native dot product over two double arrays — the LSH sign-bit path.
  * [[CosineSimilarity]] is NOT a substitute there: for a zero-norm vector
  * cosine is NaN (0/0) so `cos >= 0` is false, while `dot >= 0` is true —
  * a silent signature divergence vs any oracle computing the raw dot. Same
  * design rules as the siblings: one codegen'd pass, left-fold in index
  * order, length mismatch → null.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_product"
}

/** Native ADC (asymmetric-distance-computation) sum — the PQ search inner
  * loop (round-18 optimization): adc_d2 = Σ_j dtab[j·k + codes[j]] over the
  * m subspaces, evaluated once per (candidate, query) PAIR. The composed
  * form — `aggregate(sequence(0, m−1), 0.0, (acc, j) -> acc +
  * element_at(dtab, j·k + element_at(codes, j+1) + 1))` — is a
  * HigherOrderFunction: no codegen, a lambda-variable row per step, and a
  * materialized m-element sequence per PAIR, on the one stream whose row
  * count is the ADC scan itself (n·q for the flat scan, Σ cell·q for
  * IVF-PQ). This expression makes the same m lookups in one compiled loop.
  *
  * Numeric contract (pinned in VectorExpressionSpec and by the three ADC
  * oracles): the sum left-folds in subspace order j = 0..m−1 — bit-identical
  * to the composed fold and to the oracle's ORDER BY j list_sum. A null
  * codes/dtab element poisons the fold to null exactly like `acc + null`;
  * an out-of-range slot (impossible against the densified m·k dtab — see
  * [[graft.ops.SimilarityOps]] pqLutWide) also yields null rather than a
  * fabricated distance.
  */
case class AdcSum(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint> codes, array<double> dtab), " +
        s"got ${l.sql} and ${r.sql}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val dtab = b.asInstanceOf[ArrayData]
    val m = codes.numElements()
    val nt = dtab.numElements()
    var acc = 0.0
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val slot = j * k + codes.getLong(j)
      if (slot < 0 || slot >= nt || dtab.isNullAt(slot.toInt)) return null
      acc += dtab.getDouble(slot.toInt)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m")
      val nt = ctx.freshName("nt")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val slot = ctx.freshName("slot")
      s"""
         |int $m = $a.numElements();
         |int $nt = $b.numElements();
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  if ($a.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $slot = (long) $j * $k + $a.getLong($j);
         |  if ($slot < 0 || $slot >= $nt || $b.isNullAt((int) $slot)) {
         |    ${ev.isNull} = true; break;
         |  }
         |  $acc += $b.getDouble((int) $slot);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "adc_sum"
}

/** Native nearest-candidate election: `nearest(vec, cands, metric)` scores
  * `vec` against every `(cid, c_vec)` entry of `cands` and returns the
  * winner as `struct<cid, score>` — the quantizer assignment (k-means
  * cells, PQ codewords) as ONE map-side projection instead of a k-way
  * crossJoin into an argmax aggregate or a row_number window.
  *
  * `cands` is a small `array<struct<cid: bigint, c_vec: array<double>>>`,
  * in practice a literal of the trained centroids (see
  * [[graft.ops.SimilarityOps]] `candidates`), so it ships once with the
  * plan like any broadcast and the vector side never shuffles.
  *
  * Numeric and ordering contract (pinned in VectorExpressionSpec and
  * LlmOpsSpec against the retired forms):
  *  - each score is bit-identical to [[CosineSimilarity]] (metric
  *    `cosine`) or [[L2SquaredDistance]] (metric `l2`): the same left
  *    folds in index order, and null on a null vector, a null element or a
  *    length mismatch;
  *  - `cosine` elects the HIGHEST score, with Spark's `cos desc` order:
  *    NaN (a zero-norm side) ranks above every number, null below;
  *  - `l2` elects the LOWEST score, with Spark's `d2 asc` order: null
  *    ranks first, NaN last;
  *  - equal scores (−0.0 = 0.0, NaN = NaN, null = null) break to the
  *    smaller cid, whatever the order of `cands`.
  * Null entries and entries with a null cid are skipped; with no entry
  * left the result is null, as the crossJoin it replaces yielded no row.
  */
case class NearestCentroid(vec: Expression, cands: Expression, metric: String)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = cands

  private def isCosine: Boolean = metric == "cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val candsOk = cands.dataType match {
      case ArrayType(StructType(Array(
          StructField(_, LongType, _, _),
          StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }
    if (!Set("cosine", "l2").contains(metric))
      TypeCheckResult.TypeCheckFailure(s"$prettyName: unknown metric '$metric'")
    else if (vecOk && candsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<struct<bigint, array<double>>>), " +
        s"got ${vec.dataType.sql} and ${cands.dataType.sql}")
  }

  override def dataType: DataType = NearestCentroid.ResultType

  // a literal with an electable entry always elects
  override def nullable: Boolean = cands match {
    case Literal(a: ArrayData, _) => NearestCentroid.nearest(null, a, isCosine) == null
    case _ => true
  }

  // a null vector still elects (every score is null, so the smallest cid
  // wins), so the default null-propagating eval does not apply
  override def eval(input: InternalRow): Any = {
    val c = cands.eval(input)
    if (c == null) null
    else NearestCentroid.nearest(
      vec.eval(input).asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], isCosine)
  }

  // the generated code calls the same loop the interpreted path runs, so
  // the two can never differ; there is no interpreted boundary in the stage
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val c = cands.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(code = code"""
      |${v.code}
      |${c.code}
      |$row ${ev.value} = ${c.isNull} ? null : graft.functions.NearestCentroid.nearest(
      |  ${v.isNull} ? null : ${v.value}, ${c.value}, $isCosine);
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  // the candidate literal is k·dim doubles: plans show its size, not its values
  override def toString: String = {
    val shown = cands.transformUp {
      case l: Literal if l.value != null =>
        PrettyAttribute(s"<${l.value.asInstanceOf[ArrayData].numElements()} candidates>",
          l.dataType)
    }
    s"nearest_$metric($vec, $shown)"
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, cands = newRight)

  override def prettyName: String = "nearest"
}

object NearestCentroid {
  /** One candidate: the element type of `cands`. */
  val CandidateType: StructType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("c_vec", ArrayType(DoubleType, containsNull = true))))

  val ResultType: StructType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("score", DoubleType)))

  /** Spark's sort order on a nullable double, as `desc` (cosine) or `asc`
    * (l2) ranks it: > 0 when `a` ranks ahead of `b`. */
  private def ahead(aNull: Boolean, a: Double, bNull: Boolean, b: Double,
      cosine: Boolean): Int =
    if (aNull || bNull) {
      val byNull = java.lang.Boolean.compare(bNull, aNull) // non-null ahead
      if (cosine) byNull else -byNull                      // asc: nulls first
    } else if (cosine) SQLOrderingUtil.compareDoubles(a, b)
    else SQLOrderingUtil.compareDoubles(b, a)

  def nearest(v: ArrayData, cands: ArrayData, cosine: Boolean): InternalRow = {
    val n = if (v == null) -1 else v.numElements()
    // ‖v‖² once: the same left fold CosineSimilarity repeats per pair
    var vOk = v != null
    var na = 0.0
    var i = 0
    while (vOk && i < n) {
      if (v.isNullAt(i)) vOk = false
      else { val x = v.getDouble(i); na += x * x }
      i += 1
    }
    var found = false
    var bestCid = 0L
    var bestNull = true
    var best = 0.0
    var k = 0
    while (k < cands.numElements()) {
      if (!cands.isNullAt(k)) {
        val e = cands.getStruct(k, 2)
        if (!e.isNullAt(0)) {
          val cid = e.getLong(0)
          var sNull = !vOk || e.isNullAt(1)
          var s = 0.0
          if (!sNull) {
            val y = e.getArray(1)
            if (y.numElements() != n) sNull = true
            else {
              var dot = 0.0
              var nb = 0.0
              var acc = 0.0
              i = 0
              while (!sNull && i < n) {
                if (y.isNullAt(i)) sNull = true
                else {
                  val xi = v.getDouble(i)
                  val yi = y.getDouble(i)
                  if (cosine) { dot += xi * yi; nb += yi * yi }
                  else { val d = xi - yi; acc += d * d }
                }
                i += 1
              }
              s = if (cosine) dot / (math.sqrt(na) * math.sqrt(nb)) else acc
            }
          }
          val c = if (found) ahead(sNull, s, bestNull, best, cosine) else 1
          if (c > 0 || (c == 0 && cid < bestCid)) {
            found = true; bestCid = cid; bestNull = sNull; best = s
          }
        }
      }
      k += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestCid, if (bestNull) null else best))
  }
}

object VectorExpressions {
  /** Column API for [[CosineSimilarity]]. */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[AdcSum]]. */
  def adc_sum(codes: Column, dtab: Column, k: Int): Column =
    Bridge.column(AdcSum(Bridge.expression(codes), Bridge.expression(dtab), k))

  /** Column API for [[DotProduct]]. */
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[L2SquaredDistance]]. */
  def l2_sq(a: Column, b: Column): Column =
    Bridge.column(L2SquaredDistance(Bridge.expression(a), Bridge.expression(b)))

  /** Column API for [[NearestCentroid]]: `struct<cid, score>` of the
    * nearest entry of `cands` under `metric` (`cosine` or `l2`). */
  def nearest(vec: Column, cands: Column, metric: String): Column =
    Bridge.column(NearestCentroid(Bridge.expression(vec), Bridge.expression(cands), metric))

  /** A candidate literal for [[nearest]] from `(cid, c_vec)` rows; the
    * entries are sorted by cid (the tie rule does not need it; plans and
    * spec failures read better). */
  def candidates(rows: Seq[Row]): Column =
    Bridge.column(Literal.create(rows.sortBy(_.getLong(0)),
      ArrayType(NearestCentroid.CandidateType)))

  /** One candidate array per group (a PQ codebook per subspace), indexed
    * by group position: `candidateSets(books).getItem(j)`. */
  def candidateSets(sets: Seq[Seq[Row]]): Column =
    Bridge.column(Literal.create(sets.map(_.sortBy(_.getLong(0))),
      ArrayType(ArrayType(NearestCentroid.CandidateType))))
}
