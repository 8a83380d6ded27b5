package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** Native per-row SimHash (SURVEY §2.11 preference order (b)).
  *
  * The SQL-expression form (`simhashRowExprSql`, kept in StreamingSpec as
  * this expression's parity reference) — an `aggregate`
  * over `transform`ed shingles with a 60-element `zip_with` per shingle —
  * runs entirely in interpreted higher-order lambdas: ~3.3 s for 5 000
  * docs at sf0.1, the single largest steady cost left in the bench. This
  * expression computes the IDENTICAL fingerprint in one compiled pass
  * (distinct word-bigram shingles → 60-bit md5-prefix hash → per-bit
  * majority vote), and `defineCodeGen` emits a single static call so the
  * operator stays inside whole-stage codegen.
  *
  * Bit-parity contract (asserted in StreamingSpec and by the
  * `q_simhash_row_fp` DuckDB oracle): shingle i (1-based, i ≤ max(n−1,1))
  * is `concat_ws(' ', toks[i], toks[i+1])` — a 1-token document yields its
  * bare token; hash = first 15 md5 hex digits as a 60-bit integer; bit b
  * set iff 2·ones(b) > #distinct shingles (strict majority, ties clear).
  */
object SimhashRow {

  /** Shared by interpreted eval and generated code — public static so the
    * codegen'd call sites can reach it.
    */
  def compute(arr: ArrayData, bits: Int): Long = compute(arr, bits, "")

  /** Salted form: `salt` is prepended to every shingle before hashing —
    * the independent second hash draw the two-lane 120-bit fingerprint
    * uses (DedupOps.Lane1Salt). Constant-prefix salting is injective, so
    * the distinct-shingle set (and the vote denominator) is unchanged.
    */
  def compute(arr: ArrayData, bits: Int, salt: String): Long = {
    val n = arr.numElements()
    val seen = new java.util.HashSet[String]()
    val ones = new Array[Int](bits)
    var m = 0
    val md = java.security.MessageDigest.getInstance("MD5")
    val top = math.max(n - 1, 1)
    var i = 1
    while (i <= top) {
      val a = if (i - 1 < n && !arr.isNullAt(i - 1)) arr.getUTF8String(i - 1).toString else null
      val b = if (i < n && !arr.isNullAt(i)) arr.getUTF8String(i).toString else null
      // concat_ws(' ', a, b): null operands are skipped, never joined
      val sh =
        if (a == null) { if (b == null) "" else b }
        else if (b == null) a
        else a + " " + b
      if (seen.add(sh)) {
        m += 1
        val d = md.digest((salt + sh).getBytes(StandardCharsets.UTF_8))
        // first 15 hex digits = first 7.5 bytes big-endian → 60-bit value
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
        h = h >>> 4
        var bi = 0
        while (bi < bits) { ones(bi) += ((h >>> bi) & 1L).toInt; bi += 1 }
      }
      i += 1
    }
    var fp = 0L
    var bi = 0
    while (bi < bits) { if (2L * ones(bi) > m) fp |= 1L << bi; bi += 1 }
    fp
  }
}

case class SimhashRowFp(child: Expression, bits: Int, salt: String = "")
    extends UnaryExpression {

  require(bits >= 1 && bits <= 60, s"simhash bits must be in [1, 60], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any =
    SimhashRow.compute(a.asInstanceOf[ArrayData], bits, salt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltLit = "\"" + salt.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashRow.compute($c, $bits, $saltLit)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash_row"
}

/** Native per-row winnowing fingerprint (SURVEY §2.11 preference order (b)).
  *
  * [[graft.ops.TextOps.docFingerprint]]'s declarative form explodes every
  * k-word shingle, hashes each exploded row, then shuffles on `doc_id` to
  * take min + countDistinct — but every shingle of a document comes from
  * ONE input row, so the explode and the shuffle are pure overhead (3.3 s
  * at sf0.1). This expression computes the identical
  * `(min hash, distinct-shingle count)` pair in one compiled pass per row.
  *
  * Bit-parity contract (the `q_doc_fingerprint` DuckDB oracle): shingle i
  * (1-based, i ≤ max(n−k+1, 1)) is `concat_ws(' ', slice(toks, i, k))` —
  * a document shorter than k yields one shingle of all its tokens; hash =
  * first 15 md5 hex digits as a 60-bit integer (TextOps.hash60);
  * `n_shingles` counts distinct HASH values, exactly like the
  * countDistinct it replaces.
  */
object FingerprintRow {

  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, gram: Int): InternalRow = {
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val seen = new java.util.HashSet[java.lang.Long]()
    var minH = Long.MaxValue
    val top = math.max(n - gram + 1, 1)
    val sb = new java.lang.StringBuilder
    var i = 1
    while (i <= top) {
      sb.setLength(0)
      var j = i - 1
      val end = math.min(i - 1 + gram, n)
      var first = true
      while (j < end) {
        // concat_ws(' ', ...): null operands are skipped, never joined
        if (!arr.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      h = h >>> 4 // first 15 hex digits = 60-bit value
      seen.add(h)
      if (h < minH) minH = h
      i += 1
    }
    InternalRow(minH, seen.size.toLong)
  }
}

case class FingerprintRowFp(child: Expression, gram: Int) extends UnaryExpression {

  require(gram >= 1, s"fingerprint gram must be >= 1, got $gram")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = StructType(
    Seq(StructField("fingerprint", LongType, nullable = false),
      StructField("n_shingles", LongType, nullable = false)))

  override def nullSafeEval(a: Any): Any =
    FingerprintRow.compute(a.asInstanceOf[ArrayData], gram)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FingerprintRow.compute($c, $gram)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fingerprint_row"
}

/** Native k-gram hash stream (SURVEY §2.11 preference order (b)).
  *
  * The declarative gram pipeline (`transform(sequence(...), i ->
  * concat_ws(' ', slice(toks, i, k)))` then md5 per exploded row) pays an
  * interpreted higher-order lambda per document plus a string explode —
  * the steady cost of the decontamination family and the duplicate-span
  * scan. This expression emits the hash60 of every k-token window
  * (positions preserved, duplicates kept) in one compiled pass; callers
  * explode the LONG array instead of shingle strings, so nothing wider
  * than 8 bytes/gram leaves the expression.
  *
  * Bit-parity contract: window i (1-based, i ≤ max(n−k+1, 1)) is
  * `concat_ws(' ', slice(toks, i, k))`; hash = first 15 md5 hex digits as
  * a 60-bit integer (TextOps.hash60) — identical to the declarative form
  * it replaces (pinned in LlmOpsSpec).
  */
object GramHashes {

  /** Shared by interpreted eval and generated code. */
  def compute(arr: ArrayData, gram: Int): ArrayData = {
    val n = arr.numElements()
    val md = java.security.MessageDigest.getInstance("MD5")
    val top = math.max(n - gram + 1, 1)
    val out = new Array[Long](top)
    val sb = new java.lang.StringBuilder
    var i = 1
    while (i <= top) {
      sb.setLength(0)
      var j = i - 1
      val end = math.min(i - 1 + gram, n)
      var first = true
      while (j < end) {
        if (!arr.isNullAt(j)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          first = false
        }
        j += 1
      }
      val d = md.digest(sb.toString.getBytes(StandardCharsets.UTF_8))
      var h = 0L
      var k = 0
      while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
      out(i - 1) = h >>> 4
      md.reset()
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class GramHash60s(child: Expression, gram: Int) extends UnaryExpression {

  require(gram >= 1, s"gram must be >= 1, got $gram")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(a: Any): Any =
    GramHashes.compute(a.asInstanceOf[ArrayData], gram)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashes.compute($c, $gram)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "gram_hash60s"
}

object SimhashExpressions {
  /** Column API for [[SimhashRowFp]]. */
  def simhash_row(toks: Column, bits: Int, salt: String = ""): Column =
    Bridge.column(SimhashRowFp(Bridge.expression(toks), bits, salt))

  /** Column API for [[FingerprintRowFp]]. */
  def fingerprint_row(toks: Column, gram: Int): Column =
    Bridge.column(FingerprintRowFp(Bridge.expression(toks), gram))

  /** Column API for [[GramHash60s]]. */
  def gram_hash60s(toks: Column, gram: Int): Column =
    Bridge.column(GramHash60s(Bridge.expression(toks), gram))
}
