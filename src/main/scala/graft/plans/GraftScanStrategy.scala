package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, StringType}

import graft.sources.GraftInlineScan

/** Plans a graft scan inline: a Project/Filter chain ending at a
  * `DataSourceV2ScanRelation` over a [[GraftInlineScan]] is planned as the
  * same chain over the scan's own logical plan. For a snapshot read that
  * is [[graft.ops.MergeTable.snapshotPlan]] of the pruned files, so
  * Spark's own file-source planning sees one Project/Filter chain over a
  * parquet relation: the filters reach the parquet reader, the columns
  * are pruned, and scan, filter and projection share one codegen stage.
  * A change-feed read is the union of its separately optimized
  * per-chunk diffs; a metadata-only aggregate is a local relation of
  * the driver's rows. No nested query is built, and nothing runs a job
  * while planning.
  *
  * The optimized plan keeps the scan relation (its description,
  * statistics and pushdown results); only physical planning sees the
  * inlined plan. Any other plan is declined after a walk of its
  * Project/Filter chain. */
case class GraftScanStrategy(session: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    @tailrec def scanOf(p: LogicalPlan): Option[DataSourceV2ScanRelation] =
      p match {
        case Project(_, c) => scanOf(c)
        case Filter(_, c) => scanOf(c)
        case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftInlineScan] =>
          Some(r)
        case _ => None
      }
    scanOf(plan).toSeq.map { r =>
      val scan = r.scan.asInstanceOf[GraftInlineScan].inlinePlan(session, r.output)
      def inline(p: LogicalPlan): LogicalPlan =
        if (p eq r) scan else p.withNewChildren(Seq(inline(p.children.head)))
      planLater(inline(plan))
    }
  }
}

object GraftScanStrategy {

  /** A pushed data-source filter as a Catalyst predicate over the
    * attributes `attr` resolves column names to. None = not translated:
    * the caller's own filter above the scan still handles the shape. The
    * predicate must be EXACTLY the filter — under-filtering is caught by
    * that residual filter, but over-filtering would drop rows — so
    * anything subtle stays untranslated: a name that resolves to no
    * top-level column, a value whose type is not the column's, `Not` or
    * `And`/`Or` over an untranslated child. */
  def toPredicate(f: sources.Filter,
      attr: String => Option[Attribute]): Option[Expression] = {
    def value(a: Attribute, v: Any): Option[Expression] =
      if (v == null) Some(Literal(null, a.dataType))
      else literal(v, a.dataType)
    def cmp(n: String, v: Any)(
        mk: (Expression, Expression) => Expression): Option[Expression] =
      attr(n).flatMap(a => value(a, v).map(mk(a, _)))
    def text(n: String, p: String)(
        mk: (Expression, Expression) => Expression): Option[Expression] =
      attr(n).filter(_.dataType == StringType).map(mk(_, Literal(p)))
    f match {
      case sources.EqualTo(n, v) => cmp(n, v)(EqualTo)
      case sources.EqualNullSafe(n, v) => cmp(n, v)(EqualNullSafe)
      case sources.GreaterThan(n, v) => cmp(n, v)(GreaterThan)
      case sources.GreaterThanOrEqual(n, v) => cmp(n, v)(GreaterThanOrEqual)
      case sources.LessThan(n, v) => cmp(n, v)(LessThan)
      case sources.LessThanOrEqual(n, v) => cmp(n, v)(LessThanOrEqual)
      case sources.In(n, vs) if vs != null && vs.nonEmpty =>
        attr(n).flatMap { a =>
          val lits = vs.toSeq.map(value(a, _))
          if (lits.forall(_.nonEmpty)) Some(In(a, lits.flatten)) else None
        }
      case sources.IsNull(n) => attr(n).map(IsNull)
      case sources.IsNotNull(n) => attr(n).map(IsNotNull)
      case sources.StringStartsWith(n, p) => text(n, p)(StartsWith)
      case sources.StringEndsWith(n, p) => text(n, p)(EndsWith)
      case sources.StringContains(n, p) => text(n, p)(Contains)
      case sources.And(l, r) =>
        for (lp <- toPredicate(l, attr); rp <- toPredicate(r, attr)) yield And(lp, rp)
      case sources.Or(l, r) =>
        for (lp <- toPredicate(l, attr); rp <- toPredicate(r, attr)) yield Or(lp, rp)
      case sources.Not(c) => toPredicate(c, attr).map(Not)
      case _ => None
    }
  }

  /** `v` as a literal of exactly type `dt`, or None. A decimal value of
    * another precision is re-typed only when that loses nothing. */
  private def literal(v: Any, dt: DataType): Option[Literal] =
    scala.util.Try(Literal.create(v)).toOption.flatMap { l =>
      (l.value, dt) match {
        case _ if l.dataType == dt => Some(l)
        case (d: Decimal, t: DecimalType) =>
          val c = d.clone()
          if (c.changePrecision(t.precision, t.scale) && c == d) Some(Literal(c, t))
          else None
        case _ => None
      }
    }
}
