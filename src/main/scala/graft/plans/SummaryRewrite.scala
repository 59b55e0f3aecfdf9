package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DecimalType

/** One registered summary (materialized rollup) of a fact table.
  *
  * `keys` are the fact grouping columns the summary preserves; `cntCol`
  * holds the per-group `count(*)`; `sums` maps a fact-side SUM argument
  * — an attribute name plus the optional `(precision, scale)` of a
  * direct decimal cast around it — to the summary column holding that
  * partial sum; `mins`/`maxs` map plain attribute arguments to their
  * partial extrema. Matching is structural (attribute + cast shape),
  * never by SQL-string comparison, so resolution metadata can't break
  * it.
  */
final case class SummaryDef(
    factPath: String,
    summaryPath: String,
    keys: Seq[String],
    cntCol: String,
    sums: Map[(String, Option[(Int, Int)]), String],
    mins: Map[String, String] = Map.empty,
    maxs: Map[String, String] = Map.empty,
    /** Fact-listing fingerprint captured when the summary was built
      * (via [[graft.Tables.listingFingerprint]]): the STALENESS
      * contract. A rewrite only serves while the fact's current file
      * listing still matches — a read arriving between fact-append and
      * summary-refresh falls back to the fact scan instead of being
      * answered from the stale rollup. `None` opts out (an external
      * refresh pipeline that carries its own freshness token). */
    factFingerprint: Option[Long] = None)

/** Process-wide registry the [[SummaryRewrite]] rule consults. Gates
  * register a summary, materialize the queries that should be answered
  * from it, and unregister in a `finally` — so the rewrite can never
  * leak into an unrelated query's plan (the Verify driver runs gates
  * concurrently in one session). */
object SummaryRegistry {
  @volatile private var current: Seq[SummaryDef] = Nil
  def register(d: SummaryDef): Unit = synchronized {
    current = current.filterNot(_.factPath == d.factPath) :+ d
  }
  def unregister(factPath: String): Unit = synchronized {
    current = current.filterNot(_.factPath == factPath)
  }
  /** Remove `d` only while it is still registered: an overlapping
    * execution that registered its own def for the same fact since
    * keeps it. */
  def unregister(d: SummaryDef): Unit = synchronized {
    current = current.filterNot(_ == d)
  }
  def defs: Seq[SummaryDef] = current
}

/** Aggregate-navigation (materialized-view) rewrite: an `Aggregate`
  * whose grouping keys are a subset of a registered summary's keys,
  * whose filters touch only those keys, and whose aggregates are all
  * derivable from the summary's partials (`count(*)` → `sum(cnt)`,
  * `sum(x)` → `sum(sum_x)`, `min/max(x)` → `min/max(min_x/max_x)`) is
  * answered from the summary scan instead of the fact scan.
  *
  * This is THE 100 TB rollup accelerator: the fact pass happens once at
  * ingest (building the summary); every matching dashboard/report query
  * afterwards reads |groups| rows instead of re-scanning the fact
  * table. Catalyst is the right place for it — the query is still
  * WRITTEN against the fact table (callers don't know the summary
  * exists), and the rule swaps the plan underneath, exactly like
  * partition pruning or any other transparent optimization. Output
  * attribute ids and data types are preserved (aliases keep the
  * original `exprId`s; re-aggregated partials are cast back to the
  * original result type), so parent operators never notice.
  *
  * Safety: any unmappable piece — a non-key grouping, a filter on a
  * non-key column, a DISTINCT/FILTER aggregate, a SUM over an
  * expression the summary didn't capture — vetoes the whole rewrite
  * and the plan is left untouched. An empty-group global aggregate is
  * also vetoed (a summary has no row for "fact was empty", so
  * `count(*)=0` would become `sum(cnt)=NULL`). STALENESS is a veto
  * too: a def registered with [[graft.Tables.listingFingerprint]]
  * only serves while the fact's current file listing matches — the
  * window between a fact append and the summary refresh reads the
  * fact, never the stale rollup.
  *
  * Registered via `SparkSessionExtensions.injectOptimizerRule` (see
  * `graft.functions.GraftExtensions`); exercised by the
  * `q15_summary_rewrite` gate and `SummaryRewriteSpec`.
  */
class SummaryRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (SummaryRegistry.defs.isEmpty) plan
    else {
      // One FS listing per fact path per rule invocation: the rule runs
      // to fixed point and can visit many Aggregates, but the listing
      // can't change mid-compile, so memoize it. A listing FAILURE
      // (fact path dropped while still registered) must veto the
      // rewrite — fall back to the fact scan and let THAT surface the
      // real error — never fail the whole query compile from inside
      // the optimizer (round-11 advice).
      val fpCache = scala.collection.mutable.Map.empty[String, Option[Long]]
      def freshFp(path: String): Option[Long] =
        fpCache.getOrElseUpdate(path,
          scala.util.Try(graft.Tables.listingFingerprint(session, path)).toOption)
      plan.transformUp {
        case agg: Aggregate => tryRewrite(agg, freshFp).getOrElse(agg)
      }
    }
  }

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Strip attr-only Projects and collect Filters down to a V1 file
    * scan; anything else (joins, expressions in projections) vetoes. */
  @tailrec
  private def unwrap(
      p: LogicalPlan,
      filters: List[Expression]): Option[(LogicalRelation, List[Expression])] =
    p match {
      case lr: LogicalRelation => Some((lr, filters))
      case f: Filter => unwrap(f.child, f.condition :: filters)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(pr.child, filters)
      case _ => None
    }

  private def defFor(lr: LogicalRelation): Option[SummaryDef] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        val roots = fs.location.rootPaths.map(r => norm(r.toString))
        SummaryRegistry.defs.find(d => roots == Seq(norm(d.factPath)))
      case _ => None
    }

  /** SUM argument shape the summary can serve: a bare attribute or a
    * direct decimal cast of one (the repo's exact-money convention). */
  private def sumKey(e: Expression): Option[(String, Option[(Int, Int)])] =
    e match {
      case a: AttributeReference => Some((a.name, None))
      case c: Cast =>
        (c.child, c.dataType) match {
          case (a: AttributeReference, dt: DecimalType) =>
            Some((a.name, Some((dt.precision, dt.scale))))
          case _ => None
        }
      case _ => None
    }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def tryRewrite(
      agg: Aggregate,
      freshFp: String => Option[Long]): Option[LogicalPlan] = {
    if (agg.groupingExpressions.isEmpty) return None
    for {
      (lr, filters) <- unwrap(agg.child, Nil)
      d <- defFor(lr)
      keySet = d.keys.toSet
      // groupings and filter references must live inside the summary keys
      _ <- Option.when(agg.groupingExpressions.forall {
        case a: AttributeReference => keySet(a.name)
        case _ => false
      })(())
      _ <- Option.when(filters.forall(_.references.forall(a => keySet(a.name))))(())
      // staleness veto: a summary built before the latest fact append
      // must NOT answer reads — fall back to the fact scan until the
      // refresh re-registers with the new fingerprint. An unreadable
      // fact listing (freshFp None) vetoes too.
      _ <- Option.when(d.factFingerprint.forall(reg =>
        freshFp(d.factPath).contains(reg)))(())
      rewritten <- rewriteOnto(agg, d, filters)
    } yield rewritten
  }

  private def rewriteOnto(
      agg: Aggregate, d: SummaryDef,
      filters: List[Expression]): Option[LogicalPlan] = {
    // Fresh analyzed scan of the summary per rewrite: reusing one plan
    // would duplicate exprIds if the same summary served twice in one
    // query (e.g. a self-join of two rewritten rollups). Only its
    // schema is cached (graft.Tables), so no inference job per rewrite.
    val summary = graft.Tables.parquet(session, d.summaryPath).queryExecution.analyzed
    val out: Map[String, Attribute] = summary.output.map(a => a.name -> a).toMap

    def keyAttr(n: String): Option[Attribute] =
      if (d.keys.contains(n)) out.get(n) else None

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      val fn: Option[AggregateExpression] = ae.aggregateFunction match {
        case c: Count if c.children.sizeIs == 1 && c.children.head.foldable =>
          out.get(d.cntCol).map(a => ae.copy(aggregateFunction = Sum(a)))
        case s: Sum =>
          sumKey(s.child).flatMap(d.sums.get).flatMap(out.get)
            .map(a => ae.copy(aggregateFunction = Sum(a)))
        case m: Min =>
          attrName(m.child).flatMap(d.mins.get).flatMap(out.get)
            .map(a => ae.copy(aggregateFunction = Min(a)))
        case m: Max =>
          attrName(m.child).flatMap(d.maxs.get).flatMap(out.get)
            .map(a => ae.copy(aggregateFunction = Max(a)))
        case _ => None
      }
      // Re-aggregating a partial can widen the type (sum of DECIMAL(28,2)
      // partials is DECIMAL(38,2)); cast back so the output schema — and
      // every parent reference — is byte-for-byte what the fact plan had.
      fn.map(n => if (n.dataType == ae.dataType) n else Cast(n, ae.dataType, None))
    }

    // Atomic recursion (not transformUp: that would rewrite the attr
    // refs INSIDE aggregate functions before the function itself is
    // seen): aggregates map as a unit, bare attrs must be keys, and any
    // failure anywhere vetoes the whole rewrite.
    def rw(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAgg(ae)
      case a: AttributeReference => keyAttr(a.name)
      case other =>
        val kids = other.children.map(rw)
        if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    def rwNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
      case a: AttributeReference =>
        keyAttr(a.name).map(s => Alias(s, a.name)(exprId = a.exprId))
      case al: Alias =>
        rw(al.child).map(c =>
          Alias(c, al.name)(exprId = al.exprId, qualifier = al.qualifier))
      case _ => None
    }

    val newGroupings = agg.groupingExpressions.map {
      case a: AttributeReference => keyAttr(a.name)
      case _ => None
    }
    val newAggExprs = agg.aggregateExpressions.map(rwNamed)
    val newFilters = filters.map(rw)
    if ((newGroupings ++ newFilters).forall(_.isDefined) && newAggExprs.forall(_.isDefined)) {
      val child = newFilters.map(_.get).foldLeft(summary)((p, c) => Filter(c, p))
      Some(agg.copy(
        groupingExpressions = newGroupings.map(_.get),
        aggregateExpressions = newAggExprs.map(_.get),
        child = child))
    } else None
  }
}
