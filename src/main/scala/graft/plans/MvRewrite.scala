package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.DataFrame

import graft.ops.{IncrementalView, MaterializedView}

/** Automatic materialized-view query rewrite: an optimizer rule that
  * substitutes an aggregate over a [[graft.ops.CdcTable]] scan with a
  * re-aggregation of the table's registered [[MaterializedView]] — the
  * classic OLAP accelerator that turns a 100 TB dashboard query into a
  * scan of a group-cardinality-sized aggregate, with NO query change.
  *
  * What rewrites: `Aggregate` whose grouping keys are a SUBSET of the
  * view's group columns (subset rollups re-aggregate the view), whose
  * aggregates are `count(*)` / `count(c)` / `sum(c)` / `avg(c)` (sum
  * columns) / `min(e)` / `max(e)` (extrema columns), over a scan of the
  * table's CURRENT snapshot, optionally through a `Filter` that touches
  * only group columns (applied to the view instead) and column-pruning
  * `Project`s.
  *
  * Exactness guards (each divergence is spec-pinned in `MvRewriteSpec`):
  *   - FRESHNESS: rewrite fires only when the view reflects the table's
  *     current version — a stale view or an unrefreshed merge falls back
  *     to the base scan, never serves old data.
  *   - SNAPSHOT IDENTITY: the scanned file set must equal the current
  *     version's file set, so a time-travel read (`readVersion`), a
  *     stats-pruned `readWhere` scan, or a deletion-vectored read (whose
  *     plan is an anti-join, not a bare relation) never matches.
  *   - NULL SEMANTICS: the view stores `coalesce(sum, 0)` per group;
  *     the rewrite re-derives SQL null semantics from the non-null
  *     counts (`sum(c)` is NULL iff no non-null value exists;
  *     `count(*)` on an empty rollup is 0, not NULL).
  *   - TYPES: the rewritten column is cast back to the original
  *     aggregate's type where re-aggregation widens (decimal sums);
  *     decimal `avg` does NOT rewrite (Spark's decimal Average carries
  *     engine-specific scale arithmetic the double division would
  *     approximate).
  *   - DISTINCT / FILTER-clause aggregates never rewrite.
  *
  * Scale design: matching is driver-side metadata only (a path-prefix
  * check plus one cached file listing per table version); the rewritten
  * plan re-enters the same optimizer batch, so filter pushdown and
  * column pruning apply to the VIEW scan too.
  */
object MvRewrite extends Rule[LogicalPlan] {

  private final case class Reg(view: MaterializedView) {
    // file set of the table's current version, cached per version —
    // resolving it lists the manifest, not the filesystem tree
    @volatile private var cached: (Option[Long], Set[String]) = (None, Set.empty)
    def currentFiles(): Set[String] = {
      val v = view.table.currentVersion
      val c = cached
      if (c._1 == v) c._2
      else {
        val files = view.table.read.inputFiles.toSet
        cached = (v, files)
        files
      }
    }
    /** The view version whose reflected record names the table's
      * current version — returned so the caller can PIN its read to
      * exactly the refresh it validated (a concurrent refresh's commit
      * between this check and the read must not swap in newer content).
      */
    def freshVersion: Option[Long] =
      view.viewTable.reflected
        .filter(r => r.of(view.table.path).exists(view.table.currentVersion.contains))
        .map(_.version)
  }

  private val regs = TrieMap.empty[String, Reg]

  /** Register `view` for automatic substitution of queries over its
    * table. Keyed by the VIEW's path: a table may carry several views
    * with different group sets, and a query is served by whichever
    * fresh view can answer it (its groups a superset of the query's).
    */
  def register(view: MaterializedView): Unit =
    regs.put(view.path, Reg(view)): Unit

  def unregister(view: MaterializedView): Unit = regs.remove(view.path): Unit
  def clear(): Unit = regs.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (regs.isEmpty) plan
    else plan.transformDown {
      case agg @ Aggregate(groups, aggExprs, child, _) =>
        rewrite(groups, aggExprs, child).getOrElse(agg)
    }

  // ---- matching ----------------------------------------------------

  /** Strip column-pruning Projects / group-column Filters down to the
    * base relation; returns (relation, filters kept for the view side).
    */
  private def unwrap(p: LogicalPlan, groupCols: Set[String]):
      Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, Nil))
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(child, groupCols)
    case Filter(cond, child)
        if cond.deterministic &&
          cond.references.forall(a => groupCols.contains(a.name.toLowerCase)) =>
      unwrap(child, groupCols).map { case (lr, fs) => (lr, cond +: fs) }
    case _ => None
  }

  private def rewrite(groups: Seq[Expression], aggExprs: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    // every grouping key must be a plain column of the view's group set
    val groupAttrs = groups.collect { case a: AttributeReference => a }
    if (groupAttrs.size != groups.size) return None

    // try every registered view until one can serve the query; the
    // structural match (pure in-memory tree walk) runs first — the
    // freshness and file-set checks touch the table's pointer/manifest,
    // so they run only for plans that already look like a candidate
    regs.values.iterator.flatMap { r =>
      val lowerGroups = r.view.groupCols.map(_.toLowerCase).toSet
      if (!groupAttrs.forall(a => lowerGroups.contains(a.name.toLowerCase))) None
      else unwrap(child, lowerGroups).flatMap {
        case (lr, filters) => lr.relation match {
          case h: HadoopFsRelation =>
            r.freshVersion.filter { _ =>
              val files = h.location.inputFiles.toSet
              files.nonEmpty && files == r.currentFiles()
            }.flatMap(pv => buildView(r.view, pv, groupAttrs, aggExprs, filters))
          case _ => None
        }
      }
    }.nextOption()
  }

  // ---- construction ------------------------------------------------

  /** Build the substituted plan with the DataFrame API over `view.read`,
    * then graft it under the original output attribute ids.
    */
  private def buildView(v: MaterializedView, pinnedVersion: Long,
                        groupAttrs: Seq[AttributeReference],
                        aggExprs: Seq[NamedExpression],
                        filters: Seq[Expression]): Option[LogicalPlan] = {
    val sumSet = v.sumCols.map(_.toLowerCase).toSet
    val extSet = v.extCols.map(_.toLowerCase).toSet
    val groupNames = groupAttrs.map(_.name)

    // one temp output column per original aggregate expression, in order
    val cols = aggExprs.zipWithIndex.map { case (ne, i) =>
      val out = s"__mv_$i"
      ne match {
        case a: AttributeReference if groupNames.exists(_.equalsIgnoreCase(a.name)) =>
          Some(col(a.name).as(out))
        case Alias(ae: AggregateExpression, _)
            if !ae.isDistinct && ae.filter.isEmpty =>
          val rewritten = ae.aggregateFunction match {
            case c: Count if c.children == Seq(Literal(1)) =>
              Some(coalesce(sum(col(IncrementalView.CountCol)), lit(0L)))
            case c: Count => c.children match {
              case Seq(a: AttributeReference) if sumSet.contains(a.name.toLowerCase) =>
                Some(coalesce(sum(col(s"__nn_${a.name}")), lit(0L)))
              case _ => None
            }
            case s: Sum => s.child match {
              case a: AttributeReference if sumSet.contains(a.name.toLowerCase) =>
                // NULL iff zero non-null inputs (the view zero-fills)
                Some(when(coalesce(sum(col(s"__nn_${a.name}")), lit(0L)) === 0L, lit(null))
                  .otherwise(sum(col(a.name))))
              case _ => None
            }
            case av: Average if av.dataType == DoubleType => av.child match {
              case a: AttributeReference if sumSet.contains(a.name.toLowerCase) =>
                // NULL on zero non-null inputs, like Average — and the
                // divide must sit in the conditional branch (ANSI mode
                // would otherwise throw DIVIDE_BY_ZERO)
                Some(when(coalesce(sum(col(s"__nn_${a.name}")), lit(0L)) === 0L, lit(null))
                  .otherwise(sum(col(a.name)).cast(DoubleType) /
                    sum(col(s"__nn_${a.name}")).cast(DoubleType)))
              case _ => None
            }
            case m: Min => m.child match {
              case a: AttributeReference if extSet.contains(a.name.toLowerCase) =>
                Some(org.apache.spark.sql.functions.min(col(s"min_${a.name}")))
              case _ => None
            }
            case m: Max => m.child match {
              case a: AttributeReference if extSet.contains(a.name.toLowerCase) =>
                Some(org.apache.spark.sql.functions.max(col(s"max_${a.name}")))
              case _ => None
            }
            case _ => None
          }
          // cast back to the original aggregate's type (no-op when equal,
          // folds away in SimplifyCasts; real work for widened decimal
          // re-sums)
          rewritten.map(_.cast(ne.dataType).as(out))
        case _ => None
      }
    }
    if (cols.exists(_.isEmpty)) return None
    val outCols = cols.flatten

    var vdf: DataFrame = v.viewTable.readVersion(pinnedVersion)
    filters.foreach(f => vdf = vdf.filter(f.sql))
    val aggCols = aggExprs.zip(outCols).collect {
      case (ne, c) if !ne.isInstanceOf[AttributeReference] => c
    }
    val grouped =
      if (aggCols.isEmpty)
        // not .distinct(): that analyzes to a Deduplicate node, and the
        // optimizer batch that lowers Deduplicate to Aggregate has
        // already run by the time this rule fires — emit the Aggregate
        // form directly
        vdf.groupBy(groupNames.map(col): _*)
          .agg(org.apache.spark.sql.functions.max(lit(1)).as("__mv_d"))
          .select(groupNames.map(col): _*)
      else vdf.groupBy(groupNames.map(col): _*).agg(aggCols.head, aggCols.tail: _*)

    // re-order to the original output order; group keys select by name
    val ordered = grouped.select(aggExprs.zipWithIndex.map { case (ne, i) =>
      ne match {
        case a: AttributeReference => col(a.name)
        case _ => col(s"__mv_$i")
      }
    }: _*)
    val inner = ordered.queryExecution.analyzed
    if (inner.output.size != aggExprs.size) return None
    if (inner.output.zip(aggExprs).exists { case (na, ne) => na.dataType != ne.dataType })
      return None
    Some(Project(inner.output.zip(aggExprs).map { case (na, ne) =>
      Alias(na, ne.name)(exprId = ne.exprId)
    }, inner))
  }
}
