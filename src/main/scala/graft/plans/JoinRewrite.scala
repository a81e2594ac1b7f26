package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

import graft.ops.CdcTable

/** Automatic JOIN-view substitution: the star-schema sibling of
  * [[MvRewrite]]. A query that joins a fact [[CdcTable]] to its
  * dimension(s) on the dimensions' merge keys — the exact shape a
  * registered [[graft.ops.JoinView]] maintains, single-dim or a full
  * STAR in any join order — has the whole join tree replaced by a scan
  * of the maintained denormalized view, so the fact-dim
  * shuffles/broadcasts the user wrote never execute. Anything ABOVE the
  * join (aggregates, windows, more joins) is untouched: view rows are
  * exactly the join's rows (each fact row has at most one partner per
  * dimension, by the JoinView keying contract). A query touching only a
  * SUBSET of a star's dimensions never matches — the view's inner join
  * against the remaining dimensions could have dropped rows.
  *
  * Guards, spec-pinned in `JoinRewriteSpec`:
  *   - FRESHNESS: the view table's reflected record
  *     ([[CdcTable.reflected]], the one the streaming pipeline commits
  *     with each refresh) must name every table at its CURRENT version —
  *     a stale side falls back.
  *   - SNAPSHOT IDENTITY: each join side's scanned file set must equal
  *     its table's current-version file set (time travel, pruned or
  *     deletion-vectored reads never match).
  *   - INNER only: view rows == join rows needs inner semantics here;
  *     filters found pushed below the join re-apply on the view
  *     (filter-before and filter-after an inner join commute).
  *   - NAME SAFETY: all join output columns must be distinct and
  *     present in the view (a dimension's join-key column maps to the
  *     fact's foreign key, which carries the same values).
  */
object JoinRewrite extends Rule[LogicalPlan] {

  /** One dimension of a registered star: name (as in the view's
    * reflected record), table, and the `(factCol, dimKey)` join mapping.
    */
  final case class DimReg(name: String, table: CdcTable, on: Seq[(String, String)])

  /** One VALIDATED, mutually-consistent observation: the view version
    * whose reflected record named every source table at its current
    * version, together with the file sets of exactly those versions.
    * Matching against this bundle (never against freshly re-resolved
    * state) is what makes memoization safe: a plan over NEWER snapshots
    * fails the pinned file-set identity and falls back; a plan over the
    * pinned snapshots is served the content consistent with them.
    */
  final case class Snap(viewVersion: Long, factFiles: Set[String],
                        dimFiles: Seq[Set[String]])

  final case class Reg(factName: String, fact: CdcTable,
                       dims: Seq[DimReg], view: CdcTable) {
    /** The current validated snapshot, or None when any side is stale.
      *
      * Memoized for 300 ms: every candidate inner join in every query
      * probes this, and each uncached probe is 3+ pointer-file reads
      * (measured ~8% on a join-heavy query). The whole bundle is captured
      * together, so a stale hit can only produce a conservative fallback
      * or a version-consistent match — never old view content for a new
      * table scan; the one cost is a refresh re-arming up to 300 ms late.
      */
    def snapshot(): Option[Snap] = {
      val now = System.nanoTime()
      val c = memo
      if (c != null && now - c._1 < 300L * 1000 * 1000) c._2
      else {
        val s = (for {
          fv <- fact.currentVersion
          dvs <- Some(dims.map(_.table.currentVersion)) if dvs.forall(_.isDefined)
          m <- view.reflected
          if m.sources == (factName -> fv) +: dims.zip(dvs).map { case (d, dv) => d.name -> dv.get }
        } yield Snap(m.version,
          filesAt(fact, fv),
          dims.zip(dvs).map { case (d, dv) => filesAt(d.table, dv.get) }))
        memo = (now, s)
        s
      }
    }
    @volatile private var memo: (Long, Option[Snap]) = null
    // file sets are immutable per (table, version): cache across memo
    // refreshes so a re-validation is pointer reads only
    private val fileCache = TrieMap.empty[(String, Long), Set[String]]
    private def filesAt(t: CdcTable, v: Long): Set[String] =
      fileCache.getOrElseUpdate((t.path, v), t.readVersion(v).inputFiles.toSet)
  }

  private val regs = TrieMap.empty[String, Reg]

  /** Register a maintained single-dimension join view for substitution.
    * `on` maps fact foreign-key columns to the dimension's merge keys,
    * exactly as the view was built.
    */
  def register(factName: String, fact: CdcTable, dimName: String, dim: CdcTable,
               on: Seq[(String, String)], view: CdcTable): Unit =
    registerStar(factName, fact, Seq(DimReg(dimName, dim, on)), view)

  /** Register a maintained STAR view (fact joined to several dimensions,
    * as [[graft.ops.JoinView.computeStar]]/`refreshStar` maintain it).
    * A query joining the fact to ALL dimensions — in any join order —
    * is served from the view.
    */
  def registerStar(factName: String, fact: CdcTable, dims: Seq[DimReg],
                   view: CdcTable): Unit =
    regs.put(view.path, Reg(factName, fact, dims, view)): Unit

  def unregister(view: CdcTable): Unit = regs.remove(view.path): Unit
  def clear(): Unit = regs.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (regs.isEmpty) plan
    else plan.transformDown {
      // outermost join first: a full star matches at its top join; an
      // unmatched outer join still lets an inner fact-dim pair match on
      // the way down
      case j @ Join(_, _, Inner, Some(_), _) =>
        rewrite(j).getOrElse(j)
    }

  /** Strip column-pruning Projects and collect Filters down to a bare
    * relation (filters below an inner join re-apply on the view).
    */
  private def unwrap(p: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, Nil))
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(child)
    case Filter(cond, child) if cond.deterministic =>
      unwrap(child).map { case (lr, fs) => (lr, cond +: fs) }
    case _ => None
  }

  private def relFiles(lr: LogicalRelation): Set[String] = lr.relation match {
    case h: HadoopFsRelation => h.location.inputFiles.toSet
    case _ => Set.empty
  }

  /** Flatten the join condition into attribute equality pairs; any
    * non-equi conjunct disqualifies.
    */
  private def eqPairs(cond: Expression): Option[Seq[(AttributeReference, AttributeReference)]] =
    cond match {
      case And(l, r) => for { a <- eqPairs(l); b <- eqPairs(r) } yield a ++ b
      case EqualTo(a: AttributeReference, b: AttributeReference) => Some(Seq((a, b)))
      case _ => None
    }

  /** Flatten a tree of INNER joins into its leaf relations (each with
    * its collected filters) plus every join condition found; any
    * non-inner join or non-relation leaf disqualifies the whole tree.
    */
  private def flatten(p: LogicalPlan):
      Option[(Seq[(LogicalRelation, Seq[Expression])], Seq[Expression])] = p match {
    case Join(l, r, Inner, cond, _) =>
      for { lf <- flatten(l); rf <- flatten(r) }
        yield (lf._1 ++ rf._1, lf._2 ++ rf._2 ++ cond.toSeq)
    // column-pruning Projects appear BETWEEN the joins of a star too
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      flatten(child)
    case other => unwrap(other).map { case (rel, fs) => (Seq((rel, fs)), Nil) }
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val (rels, conds) = flatten(j).getOrElse(return None)
    val pairs = conds.flatMap(c => eqPairs(c).getOrElse(return None))
    val fileSets = rels.map { case (rel, _) => relFiles(rel) }
    if (fileSets.exists(_.isEmpty) || fileSets.distinct.size != fileSets.size) return None

    regs.values.iterator.flatMap { r =>
      val snap = if (rels.size == 1 + r.dims.size) r.snapshot() else None
      if (snap.isEmpty) None
      else {
        // assign each scanned relation to the fact or exactly one dim by
        // file-set identity AGAINST THE VALIDATED SNAPSHOT (never
        // re-resolved state — see [[Snap]])
        val byFiles = rels.zip(fileSets)
        val factRel = byFiles.collectFirst {
          case ((rel, _), fs) if fs == snap.get.factFiles => rel
        }
        val dimRels = r.dims.zip(snap.get.dimFiles).map { case (d, df) =>
          d -> byFiles.collectFirst { case ((rel, _), fs) if fs == df => rel }
        }
        if (factRel.isEmpty || dimRels.exists(_._2.isEmpty)) None
        else {
          val factOut = factRel.get.outputSet
          // every equality pair must be one registered (fk, key) mapping
          // between the fact and ONE dimension; per-dim sets must match
          // that dim's mapping exactly (no dim-dim or partial-key joins)
          val perDim = dimRels.map { case (d, rel) =>
            val dimOut = rel.get.outputSet
            val mapped = pairs.flatMap {
              case (a, b) if factOut.contains(a) && dimOut.contains(b) =>
                Seq((a.name.toLowerCase, b.name.toLowerCase))
              case (a, b) if factOut.contains(b) && dimOut.contains(a) =>
                Seq((b.name.toLowerCase, a.name.toLowerCase))
              case _ => Nil
            }.toSet
            mapped == d.on.map { case (f, k) => (f.toLowerCase, k.toLowerCase) }.toSet
          }
          // no pair may fall outside the fact-dim mappings
          val covered = pairs.forall { case (a, b) =>
            val sides = Seq(a, b)
            sides.exists(factOut.contains) && dimRels.exists { case (_, rel) =>
              sides.exists(rel.get.outputSet.contains)
            }
          }
          if (perDim.forall(identity) && covered)
            buildSwap(r, snap.get.viewVersion, j, rels.flatMap(_._2))
          else None
        }
      }
    }.nextOption()
  }

  private def buildSwap(r: Reg, pinnedViewVersion: Long, j: Join,
                        filters: Seq[Expression]): Option[LogicalPlan] = {
    val out = j.output
    if (out.map(_.name.toLowerCase).distinct.size != out.size) return None
    // dimension join-key columns are dropped from the view — they carry
    // the fact's foreign-key values, so map them back to the fk column
    val keyToFk = r.dims.flatMap(_.on).map { case (f, k) => k.toLowerCase -> f }.toMap
    val viewDf = r.view.readVersion(pinnedViewVersion)
    val viewCols = viewDf.columns.map(c => c.toLowerCase -> c).toMap
    def viewName(n: String): Option[String] =
      viewCols.get(n.toLowerCase)
        .orElse(keyToFk.get(n.toLowerCase).flatMap(f => viewCols.get(f.toLowerCase)))
    val sources = out.map(a => viewName(a.name))
    if (sources.exists(_.isEmpty)) return None

    // expose the view under the ORIGINAL column names (dim keys aliased
    // from the fk), re-apply the collected filters, then pin the
    // original attribute ids
    var vdf = viewDf.select(out.zip(sources.flatten).map {
      case (a, src) => col(src).as(a.name)
    }: _*)
    filters.foreach(f => vdf = vdf.filter(f.sql))
    val inner = vdf.queryExecution.analyzed
    if (inner.output.size != out.size) return None
    if (inner.output.zip(out).exists { case (na, a) => na.dataType != a.dataType }) return None
    Some(Project(inner.output.zip(out).map { case (na, a) =>
      Alias(na, a.name)(exprId = a.exprId)
    }, inner))
  }
}
