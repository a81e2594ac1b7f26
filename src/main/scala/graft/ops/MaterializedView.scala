package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A PERSISTED, streaming-maintained materialized view of one
  * [[CdcTable]]: the [[IncrementalView]] count/sum/avg/min/max aggregate
  * kept current by the table's own change data feed. This is the
  * end-to-end face of incremental view maintenance: the CDC pipeline
  * calls [[refresh]] after each micro-batch merge, so the flow is
  * merge -> changesBetween -> signed-delta refresh, with no table
  * re-scan after bootstrap (refresh cost scales with the delta plus the
  * group cardinality — at 100 TB the difference between re-aggregating
  * the table per micro-batch and touching only what changed).
  *
  * Layout: the aggregate is its own [[CdcTable]] at `path`, keyed by
  * `groupCols`, one version per refresh. The source version it reflects
  * rides that version's commit ([[CdcTable.reflecting]]), so data and
  * freshness record commit atomically: a crash mid-refresh leaves both at
  * the previous refresh, and the retried refresh reclaims the crashed
  * one's reservation and re-derives the same target from there — never
  * re-APPLIES a delta to an already-refreshed aggregate. A view persisted
  * before the record existed reads as never refreshed and recomputes once.
  */
final class MaterializedView(
    spark: SparkSession,
    val table: CdcTable,
    val path: String,
    val groupCols: Seq[String],
    val sumCols: Seq[String],
    val extCols: Seq[String] = Nil,
    retainVersions: Int = 3) {

  /** The persisted aggregate, one version per refresh. */
  val viewTable = new CdcTable(spark, path, groupCols, retainVersions = retainVersions)

  /** Source-table version the view currently reflects, if bootstrapped. */
  def reflectedVersion: Option[Long] = viewTable.reflected.flatMap(_.of(table.path))

  /** Current view content: one row per group with `n_rows` and the sums. */
  def read: DataFrame =
    if (viewTable.currentVersion.isEmpty)
      throw new java.io.FileNotFoundException(s"no materialized view at $path — refresh() first")
    else viewTable.read

  /** Bring the view to the table's CURRENT version
    * ([[CdcTable.refreshView]]): full compute on bootstrap, CDF
    * signed-delta afterwards (provably equal to the recompute —
    * IncrementalViewSpec). Recomputes instead when the reflected base
    * version has expired from the table's retained history (the view
    * lagged more than the table's `retainVersions` commits), for keyless
    * tables (no row identity to diff) and for a view persisted under
    * other columns. Idempotent — safe to call after every micro-batch.
    */
  def refresh(): Unit =
    viewTable.refreshView(Seq(table.path -> table)) { case Seq((from, to)) =>
      // a view persisted under other sum/extrema columns lacks columns the
      // current IncrementalView maintains (e.g. __nn_/avg_/min_/max_); the
      // incremental plan would then fail on every refresh, so detect the
      // schema gap up front and recompute once — the rewrite migrates it.
      // The dirty-group recompute scans the target through the
      // stats-pruned version-pinned face.
      if (table.keys.isEmpty || !hasCurrentSchema) recompute(to)
      else viewTable.init(IncrementalView.refresh(read, table.changesBetween(from, to),
        groupCols, sumCols, extCols,
        (preds: Seq[FileSkipping.Pred]) => table.readWhereAt(to, preds)))
    }(to => recompute(to.head))

  // readVersion(target), NOT table.read: read re-resolves the current
  // pointer at action time, so a concurrent commit past `target` would
  // mix a NEWER snapshot into a view recorded as `target` — the next
  // refresh would then re-apply that delta on top (double count)
  private def recompute(target: Long): Unit =
    viewTable.init(IncrementalView.compute(table.readVersion(target), groupCols, sumCols, extCols))

  // the columns the CURRENT IncrementalView.compute emits; a persisted
  // view missing any of them was built for other columns and must
  // bootstrap again
  private def hasCurrentSchema: Boolean = {
    val have = read.columns.toSet
    val want = Seq(IncrementalView.CountCol) ++ sumCols ++
      sumCols.flatMap(c => Seq(s"__nn_$c", s"avg_$c")) ++
      extCols.flatMap(e => Seq(s"min_$e", s"max_$e"))
    want.forall(have)
  }
}
