package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained DISTINCT-COUNT view: per `groupCols` group,
  * the 256 HyperLogLog registers over `hashExpr` of the source table's
  * CURRENT rows, kept current from the change feed — the "distinct
  * users per segment, live" artifact a pipeline otherwise recomputes
  * with a full `COUNT(DISTINCT)` scan per refresh.
  *
  * Register rule is IDENTICAL to [[graft.functions.HllAggregator]] (and
  * the `x_hll_distinct` DuckDB oracle): bucket = hash & 255,
  * rho = 53 − bitlength(hash >> 8), 53 for a zero remainder — so a
  * maintained view, a one-shot sketch, and the cross-engine oracle all
  * agree register-for-register.
  *
  * Refresh consumes ONE window of the source's CDF:
  *
  *   - groups whose window holds only inserts/post-images merge the
  *     delta's registers into the stored ones (`zip_with(_, _,
  *     greatest)`) — registers form a max-monoid, so the append-mostly
  *     steady state never reads the source table at all;
  *   - groups with any delete/pre-image are DIRTY (HLL is not
  *     subtractable — the removed row may have carried a register's
  *     max) and recompute from the target version through the
  *     stats-pruned `readWhereAt` scan, capped-`InSet` pruning exactly
  *     like [[IncrementalView]]'s min/max discipline;
  *   - untouched groups stream through from the stored view unchanged.
  *
  * All register math is built-in higher-order functions over
  * `ARRAY<INT>` (`transform` / `zip_with` / `aggregate`) — codegen'd,
  * no UDF. The view table is group-cardinality-sized (never
  * corpus-sized) and commits as one new version of its own [[CdcTable]]
  * per refresh (atomic pointer, time travel), with the reflected source
  * version riding that commit ([[CdcTable.reflecting]]): a crashed
  * refresh leaves registers and record both at the previous refresh.
  */
final class SketchView(
    spark: SparkSession,
    source: CdcTable,
    val path: String,
    groupCols: Seq[String],
    /** SQL expression over source columns yielding the 60-bit non-negative
      * hash to sketch (use [[graft.TextQueries.h64]] of the identity string).
      */
    hashExpr: String,
    io: TableIO = LocalTableIO) {

  import SketchView._

  /** The persisted view: `groupCols ++ (hll_regs, hll_sum, hll_zeros)`. */
  val table = new CdcTable(spark, path, groupCols, io = io)

  /** Source version the persisted view reflects, if any. */
  def reflectedVersion: Option[Long] = table.reflected.flatMap(_.of(source.path))

  /** Bring the view current with the source's head
    * ([[CdcTable.refreshView]]): bootstrap on first call, CDF-windowed
    * refresh afterwards; a no-op when already current. An expired window
    * (the reflected version fell out of the source's retained history)
    * re-sketches the snapshot, logged.
    */
  def refresh(): Unit =
    table.refreshView(Seq(source.path -> source)) { case Seq((from, to)) =>
      applyWindow(from, to)
    }(to => table.init(summarized(regsOf(source.readVersion(to.head), groupCols, hashExpr))))

  private def applyWindow(from: Long, to: Long): Unit = {
    val feed = source.changesBetween(from, to)
      .select((groupCols.map(col) :+ expr(s"($hashExpr)").as("__h") :+
        col(CdcTable.ChangeTypeCol)): _*)
      .localCheckpoint() // delta-sized; consumed by 2-3 branches below
    val posts = feed.filter(col(CdcTable.ChangeTypeCol)
      .isin("insert", "update_postimage"))
    val pres = feed.filter(col(CdcTable.ChangeTypeCol)
      .isin("delete", "update_preimage"))
    val dirtyKeys = pres.select(groupCols.map(col): _*).distinct().localCheckpoint()
    val keyRows = dirtyKeys.limit(IncrementalView.MaxPruneKeys + 1).collect()
    if (posts.isEmpty && keyRows.isEmpty) return // empty window: no version burned

    val nullSafe = (a: String, b: String) =>
      groupCols.map(k => col(s"$a.$k") <=> col(s"$b.$k")).reduce(_ && _)
    val zeroRegs = expr(s"transform(sequence(0, ${M - 1}), b -> 0)")

    // clean side: stored ∪ insert-only delta, registers max-merged
    val cleanPosts =
      if (keyRows.isEmpty) posts
      else posts.alias("p").join(dirtyKeys.alias("k"), nullSafe("p", "k"), "left_anti")
    val deltaRegs = regsOf(cleanPosts, groupCols, "__h")
    val stored0 = table.read.select((groupCols :+ RegsCol).map(col): _*)
    val stored =
      if (keyRows.isEmpty) stored0
      else stored0.alias("s").join(dirtyKeys.alias("k"), nullSafe("s", "k"), "left_anti")
    val merged = stored.alias("s").join(deltaRegs.alias("d"), nullSafe("s", "d"), "full_outer")
      .select(groupCols.map(k => coalesce(col(s"s.$k"), col(s"d.$k")).as(k)) :+
        zip_with(coalesce(col(s"s.$RegsCol"), zeroRegs),
          coalesce(col(s"d.$RegsCol"), zeroRegs),
          (x, y) => greatest(x, y)).as(RegsCol): _*)

    // dirty side: recompute exactly those groups from the target version,
    // file-skipped by their own key values (a dead group yields no row)
    val result =
      if (keyRows.isEmpty) merged
      else {
        val preds =
          if (keyRows.length <= IncrementalView.MaxPruneKeys)
            IncrementalView.groupKeyPreds(groupCols, keyRows)
          else Nil
        val scoped = source.readWhereAt(to, preds).alias("t")
          .join(dirtyKeys.alias("k"), nullSafe("t", "k"), "left_semi")
        merged.unionByName(regsOf(scoped, groupCols, hashExpr))
      }
    table.init(summarized(result))
  }
}

object SketchView {
  /** Register count / zero-remainder rank — must match [[graft.functions.HllAggregator]]. */
  val M = 256
  val MaxRho = 53

  val RegsCol = "hll_regs"
  val SumCol = "hll_sum"
  val ZerosCol = "hll_zeros"

  /** Per-group HLL register arrays of `df`'s rows — the pure-SQL face of
    * the register rule (two combine-friendly groupBys: (group, bucket)
    * max-rho, then ≤256 entries fold to the array).
    */
  def regsOf(df: DataFrame, groupCols: Seq[String], hashExpr: String): DataFrame = {
    val perBucket = df
      .select(groupCols.map(col) :+
        expr(s"($hashExpr) & ${(1L << 60) - 1}").as("__h"): _*)
      .withColumn("__bucket", expr(s"CAST(__h % $M AS INT)"))
      .withColumn("__rho", expr(
        s"CAST(CASE WHEN __h div $M = 0 THEN $MaxRho ELSE $MaxRho - length(bin(__h div $M)) END AS INT)"))
      .groupBy((groupCols :+ "__bucket").map(col): _*)
      .agg(max(col("__rho")).as("__rho"))
    perBucket
      .groupBy(groupCols.map(col): _*)
      .agg(map_from_entries(collect_list(struct(col("__bucket"), col("__rho")))).as("__m"))
      .withColumn(RegsCol,
        expr(s"transform(sequence(0, ${M - 1}), b -> coalesce(element_at(__m, b), 0))"))
      .drop("__m")
  }

  /** Attach the exact-integer summary columns ([[SumCol]], [[ZerosCol]])
    * a consumer needs for the estimate
    * ([[graft.functions.HllAggregator.estimateSql]]).
    */
  def summarized(regs: DataFrame): DataFrame = regs
    .withColumn(SumCol, expr(
      s"aggregate($RegsCol, CAST(0 AS BIGINT), (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), $MaxRho - r))"))
    .withColumn(ZerosCol, expr(
      s"CAST(aggregate($RegsCol, 0, (acc, r) -> acc + CASE WHEN r = 0 THEN 1 ELSE 0 END) AS INT)"))
}
