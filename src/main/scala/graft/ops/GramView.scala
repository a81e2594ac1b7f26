package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained EXACT Gram/scatter matrix over a vector
  * column — the PCA/whitening front half kept current from the change
  * feed instead of recomputed corpus-wide per refresh. Embeddings
  * quantize to micro-units once (the x_gram_matrix rule, identical to
  * the cross-engine oracle), so the matrix is a SUM of per-row integer
  * outer products — and sums, unlike HLL registers, subtract exactly:
  *
  *   - inserts/post-images ADD their outer products,
  *   - deletes/pre-images SUBTRACT theirs,
  *
  * so EVERY refresh is delta-bounded — there is no dirty-group
  * recompute path at all, the one structural advantage an additive
  * statistic has over the sketch views. An update contributes its
  * pre-image at -1 and its post-image at +1 in the same window; a
  * row deleted and re-inserted cancels exactly.
  *
  * The view table is d(d+1)/2 rows (the upper triangle) whatever the
  * corpus size and commits one version of its own [[CdcTable]] per
  * refresh (atomic pointer, time travel). Because the delta is a SIGNED
  * SUM — additive, not idempotent like [[SketchView]]'s register
  * max-merge — the reflected source version must move atomically WITH
  * the matrix: it rides the refresh commit ([[CdcTable.reflecting]]),
  * visible exactly iff the commit is, so a crash replay can only re-run
  * a window whose delta was never published. An empty window commits
  * nothing and fast-forwards the record instead (nothing applied →
  * nothing a replay could double-apply → no view version burned).
  *
  * At 100 TB: the delta pass is one scan of the CDF window (never the
  * table), each task pre-aggregates to ≤ d(d+1)/2 cells, and the merge
  * joins two d²-bounded tables.
  */
final class GramView(
    spark: SparkSession,
    source: CdcTable,
    val path: String,
    vecCol: String,
    io: TableIO = LocalTableIO) {

  import GramView._

  /** The persisted view: `(i, j, s)` for i ≤ j, s exact int64. */
  val table = new CdcTable(spark, path, Seq("i", "j"), io = io)

  /** Source version the persisted matrix reflects, if any. */
  def reflectedVersion: Option[Long] = table.reflected.flatMap(_.of(source.path))

  /** Bring the matrix current with the source's head
    * ([[CdcTable.refreshView]]): bootstrap on first call, CDF-windowed
    * signed delta afterwards; a no-op when already current. An expired
    * window (the reflected version fell out of the source's retained
    * history) recomputes the matrix from the snapshot, logged.
    */
  def refresh(): Unit =
    table.refreshView(Seq(source.path -> source)) { case Seq((from, to)) =>
      applyWindow(from, to)
    }(to => table.init(gramOf(source.readVersion(to.head), vecCol)))

  private def applyWindow(from: Long, to: Long): Unit = {
    val feed = source.changesBetween(from, to)
      .select(col(vecCol).as("__vec"),
        when(col(CdcTable.ChangeTypeCol).isin("insert", "update_postimage"), 1L)
          .otherwise(-1L).as("__sign"))
    // empty window: nothing to apply, so no view version is burned
    if (feed.isEmpty) return
    val delta = signedGramOf(feed, "__vec", "__sign")
    val merged = table.read.select("i", "j", "s").alias("a")
      .join(delta.alias("d"), Seq("i", "j"), "full_outer")
      .select(col("i"), col("j"),
        (coalesce(col("a.s"), lit(0L)) + coalesce(col("d.s"), lit(0L))).as("s"))
    table.init(merged)
  }
}

object GramView {

  /** Upper-triangle Gram matrix of `df`'s vectors — the one-shot form,
    * identical cell-for-cell to the `x_gram_matrix` oracle rule.
    */
  def gramOf(df: DataFrame, vecCol: String): DataFrame =
    signedGramOf(df.select(col(vecCol).as("__vec")).withColumn("__sign", lit(1L)),
      "__vec", "__sign")

  /** Signed upper-triangle outer-product sum: each row contributes
    * `sign · q_i · q_j` (micro-quantized). Two generators, one hash
    * aggregate — every task emits ≤ d(d+1)/2 partials.
    */
  def signedGramOf(df: DataFrame, vecCol: String, signCol: String): DataFrame =
    df.select(col(signCol).as("__sign"), expr(
        s"transform($vecCol, e -> CAST(FLOOR(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT))")
        .as("__qv"))
      .select(col("__sign"), col("__qv"),
        posexplode(col("__qv")).as(Seq("i", "qi")))
      .select(col("__sign"), col("i"), col("qi"),
        posexplode(col("__qv")).as(Seq("j", "qj")))
      .filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("__sign") * col("qi") * col("qj")).as("s"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("s").cast("long").as("s"))
}
