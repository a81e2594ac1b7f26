package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-based deduplication operators.
  *
  * `latestWins` is the engine's flagship compaction step: the reference
  * compacts each micro-batch to one final state per row key before merging
  * (pandas-on-Spark sort + drop_duplicates keep='last',
  * incremental_kafka_s3_cdc.py:321-325). We re-express it as a max_by
  * aggregation — one hash-partition shuffle on the keys with a map-side
  * partial reduce, no driver round-trips, no per-key task concentration.
  *
  * The reference's tie-break on equal `__ts_ms` was nondeterministic
  * (physical row order); we impose a total order with explicit tie-breaker
  * columns (SURVEY.md §7 risk d).
  */
object Dedup {

  /** Keep the single latest row per key: largest `(ts, tieBreakers…)`
    * wins (struct comparison is lexicographic, nulls smallest — the same
    * order as the previous window's `desc` with NULLS LAST).
    *
    * Implemented as `max_by(struct(payload), struct(ts, tieBreakers))`,
    * a declarative aggregate with PARTIAL support: each map partition
    * reduces every key it holds to one row before the shuffle, so a hot
    * key's update pile (one entity receiving most of a CDC batch — the
    * production skew shape) collapses map-side instead of crossing the
    * wire and landing on a single reducer. The previous window
    * row_number form shuffles every row and gives the whole hot group
    * to one task; it is kept as [[latestWinsWindow]], the reference
    * form this one is checked against.
    */
  def latestWins(df: DataFrame, keys: Seq[String], ts: String,
                 tieBreakers: Seq[String] = Nil): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    if (others.isEmpty) return df.distinct()
    val ord = struct((ts +: tieBreakers).map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), ord).as("__latest"))
      .select(df.columns.toSeq.map { c =>
        if (keys.contains(c)) col(c) else col("__latest").getField(c).as(c)
      }: _*)
  }

  /** The pre-r16 window form of [[latestWins]] (one shuffle, whole key
    * group in one task) — result-identical under a total order; retained
    * as the reference `CdcMergeSpec` checks the aggregate form against
    * (skew timings of both forms: BASELINE.md "r16 skewed WRITE path").
    */
  private[graft] def latestWinsWindow(df: DataFrame, keys: Seq[String], ts: String,
                                      tieBreakers: Seq[String] = Nil): DataFrame = {
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy((col(ts).desc +: tieBreakers.map(col(_).desc)): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicate removal by content hash: one row kept per distinct
    * `hashCols` tuple, the one with the smallest `keep` value (stable).
    * groupBy+min_by is map-side combinable — at 100 TB this is a partial
    * aggregation before the shuffle, unlike a window over all rows.
    */
  def exactByKey(df: DataFrame, keys: Seq[String], keep: String): DataFrame = {
    val others = df.columns.filterNot(c => keys.contains(c) || c == keep)
    df.groupBy(keys.map(col): _*)
      .agg(
        min(col(keep)).as(keep),
        others.map(c => min_by(col(c), col(keep)).as(c)): _*
      )
  }
}
