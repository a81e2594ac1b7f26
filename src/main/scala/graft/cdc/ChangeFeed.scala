package graft.cdc

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CdcTable

/** A durable cursor over a [[CdcTable]]'s change feed for DOWNSTREAM
  * consumers — the subscription face of [[CdcTable.changesBetween]]
  * (Delta `readChangeFeed` + `startingVersion` shape, on the engine's
  * own versioned layout). The maintained views record the source
  * versions they reflect in their own commits ([[CdcTable.reflecting]]);
  * this cursor serves consumers whose sink is not a [[CdcTable]]: search
  * indexers, replication targets, audit sinks, feature stores.
  *
  * Delivery contract: `poll(f)` hands `f` the tagged change feed
  * between the cursor and the table's current version and advances the
  * cursor ONLY after `f` returns — a crash mid-`f` redelivers the same
  * window on the next poll (at-least-once; with an idempotent or
  * transactional sink that is exactly-once end to end). Each window's
  * cost is one keyed diff of two retained versions — the consumer never
  * re-reads the table after bootstrap.
  *
  * A consumer that lags beyond the table's `retainVersions` window
  * finds its base version expired: [[poll]] then throws
  * [[CdcTable.ExpiredVersionException]] rather than silently
  * re-bootstrapping (the sink may hold state derived from the lost
  * windows — only the consumer knows whether a [[reset]] + full reload
  * is safe).
  */
final class ChangeFeed(
    spark: SparkSession,
    table: CdcTable,
    cursorPath: String,
    /** true: the first poll delivers the current snapshot as `insert`
      * rows (a new consumer fully hydrates through the same code path
      * it consumes increments with); false: the first poll just pins
      * the cursor at the current version and delivers nothing (a
      * consumer that only cares about changes from now on).
      */
    bootstrapAsInserts: Boolean = true) {

  private def cursorFile = new File(cursorPath, ChangeFeed.CursorName)

  /** The last table version this consumer has fully processed. */
  def position: Option[Long] =
    if (!cursorFile.exists()) None
    else Some(java.nio.file.Files.readString(cursorFile.toPath).trim.stripPrefix("v").toLong)

  private def advance(v: Long): Unit = {
    new File(cursorPath).mkdirs()
    val tmp = new File(cursorPath, ChangeFeed.CursorName + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, f"v$v%d")
    java.nio.file.Files.move(tmp.toPath, cursorFile.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Drop the cursor — the next [[poll]] re-bootstraps. The consumer's
    * own derived state must be cleared alongside; that is the caller's
    * contract, which is why expiry does not call this implicitly.
    */
  def reset(): Unit = { cursorFile.delete(): Unit }

  /** Deliver everything that happened since the last poll. Returns true
    * when `f` was invoked (a window or bootstrap was delivered), false
    * when the consumer is already current. `f` receives
    * `(changes, fromVersion, toVersion)` where `changes` carries the
    * table columns plus `_change_type` in insert / delete /
    * update_preimage / update_postimage.
    */
  def poll(f: (DataFrame, Long, Long) => Unit): Boolean = {
    val cur = table.currentVersion.getOrElse(return false)
    position match {
      case None =>
        if (bootstrapAsInserts) {
          val snap = table.read
            .withColumn(CdcTable.ChangeTypeCol, lit("insert"))
          f(snap, 0L, cur)
        }
        advance(cur)
        true
      case Some(seen) if seen >= cur => false
      case Some(seen) =>
        // throws ExpiredVersionException when `seen` fell out of the
        // retention window — deliberate, see class doc
        f(table.changesBetween(seen, cur), seen, cur)
        advance(cur)
        true
    }
  }
}

object ChangeFeed {
  val CursorName = "_cursor"
}
