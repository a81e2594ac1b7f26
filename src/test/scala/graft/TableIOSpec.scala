package graft

import org.apache.spark.sql.functions._
import graft.ops.{CdcTable, LocalTableIO, ObjectStoreSimTableIO, TableIO}

/** The commit-protocol metadata seam (r11): every pointer publish,
  * reservation, manifest read/write, listing, carry-over link and GC of a
  * CdcTable goes through its [[TableIO]], so an object-store
  * implementation swaps in without touching the protocol. Proven by
  * running full table lifecycles through a counting delegator.
  */
class TableIOSpec extends SparkSpec {
  import spark.implicits._
  private def ts(n: Int) = java.sql.Timestamp.valueOf(f"2000-01-$n%02d 00:00:00")

  /** Delegates to `inner`, counting every call per primitive and
    * recording each data-file carry (a parquet file outside the
    * deletion-vector dir handed to `linkOrCopy` or `copy`).
    */
  final class CountingIO(inner: TableIO = LocalTableIO) extends TableIO {
    val calls = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val dataCarries = scala.collection.mutable.Buffer.empty[String]
    private def tick[A](op: String)(a: => A): A = { calls(op) += 1; a }
    private def carry[A](op: String, src: String)(a: => A): A = {
      if (src.endsWith(".parquet") && !src.contains("/dv/")) dataCarries += src
      tick(op)(a)
    }
    def exists(p: String) = tick("exists")(inner.exists(p))
    def readString(p: String) = tick("readString")(inner.readString(p))
    def readLines(p: String) = tick("readLines")(inner.readLines(p))
    def writeString(p: String, c: String) = tick("writeString")(inner.writeString(p, c))
    def writeAtomic(p: String, c: String) = tick("writeAtomic")(inner.writeAtomic(p, c))
    def mkdirs(p: String) = tick("mkdirs")(inner.mkdirs(p))
    def createDirExclusive(p: String) = tick("createDirExclusive")(inner.createDirExclusive(p))
    def list(p: String) = tick("list")(inner.list(p))
    def lastModified(p: String) = tick("lastModified")(inner.lastModified(p))
    def linkOrCopy(s: String, d: String) = carry("linkOrCopy", s)(inner.linkOrCopy(s, d))
    def copy(s: String, d: String) = carry("copy", s)(inner.copy(s, d))
    def deleteRecursively(p: String) = tick("deleteRecursively")(inner.deleteRecursively(p))
  }

  test("unpartitioned lifecycle runs the whole commit protocol through the seam") {
    val io = new CountingIO
    val t = new CdcTable(spark, tmpDir("tio1") + "/t", Seq("id"),
      retainVersions = 2, io = io)
    t.init(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.merge(Seq((2L, "b2", ts(2), "u"), (3L, "c", ts(2), "c"))
      .toDF("id", "v", "ts", "__op"), "ts")
    t.append(Seq((9L, "z", ts(3)): (Long, String, java.sql.Timestamp))
      .toDF("id", "v", "ts"))
    t.restore(t.currentVersion.get - 1) // undo the append: row 9 vanishes
    // expiry kicked in (retainVersions = 2 over 4 commits)
    assert(t.versions.size <= 3)
    val got = t.read.select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // the protocol's primitives all routed through the seam
    assert(io.calls("writeAtomic") >= 4, s"pointer publishes: ${io.calls}")
    assert(io.calls("createDirExclusive") >= 4, s"reservations: ${io.calls}")
    // every version re-points the manifest at immutable commit dirs: no
    // data file is linked or copied anywhere in the lifecycle
    assert(io.calls("linkOrCopy") == 0, s"carry-over links: ${io.calls}")
    assert(io.calls("deleteRecursively") >= 1, s"expiry GC: ${io.calls}")
    assert(io.calls("readString") >= 4, s"pointer reads: ${io.calls}")
  }

  test("partitioned lifecycle: manifests, sidecars and commit-dir GC through the seam") {
    val io = new CountingIO
    val t = new CdcTable(spark, tmpDir("tio2") + "/t", Seq("id"),
      partitionSource = Some("created"), retainVersions = 2, io = io)
    t.init(Seq(
      (1L, 10, java.sql.Timestamp.valueOf("2000-01-05 00:00:00")),
      (2L, 20, java.sql.Timestamp.valueOf("2000-02-05 00:00:00"))
    ).toDF("id", "qty", "created"))
    t.merge(Seq((2L, 21, java.sql.Timestamp.valueOf("2000-02-06 00:00:00"), ts(2), "u"))
      .toDF("id", "qty", "created", "ts", "__op"), "ts")
    t.compact()
    assert(t.read.select("id", "qty").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == Map(1L -> 10, 2L -> 21))
    assert(io.calls("writeString") >= 3, s"manifest+schema writes: ${io.calls}")
    assert(io.calls("readLines") >= 2, s"manifest reads: ${io.calls}")
    assert(io.calls("writeAtomic") >= 3, s"pointer publishes: ${io.calls}")
    assert(io.calls("list") >= 3, s"commit-dir listings: ${io.calls}")
  }

  // ------------------------------------------------- object-store semantics

  test("object-store primitives: full unpartitioned lifecycle without rename, links, or exclusive mkdir") {
    val io = new ObjectStoreSimTableIO
    val t = new CdcTable(spark, tmpDir("oss1") + "/t", Seq("id"),
      retainVersions = 2, io = io)
    t.init(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.merge(Seq((2L, "b2", ts(2), "u"), (3L, "c", ts(2), "c"))
      .toDF("id", "v", "ts", "__op"), "ts")
    t.append(Seq((9L, "z", ts(3)): (Long, String, java.sql.Timestamp))
      .toDF("id", "v", "ts"))
    // time travel works without rename or links
    val beforeAppend = t.currentVersion.get - 1
    assert(t.readVersion(beforeAppend).count() == 3)
    t.restore(beforeAppend)
    val got = t.read.select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
    // every pointer PUT was monotonically increasing — the invariant
    // POSIX rename gave for free, now guaranteed by the reservation chain
    val pointerPuts = io.writeLog.toArray(Array.empty[(String, String)])
      .filter(_._1.endsWith("_current")).map(_._2.stripPrefix("v").toLong)
    assert(pointerPuts.sameElements(pointerPuts.sorted), s"pointer history: ${pointerPuts.toSeq}")
    assert(pointerPuts.distinct.length == pointerPuts.length, s"duplicate publish: ${pointerPuts.toSeq}")
  }

  test("object store: unpartitioned append, restore and deleteVectored copy no data file") {
    // a store has no hard links: any per-version carry of a data file is
    // a full server-side COPY, so carrying the table per commit would
    // make each of these O(table) instead of O(change)
    val io = new CountingIO(new ObjectStoreSimTableIO)
    val t = new CdcTable(spark, tmpDir("osscarry") + "/t", Seq("id"),
      retainVersions = 8, io = io)
    t.init(spark.range(1, 401).toDF("id").withColumn("v", col("id") * 2).repartition(4))
    val base = t.currentVersion.get
    def carried(body: => Unit): Seq[String] = { io.dataCarries.clear(); body; io.dataCarries.toList }
    assert(carried(t.append(spark.range(401, 411).toDF("id").withColumn("v", col("id") * 2)))
      .isEmpty, "append copied data files")
    assert(t.read.count() == 410L)
    assert(carried(t.restore(base)).isEmpty, "restore copied data files")
    assert(t.read.count() == 400L)
    assert(carried(t.deleteVectored(col("id") <= 10L)).isEmpty, "deleteVectored copied data files")
    assert(t.read.count() == 390L)
    assert(t.read.agg(min("id"), max("id"), sum("v")).head().toSeq ==
      Seq(11L, 400L, (11L to 400L).map(_ * 2).sum))
  }

  test("object-store primitives: partitioned lifecycle with schema evolution, compaction and GC") {
    val io = new ObjectStoreSimTableIO
    val t = new CdcTable(spark, tmpDir("oss2") + "/t", Seq("id"),
      partitionSource = Some("created"), retainVersions = 2, io = io)
    t.init(Seq(
      (1L, 10, java.sql.Timestamp.valueOf("2000-01-05 00:00:00")),
      (2L, 20, java.sql.Timestamp.valueOf("2000-02-05 00:00:00"))
    ).toDF("id", "qty", "created"))
    // evolve: a merge batch carrying a new column widens the schema
    t.merge(Seq((2L, 21, java.sql.Timestamp.valueOf("2000-02-06 00:00:00"), "x", ts(2), "u"))
      .toDF("id", "qty", "created", "tag", "ts", "__op"), "ts")
    t.compact()
    (3 to 6).foreach { i =>
      t.merge(Seq((i.toLong, i * 10, java.sql.Timestamp.valueOf(f"2000-02-0$i 00:00:00"), s"t$i", ts(i), "c"))
        .toDF("id", "qty", "created", "tag", "ts", "__op"), "ts")
    }
    val m = t.read.select("id", "qty", "tag").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(m(1L) == ((10, null)) && m(2L) == ((21, "x")) && m(5L) == ((50, "t5")))
    // expiry GC'd old versions through prefix deletes (no rmdir semantics)
    assert(t.versions.size <= 3, s"versions: ${t.versions}")
    // CDF still serves from retained history
    val cur = t.currentVersion.get
    assert(t.changesBetween(cur - 1, cur).count() >= 1)
  }

  test("object-store primitives: concurrent writers race through marker reservations; no update lost") {
    val io = new ObjectStoreSimTableIO
    val path = tmpDir("ossrace") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), io = io)
    t.init(Seq((0L, "seed", 0L)).toDF("id", "v", "ts"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 4).map { w =>
      scala.concurrent.Future {
        // each writer its own table handle (own cached state), same store
        val mine = new CdcTable(spark, path, Seq("id"), io = io)
        mine.mergeWithRetry(
          Seq((w.toLong, s"w$w", 1L, "c")).toDF("id", "v", "ts", "__op"),
          "ts", maxTries = 30, sleepMs = 200L)
      }
    }
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(120, "s"))
    pool.shutdown()
    val ids = t.read.select("id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L, 2L, 3L, 4L), s"lost update: $ids")
    // the four committed versions published in strictly increasing order
    val puts = io.writeLog.toArray(Array.empty[(String, String)])
      .filter(_._1.endsWith("_current")).map(_._2.stripPrefix("v").toLong)
    assert(puts.sameElements(puts.sorted) && puts.distinct.length == puts.length,
      s"pointer history: ${puts.toSeq}")
  }

  test("chaos: latency + transient pre/post-apply failures never lose an update") {
    // 4 writers × 2 sequential batches each through a ChaosTableIO over
    // the object-store sim: every 11th mutating op fails (alternating
    // BEFORE and AFTER it applied — the lost-response case), every op
    // carries jitter. Client-level replay on transient failure + the
    // protocol's conflict retry/takeover must converge to the exact
    // final state with a monotonic pointer history.
    val store = new ObjectStoreSimTableIO
    val io = new graft.ops.ChaosTableIO(store, seed = 42L, failEveryN = 11, maxDelayMs = 2)
    val path = tmpDir("osschaos") + "/t"
    new CdcTable(spark, path, Seq("id"), io = store) // seed via the clean store
      .init(Seq((0L, "seed", 0L)).toDF("id", "v", "ts"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 4).map { w =>
      scala.concurrent.Future {
        val mine = new CdcTable(spark, path, Seq("id"), io = io)
        Seq((1L, s"w$w"), (2L, s"w${w}_final")).foreach { case (ts, v) =>
          var tries = 0
          var ok = false
          while (!ok) {
            try {
              mine.mergeWithRetry(Seq((w.toLong, v, ts, "c")).toDF("id", "v", "ts", "__op"),
                "ts", maxTries = 12, sleepMs = 100L)
              ok = true
            } catch {
              // transient store failure, or conflict budget exhausted
              // under extreme interleaving: replay the batch (idempotent).
              // Budgets are sized for a LOADED host (this spec also runs
              // inside the full parallel suite, where every Spark job is
              // slow and conflict windows stretch) — the assertions that
              // matter are the exact final state and pointer history, not
              // how many replays the schedule needed.
              case e @ (_: java.io.IOException | _: CdcTable.CommitConflictException) =>
                tries += 1
                // 500, not 200: measured flake at 200 when the suite ran
                // beside an external 13-core process (r15) — conflict
                // windows stretch with host load, and the budget exists
                // only to catch livelock, not to bound a loaded schedule
                assert(tries < 500, s"writer $w: chaos replays exhausted — $e")
            }
          }
        }
      }
    }
    // 2400s, not 900: this is a PROTOCOL test (exact final state +
    // monotonic pointer history), not a latency test — under the full
    // parallel suite every Spark job slows and the 4 writers' conflict
    // windows stretch; the r15 suite (434 tests, new CdcTable-heavy
    // suites running concurrently) pushed the schedule past 900s while
    // still converging. Standalone it finishes in ~80s.
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration(2400, "s"))
    pool.shutdown()
    val t = new CdcTable(spark, path, Seq("id"), io = store)
    val got = t.read.select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(0L -> "seed", 1L -> "w1_final", 2L -> "w2_final",
      3L -> "w3_final", 4L -> "w4_final"), s"state after chaos: $got")
    // a post-apply pointer failure means the writer replays a PUBLISHED
    // commit — versions may burn, but the pointer history must still be
    // strictly increasing with no duplicate publish
    val puts = store.writeLog.toArray(Array.empty[(String, String)])
      .filter(_._1.endsWith("_current")).map(_._2.stripPrefix("v").toLong)
    assert(puts.sameElements(puts.sorted) && puts.distinct.length == puts.length,
      s"pointer history: ${puts.toSeq}")
  }

  test("object-store primitives: crashed reservation is taken over via prefix Last-Modified polling") {
    val io = new ObjectStoreSimTableIO
    val path = tmpDir("osscrash") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), io = io)
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    // a writer reserved v2 then died: marker object exists, no progress
    val dead = new java.io.File(path, f"v${2L}%08d")
    assert(io.createDirExclusive(dead.getPath))
    Thread.sleep(1100) // let the marker's Last-Modified age past a poll tick
    t.mergeWithRetry(Seq((2L, "b", 2L, "c")).toDF("id", "v", "ts", "__op"),
      "ts", maxTries = 4, sleepMs = 300L)
    assert(t.read.count() == 2)
    assert(t.currentVersion.contains(2L))
  }
}
