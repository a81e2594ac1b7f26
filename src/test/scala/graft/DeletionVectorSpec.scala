package graft

import java.io.File

import org.apache.spark.sql.functions._
import graft.ops.{CdcTable, FileSkipping}

/** Merge-on-read deletion vectors ([[CdcTable.deleteVectored]]): a
  * predicate delete that commits a (file, row position) vector instead of
  * rewriting data files — the Delta DV / Iceberg v2 position-delete
  * analogue. The invariants: reads equal the copy-on-write delete
  * exactly; data files carry forward byte-identical; the vector survives
  * append/restore/clone carry paths and dies on any rewrite that
  * materializes it; metadata counts subtract it; CDF sees it.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** The current version's data files as (data dir/file, bytes), found
    * through the table's own file inventory.
    */
  private def dataFiles(t: CdcTable): Seq[(String, Long)] =
    t.filesInfo.select("data_dir", "file").as[(String, String)].collect().toSeq
      .map { case (d, f) => (s"$d/$f", new File(new File(t.path, d), f).length()) }
      .sorted

  test("vectored delete: visible rows equal CoW delete, data files untouched") {
    val root = tmpDir("dv")
    val mk = (p: String) => {
      val t = new CdcTable(spark, s"$root/$p", Seq("id"))
      t.init(spark.range(1, 1001).toDF("id")
        .withColumn("v", concat(lit("v"), col("id")))
        .repartitionByRange(4, col("id")))
      t
    }
    val mor = mk("mor")
    val cow = mk("cow")
    val pred = col("id").between(100L, 300L) || col("id") % 10 === 7L
    val filesBefore = dataFiles(mor)
    mor.deleteVectored(pred)
    cow.delete(pred)
    val got = mor.read.orderBy("id").as[(Long, String)].collect().toSeq
    val want = cow.read.orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == want && got.nonEmpty)

    // the new version's data files are the SAME files (dirs, names and
    // sizes), not rewrites — that is the whole point of merge-on-read
    assert(filesBefore.nonEmpty && dataFiles(mor) == filesBefore,
      "vectored delete must not rewrite data files")
    assert(mor.manifest(2L) == mor.manifest(1L), "vectored delete only re-points the manifest")
    assert(new File(s"$root/mor/dv/v00000002", CdcTable.DeletesName).isDirectory)
    assert(mor.dvSummary(2L).nonEmpty)

    // overlapping second delete: union, no double entries, count exact
    mor.deleteVectored(col("id").between(250L, 400L))
    cow.delete(col("id").between(250L, 400L))
    assert(mor.read.count() == cow.read.count())
    assert(mor.countWhere(Nil) == cow.read.count(),
      "metadata COUNT must subtract the vector")

    // no-match delete burns no version
    val v = mor.currentVersion.get
    mor.deleteVectored(col("id") > 99999L)
    assert(mor.currentVersion.contains(v))

    // time travel: the pre-delete version still shows all rows; the
    // vectored version shows the survivors
    assert(mor.readVersion(1L).count() == 1000L)

    // min/max refuses under a vector (the max row might be deleted)...
    assert(mor.minMaxFromStats("id").isEmpty)
    // ...and a compact materializes the vector away: content identical,
    // vector gone, metadata min/max provable again
    mor.compact(target = 2, clusterBy = Seq("id"))
    assert(mor.read.orderBy("id").as[(Long, String)].collect().toSeq ==
      cow.read.orderBy("id").as[(Long, String)].collect().toSeq)
    val vc = mor.currentVersion.get
    assert(mor.dvSummary(vc).isEmpty, "compaction must materialize the vector away")
    assert(mor.minMaxFromStats("id").isDefined)
  }

  test("vector carries across append (carried files) and restore; merge rewrite drops it") {
    val root = tmpDir("dvcarry")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ts"))
    t.deleteVectored(col("id") === 2L)
    assert(t.read.count() == 2L)

    // append carries the vectored files untouched: the deleted row must not resurrect
    t.append(Seq((10L, "j", 2L)).toDF("id", "v", "ts"))
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 3L, 10L))

    // restore to the vectored version resurrects vector and all
    val vVectored = 2L
    t.restore(vVectored)
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 3L))

    // a merge rewrites copy-on-write from the vector-applied read: content
    // stays right and the new version carries no vector
    t.merge(Seq((3L, "c2", 5L, "u"), (4L, "d", 5L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    assert(t.read.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 1L), (3L, "c2", 5L), (4L, "d", 5L)))
    val cur = t.currentVersion.get
    assert(t.dvSummary(cur).isEmpty)

    // expiry collects the expired versions' vector dirs alongside
    t.expire()
    val dvRoot = new File(s"$root/t/dv")
    val liveDv = Option(dvRoot.listFiles()).getOrElse(Array.empty).map(_.getName).toSet
    val liveVersions = t.versions.map(v => f"v$v%08d").toSet
    assert(liveDv.subsetOf(liveVersions),
      s"expired vector dirs must be collected: dv=$liveDv versions=$liveVersions")
  }

  test("partitioned: vectored delete re-points the manifest, CDF sees it, CoW update interacts") {
    val root = tmpDir("dvpart")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("created"),
      retainVersions = 8)
    t.init(Seq(
      (1L, 10, ts("2001-01-05 00:00:00")), (2L, 20, ts("2001-01-20 00:00:00")),
      (3L, 30, ts("2001-02-05 00:00:00")), (4L, 40, ts("2001-02-20 00:00:00")),
      (5L, 50, ts("2001-03-05 00:00:00"))).toDF("id", "qty", "created"))
    val v1 = t.currentVersion.get

    t.deleteVectored(col("id") === 3L)
    assert(t.read.count() == 4L)
    // manifest dirs unchanged — the delete wrote only the vector
    assert(t.dvSummary(t.currentVersion.get).map(_._3).sum == 1L)

    // CDF between the pre- and post-delete versions: exactly one delete
    // entry, even though no month's dir set changed (the vector summary
    // drives the month pruning)
    val feed = t.changesBetween(v1, t.currentVersion.get)
      .select("id", CdcTable.ChangeTypeCol).as[(Long, String)].collect().toSeq
    assert(feed == Seq((3L, "delete")), s"got $feed")

    // a CoW update in another month: carried months keep their vector
    t.update(col("id") === 5L, Map("qty" -> lit(55)))
    assert(t.read.orderBy("id").select("id", "qty").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 10), (2L, 20), (4L, 40), (5L, 55)))

    // a CoW update in the VECTORED month materializes that month: deleted
    // row must not resurrect, vector entry falls away with the rewritten dir
    t.update(col("id") === 4L, Map("qty" -> lit(44)))
    assert(t.read.orderBy("id").select("id", "qty").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 10), (2L, 20), (4L, 44), (5L, 55)))
    assert(t.dvSummary(t.currentVersion.get).isEmpty,
      "rewriting the vectored month must materialize its entries away")
  }

  test("same-named part files across month dirs: a delete in one month never hits its twin") {
    // repartition(1): ONE write task emits an identically-named part file
    // into EVERY month dir, each with row_index 0 — the case that makes
    // (file name, idx) alone an ambiguous identity
    val t = new CdcTable(spark, tmpDir("dvtwin") + "/t", Seq("id"),
      partitionSource = Some("created"))
    t.init(Seq(
      (1L, ts("2001-01-05 00:00:00")), (2L, ts("2001-02-05 00:00:00")),
      (3L, ts("2001-03-05 00:00:00"))).toDF("id", "created").repartition(1))
    val monthDirs = new File(t.path, "c00000001").listFiles().filter(_.isDirectory)
    val names = monthDirs.map(d =>
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSeq)
    assert(names.length == 3 && names.distinct.length == 1,
      s"fixture must produce name twins across months, got ${names.toSeq}")

    t.deleteVectored(col("id") === 2L)
    // id 2 lives at row 0 of month 02's file; ids 1 and 3 live at row 0
    // of the SAME-NAMED files in months 01 and 03 and must survive
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 3L))
    assert(t.countWhere(Nil) == 2L)
  }

  test("vector survives schema evolution: an evolving merge in another month keeps deletes exact") {
    val root = tmpDir("dvevo")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("created"),
      retainVersions = 8)
    t.init(Seq(
      (1L, ts("2001-01-05 00:00:00"), 1L), (2L, ts("2001-01-20 00:00:00"), 1L),
      (3L, ts("2001-02-05 00:00:00"), 1L)).toDF("id", "created", "mts"))
    t.deleteVectored(col("id") === 1L)
    val vDel = t.currentVersion.get

    // an EVOLVING merge (new column `extra`) into the OTHER month: the
    // January vector must carry; reads union-by-name across old files
    // (no `extra`) and new ones WITH the vector anti-join applied
    t.merge(Seq((4L, ts("2001-02-25 00:00:00"), 2L, "c", "x4"))
      .toDF("id", "created", "mts", "__op", "extra"), "mts")
    val got = t.read.orderBy("id").select("id", "extra")
      .as[(Long, Option[String])].collect().toSeq
    assert(got == Seq((2L, None), (3L, None), (4L, Some("x4"))), s"got $got")
    assert(t.dvSummary(t.currentVersion.get).map(_._3).sum == 1L,
      "the untouched month's vector must carry through the evolving merge")

    // CDF across the evolution window: the vectored delete and the
    // evolved insert both appear, typed + null-padded
    val feed = t.changesBetween(vDel - 1, t.currentVersion.get)
      .select(col("id"), col(CdcTable.ChangeTypeCol), col("extra"))
      .as[(Long, String, Option[String])].collect().toSet
    assert(feed == Set((1L, "delete", None), (4L, "insert", Some("x4"))), s"got $feed")
  }

  test("clone carries the vector (folded multi-commit months included)") {
    val root = tmpDir("dvclone")
    // unpartitioned
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(spark.range(1, 101).toDF("id").withColumn("v", col("id") * 2))
    t.deleteVectored(col("id") <= 10L)
    val c = t.cloneTo(s"$root/c")
    assert(c.read.count() == 90L)
    assert(c.read.agg(min("id")).head.getLong(0) == 11L)

    // partitioned with a month spanning TWO commit dirs (init + append)
    // before the vectored delete — the clone folds the month and renames
    // files, so the vector must remap
    val p = new CdcTable(spark, s"$root/p", Seq("id"), partitionSource = Some("created"))
    p.init(Seq((1L, ts("2001-01-05 00:00:00")), (2L, ts("2001-01-20 00:00:00")))
      .toDF("id", "created"))
    p.append(Seq((3L, ts("2001-01-25 00:00:00"))).toDF("id", "created"))
    p.deleteVectored(col("id") === 2L)
    assert(p.read.count() == 2L)
    val pc = p.cloneTo(s"$root/pc")
    assert(pc.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 3L))
  }

  test("targeted materialization rewrites only vectored files; debt policy triggers it") {
    val root = tmpDir("dvmat")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(spark.range(1, 1001).toDF("id")
      .withColumn("v", concat(lit("w"), col("id")))
      .repartitionByRange(4, col("id")))
    // all deletes land in ONE file's range (250 ids per file)
    t.deleteVectored(col("id").between(300L, 360L))
    val before = dataFiles(t)
    assert(before.size == 4, s"test setup: $before")

    // below the debt threshold: policy declines
    assert(!t.materializeDeletesIfNeeded(maxRatio = 0.5))
    // above it: runs
    assert(t.materializeDeletesIfNeeded(maxRatio = 0.01))
    val cur = t.currentVersion.get
    val after = dataFiles(t)
    // 3 of 4 files carried by name+size; the vectored one rewrote
    def named(fs: Seq[(String, Long)]) = fs.map { case (f, n) => (new File(f).getName, n) }.toSet
    assert(named(before).intersect(named(after)).size == 3,
      s"untouched files must carry: before=$before after=$after")
    assert(t.dvSummary(cur).isEmpty && t.read.count() == 939L)
    assert(t.minMaxFromStats("id").contains((1L, 1000L)))

    // partitioned: only the vectored month's dir is replaced
    val p = new CdcTable(spark, s"$root/p", Seq("id"), partitionSource = Some("created"))
    p.init(Seq(
      (1L, ts("2001-01-05 00:00:00")), (2L, ts("2001-01-20 00:00:00")),
      (3L, ts("2001-02-05 00:00:00"))).toDF("id", "created"))
    p.deleteVectored(col("id") === 1L)
    val mBefore = p.manifest(p.currentVersion.get).toMap
    p.materializeDeletes()
    val mAfter = p.manifest(p.currentVersion.get).toMap
    assert(mAfter("2001-02") == mBefore("2001-02"), "untouched month must re-point")
    assert(mAfter("2001-01") != mBefore("2001-01"), "vectored month must rewrite")
    assert(p.dvSummary(p.currentVersion.get).isEmpty)
    assert(p.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("a vectored delete flows through materialized-view maintenance as ordinary CDF deletes") {
    import graft.ops.MaterializedView
    val root = tmpDir("dvmv")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "b", 40L))
      .toDF("id", "grp", "amt"))
    val mv = new MaterializedView(spark, t, s"$root/view", Seq("grp"), Seq("amt"), Seq("amt"))
    mv.refresh()
    // merge-on-read delete bumps the version; the view's next refresh
    // consumes it via changesBetween — no special-casing anywhere
    t.deleteVectored(col("id") === 2L || col("id") === 3L)
    mv.refresh()
    val got = mv.read.orderBy("grp")
      .select("grp", "n_rows", "amt", "min_amt", "max_amt")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 1L, 10L, 10L, 10L), ("b", 1L, 40L, 40L, 40L)), s"got $got")
    assert(mv.reflectedVersion.contains(t.currentVersion.get))
  }

  test("concurrent merges and vectored deletes interleave safely under the retry protocol") {
    import graft.ops.Retry
    val t1 = new CdcTable(spark, tmpDir("dvrace") + "/t", Seq("id"), retainVersions = 30)
    t1.init(spark.range(1, 101).toDF("id")
      .withColumn("v", lit("init")).withColumn("ts", lit(0L)))
    val t2 = new CdcTable(spark, t1.path, Seq("id"), retainVersions = 30)

    // writer A upserts fresh keys; writer B vector-deletes a DISJOINT
    // fixed set — the final state is schedule-independent, so any lost
    // update or resurrected delete is visible. Every commit races
    // through reserveOrConflict; Retry rides the conflicts out (each
    // attempt re-reads the current version, so a retried op always
    // applies against the winner's state).
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def spawn(body: => Unit) = new Thread(() =>
      try body catch { case e: Throwable => errs.add(e): Unit })
    val a = spawn((1 to 5).foreach { b =>
      Retry.withRetries(40, 25L)()(t1.merge(
        Seq((200L + b, s"m$b", b.toLong, "c")).toDF("id", "v", "ts", "__op"), "ts"))
    })
    val bThread = spawn((1 to 5).foreach { d =>
      Retry.withRetries(40, 25L)()(t2.deleteVectored(col("id") === d.toLong))
    })
    a.start(); bThread.start(); a.join(60000); bThread.join(60000)
    assert(errs.isEmpty, s"concurrent ops must all land: ${errs.toArray.toSeq}")

    val ids = t1.read.select("id").as[Long].collect().sorted.toSeq
    assert(ids == ((6L to 100L) ++ (201L to 205L)),
      s"lost update or resurrected delete: ${ids.take(10)}... n=${ids.size}")
  }

  test("metadata count profile under a vector: full files subtract, boundary files scan applied") {
    val t = new CdcTable(spark, tmpDir("dvcount") + "/t", Seq("id"))
    t.init(spark.range(1, 1001).toDF("id").repartitionByRange(4, col("id")))
    // delete rows inside one interior file's range and one spanning rows
    t.deleteVectored(col("id").between(300L, 320L))
    val all = t.countWhereProfile(Nil)
    assert(all.count == 979L && all.scannedFiles == 0,
      s"COUNT(*) must stay metadata-only under a vector: $all")
    val cut = t.countWhereProfile(Seq(FileSkipping.Range("id", Some(200L), Some(700L))))
    assert(cut.count == 480L, s"got $cut")
  }
}
