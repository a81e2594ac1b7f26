package graft

import org.apache.spark.sql.functions._
import graft.ops.{CdcTable, IncrementalView}

/** Incremental materialized-view refresh from the change data feed must
  * equal the full recompute after every merge/DML step.
  */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.select(col("grp"), col(IncrementalView.CountCol), col("amt"))
      .collect()
      .map(r => (if (r.isNullAt(0)) "<null>" else r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
      .toSeq

  test("CDF-driven refresh equals the full recompute across merges and deletes") {
    val path = tmpDir("iview") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 10)
    t.init(Seq(
      (1L, Some("a"), Some(10L)), (2L, Some("a"), Some(20L)), (3L, Some("b"), Some(30L)),
      (5L, None, Some(50L)),   // null group key is a legitimate group
      (6L, Some("d"), None))   // all-null sums follow the sums-to-0 convention
      .toDF("id", "grp", "amt"))
    val v1 = t.currentVersion.get
    var agg = IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))
    assert(sorted(agg) == Seq(
      ("<null>", 1L, 50L), ("a", 2L, 30L), ("b", 1L, 30L), ("d", 1L, 0L)))

    // merge: update 2's amount, move 3 to group a, insert 4 in c,
    // insert 7 into the null group, delete 1
    t.merge(Seq(
      (2L, Some("a"), Some(25L), 1L, "u"),
      (3L, Some("a"), Some(30L), 1L, "u"),
      (4L, Some("c"), Some(40L), 1L, "c"),
      (7L, None, Some(8L), 1L, "c"),
      (1L, None, Some(0L), 1L, "d"))
      .toDF("id", "grp", "amt", "ts", "__op"), "ts")
    val v2 = t.currentVersion.get

    agg = IncrementalView.refresh(agg, t.changesBetween(v1, v2), Seq("grp"), Seq("amt"))
    val full2 = IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))
    assert(sorted(agg) == sorted(full2))
    // group b emptied out and must vanish, like the recompute drops it
    assert(!sorted(agg).exists(_._1 == "b"))
    // the null group merged (not doubled): one row, both members
    assert(sorted(agg).count(_._1 == "<null>") == 1)
    assert(sorted(agg).find(_._1 == "<null>").get == (("<null>", 2L, 58L)))

    // predicate DELETE wipes group a; refresh again
    t.delete(col("grp") === "a")
    val v3 = t.currentVersion.get
    agg = IncrementalView.refresh(agg, t.changesBetween(v2, v3), Seq("grp"), Seq("amt"))
    assert(sorted(agg) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
    assert(sorted(agg) == Seq(("<null>", 2L, 58L), ("c", 1L, 40L), ("d", 1L, 0L)))
  }

  test("all five aggregates (count/sum/avg/min/max) refresh == recompute across merges and deletes") {
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", IncrementalView.CountCol, "amt", "avg_amt", "min_amt", "max_amt")
        .collect()
        .map(r => (Option(r.getString(0)).getOrElse("<null>"), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getLong(5))))
        .sortBy(_._1).toSeq
    val path = tmpDir("iview5") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 10)
    t.init(Seq(
      (1L, Some("a"), Some(10L)), (2L, Some("a"), Some(20L)), (3L, Some("a"), Some(5L)),
      (4L, Some("b"), Some(30L)), (5L, Some("b"), None),
      (6L, Some("c"), None)) // all-null group: sum 0, avg/min/max null
      .toDF("id", "grp", "amt"))
    val v1 = t.currentVersion.get
    var agg = IncrementalView.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))
    assert(snap(agg) == Seq(
      ("a", 3L, 35L, Some(35.0 / 3), Some(5L), Some(20L)),
      ("b", 2L, 30L, Some(30.0), Some(30L), Some(30L)),
      ("c", 1L, 0L, None, None, None)))

    // delete a's MIN (5) — extremum invalidated, group-local recompute;
    // insert a new max into a; delete b's only non-null value (avg and
    // extrema must go null while the group survives); give c a value
    t.merge(Seq(
      (3L, Some("a"), Some(5L), 1L, "d"),
      (7L, Some("a"), Some(99L), 1L, "c"),
      (4L, Some("b"), Some(30L), 1L, "d"),
      (6L, Some("c"), Some(42L), 1L, "u"))
      .toDF("id", "grp", "amt", "ts", "__op"), "ts")
    val v2 = t.currentVersion.get
    agg = IncrementalView.refresh(agg, t.changesBetween(v1, v2),
      Seq("grp"), Seq("amt"), Seq("amt"), t.read)
    val full2 = IncrementalView.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))
    assert(snap(agg) == snap(full2))
    assert(snap(agg) == Seq(
      ("a", 3L, 129L, Some(43.0), Some(10L), Some(99L)),
      ("b", 1L, 0L, None, None, None),
      ("c", 1L, 42L, Some(42.0), Some(42L), Some(42L))))

    // update that MOVES the max down (update_preimage removes 99, the
    // stored max) plus an untouched-extrema update — only the dirty
    // group pays a recompute, both land on the recompute's answer
    t.merge(Seq(
      (7L, Some("a"), Some(1L), 2L, "u"),
      (6L, Some("c"), Some(41L), 2L, "u"))
      .toDF("id", "grp", "amt", "ts", "__op"), "ts")
    val v3 = t.currentVersion.get
    agg = IncrementalView.refresh(agg, t.changesBetween(v2, v3),
      Seq("grp"), Seq("amt"), Seq("amt"), t.read)
    assert(snap(agg) == snap(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))))
    assert(snap(agg).head == (("a", 3L, 31L, Some(31.0 / 3), Some(1L), Some(20L))))
  }

  test("dirty-group recompute scans through pruned reads; a clean refresh never calls tableFor") {
    import graft.ops.FileSkipping
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", IncrementalView.CountCol, "amt", "min_amt", "max_amt")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
    val path = tmpDir("iviewprune") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 10)
    // 200 rows over 8 groups, CLUSTERED by group: 4 files, tight ranges
    t.init((0L until 200L).map(i => (i, f"g${i % 8}%02d", i))
      .toDF("id", "grp", "amt")
      .repartitionByRange(4, col("grp")).sortWithinPartitions("grp"))
    val v1 = t.currentVersion.get
    var agg = IncrementalView.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))
    // delete the MAX of exactly one group (id 195 = max of g03)
    t.delete(col("id") === 195L)
    val v2 = t.currentVersion.get
    var calls = 0
    var got: Seq[FileSkipping.Pred] = null
    agg = IncrementalView.refresh(agg, t.changesBetween(v1, v2),
      Seq("grp"), Seq("amt"), Seq("amt"),
      preds => { calls += 1; got = preds; t.readWhereAt(v2, preds) })
    // exactly one pruned scan, probing exactly the dirty group...
    assert(calls == 1)
    assert(got == Seq(FileSkipping.InSet("grp", Seq("g03"))))
    // ...which actually skips files on the clustered layout
    val (kept, total) = t.scanProfileAt(v2, got)
    assert(total >= 4 && kept < total, s"dirty-group scan must skip: $kept of $total")
    // and the result is exactly the recompute
    assert(snap(agg) == snap(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))))
    // a window with NO invalidated extremum (pure insert inside the
    // group's range) must never touch the table at all
    t.merge(Seq((1000L, "g01", 50L, 1L, "c")).toDF("id", "grp", "amt", "ts", "__op"), "ts")
    val v3 = t.currentVersion.get
    agg = IncrementalView.refresh(agg, t.changesBetween(v2, v3),
      Seq("grp"), Seq("amt"), Seq("amt"),
      preds => { calls += 1; t.readWhereAt(v3, preds) })
    assert(calls == 1, "clean refresh must not scan the table")
    assert(snap(agg) == snap(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))))
  }

  test("a dirty-group set past the cap falls back to the unpruned scan and stays exact") {
    import graft.ops.{FileSkipping, IncrementalView => IV}
    val path = tmpDir("iviewcap") + "/t"
    val nGroups = IV.MaxPruneKeys + 104 // 4200 dirty groups > the 4096 cap
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 10)
    // two rows per group; deleting the larger invalidates EVERY extremum
    t.init((0L until (2L * nGroups)).map(i => (i, s"g${i % nGroups}", i))
      .toDF("id", "grp", "amt"))
    val v1 = t.currentVersion.get
    var agg = IV.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))
    t.delete(col("id") >= nGroups.toLong) // the larger member of every group
    val v2 = t.currentVersion.get
    var got: Seq[FileSkipping.Pred] = null
    agg = IV.refresh(agg, t.changesBetween(v1, v2), Seq("grp"), Seq("amt"), Seq("amt"),
      preds => { got = preds; t.readWhereAt(v2, preds) })
    assert(got == Nil, "an over-cap dirty set must fall back to the unpruned scan")
    val want = IV.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "min_amt", "max_amt").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(snap(agg) == snap(want))
    assert(snap(agg).size == nGroups)
  }

  test("a dirty NULL group prunes null-safely (IS NULL rides the predicate) and recomputes exactly") {
    import graft.ops.FileSkipping
    val path = tmpDir("iviewnull") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 10)
    t.init(Seq(
      (1L, Option("a"), 10L), (2L, Option("a"), 20L),
      (3L, Option.empty[String], 30L), (4L, Option.empty[String], 40L))
      .toDF("id", "grp", "amt"))
    val v1 = t.currentVersion.get
    var agg = IncrementalView.compute(t.read, Seq("grp"), Seq("amt"), Seq("amt"))
    // delete the null group's max AND group a's max in one window: the
    // pruning predicate must be (grp IN ('a') OR grp IS NULL)
    t.delete(col("id").isin(2L, 4L))
    val v2 = t.currentVersion.get
    var got: Seq[FileSkipping.Pred] = null
    agg = IncrementalView.refresh(agg, t.changesBetween(v1, v2),
      Seq("grp"), Seq("amt"), Seq("amt"),
      preds => { got = preds; t.readWhereAt(v2, preds) })
    assert(got == Seq(FileSkipping.AnyOf(Seq(
      Seq(FileSkipping.InSet("grp", Seq("a"))), Seq(FileSkipping.IsNull("grp"))))))
    val rows = agg.select("grp", "min_amt", "max_amt").collect()
      .map(r => (Option(r.getString(0)).getOrElse("<null>"), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq(("<null>", 30L, 30L), ("a", 10L, 10L)))
  }

  test("MaterializedView maintains min/max through the extCols seam") {
    import graft.ops.MaterializedView
    val root = tmpDir("mview5")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 10)
    t.init(Seq((1L, Some("a"), Some(10L)), (2L, Some("a"), Some(3L))).toDF("id", "grp", "amt"))
    val mv = new MaterializedView(spark, t, s"$root/view", Seq("grp"), Seq("amt"), Seq("amt"))
    mv.refresh()
    // delete the min; the refreshed persisted view equals the recompute
    t.delete(org.apache.spark.sql.functions.col("id") === 2L)
    mv.refresh()
    val r = mv.read.select("grp", "min_amt", "max_amt", "avg_amt").head()
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)) == (("a", 10L, 10L, 10.0)))
  }

  test("MaterializedView crash window: an orphan refresh (data written, pointer not moved) is invisible and re-derived") {
    import graft.ops.MaterializedView
    val root = tmpDir("mview")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 10)
    t.init(Seq((1L, Some("a"), Some(10L)), (2L, Some("b"), Some(20L))).toDF("id", "grp", "amt"))
    val mv = new MaterializedView(spark, t, s"$root/view", Seq("grp"), Seq("amt"))
    mv.refresh()
    val reflected = mv.reflectedVersion.get

    // table advances; a refresh CRASHES after materializing its commit
    // and writing the version's metadata — record included — but before
    // the pointer rename: simulated by writing garbage data and a
    // manifest + tags naming the new source version into the view
    // version the next refresh reserves
    t.merge(Seq((3L, Some("a"), Some(5L), 1L, "c")).toDF("id", "grp", "amt", "ts", "__op"), "ts")
    val target = t.currentVersion.get
    val orphan = mv.viewTable.currentVersion.get + 1
    Seq(("junk", 999L, 999L)).toDF("grp", IncrementalView.CountCol, "amt")
      .write.parquet(f"$root/view/c$orphan%08d")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(f"$root/view/v$orphan%08d"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$root/view/v$orphan%08d/${CdcTable.ManifestName}"), f"\tc$orphan%08d")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$root/view/v$orphan%08d/${CdcTable.CommitTagsName}"),
      s"${CdcTable.ReflectedTag}0\t${t.path}:$target")
    // the pointer never moved: reads still serve the old consistent view,
    // and the orphan's record is invisible with it
    assert(mv.reflectedVersion.contains(reflected))
    assert(!sorted(mv.read).exists(_._1 == "junk"))

    // the retried refresh reclaims the orphan and re-derives the target
    // from the old record (idempotent re-derivation, NOT a delta
    // double-apply) and lands exactly at the recompute
    mv.refresh()
    assert(mv.reflectedVersion.contains(target))
    assert(sorted(mv.read) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
  }

  test("MaterializedView migrates a pre-avg/min/max persisted view by recompute, not a failing delta") {
    import graft.ops.MaterializedView
    val root = tmpDir("mviewold")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 10)
    t.init(Seq((1L, Some("a"), Some(10L)), (2L, Some("b"), Some(20L))).toDF("id", "grp", "amt"))
    val v1 = t.currentVersion.get
    // a view written by the build BEFORE avg/min/max maintenance and
    // before the reflected record: its own `_current` -> `vNNNNNNNN`
    // layout named by source version, holding only (groupCols, n_rows,
    // sums) — no __nn_/avg_ columns, no record
    Seq(("a", 1L, 10L), ("b", 1L, 20L)).toDF("grp", IncrementalView.CountCol, "amt")
      .write.parquet(f"$root/view/v$v1%08d")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/view", CdcTable.CurrentPointer), f"v$v1%08d")
    val mv = new MaterializedView(spark, t, s"$root/view", Seq("grp"), Seq("amt"))
    assert(mv.reflectedVersion.isEmpty, "an old view carries no record")

    // table advances; the incremental path would reference __nn_amt and
    // fail permanently — the view must migrate by ONE full recompute
    t.merge(Seq((3L, Some("a"), Some(5L), 1L, "c")).toDF("id", "grp", "amt", "ts", "__op"), "ts")
    val before = mv.viewTable.currentVersion.get
    mv.refresh()
    assert(mv.viewTable.currentVersion.contains(before + 1), "one recompute commit")
    assert(mv.reflectedVersion.contains(t.currentVersion.get))
    assert(sorted(mv.read) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
    // and the migrated view resumes INCREMENTAL maintenance afterwards
    t.merge(Seq((4L, Some("b"), Some(7L), 2L, "c")).toDF("id", "grp", "amt", "ts", "__op"), "ts")
    mv.refresh()
    assert(sorted(mv.read) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
  }

  test("an old-layout MaterializedView holding crashed refreshes' orphan dirs still refreshes") {
    import graft.ops.MaterializedView
    val root = tmpDir("mvieworphan")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 10)
    t.init(Seq((1L, Some("a"), Some(10L)), (2L, Some("b"), Some(20L))).toDF("id", "grp", "amt"))
    val v1 = t.currentVersion.get
    def upsert(id: Long, grp: String, amt: Long, ts: Long): Unit =
      t.merge(Seq((id, Some(grp), Some(amt), ts, "c")).toDF("id", "grp", "amt", "ts", "__op"), "ts")
    // the old layout names view dirs by source version; two refreshes of
    // the old build crashed after writing their target dirs, so orphans
    // sit at the pointer's next two numbers — which the view's own table
    // reserves next
    val view = IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))
    view.write.parquet(f"$root/view/v$v1%08d")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/view", CdcTable.CurrentPointer), f"v$v1%08d")
    upsert(3L, "a", 5L, 1L)
    upsert(4L, "b", 7L, 2L)
    Seq(v1 + 1, v1 + 2).foreach { v =>
      Seq(("junk", 999L, 999L)).toDF("grp", IncrementalView.CountCol, "amt")
        .write.parquet(f"$root/view/v$v%08d")
    }
    val mv = new MaterializedView(spark, t, s"$root/view", Seq("grp"), Seq("amt"))
    mv.refresh()
    assert(mv.reflectedVersion.contains(t.currentVersion.get))
    assert(sorted(mv.read) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
    // the next refresh reserves the second orphan's number and reclaims it
    upsert(5L, "a", 1L, 3L)
    mv.refresh()
    assert(mv.viewTable.currentVersion.contains(v1 + 2))
    assert(mv.reflectedVersion.contains(t.currentVersion.get))
    assert(sorted(mv.read) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
  }

  test("MaterializedView whose reflected base version expired falls back to a full recompute") {
    import graft.ops.MaterializedView
    val root = tmpDir("mviewexp")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 2)
    t.init(Seq((1L, Some("a"), Some(10L)), (2L, Some("b"), Some(20L))).toDF("id", "grp", "amt"))
    val mv = new MaterializedView(spark, t, s"$root/view", Seq("grp"), Seq("amt"))
    mv.refresh()
    val base = mv.reflectedVersion.get
    // the view lags while the table advances past its retention window:
    // the delta source for changesBetween(base, target) no longer exists
    (3L to 5L).foreach { i =>
      t.merge(Seq((i, Some("a"), Some(i), 1L, "c")).toDF("id", "grp", "amt", "ts", "__op"), "ts")
    }
    assert(!t.versions.contains(base), "fixture must expire the reflected base")
    mv.refresh() // must recompute, not fail the incremental plan forever
    assert(mv.reflectedVersion.contains(t.currentVersion.get))
    assert(sorted(mv.read) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
    // and INCREMENTAL maintenance resumes once re-based
    t.merge(Seq((6L, Some("b"), Some(6L), 2L, "c")).toDF("id", "grp", "amt", "ts", "__op"), "ts")
    mv.refresh()
    assert(sorted(mv.read) == sorted(IncrementalView.compute(t.read, Seq("grp"), Seq("amt"))))
  }

  test("auto-compaction is a no-op under the threshold: no version burned, manifest untouched") {
    val path = tmpDir("autonoop") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 8,
      autoCompactMaxFiles = Some(50))
    t.init(Seq((1L, "a")).toDF("id", "v"))
    val v1 = t.currentVersion.get
    t.append(Seq((2L, "b")).toDF("id", "v"))
    // exactly ONE commit happened (the append) — the policy saw file
    // counts under the threshold and burned nothing
    assert(t.currentVersion.contains(v1 + 1))
    assert(!t.compactIfNeeded(maxFiles = 50))
    assert(t.currentVersion.contains(v1 + 1))
  }
}
