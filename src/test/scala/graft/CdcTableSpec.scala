package graft

import org.apache.spark.sql.functions._
import graft.ops.CdcTable

class CdcTableSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("unpartitioned table: init + merge upsert/delete round-trips parquet") {
    val path = tmpDir("cdctable") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ts"))
    val batch = Seq((2L, "b2", 2L, "u"), (3L, "c", 2L, "c"), (1L, null.asInstanceOf[String], 2L, "d"))
      .toDF("id", "v", "ts", "__op")
    t.merge(batch, "ts")
    val got = t.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(got == Seq((2L, "b2"), (3L, "c")))
  }

  test("mergePreDeduped equals merge for a uniquely-keyed batch (both layouts)") {
    // the maintained-view refresh fast path: a batch already one-row-per-
    // key skips the latest-wins shuffle — results must be identical,
    // including empty-batch no-op and bootstrap semantics
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("id", "v", "ts")
    val batch = Seq((2L, "b2", 2L, "u"), (4L, "d", 2L, "c"), (3L, null.asInstanceOf[String], 2L, "d"))
      .toDF("id", "v", "ts", "__op")
    val t1 = new CdcTable(spark, tmpDir("prededup") + "/t1", Seq("id"))
    val t2 = new CdcTable(spark, tmpDir("prededup") + "/t2", Seq("id"))
    t1.init(base); t2.init(base)
    t1.merge(batch, "ts")
    t2.mergePreDeduped(batch)
    val a = t1.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    val b = t2.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(a == b && a == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
    // empty batch: still a complete no-op (no version burned)
    val v = t2.currentVersion.get
    t2.mergePreDeduped(Seq.empty[(Long, String, Long, String)].toDF("id", "v", "ts", "__op"))
    assert(t2.currentVersion.contains(v))
    // bootstrap: first pre-deduped batch creates the table, deletes dropped
    val t3 = new CdcTable(spark, tmpDir("prededup") + "/t3", Seq("id"))
    t3.mergePreDeduped(batch)
    assert(t3.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
      == Seq((2L, "b2"), (4L, "d")))
    // partitioned layout
    val p1 = new CdcTable(spark, tmpDir("prededup") + "/p1", Seq("id"),
      partitionSource = Some("created_at"))
    val p2 = new CdcTable(spark, tmpDir("prededup") + "/p2", Seq("id"),
      partitionSource = Some("created_at"))
    val pbase = Seq((1L, "a", ts("2001-01-01 00:00:00")), (2L, "b", ts("2001-02-01 00:00:00")))
      .toDF("id", "v", "created_at")
    val pbatch = Seq((2L, "b2", ts("2001-02-02 00:00:00"), 2L, "u"),
      (1L, null.asInstanceOf[String], ts("2001-01-01 00:00:00"), 2L, "d"))
      .toDF("id", "v", "created_at", "mts", "__op")
    p1.init(pbase); p2.init(pbase)
    p1.merge(pbatch, "mts")
    p2.mergePreDeduped(pbatch)
    assert(p1.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
      == p2.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq)
  }

  test("an empty merge batch is a complete no-op: no version burned, no files rewritten") {
    // unpartitioned: the rewrite would be FULL-table for zero changes
    val path = tmpDir("cdcempty") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    val v1 = t.currentVersion.get
    t.merge(Seq.empty[(Long, String, Long, String)].toDF("id", "v", "ts", "__op"), "ts")
    assert(t.currentVersion.contains(v1), "empty merge must not commit")
    // partitioned: would burn a (metadata-only but pointless) version
    val p = new CdcTable(spark, tmpDir("cdcemptyp") + "/t", Seq("id"),
      partitionSource = Some("created_at"))
    p.init(Seq((1L, "a", ts("2001-01-01 00:00:00"))).toDF("id", "v", "created_at"))
    val pv1 = p.currentVersion.get
    p.merge(Seq.empty[(Long, String, java.sql.Timestamp, String)]
      .toDF("id", "v", "created_at", "__op").withColumn("mts", lit(1L)), "mts")
    assert(p.currentVersion.contains(pv1), "empty partitioned merge must not commit")
    assert(t.read.count() == 1 && p.read.count() == 1)
  }

  test("metadata aggregates: COUNT/MIN/MAX from sidecars, boundary files demoted to scans") {
    import graft.ops.FileSkipping.{Range, NotNull, IsNull}
    val t = new CdcTable(spark, tmpDir("cdcmeta") + "/t", Seq("id"))
    // 4 range-clustered files over ids 1..1000; v null for the top quarter
    t.init(spark.range(1, 1001).toDF("id")
      .withColumn("v", when(col("id") <= 750L, concat(lit("v"), col("id"))))
      .repartitionByRange(4, col("id")))

    // pure metadata COUNT(*): every file counted from its sidecar rows
    val all = t.countWhereProfile(Nil)
    assert(all == CdcTable.CountProfile(1000L, 4, 0, 0), s"got $all")

    // a window cutting through file interiors: edges scan, the rest counts blind
    val cut = t.countWhereProfile(Seq(Range("id", Some(100L), Some(900L))))
    assert(cut.count == 801L, s"got $cut")
    assert(cut.scannedFiles >= 1 && cut.fullFiles >= 1 && cut.scannedFiles <= 2,
      s"only edge files may scan: $cut")

    // a window aligned with the whole domain: still zero data I/O
    val aligned = t.countWhereProfile(Seq(Range("id", Some(1L), Some(1000L))))
    assert(aligned == CdcTable.CountProfile(1000L, 4, 0, 0), s"got $aligned")

    // a window outside the domain: everything pruned, nothing opened
    val none = t.countWhereProfile(Seq(Range("id", Some(5000L), None)))
    assert(none == CdcTable.CountProfile(0L, 0, 0, 4), s"got $none")

    // null-sensitive counts stay exact: all-null and no-null files answer
    // from metadata, the mixed boundary file scans
    val nn = t.countWhereProfile(Seq(NotNull("v")))
    assert(nn.count == 750L && nn.scannedFiles <= 1, s"got $nn")
    assert(t.countWhere(Seq(IsNull("v"))) == 250L)
    // conjunction with a range predicate over the null boundary
    assert(t.countWhere(Seq(Range("id", Some(700L), Some(800L)), NotNull("v"))) == 51L)

    // min/max fold: exact and metadata-only for both the clustered long
    // and the (scattered) string column; all-null → None (scan fallback)
    assert(t.minMaxFromStats("id").contains((1L, 1000L)))
    val vAgg = t.read.agg(min("v"), max("v")).head
    assert(t.minMaxFromStats("v").contains((vAgg.getString(0), vAgg.getString(1))))
    val tNull = new CdcTable(spark, tmpDir("cdcmetanull") + "/t", Seq("id"))
    tNull.init(Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("id", "w"))
    assert(tNull.minMaxFromStats("w").isEmpty)

    // metadata column profile: rows/nulls/min/max straight off the
    // sidecars, zero data files opened
    val prof = t.describeStats.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.get(2), r.get(3), r.get(4))).toMap
    assert(prof("id") == ((1000L, 0L, "1", "1000")))
    assert(prof("v")._1 == 1000L && prof("v")._2 == 250L)

    // partitioned table: month pruning shows up as pruned files and the
    // in-month count still answers from metadata
    val p = new CdcTable(spark, tmpDir("cdcmetap") + "/t", Seq("id"),
      partitionSource = Some("created"))
    p.init(Seq((1L, ts("2001-01-05 00:00:00")), (2L, ts("2001-01-20 00:00:00")),
      (3L, ts("2001-02-05 00:00:00"))).toDF("id", "created"))
    val janOnly = p.countWhereProfile(Seq(Range("created",
      Some(ts("2001-01-01 00:00:00")), Some(ts("2001-01-31 23:59:59")))))
    assert(janOnly.count == 2L && janOnly.scannedFiles == 0 && janOnly.prunedFiles >= 1,
      s"got $janOnly")
  }

  test("dropMonths: retention is a manifest edit — no data touched, time travel intact, CDF sees it") {
    val root = tmpDir("cdcttl")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("created"),
      retainVersions = 8)
    t.init(Seq(
      (1L, ts("2001-01-05 00:00:00")), (2L, ts("2001-02-05 00:00:00")),
      (3L, ts("2001-03-05 00:00:00")), (4L, ts("2001-03-20 00:00:00")))
      .toDF("id", "created"))
    val v1 = t.currentVersion.get
    val before = t.manifest(v1).toMap

    val dropped = t.retainMonthsFrom("2001-03")
    assert(dropped == Set("2001-01", "2001-02"))
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(3L, 4L))
    val v2 = t.currentVersion.get
    // kept months re-point at the SAME dirs; dropped dirs still on disk
    // (time travel) until GC
    assert(t.manifest(v2).toMap == before.filterKeys(_ >= "2001-03").toMap)
    assert(new java.io.File(s"$root/t/${before("2001-01")}").isDirectory,
      "dropped month's data must survive for retained versions")
    assert(t.readVersion(v1).count() == 4L)

    // the change feed reports the dropped rows as plain deletes
    val feed = t.changesBetween(v1, v2)
      .select("id", CdcTable.ChangeTypeCol).as[(Long, String)].collect().toSet
    assert(feed == Set((1L, "delete"), (2L, "delete")), s"got $feed")

    // idempotent re-run burns no version; unpartitioned tables reject
    t.retainMonthsFrom("2001-03"): Unit
    assert(t.currentVersion.contains(v2))
    val u = new CdcTable(spark, s"$root/u", Seq("id"))
    u.init(Seq((1L, 1L)).toDF("id", "v"))
    intercept[IllegalArgumentException](u.dropMonths(Set("2001-01")))

    // after expiry pushes v1 out of retention, GC collects the dropped dirs
    val keep = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("created"),
      retainVersions = 1)
    keep.expire()
    assert(!new java.io.File(s"$root/t/${before("2001-01")}").exists(),
      "unreferenced dropped-month dirs must be collected once out of retention")
  }

  test("commit history records operation provenance per retained version, newest first") {
    val path = tmpDir("cdchistory") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 10)
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    t.merge(Seq((2L, "b", 2L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    t.append(Seq((9L, "z", 3L): (Long, String, Long)).toDF("id", "v", "ts"))
    t.update(col("id") === 2L, Map("v" -> lit("b2")))
    t.delete(col("id") === 9L)
    t.compact()
    t.restore(t.currentVersion.get - 1)
    val h = t.history.collect().map(r =>
      (r.getLong(0), r.getString(1), r.isNullAt(2), r.getLong(3)))
    assert(h.map(_._1).toSeq == h.map(_._1).sortBy(-_).toSeq, "newest first")
    assert(h.reverse.map(_._2).toSeq ==
      Seq("CREATE", "MERGE", "APPEND", "UPDATE", "DELETE", "COMPACT", "RESTORE"))
    assert(h.forall(r => !r._3 && r._4 >= 1), s"ts/files missing: ${h.toSeq}")
    // partitioned layout records provenance too (manifest-based file counts)
    val p = new CdcTable(spark, tmpDir("cdchistp") + "/t", Seq("id"),
      partitionSource = Some("created"))
    p.init(Seq((1L, 1, ts("2001-01-05 00:00:00"))).toDF("id", "qty", "created"))
    p.merge(Seq((2L, 2, ts("2001-02-05 00:00:00"), ts("2001-02-05 00:00:00"), "c"))
      .toDF("id", "qty", "created", "mts", "__op"), "mts")
    val ph = p.history.collect().map(r => (r.getString(1), r.getLong(3)))
    assert(ph.reverse.map(_._1).toSeq == Seq("CREATE", "MERGE"))
    assert(ph.forall(_._2 >= 1))
  }

  test("cloneTo: metadata-speed snapshot clone is self-contained on both layouts") {
    import graft.ops.CdcTable.ConstraintViolationException
    // unpartitioned
    val t = new CdcTable(spark, tmpDir("clonesrc") + "/t", Seq("id"), retainVersions = 2)
    t.init(Seq((1L, "a", 5L), (2L, "b", 6L)).toDF("id", "v", "amt"))
    t.addConstraint("amt_pos", "amt > 0")
    val snapshot = t.read.orderBy("id").collect().toSeq
    val c = t.cloneTo(tmpDir("clonedst") + "/t")
    assert(c.read.orderBy("id").collect().toSeq == snapshot)
    // clone history starts with one CLONE record; constraint carried
    val h = c.history.collect()
    assert(h.length == 1 && h(0).getString(1) == "CLONE")
    intercept[ConstraintViolationException] {
      c.append(Seq((9L, "x", -1L): (Long, String, Long)).toDF("id", "v", "amt"))
    }
    // self-contained: source churns past its retention, clone unaffected
    (3 to 6).foreach { i =>
      t.merge(Seq((i.toLong, s"r$i", i.toLong, i.toLong))
        .toDF("id", "v", "amt", "ts")
        .withColumn("__op", lit("c")), "ts")
    }
    t.compact()
    assert(c.read.orderBy("id").collect().toSeq == snapshot,
      "source churn/compaction/expiry must not reach the clone")
    // and the clone evolves independently without touching the source
    c.append(Seq((7L, "z", 9L): (Long, String, Long)).toDF("id", "v", "amt"))
    assert(t.read.filter(col("id") === 7L).count() == 0)

    // partitioned: a month spanning two commit dirs folds into one clone
    // month dir with unique names; content identical
    val p = new CdcTable(spark, tmpDir("clonesrcp") + "/t", Seq("id"),
      partitionSource = Some("created"))
    p.init(Seq((1L, 1, ts("2003-01-05 00:00:00")), (2L, 2, ts("2003-02-05 00:00:00")))
      .toDF("id", "qty", "created"))
    p.append(Seq((3L, 3, ts("2003-01-06 00:00:00")): (Long, Int, java.sql.Timestamp))
      .toDF("id", "qty", "created"))
    val pc = p.cloneTo(tmpDir("clonedstp") + "/t")
    assert(pc.read.orderBy("id").collect().toSeq == p.read.orderBy("id").collect().toSeq)
    // pruned reads work over the carried sidecars
    val (kept, total) = pc.scanProfile(Seq(graft.ops.FileSkipping.Range("id", Some(1L), Some(1L))))
    assert(total >= 1 && kept <= total)
  }

  test("CHECK constraints: violating commits reject before any version is reserved; NULL passes") {
    import graft.ops.CdcTable.ConstraintViolationException
    val path = tmpDir("cdccheck") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 10L)).toDF("id", "v", "amt"))
    t.addConstraint("amt_nonneg", "amt >= 0")
    val v1 = t.currentVersion.get
    // a violating merge burns nothing
    intercept[ConstraintViolationException] {
      t.merge(Seq((2L, "b", -5L, 2L, "c")).toDF("id", "v", "amt", "ts", "__op"), "ts")
    }
    assert(t.currentVersion.contains(v1), "violating merge must not commit")
    assert(t.read.count() == 1)
    // NULL evaluates to pass (SQL CHECK semantics); valid rows commit
    t.merge(Seq((3L, "c", null.asInstanceOf[java.lang.Long], 2L, "c"))
      .toDF("id", "v", "amt", "ts", "__op"), "ts")
    t.append(Seq((4L, "d", 7L): (Long, String, Long)).toDF("id", "v", "amt"))
    assert(t.read.count() == 3)
    // violating append rejects too
    intercept[ConstraintViolationException] {
      t.append(Seq((5L, "e", -1L): (Long, String, Long)).toDF("id", "v", "amt"))
    }
    // a second writer handle sees the persisted constraint
    intercept[ConstraintViolationException] {
      new CdcTable(spark, path, Seq("id"))
        .append(Seq((6L, "f", -2L): (Long, String, Long)).toDF("id", "v", "amt"))
    }
    // declaring a constraint existing rows violate rejects the declaration
    intercept[ConstraintViolationException](t.addConstraint("amt_big", "amt >= 100"))
    assert(t.constraints.map(_._1) == Seq("amt_nonneg"))
    // dropped constraint stops gating; unknown drop rejects
    t.dropConstraint("amt_nonneg")
    t.append(Seq((5L, "e", -1L): (Long, String, Long)).toDF("id", "v", "amt"))
    assert(t.read.count() == 4)
    intercept[IllegalArgumentException](t.dropConstraint("nope"))
    // partitioned layout enforces through its commit funnel too
    val p = new CdcTable(spark, tmpDir("cdccheckp") + "/t", Seq("id"),
      partitionSource = Some("created"))
    p.init(Seq((1L, 1, ts("2002-01-05 00:00:00"))).toDF("id", "qty", "created"))
    p.addConstraint("qty_pos", "qty > 0")
    intercept[ConstraintViolationException] {
      p.merge(Seq((2L, 0, ts("2002-01-06 00:00:00"), ts("2002-01-06 00:00:00"), "c"))
        .toDF("id", "qty", "created", "mts", "__op"), "mts")
    }
    assert(p.read.count() == 1)
  }

  test("merge is idempotent across restarts (same batch re-applied)") {
    val path = tmpDir("cdctable") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    val batch = Seq((1L, "a2", 2L, "u"), (2L, "b", 2L, "c")).toDF("id", "v", "ts", "__op")
    t.merge(batch, "ts")
    val first = t.read.orderBy("id").collect().toSeq
    t.merge(batch, "ts")
    assert(t.read.orderBy("id").collect().toSeq == first)
  }

  test("first batch bootstraps the table, deletes filtered") {
    val path = tmpDir("cdctable") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.merge(Seq((1L, "a", 1L, "c"), (2L, "gone", 1L, "d")).toDF("id", "v", "ts", "__op"), "ts")
    assert(t.read.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("versioned commits: every merge is a new immutable version; time travel reads history") {
    val path = tmpDir("cdcversions") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    assert(t.currentVersion.contains(1L))
    t.merge(Seq((1L, "a2", 2L, "u")).toDF("id", "v", "ts", "__op"), "ts")
    assert(t.currentVersion.contains(2L))
    assert(t.versions == Seq(1L, 2L))
    // time travel: v1 still holds the pre-merge state
    assert(t.readVersion(1L).select("v").as[String].head() == "a")
    assert(t.read.select("v").as[String].head() == "a2")
  }

  test("auto-compaction: K small appends keep a hot month's live file count bounded; history stays time-travelable") {
    val path = tmpDir("autocompact") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"),
      retainVersions = 8, autoCompactMaxFiles = Some(4))
    t.init(Seq((0L, "seed", ts("2024-01-01 00:00:00"))).toDF("id", "v", "created_at"))
    // each append adds a commit dir (>=1 file) to the hot 2024-01 month;
    // without the policy the month's file count grows linearly forever
    (1 to 9).foreach { i =>
      t.append(Seq((i.toLong, s"r$i", ts("2024-01-02 00:00:00"))).toDF("id", "v", "created_at"))
    }
    val counts = t.liveFileCounts
    assert(counts("2024-01") <= 4,
      s"policy must fold the hot month back under the threshold, got $counts")
    // nothing lost: all 10 rows live
    assert(t.read.count() == 10)
    // and a retained pre-compaction version still reads (time travel intact)
    val past = t.versions.dropRight(1).last
    assert(t.readVersion(past).count() >= 1)

    // a month under the threshold is never rewritten: its manifest entry
    // (commit dir) is carried over byte-identical by later commits
    t.append(Seq((100L, "feb", ts("2024-02-10 00:00:00"))).toDF("id", "v", "created_at"))
    val febEntry = t.manifest(t.currentVersion.get).filter(_._1 == "2024-02")
    t.append(Seq((11L, "more-jan", ts("2024-01-03 00:00:00"))).toDF("id", "v", "created_at"))
    assert(t.manifest(t.currentVersion.get).filter(_._1 == "2024-02") == febEntry)

    // unpartitioned policy: append commit dirs accumulate files,
    // compactIfNeeded folds them when over the threshold
    val up = new CdcTable(spark, tmpDir("autocompact") + "/u", Seq("id"),
      retainVersions = 8, autoCompactMaxFiles = Some(4))
    up.init(Seq((1L, "a")).toDF("id", "v"))
    (2 to 8).foreach(i => up.append(Seq((i.toLong, s"r$i")).toDF("id", "v")))
    assert(up.liveFileCounts("") <= 4)
    assert(up.read.count() == 8)
  }

  test("crash recovery: an orphan version dir (commit died before pointer move) is invisible") {
    val path = tmpDir("cdccrash") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    // simulate a commit that wrote data but crashed before the pointer
    // rename: a future-numbered dir the pointer never reached
    Seq((9L, "junk", 9L)).toDF("id", "v", "ts")
      .write.parquet(s"$path/v00000099")
    // reads ignore the orphan entirely (pointer-driven resolution)
    assert(t.read.select("id").as[Long].collect().toSeq == Seq(1L))
    // the next successful commit proceeds from the pointer; the orphan
    // stays on disk (it could be a live writer's reservation — only the
    // takeover path may reclaim it) but is never readable
    t.merge(Seq((2L, "b", 2L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    assert(t.currentVersion.contains(2L))
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    intercept[java.io.FileNotFoundException](t.readVersion(98L))
  }

  test("commit conflict: a reserved next version makes merge throw; mergeWithRetry reclaims and lands it") {
    val path = tmpDir("cdcconflict") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    // another writer (crashed mid-commit) holds v2
    Seq((9L, "junk", 9L)).toDF("id", "v", "ts").write.parquet(s"$path/v00000002")
    val batch = Seq((2L, "b", 2L, "c")).toDF("id", "v", "ts", "__op")
    intercept[CdcTable.CommitConflictException](t.merge(batch, "ts"))
    // state untouched by the failed attempt
    assert(t.currentVersion.contains(1L))
    assert(t.read.select("id").as[Long].collect().toSeq == Seq(1L))
    // the retry loop backs off, reclaims the dead reservation, commits
    t.mergeWithRetry(batch, "ts", maxTries = 3, sleepMs = 1L)
    assert(t.currentVersion.contains(2L))
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    assert(t.read.filter($"v" === "junk").count() == 0)
  }

  test("two writers on one table: concurrent mergeWithRetry lands both batches") {
    val path = tmpDir("cdcwriters") + "/t"
    new CdcTable(spark, path, Seq("id")).init(Seq((0L, "base", 1L)).toDF("id", "v", "ts"))
    val writers = Seq(1L, 2L).map { k =>
      new Thread(() => {
        val w = new CdcTable(spark, path, Seq("id"))
        w.mergeWithRetry(
          Seq((k, s"w$k", 2L, "c")).toDF("id", "v", "ts", "__op"), "ts",
          maxTries = 20, sleepMs = 50L)
      })
    }
    writers.foreach(_.start())
    writers.foreach(_.join(120000))
    val t = new CdcTable(spark, path, Seq("id"))
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(0L, 1L, 2L))
    assert(t.currentVersion.contains(3L))
  }

  test("snapshot expiry: history beyond retainVersions is dropped, current never touched") {
    val path = tmpDir("cdcexpire") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 2)
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    t.merge(Seq((1L, "b", 2L, "u")).toDF("id", "v", "ts", "__op"), "ts")
    t.merge(Seq((1L, "c", 3L, "u")).toDF("id", "v", "ts", "__op"), "ts")
    assert(t.versions == Seq(2L, 3L)) // v1 expired
    assert(t.read.select("v").as[String].head() == "c")
    intercept[java.io.FileNotFoundException](t.readVersion(1L))
  }

  test("partitioned merge rewrites only touched month partitions") {
    val path = tmpDir("cdctable") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "jan", ts("2024-01-10 00:00:00"), 1L),
      (2L, "feb", ts("2024-02-10 00:00:00"), 1L),
      (3L, "mar", ts("2024-03-10 00:00:00"), 1L)
    ).toDF("id", "v", "created_at", "ts"))

    val febFilesBefore = partFiles(t, "2024-02")
    val marFilesBefore = partFiles(t, "2024-03")

    // batch touches only January
    t.merge(
      Seq((1L, "jan2", ts("2024-01-10 00:00:00"), 2L, "u"),
          (4L, "jan-new", ts("2024-01-20 00:00:00"), 2L, "c"))
        .toDF("id", "v", "created_at", "ts", "__op"),
      "ts")

    // untouched partitions: same physical files (copy-on-write pruning)
    assert(partFiles(t, "2024-02") == febFilesBefore)
    assert(partFiles(t, "2024-03") == marFilesBefore)
    val got = t.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "jan2"), (2L, "feb"), (3L, "mar"), (4L, "jan-new")))
  }

  test("moved partition key: an update that changes the month leaves exactly one row per key") {
    val path = tmpDir("cdcmove") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "jan", ts("2024-01-10 00:00:00"), 1L),
      (2L, "jan", ts("2024-01-15 00:00:00"), 1L)
    ).toDF("id", "v", "created_at", "ts"))
    // id=1 moves from January to February
    t.merge(
      Seq((1L, "feb-now", ts("2024-02-01 00:00:00"), 2L, "u"))
        .toDF("id", "v", "created_at", "ts", "__op"),
      "ts")
    val got = t.read.orderBy("id").select("id", "v").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "feb-now"), (2L, "jan")))
    // the old January copy is gone (no duplicate key across partitions)
    assert(t.read.filter(col("id") === 1L).count() == 1)
  }

  test("moved partition key: sole row of a partition moving away drops the month from the manifest") {
    val path = tmpDir("cdcmove2") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq((1L, "jan", ts("2024-01-10 00:00:00"), 1L))
      .toDF("id", "v", "created_at", "ts"))
    t.merge(
      Seq((1L, "feb", ts("2024-02-01 00:00:00"), 2L, "u"))
        .toDF("id", "v", "created_at", "ts", "__op"),
      "ts")
    assert(t.read.count() == 1)
    assert(t.read.select("v").as[String].head() == "feb")
    // the live manifest no longer references January at all
    assert(t.manifest(t.currentVersion.get).map(_._1) == Seq("2024-02"))
  }

  test("partitioned time travel: old manifests still resolve pre-merge content") {
    val path = tmpDir("cdcpttt") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "jan", ts("2024-01-10 00:00:00"), 1L),
      (2L, "feb", ts("2024-02-10 00:00:00"), 1L)
    ).toDF("id", "v", "created_at", "ts"))
    t.merge(Seq((1L, "jan2", ts("2024-01-10 00:00:00"), 2L, "u"))
      .toDF("id", "v", "created_at", "ts", "__op"), "ts")
    assert(t.currentVersion.contains(2L))
    // v1 still reads the original January row; v2 the merged one; the
    // untouched February files serve both versions from the same commit dir
    assert(t.readVersion(1L).filter($"id" === 1L).select("v").as[String].head() == "jan")
    assert(t.read.filter($"id" === 1L).select("v").as[String].head() == "jan2")
    assert(t.manifest(1L).toMap.apply("2024-02") == t.manifest(2L).toMap.apply("2024-02"))
  }

  test("partitioned crash recovery: orphan commit dir + manifest (no pointer move) are invisible") {
    val path = tmpDir("cdcptcrash") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq((1L, "jan", ts("2024-01-10 00:00:00"), 1L))
      .toDF("id", "v", "created_at", "ts"))
    // simulate a commit that wrote data + manifest but crashed before the
    // pointer rename: a future-numbered commit dir and version dir
    Seq((9L, "junk", ts("2024-09-01 00:00:00"), 9L)).toDF("id", "v", "created_at", "ts")
      .write.parquet(s"$path/c00000099/${CdcTable.PartCol}=2024-09")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$path/v00000099"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/v00000099/${CdcTable.ManifestName}"),
      s"2024-09\tc00000099/${CdcTable.PartCol}=2024-09")
    // reads ignore the orphan entirely (pointer-driven resolution)
    assert(t.read.select("id").as[Long].collect().toSeq == Seq(1L))
    // the next successful commit proceeds from the pointer; the orphan
    // (possibly a live writer's in-flight reservation) stays but its
    // months never reach any readable manifest
    t.merge(Seq((2L, "b", ts("2024-01-20 00:00:00"), 2L, "c"))
      .toDF("id", "v", "created_at", "ts", "__op"), "ts")
    assert(t.currentVersion.contains(2L))
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    assert(t.manifest(t.currentVersion.get).forall(_._1 != "2024-09"))
  }

  test("partitioned append adds manifest entries without rewriting; compact folds them back") {
    val path = tmpDir("cdcptappend") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq((1L, "a", ts("2024-01-10 00:00:00"), 1L)).toDF("id", "v", "created_at", "ts"))
    t.append(Seq((2L, "b", ts("2024-01-11 00:00:00"), 1L)).toDF("id", "v", "created_at", "ts"))
    // January now spans two commit dirs (no rewrite of the first batch)
    assert(t.manifest(t.currentVersion.get).count(_._1 == "2024-01") == 2)
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    t.compact(1)
    assert(t.manifest(t.currentVersion.get).count(_._1 == "2024-01") == 1)
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
  }

  test("delete arriving with a different month than the stored row still deletes") {
    val path = tmpDir("cdcmove3") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "jan", ts("2024-01-10 00:00:00"), 1L),
      (2L, "jan", ts("2024-01-15 00:00:00"), 1L)
    ).toDF("id", "v", "created_at", "ts"))
    // the delete's row image carries a March timestamp; the stored row is
    // in January — without the moved-key guard this would silently no-op
    t.merge(
      Seq((1L, null.asInstanceOf[String], ts("2024-03-01 00:00:00"), 2L, "d"))
        .toDF("id", "v", "created_at", "ts", "__op"),
      "ts")
    assert(t.read.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("unpartitioned append commits a new version; prior snapshots stay immutable") {
    val path = tmpDir("cdcappendver") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    val v1 = t.currentVersion.get
    val snapshotBefore = t.readVersion(v1).orderBy("id").collect().toSeq
    def files = t.filesInfo.select("data_dir", "file").as[(String, String)].collect().toSet
    val f1 = files
    t.append(Seq((2L, "b", 2L)).toDF("id", "v", "ts"))
    val f2 = files
    // the append is a NEW version; v1 (and any reader holding it) is untouched
    assert(t.currentVersion.contains(v1 + 1))
    assert(t.readVersion(v1).orderBy("id").collect().toSeq == snapshotBefore)
    assert(t.read.orderBy("id").select("id").as[Long].collect().toSeq == Seq(1L, 2L))
    // the prior files carry by manifest entry (same dir, same name, never
    // rewritten); the append only adds the batch's files
    assert(f1.subsetOf(f2) && f2.size > f1.size, s"before=$f1 after=$f2")
  }

  /** A table as the earlier full-copy unpartitioned layout left it:
    * `_current` -> v00000001, the `_table_meta` sidecar, and the data
    * directly under `v00000001/` with no manifest.
    */
  private def legacyTable(path: String, rows: Seq[(Long, String, Long)]): String = {
    rows.toDF("id", "v", "ts").coalesce(1).write.parquet(s"$path/v00000001")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, CdcTable.CurrentPointer), "v00000001")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path, CdcTable.TableMetaName),
      Seq("keys\tid", "partitionSource\t", "partitionGranularity\tmonth",
        "bloomColumns\t", "ndvColumns\t").mkString("\n"))
    new java.io.File(s"$path/v00000001").list().filter(_.endsWith(".parquet")).head
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
    df.select("id", "v", "ts").as[(Long, String, Long)].collect().toSeq.sorted

  test("legacy full-copy version: open, read, merge, append, restore and expire") {
    val path = tmpDir("cdclegacyv") + "/t"
    val v1Rows = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
    legacyTable(path, v1Rows)
    val t = CdcTable.open(spark, path, retainVersions = 3)
    assert(t.keys == Seq("id") && t.partitionSource.isEmpty)
    assert(rowsOf(t.read) == v1Rows)
    assert(rowsOf(t.readVersion(1L)) == v1Rows)

    t.merge(Seq((2L, "b2", 2L, "u"), (4L, "d", 2L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    val merged = Seq((1L, "a", 1L), (2L, "b2", 2L), (3L, "c", 1L), (4L, "d", 2L))
    assert(rowsOf(t.read) == merged)
    t.append(Seq((5L, "e", 3L)).toDF("id", "v", "ts"))
    assert(rowsOf(t.read) == merged :+ ((5L, "e", 3L)))
    assert(rowsOf(t.readVersion(1L)) == v1Rows)

    t.restore(1L)
    assert(rowsOf(t.read) == v1Rows)
    // v5 puts v1 and v2 past retention: v2 expires, but v1's dir is the
    // data the retained restore (v4) names, so it stays readable
    t.merge(Seq((1L, "a2", 4L, "u")).toDF("id", "v", "ts", "__op"), "ts")
    t.expire()
    assert(!t.versions.contains(2L), s"versions: ${t.versions}")
    assert(rowsOf(t.readVersion(4L)) == v1Rows)
    assert(rowsOf(t.readVersion(1L)) == v1Rows)
    val afterMerge = Seq((1L, "a2", 4L), (2L, "b", 1L), (3L, "c", 1L))
    assert(rowsOf(t.read) == afterMerge)
    assert(rowsOf(CdcTable.open(spark, path).read) == afterMerge)

    // once no retained manifest names it, the legacy dir is collected too
    t.merge(Seq((6L, "f", 5L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    assert(new java.io.File(path, "v00000001").exists())
    t.merge(Seq((7L, "g", 6L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    assert(!new java.io.File(path, "v00000001").exists())
    assert(rowsOf(t.read) == afterMerge ++ Seq((6L, "f", 5L), (7L, "g", 6L)))
  }

  test("legacy full-copy version with a deletion vector keeps its deletes across carries") {
    val path = tmpDir("cdclegacydv") + "/t"
    val file = legacyTable(path, Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)))
    // the earlier layout's vector: an empty sub for its one dir; row 0 is id 1
    Seq(("", file, 0L)).toDF("sub", "file", "idx")
      .write.parquet(s"$path/dv/v00000001/${CdcTable.DeletesName}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/dv/v00000001", CdcTable.DeletesSummaryName),
      s"v00000001\t$file\t1")
    val t = CdcTable.open(spark, path)
    val live = Seq((2L, "b", 1L), (3L, "c", 1L))
    assert(rowsOf(t.read) == live)
    assert(t.countWhere() == 2L)

    t.append(Seq((4L, "d", 2L)).toDF("id", "v", "ts"))
    assert(rowsOf(t.read) == live :+ ((4L, "d", 2L)))
    t.deleteVectored(col("id") === 3L)
    val afterDelete = Seq((2L, "b", 1L), (4L, "d", 2L))
    assert(rowsOf(t.read) == afterDelete)
    assert(t.countWhere() == 2L)
    assert(rowsOf(t.cloneTo(tmpDir("cdclegacydv") + "/c").read) == afterDelete)
    t.restore(1L)
    assert(rowsOf(t.read) == live)
    t.materializeDeletes()
    assert(t.dvSummary(t.currentVersion.get).isEmpty)
    assert(rowsOf(t.read) == live)
  }

  test("a retained version dir that lost its manifest reads as expired, not as legacy data") {
    val root = tmpDir("cdcnomanifest")
    Seq(None, Some("created")).foreach { ps =>
      val t = new CdcTable(spark, s"$root/${ps.isDefined}", Seq("id"), partitionSource = ps)
      t.init(Seq((1L, ts("2001-01-05 00:00:00"))).toDF("id", "created"))
      t.append(Seq((2L, ts("2001-02-05 00:00:00"))).toDF("id", "created"))
      // a half-done expiry: the version dir survives, its manifest does not
      assert(new java.io.File(s"${t.path}/v00000001", CdcTable.ManifestName).delete())
      assert(t.versions.contains(1L))
      intercept[CdcTable.ExpiredVersionException](t.readVersion(1L))
      intercept[CdcTable.ExpiredVersionException](t.changesBetween(1L, 2L))
      assert(t.read.count() == 2L)
    }
  }

  test("pre-versioning hive-at-root layout fails loudly instead of bootstrapping beside it") {
    val path = tmpDir("cdclegacy") + "/t"
    // a legacy table: bare parquet at the root, no _current pointer
    Seq((1L, "old", 1L)).toDF("id", "v", "ts").write.parquet(path)
    val t = new CdcTable(spark, path, Seq("id"))
    val e = intercept[IllegalStateException] {
      t.merge(Seq((2L, "new", 2L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    }
    assert(e.getMessage.contains("pre-versioning"))
  }

  test("compaction rewrites to target file count, content unchanged") {
    val path = tmpDir("cdctable") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(spark.range(1000).select($"id", ($"id" % 7).as("v")).repartition(8))
    val before = t.read.orderBy("id").collect().toSeq
    t.compact(1)
    assert(t.filesInfo.count() == 1)
    assert(t.read.orderBy("id").collect().toSeq == before)
  }

  test("maintain(): one pass clears DV debt, compacts, expires, analyzes; repeat is a no-op") {
    val path = tmpDir("cdcmaint") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 2,
      ndvColumns = Seq("v"))
    t.init(spark.range(1000).select($"id", ($"id" % 7).as("v")).repartition(8))
    t.deleteVectored($"id" % 3 === 0L) // heavy debt: a third of the rows
    val before = t.read.orderBy("id").collect().toSeq

    val r1 = t.maintain(maxFiles = 4)
    assert(r1.materializedDeletes, "a 33% vector must trip the default 5% policy")
    assert(r1.analyzed)
    assert(t.dvSummary(t.currentVersion.get).isEmpty, "debt cleared")
    assert(t.read.orderBy("id").collect().toSeq == before, "content unchanged")
    assert(t.columnStats.exists(_.exists(_.column == "v")), "ANALYZE persisted")

    // steady state: nothing to do — zero versions burned
    val v = t.currentVersion.get
    val r2 = t.maintain(maxFiles = 4)
    assert(!r2.materializedDeletes && !r2.compacted && r2.analyzed)
    assert(t.currentVersion.get == v)
  }

  /** Physical files currently serving `month`, resolved via the live
    * manifest (the commit-dir paths change per version; identity of the
    * untouched files should not).
    */
  private def partFiles(t: CdcTable, month: String): Set[String] = {
    t.manifest(t.currentVersion.get).filter(_._1 == month).flatMap { case (_, rel) =>
      val d = new java.io.File(t.path, rel)
      Option(d.listFiles()).toSeq.flatten.map(f => f.getPath + ":" + f.lastModified())
    }.toSet
  }
}
