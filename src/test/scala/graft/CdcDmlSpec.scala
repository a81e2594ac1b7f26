package graft

import org.apache.spark.sql.functions._
import graft.ops.CdcTable

/** Predicate UPDATE/DELETE (copy-on-write DML) and the change data feed
  * derived from versioned snapshots.
  */
class CdcDmlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("unpartitioned UPDATE applies assignments to matching rows only; RHS sees the old row") {
    val path = tmpDir("dml") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "amt"))
    // swap-style assignment: both RHS must see pre-update values
    t.update(col("amt") >= 20L, Map(
      "v" -> concat(col("v"), lit("!")),
      "amt" -> (col("amt") + length(col("v")))))
    val got = t.read.orderBy("id").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "b!", 21L), (3L, "c!", 31L)))
  }

  test("unpartitioned DELETE removes matching rows; null predicate keeps the row") {
    val path = tmpDir("dml") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "x")).toDF("id", "v"))
    t.delete(col("v") === "x") // null === 'x' is null -> row 2 must survive
    assert(t.read.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("no-match UPDATE/DELETE burns no version; unknown SET column still rejects") {
    val path = tmpDir("dml") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a")).toDF("id", "v"))
    val v = t.currentVersion
    t.update(col("v") === "zzz", Map("v" -> lit("w")))
    t.delete(col("v") === "zzz")
    assert(t.currentVersion == v)
    // the loud-reject policy must not depend on whether the predicate matches
    intercept[IllegalArgumentException] {
      t.update(col("v") === "zzz", Map("nonexistent" -> lit(1)))
    }
  }

  test("partitioned DELETE matching every row leaves a readable empty table") {
    val path = tmpDir("dml") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "a", ts("2024-01-05 00:00:00")),
      (2L, "b", ts("2024-02-20 00:00:00"))).toDF("id", "v", "created_at"))
    t.delete(lit(true))
    assert(t.read.count() == 0)
    assert(t.read.columns.toSeq == Seq("id", "v", "created_at"))
    // and the empty table accepts new data again
    t.merge(Seq((3L, "c", ts("2024-03-01 00:00:00"), 1L, "c"))
      .toDF("id", "v", "created_at", "ts", "__op"), "ts")
    assert(t.read.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("Dml parser: WHERE inside a string literal belongs to the SET expression") {
    val u = graft.ops.Dml.parse("UPDATE t SET note = 'use where needed', amt = 1")
    u match {
      case graft.ops.Dml.Update(_, set, where) =>
        assert(set == Seq("note" -> "'use where needed'", "amt" -> "1"))
        assert(where.isEmpty)
      case other => fail(s"expected Update, got $other")
    }
    val u2 = graft.ops.Dml.parse("UPDATE t SET v = concat(v, ',x') WHERE amt > 2")
    u2 match {
      case graft.ops.Dml.Update(_, set, where) =>
        assert(set == Seq("v" -> "concat(v, ',x')"))
        assert(where.contains("amt > 2"))
      case other => fail(s"expected Update, got $other")
    }
    intercept[IllegalArgumentException](
      graft.ops.Dml.parse("DELETE FROM t USING other"))
  }

  test("partitioned UPDATE rewrites only touched months; moved partition key lands in its new month") {
    val path = tmpDir("dml") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "a", ts("2024-01-05 00:00:00")),
      (2L, "b", ts("2024-01-20 00:00:00")),
      (3L, "c", ts("2024-02-10 00:00:00"))).toDF("id", "v", "created_at"))
    val febBefore = t.manifest(t.currentVersion.get).filter(_._1 == "2024-02")

    // moves id=2 from 2024-01 into 2024-03; 2024-02 has no match
    t.update(col("id") === 2L, Map("created_at" -> lit(ts("2024-03-15 00:00:00"))))

    val got = t.read.orderBy("id")
      .select(col("id"), date_format(col("created_at"), "yyyy-MM").as("m"))
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "2024-01"), (2L, "2024-03"), (3L, "2024-02")))
    // untouched month 2024-02 still points at its original commit dir
    val febAfter = t.manifest(t.currentVersion.get).filter(_._1 == "2024-02")
    assert(febAfter == febBefore)
    // old january copy of id=2 is gone (exactly one row per id)
    assert(t.read.groupBy("id").count().filter(col("count") > 1).isEmpty)
  }

  test("partitioned DELETE prunes to matching months") {
    val path = tmpDir("dml") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "a", ts("2024-01-05 00:00:00")),
      (2L, "b", ts("2024-02-20 00:00:00"))).toDF("id", "v", "created_at"))
    val febBefore = t.manifest(t.currentVersion.get).filter(_._1 == "2024-02")
    t.delete(col("id") === 1L)
    assert(t.read.select("id").as[Long].collect().toSeq == Seq(2L))
    assert(t.manifest(t.currentVersion.get).filter(_._1 == "2024-02") == febBefore)
  }

  test("readMonths scans only the named months' files") {
    val path = tmpDir("readmonths") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"))
    t.init(Seq(
      (1L, "a", ts("2024-01-05 00:00:00")),
      (2L, "b", ts("2024-02-20 00:00:00")),
      (3L, "c", ts("2024-03-10 00:00:00"))).toDF("id", "v", "created_at"))

    val jan = t.readMonths(Set("2024-01"))
    assert(jan.select("id").as[Long].collect().toSeq == Seq(1L))
    // manifest-level pruning: only the requested month's files are read
    val files = jan.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("__part_month=2024-01")), files.mkString(","))

    assert(t.readMonths(Set("2024-02", "2024-03")).count() == 2)
    assert(t.readMonths(Set("2030-12")).count() == 0)
  }

  test("restore commits a historical version's content as a new version") {
    val path = tmpDir("restore") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), retainVersions = 5)
    t.init(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val good = t.currentVersion.get
    t.delete(lit(true)) // fat-finger wipe
    assert(t.read.count() == 0)
    t.restore(good)
    assert(t.read.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // rollback moved history FORWARD: the wipe remains inspectable
    assert(t.currentVersion.get > good + 1)
    assert(t.readVersion(good + 1).count() == 0)

    // partitioned layout restores through the same path
    val p2 = tmpDir("restore") + "/p"
    val tp = new CdcTable(spark, p2, Seq("id"), partitionSource = Some("created_at"),
      retainVersions = 5)
    tp.init(Seq((1L, "x", ts("2024-01-05 00:00:00"))).toDF("id", "v", "created_at"))
    val pGood = tp.currentVersion.get
    tp.update(col("id") === 1L, Map("v" -> lit("bad")))
    tp.restore(pGood)
    assert(tp.read.select("v").as[String].head() == "x")
  }

  test("changesBetween tags insert, delete, and update pre/post images") {
    val path = tmpDir("cdf") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val v1 = t.currentVersion.get
    t.merge(Seq((2L, "b2", 1L, "u"), (4L, "d", 1L, "c"), (3L, null.asInstanceOf[String], 1L, "d"))
      .toDF("id", "v", "ts", "__op"), "ts")
    val v2 = t.currentVersion.get

    val cdf = t.changesBetween(v1, v2)
      .select(col("id"), col("v"), col(CdcTable.ChangeTypeCol).as("ct"))
      .as[(Long, String, String)].collect().toSet
    assert(cdf == Set(
      (4L, "d", "insert"),
      (3L, "c", "delete"),
      (2L, "b", "update_preimage"),
      (2L, "b2", "update_postimage")))
    // unchanged rows (id=1) produce no feed entries
    assert(!cdf.exists(_._1 == 1L))
  }

  test("changesBetween on a partitioned table reads only months whose manifests differ") {
    val path = tmpDir("cdfprune") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"),
      retainVersions = 5)
    val rows = (0 until 120).map { i =>
      (i.toLong, s"v$i", ts(f"2024-${1 + i % 4}%02d-10 00:00:00"))
    }
    t.init(rows.toDF("id", "v", "created_at"))
    val v1 = t.currentVersion.get
    // touch ONLY February (id 1 lives there); the other three months'
    // manifest entries carry over as pointer copies to the same dirs
    t.merge(Seq((1L, "v1x", ts("2024-02-10 00:00:00"), 1L, "u"))
      .toDF("id", "v", "created_at", "ts", "__op"), "ts")
    val v2 = t.currentVersion.get
    val feed = t.changesBetween(v1, v2)
    // plan audit: both diff sides open only the changed month's files —
    // per-merge CDF cost scales with the delta, not the table
    val opened = feed.inputFiles.toSeq
    assert(opened.nonEmpty && opened.forall(_.contains("=2024-02")),
      s"diff must open only the changed month's files, got: $opened")
    assert(opened.length < t.read.inputFiles.length,
      "pruned diff must open strictly fewer files than a table scan")
    // and the pruned feed is still the exact row-level diff
    val cdf = feed.select(col("id"), col("v"), col(CdcTable.ChangeTypeCol).as("ct"))
      .as[(Long, String, String)].collect().toSet
    assert(cdf == Set((1L, "v1", "update_preimage"), (1L, "v1x", "update_postimage")))
  }

  test("statement-level UPDATE/DELETE parse and execute; commas in RHS survive") {
    val root = tmpDir("dmlsql")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(Seq((1L, "a", 10L), (2L, "b", 25L), (3L, "c", 30L)).toDF("id", "v", "amt"))

    graft.ops.Dml.execute(spark,
      "UPDATE t SET v = concat(v, '!', 'x'), amt = amt + length(v) WHERE amt >= 20",
      n => s"$root/$n", Seq("id"))
    assert(t.read.orderBy("id").as[(Long, String, Long)].collect().toSeq ==
      Seq((1L, "a", 10L), (2L, "b!x", 26L), (3L, "c!x", 31L)))

    graft.ops.Dml.execute(spark, "DELETE FROM t WHERE amt > 30",
      n => s"$root/$n", Seq("id"))
    assert(t.read.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // WHERE-less UPDATE touches every row
    graft.ops.Dml.execute(spark, "UPDATE t SET amt = 0", n => s"$root/$n", Seq("id"))
    assert(t.read.select("amt").as[Long].collect().toSeq.forall(_ == 0L))

    // vectoredDeletes routes a DELETE statement merge-on-read: same
    // visible result, data files carried instead of rewritten
    val mor = new CdcTable(spark, s"$root/m", Seq("id"))
    mor.init(Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "amt"))
    graft.ops.Dml.execute(spark, "DELETE FROM m WHERE amt >= 2",
      n => s"$root/$n", Seq("id"), vectoredDeletes = true)
    assert(mor.read.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(mor.dvSummary(mor.currentVersion.get).map(_._3).sum == 2L)

    // OPTIMIZE folds the versions' files down; VACUUM expires history
    val opt = new CdcTable(spark, s"$root/o", Seq("id"), retainVersions = 2)
    opt.init(spark.range(1, 101).toDF("id").withColumn("x", col("id") % 7)
      .withColumn("y", col("id") % 11).repartition(6))
    graft.ops.Dml.execute(spark, "OPTIMIZE o ZORDER BY (x, y)", n => s"$root/$n", Seq("id"))
    assert(opt.read.count() == 100L)
    graft.ops.Dml.execute(spark, "VACUUM o", n => s"$root/$n", Seq("id"))
    assert(opt.versions.size <= 2, "VACUUM must expire history beyond retention")
    intercept[IllegalArgumentException](graft.ops.Dml.parse("OPTIMIZE o ZORDER BY ()"))

    // MAINTAIN: the one-call nightly pass through the statement face
    graft.ops.Dml.execute(spark, "MAINTAIN o", n => s"$root/$n", Seq("id"))
    assert(opt.read.count() == 100L, "maintenance must not change content")
    assert(opt.versions.size <= 2)

    // SHOW PARTITIONS: the manifest's live months with file counts
    val sp = new CdcTable(spark, s"$root/sp", Seq("id"), partitionSource = Some("created"))
    sp.init(Seq((1L, ts("2001-01-05 00:00:00")), (2L, ts("2001-02-05 00:00:00")))
      .toDF("id", "created"))
    val parts = graft.ops.Dml.query(spark, "SHOW PARTITIONS sp",
      n => s"$root/$n", Seq("id"), Some("created"))
      .select("partition", "files").as[(String, Long)].collect().toSeq
    assert(parts.map(_._1) == Seq("2001-01", "2001-02") && parts.forall(_._2 >= 1L))

    // SELECT COUNT(*): metadata-answered when exactly skip-expressible,
    // scan fallback (same answer) otherwise
    val ct = new CdcTable(spark, s"$root/ct", Seq("id"))
    ct.init(spark.range(1, 1001).toDF("id")
      .withColumn("v", when(col("id") % 4 =!= 0, concat(lit("v"), col("id"))))
      .repartitionByRange(4, col("id"))) // tight per-file id ranges
    def count(sql: String): Long =
      graft.ops.Dml.query(spark, sql, n => s"$root/$n", Seq("id")).head.getLong(0)
    assert(count("SELECT COUNT(*) FROM ct") == 1000L)
    assert(count("SELECT count(*) FROM ct WHERE id >= 100 AND id <= 599") == 500L)
    assert(count("SELECT COUNT(*) FROM ct WHERE v IS NULL") == 250L)
    assert(count("SELECT COUNT(*) FROM ct WHERE id IN (1, 500, 999, 5000)") == 3L)
    // strict bound / function shapes are NOT exactly skip-expressible:
    // the extractor refuses and the scan fallback still answers exactly
    assert(graft.ops.FileSkipping.predsOfExact(expr("id > 100")).isEmpty)
    assert(graft.ops.FileSkipping.predsOfExact(expr("length(v) = 3")).isEmpty)
    // the DSL shape extracts through the same walker: strict and OR-ed
    // conditions refuse, an inclusive bound is exact
    assert(graft.ops.FileSkipping.predsOfExact(col("id") > 100).isEmpty)
    assert(graft.ops.FileSkipping.predsOfExact(col("id") > 100 || col("id") < 5).isEmpty)
    assert(graft.ops.FileSkipping.predsOfExact(col("id") >= 100) ==
      Some(Seq(graft.ops.FileSkipping.Range("id", Some(100L), None))))
    assert(count("SELECT COUNT(*) FROM ct WHERE id > 100") == 900L)
    // 743: the 7 non-null single-digit ids ("v1".."v9") have length 2
    assert(count("SELECT COUNT(*) FROM ct WHERE length(v) >= 3") == 743L)

    // time travel reads and RESTORE through the statement surface
    val tt = new CdcTable(spark, s"$root/tt", Seq("id"), retainVersions = 5)
    tt.init(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    tt.merge(Seq((2L, "b", 2L, "c")).toDF("id", "v", "ts", "__op"), "ts")
    assert(graft.ops.Dml.query(spark, "TABLE tt VERSION AS OF 1",
      n => s"$root/$n", Seq("id")).count() == 1L)
    graft.ops.Dml.execute(spark, "RESTORE tt TO VERSION AS OF 1",
      n => s"$root/$n", Seq("id"))
    assert(tt.read.select("id").as[Long].collect().toSeq == Seq(1L))
    intercept[IllegalArgumentException](
      graft.ops.Dml.execute(spark, "TABLE tt VERSION AS OF 1", n => s"$root/$n", Seq("id")))

    intercept[IllegalArgumentException](graft.ops.Dml.parse("TRUNCATE TABLE t"))
    intercept[IllegalArgumentException](graft.ops.Dml.parse("UPDATE t SET WHERE x = 1"))

    // DESCRIBE HISTORY: the statements above left an auditable commit log
    val h = graft.ops.Dml.query(spark, "DESCRIBE HISTORY t", n => s"$root/$n", Seq("id"))
      .select("operation").as[String].collect().toSeq
    // the CREATE version has aged past the default retention window; the
    // log covers exactly the retained (time-travelable) history
    assert(h.reverse == Seq("UPDATE", "DELETE", "UPDATE"), h)
    // read statements reject through execute, write statements through query
    intercept[IllegalArgumentException](graft.ops.Dml.execute(spark,
      "DESCRIBE HISTORY t", n => s"$root/$n", Seq("id")))
    intercept[IllegalArgumentException](graft.ops.Dml.query(spark,
      "DELETE FROM t WHERE amt > 30", n => s"$root/$n", Seq("id")))
  }

  test("statement-level INSERT appends through a new versioned commit") {
    val root = tmpDir("dmlins")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(Seq((1L, "a", 10L)).toDF("id", "v", "amt"))
    val v0 = t.currentVersion.get

    // VALUES with a column list: literals coerce to the stored types,
    // the missing column null-fills, expressions evaluate
    graft.ops.Dml.execute(spark,
      "INSERT INTO t (id, v) VALUES (2, 'b'), (3, upper('c'))",
      n => s"$root/$n", Seq("id"))
    assert(t.currentVersion.get == v0 + 1)
    assert(t.read.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(t.read.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq ==
      Seq((1L, "a", 10L), (2L, "b", -1L), (3L, "C", -1L)))
    // history is immutable: the pre-insert version still reads one row
    assert(t.readVersion(v0).count() == 1)

    // INSERT ... SELECT
    t.read.createOrReplaceTempView("t_src")
    graft.ops.Dml.execute(spark,
      "INSERT INTO t SELECT id + 10 AS id, v, amt FROM t_src WHERE id = 1",
      n => s"$root/$n", Seq("id"))
    assert(t.read.filter(col("id") === 11L).select("v").as[String].head() == "a")
    assert(t.read.count() == 4)

    // column-count mismatch and unknown columns reject loudly
    intercept[IllegalArgumentException](graft.ops.Dml.execute(spark,
      "INSERT INTO t (id) SELECT id, v FROM t_src", n => s"$root/$n", Seq("id")))
    intercept[IllegalArgumentException](graft.ops.Dml.execute(spark,
      "INSERT INTO t (nope) VALUES (1)", n => s"$root/$n", Seq("id")))

    // statement-level INSERT without a source batch routes through
    // executeAny too (the reference's batch-INSERT form still needs one)
    graft.ops.Dml.executeAny(spark, "INSERT INTO t (id, v) VALUES (99, 'z')",
      n => s"$root/$n", Seq("id"))
    assert(t.read.filter(col("id") === 99L).count() == 1)

    // routing is by statement SHAPE, not source presence: a literal
    // INSERT still takes the standalone path when a batch happens to be
    // supplied, and the s.-prefixed batch form without a batch rejects
    val stray = Seq((1L, "x")).toDF("id", "v")
    graft.ops.Dml.executeAny(spark, "INSERT INTO t (id, v) VALUES (98, 'y')",
      n => s"$root/$n", Seq("id"), source = Some(stray))
    assert(t.read.filter(col("id") === 98L).count() == 1)
    intercept[IllegalArgumentException](graft.ops.Dml.executeAny(spark,
      "INSERT INTO t (id, v) VALUES (s.id, s.v)", n => s"$root/$n", Seq("id")))
  }

  test("executeAny routes every DML statement type through one entry point") {
    val root = tmpDir("dmlany")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(Seq((1L, "a", 0L)).toDF("id", "v", "__ts_ms"))

    // MERGE goes through the MergeInto path (needs a source batch)
    val batch = Seq((2L, "b", 1L, "c")).toDF("id", "v", "__ts_ms", "__op")
    graft.ops.Dml.executeAny(spark,
      """MERGE INTO t t USING (select * from src) s on t.id = s.id
        |WHEN MATCHED AND s.__op = 'd' THEN DELETE
        |WHEN MATCHED AND (s.__op = 'u' or s.__op = 'c' or s.__op = 'r')
        |THEN UPDATE SET t.id=s.id, t.v=s.v, t.__ts_ms=s.__ts_ms
        |WHEN NOT MATCHED AND NOT s.__op = 'd' THEN INSERT (id, v, __ts_ms)
        |VALUES (s.id, s.v, s.__ts_ms)""".stripMargin,
      n => s"$root/$n", Seq("id"), source = Some(batch))
    assert(t.read.count() == 2)

    // UPDATE / DELETE go through the Dml path (no batch needed)
    graft.ops.Dml.executeAny(spark, "UPDATE t SET v = 'z' WHERE id = 1",
      n => s"$root/$n", Seq("id"))
    assert(t.read.filter(col("id") === 1L).select("v").as[String].head() == "z")
    graft.ops.Dml.executeAny(spark, "DELETE FROM t WHERE id = 2", n => s"$root/$n", Seq("id"))
    assert(t.read.count() == 1)

    intercept[IllegalArgumentException](
      graft.ops.Dml.executeAny(spark, "MERGE INTO t ...", n => s"$root/$n", Seq("id")))
  }

  test("DML commits race safely: a concurrent reservation surfaces as CommitConflictException") {
    val path = tmpDir("dmlrace") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a")).toDF("id", "v"))
    // another writer holds the next version number
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(path, "v00000002"))
    intercept[CdcTable.CommitConflictException] {
      t.update(col("id") === 1L, Map("v" -> lit("b")))
    }
    // the table is untouched and still readable at its committed version
    assert(t.read.select("v").as[String].head() == "a")
    assert(t.currentVersion.contains(1L))
  }

  test("pruned CDF recovers an evolved column carried only by untouched months") {
    // `tag` lands via a February-only merge; every later commit touches
    // only March, so both endpoint commits' WRITE schemas lack it. The
    // schema sidecar records the table-level union, so the pruned feed
    // still carries the column (typed, null-padded) exactly as the
    // unpruned mergeSchema read did.
    val path = tmpDir("cdfschemaprune") + "/t"
    val t = new CdcTable(spark, path, Seq("id"), partitionSource = Some("created_at"),
      retainVersions = 10)
    t.init(Seq(
      (1L, "a", ts("2024-02-10 00:00:00")),
      (2L, "b", ts("2024-03-10 00:00:00"))
    ).toDF("id", "v", "created_at"))
    t.merge(Seq((1L, "a2", ts("2024-02-10 00:00:00"), "hot", ts("2024-02-11 00:00:00"), "u"))
      .toDF("id", "v", "created_at", "tag", "mts", "__op"), "mts")
    t.merge(Seq((2L, "b2", ts("2024-03-10 00:00:00"), ts("2024-03-11 00:00:00"), "u"))
      .toDF("id", "v", "created_at", "mts", "__op"), "mts")
    val v3 = t.currentVersion.get
    t.merge(Seq((2L, "b3", ts("2024-03-10 00:00:00"), ts("2024-03-12 00:00:00"), "u"))
      .toDF("id", "v", "created_at", "mts", "__op"), "mts")
    val v4 = t.currentVersion.get
    val feed = t.changesBetween(v3, v4)
    // still month-pruned: only March's files open...
    val opened = feed.inputFiles.toSeq
    assert(opened.nonEmpty && opened.forall(_.contains("=2024-03")),
      s"diff must open only the changed month's files, got: $opened")
    // ...and the evolved column survives, null for rows whose files lack it
    assert(feed.columns.contains("tag"),
      s"pruned feed lost the evolved column; has ${feed.columns.mkString(",")}")
    val rows = feed.select(col("id"), col("v"), col("tag"),
        col(CdcTable.ChangeTypeCol).as("ct"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)), r.getString(3)))
      .toSet
    assert(rows == Set(
      (2L, "b2", None, "update_preimage"),
      (2L, "b3", None, "update_postimage")))
  }

  test("changesBetween null-pads across schema evolution") {
    val path = tmpDir("cdf") + "/t"
    val t = new CdcTable(spark, path, Seq("id"))
    t.init(Seq((1L, "a")).toDF("id", "v"))
    val v1 = t.currentVersion.get
    // next version adds a column
    t.init(t.read.withColumn("extra", lit(7L)).withColumn("v", lit("a2")))
    val v2 = t.currentVersion.get
    val cdf = t.changesBetween(v1, v2)
      .select(col("id"), col("v"), col("extra"), col(CdcTable.ChangeTypeCol).as("ct"))
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3)))
      .toSet
    assert(cdf == Set((1L, "a", -1L, "update_preimage"), (1L, "a2", 7L, "update_postimage")))
  }

  test("self-describing tables: CdcTable.open reconstructs layout, keyless Dml routes") {
    val root = tmpDir("dmlopen")
    val t = new CdcTable(spark, s"$root/t", Seq("id"),
      partitionSource = Some("created"), bloomColumns = Seq("v"))
    t.init(Seq((1L, "a", ts("2001-01-05 00:00:00")),
      (2L, "b", ts("2001-02-05 00:00:00"))).toDF("id", "v", "created"))

    val o = CdcTable.open(spark, s"$root/t")
    assert(o.keys == Seq("id"))
    assert(o.partitionSource.contains("created"))
    assert(o.bloomColumns == Seq("v"))

    // keyless statement routing: the sidecar supplies what the caller used to
    graft.ops.Dml.execute(spark, "UPDATE t SET v = 'z' WHERE id = 1", n => s"$root/$n")
    assert(o.read.filter(col("id") === 1L).select("v").head().getString(0) == "z")
    assert(graft.ops.Dml.query(spark, "DESCRIBE HISTORY t", n => s"$root/$n").count() >= 2)

    // an unpartitioned keyed table round-trips an empty partitionSource
    val u = new CdcTable(spark, s"$root/u", Seq("k1", "k2"))
    u.init(Seq((1L, 2L, "x")).toDF("k1", "k2", "v"))
    val ou = CdcTable.open(spark, s"$root/u")
    assert(ou.keys == Seq("k1", "k2") && ou.partitionSource.isEmpty && ou.bloomColumns.isEmpty)

    // a path that never committed fails loudly
    intercept[IllegalArgumentException] { CdcTable.open(spark, s"$root/nope") }
  }

  test("CTAS / DROP TABLE / SHOW TABLES complete the lifecycle statement surface") {
    import graft.ops.Dml
    val root = tmpDir("dmlctas")
    val path = (n: String) => s"$root/$n"
    Seq((1L, "a", 5L), (2L, "b", 9L)).toDF("id", "v", "n").createOrReplaceTempView("ctas_src")

    Dml.execute(spark, "CREATE TABLE t KEYED BY (id) AS SELECT id, v, n FROM ctas_src", path)
    val t = CdcTable.open(spark, s"$root/t")
    assert(t.keys == Seq("id") && t.read.count() == 2)
    // the CTAS table is immediately mergeable under its declared identity
    t.merge(Seq((2L, "b2", 9L, "u")).toDF("id", "v", "n", "__op")
      .withColumn("mts", lit(2L)), "mts")
    assert(t.read.filter(col("id") === 2L).select("v").head().getString(0) == "b2")
    // CTAS refuses to clobber
    intercept[IllegalArgumentException] {
      Dml.execute(spark, "CREATE TABLE t AS SELECT * FROM ctas_src", path)
    }

    Dml.execute(spark, "CREATE TABLE u AS SELECT id, v FROM ctas_src", path)
    val shown = Dml.query(spark, "SHOW TABLES", path)
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(shown.map(_._1) == Seq("t", "u"))
    assert(shown.forall(_._2 >= 1L))

    Dml.execute(spark, "DROP TABLE u", path)
    assert(Dml.query(spark, "SHOW TABLES", path)
      .as[(String, Long)].collect().map(_._1).toSeq == Seq("t"))
    intercept[IllegalArgumentException] { CdcTable.open(spark, s"$root/u") }

    // DROP TABLE guards the recursive delete: a path-escaping name
    // rejects before resolving, and a name without a committed table
    // (no current-version pointer) refuses to delete anything
    intercept[IllegalArgumentException] { Dml.execute(spark, "DROP TABLE ../t", path) }
    intercept[IllegalArgumentException] { Dml.execute(spark, "DROP TABLE /tmp", path) }
    new java.io.File(s"$root/notatable/keep").mkdirs()
    intercept[IllegalArgumentException] { Dml.execute(spark, "DROP TABLE notatable", path) }
    assert(new java.io.File(s"$root/notatable/keep").exists(),
      "a refused DROP must leave the directory untouched")
    assert(CdcTable.open(spark, s"$root/t").read.count() == 2)
  }

  test("timestamp time travel, timestamp restore, DESCRIBE FILES") {
    import graft.ops.Dml
    val root = tmpDir("dmlts")
    val path = (n: String) => s"$root/$n"
    val t = new CdcTable(spark, path("t"), Seq("id"), retainVersions = 5)
    t.init(Seq((1L, "v1", 1L)).toDF("id", "v", "ts"))
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.merge(Seq((1L, "v2", 2L, "u"), (2L, "x", 2L, "c")).toDF("id", "v", "ts", "__op"), "ts")

    def utc(ms: Long) = java.time.Instant.ofEpochMilli(ms)
      .atOffset(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))

    // read resolves to the last commit at or before the timestamp
    val asOf = Dml.query(spark, s"TABLE t TIMESTAMP AS OF '${utc(mid)}'", path, Seq("id"))
    assert(asOf.select("v").as[String].collect().toSeq == Seq("v1"))

    // metadata-only file inventory: row counts sum to the table count
    val files = Dml.query(spark, "DESCRIBE FILES t", path, Seq("id"))
    assert(files.columns.toSeq ==
      Seq("data_dir", "file", "row_count", "deleted_rows"))
    assert(files.agg(sum("row_count")).head().getLong(0) == t.read.count())

    // restore by timestamp rolls back as a new version
    Dml.execute(spark, s"RESTORE t TO TIMESTAMP AS OF '${utc(mid)}'", path, Seq("id"))
    assert(t.read.select("v").as[String].collect().toSeq == Seq("v1"))

    // a timestamp before every retained commit fails loudly (never a
    // silent wrong-state answer)
    intercept[java.io.FileNotFoundException] { t.versionAtTimestamp(1000L) }
    // reads reject through the write entry point
    intercept[IllegalArgumentException] {
      Dml.execute(spark, "DESCRIBE FILES t", path, Seq("id"))
    }
  }

  test("OPTIMIZE PARTITIONS folds only the named months") {
    import graft.ops.Dml
    val root = tmpDir("dmlscoped")
    val path = (n: String) => s"$root/$n"
    val t = new CdcTable(spark, path("t"), Seq("id"), partitionSource = Some("created"))
    def rows(tag: String, n: Int) = (1 to n).map(i =>
      (tag.hashCode.toLong * 1000 + i, s"$tag$i",
        ts(s"2001-0${if (tag == "jan") 1 else 2}-05 00:00:00")))
    t.init(rows("jan", 4).toDF("id", "v", "created"))
    t.append(rows("feb", 4).toDF("id", "v", "created"))
    t.append(rows("feb2", 4).map { case (i, v, _) => (i, v, ts("2001-02-20 00:00:00")) }
      .toDF("id", "v", "created"))
    val before = t.filesInfo.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val febBefore = before.count(_._1.contains("2001-02"))
    assert(febBefore >= 2, s"need a multi-file feb to fold: $before")

    Dml.execute(spark, "OPTIMIZE t PARTITIONS ('2001-02')", path, Seq("id"),
      partitionSource = Some("created"))
    val after = t.filesInfo.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // jan files carry byte-identical (same dir-relative names)
    assert(after.filter(_._1.contains("2001-01")) == before.filter(_._1.contains("2001-01")),
      "untouched month must carry over, not rewrite")
    assert(after.count(_._1.contains("2001-02")) < febBefore, "feb did not fold")
    assert(t.read.count() == 12, "content changed")
    // naming a month the table does not have fails loudly
    intercept[IllegalArgumentException] {
      Dml.execute(spark, "OPTIMIZE t PARTITIONS ('1999-01')", path, Seq("id"),
        partitionSource = Some("created"))
    }
  }
}
