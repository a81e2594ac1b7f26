package graft

import java.io.File

import org.apache.spark.sql.functions._
import graft.ops.{CdcTable, FileSkipping}

/** File-level data skipping ([[graft.ops.FileSkipping]]): footer stats
  * prune files a predicate cannot match, the month manifest prunes
  * partitions, and the pruned read always equals the plain filtered read.
  */
class FileSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def dt(s: String) = java.sql.Date.valueOf(s)

  test("timestamp columns prune: CdcTable writes force INT64 so timestamp stats exist") {
    // Spark's DEFAULT parquet outputTimestampType is legacy INT96, which
    // carries no usable statistics — this layout only skips because
    // CdcTable forces TIMESTAMP_MICROS around its write actions. A
    // regression back to INT96 keeps every file below and fails here.
    val t = new CdcTable(spark, tmpDir("skipts") + "/t", Seq("id"))
    t.init(spark.range(0, 400).toDF("id")
      .withColumn("at", timestamp_seconds(lit(1700000000L) + col("id") * 3600))
      .repartitionByRange(4, col("at")))
    val pred = Seq(FileSkipping.Range("at",
      Some(java.time.Instant.ofEpochSecond(1700000000L + 390 * 3600)), None))
    val (kept, total) = t.scanProfile(pred)
    assert(total == 4 && kept == 1, s"timestamp stats must prune: kept $kept of $total")
    assert(t.readWhere(pred).count() == 10L)
    // and the metadata count path gets timestamps too: interior files
    // count blind, only the boundary file scans
    val prof = t.countWhereProfile(Seq(FileSkipping.Range("at",
      Some(java.time.Instant.ofEpochSecond(1700000000L + 150 * 3600)), None)))
    assert(prof.count == 250L && prof.fullFiles >= 2 && prof.scannedFiles <= 1, s"got $prof")
  }

  /** 4 months x rows clustered on id: repartitionByRange gives each month
    * dir several files with tight, disjoint id ranges — the layout a
    * clustered 100 TB table has and skipping thrives on.
    */
  private def clusteredTable(root: String): CdcTable = {
    val rows = (0 until 400).map { i =>
      (i.toLong, s"u${i % 7}", dt(f"1996-${1 + i % 4}%02d-${1 + i % 28}%02d"))
    }
    val df = rows.toDF("id", "user", "day").repartitionByRange(4, col("id"))
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5)
    t.init(df)
    t
  }

  test("point lookup opens a fraction of the files and equals the plain filtered read") {
    val t = clusteredTable(tmpDir("skip1"))
    val preds = Seq(FileSkipping.Range("id", Some(10L), Some(20L)))
    val (kept, total) = t.scanProfile(preds)
    assert(total >= 8, s"fixture should produce many files, got $total")
    assert(kept < total, s"stats must prune some files: $kept of $total")
    val got = t.readWhere(preds).select("id").as[Long].collect().sorted.toSeq
    val want = t.read.filter(col("id") >= 10L && col("id") <= 20L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("a date range on the partition-source column prunes whole months before any footer is read") {
    val t = clusteredTable(tmpDir("skip2"))
    val preds = Seq(FileSkipping.Range("day", Some(dt("1996-02-01")), Some(dt("1996-03-31"))))
    val (_, totalInRange) = t.scanProfile(preds)
    val (_, totalAll) = t.scanProfile(Nil)
    assert(totalInRange < totalAll,
      "month pruning must shrink the candidate set before file stats apply")
    val got = t.readWhere(preds).count()
    val want = t.read.filter(col("day").between(dt("1996-02-01"), dt("1996-03-31"))).count()
    assert(got == want && got > 0)
  }

  test("stats are cached in an immutable sidecar; a statless directory keeps all files but stays correct") {
    val root = tmpDir("skip3")
    val t = clusteredTable(root)
    t.scanProfile(Seq(FileSkipping.Range("id", Some(0L), Some(1L)))): Unit
    val sidecars = {
      def walk(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new File(root)).filter(_.getName == FileSkipping.SidecarName)
    }
    assert(sidecars.nonEmpty, "first pruned scan must persist the stats sidecar")
    // wipe the sidecars: a pre-stats table cannot prune, must not misread
    sidecars.foreach(_.delete())
    val preds = Seq(FileSkipping.Range("id", Some(10L), Some(20L)))
    assert(t.readWhere(preds).count() ==
      t.read.filter(col("id").between(10L, 20L)).count())
  }

  test("a torn or old-format sidecar is ignored, recomputed and atomically rewritten") {
    val root = tmpDir("skip7")
    val t = clusteredTable(root)
    val preds = Seq(FileSkipping.Range("id", Some(10L), Some(20L)))
    val (kept, total) = t.scanProfile(preds)
    assert(kept < total)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    val sidecars = walk(new File(root)).filter(_.getName == FileSkipping.SidecarName)
    assert(sidecars.nonEmpty)
    // simulate a torn write (no header, partial line) — the old strict
    // parser threw MatchError on every later scan until manual cleanup
    sidecars.foreach(s => java.nio.file.Files.writeString(s.toPath, "garbage\tline"))
    assert(t.scanProfile(preds) == ((kept, total)),
      "a bad sidecar must be recomputed from footers, not crash or mis-prune")
    assert(t.readWhere(preds).count() ==
      t.read.filter(col("id").between(10L, 20L)).count())
    // and the recompute pass must have healed the sidecar on disk
    val healed = java.nio.file.Files.readString(sidecars.head.toPath)
    assert(healed.startsWith("#graft-filestats"), "scan must rewrite the bad sidecar")
  }

  test("an all-null column is skippable; a column with no stats never prunes") {
    val allNull = FileSkipping.ColStat(None, None, nulls = Some(100L))
    assert(!FileSkipping.mayMatch(allNull, FileSkipping.Range("c", Some(1L), None)),
      "no comparison predicate matches a file whose column is entirely null")
    val wide = FileSkipping.ColStat(Some(0L), Some(100L), Some(0L))
    assert(FileSkipping.mayMatch(wide, FileSkipping.Eq("c", 50)))
    assert(!FileSkipping.mayMatch(wide, FileSkipping.Eq("c", 200)))
    assert(FileSkipping.mayMatch(wide, FileSkipping.Range("c", None, Some(0L))))
    assert(!FileSkipping.mayMatch(wide, FileSkipping.Range("c", Some(101L), None)))
  }

  test("an unorderable stat/predicate type pair keeps the file instead of crashing") {
    // a plain read.filter would answer col(stringCol) > 5 via implicit
    // casts, so the pruning layer must accept it too — conservatively
    val stringStats = FileSkipping.ColStat(Some("a"), Some("z"), Some(0L))
    assert(FileSkipping.mayMatch(stringStats, FileSkipping.Range("c", Some(5L), None)))
    assert(FileSkipping.mayMatch(stringStats, FileSkipping.Eq("c", 5)))
    val t = clusteredTable(tmpDir("skip8"))
    // string bound against the Long id stats: keeps everything, answers right
    val odd = Seq(FileSkipping.Range("id", Some("10"), Some("20")))
    val (kept, total) = t.scanProfile(odd)
    assert(kept == total, "wrong-type bounds must not prune anything")
    assert(t.readWhere(odd).count() ==
      t.read.filter(col("id") >= "10" && col("id") <= "20").count())
  }

  test("IS NULL and IS NOT NULL prune on null counts and answer exactly") {
    val root = tmpDir("skip9")
    // score is null for id < 200: clustered on id, low files are all-null
    // in score, high files have no nulls — both null predicates prune
    val rows = (0 until 400).map { i =>
      (i.toLong, if (i < 200) None else Some(i.toLong * 2), dt(f"1996-${1 + i % 4}%02d-15"))
    }
    val df = rows.toDF("id", "score", "day").repartitionByRange(4, col("id"))
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5)
    t.init(df)
    val (keptNull, totalNull) = t.scanProfile(Seq(FileSkipping.IsNull("score")))
    assert(keptNull < totalNull, s"IS NULL must skip all-non-null files: $keptNull of $totalNull")
    val (keptNotNull, totalNotNull) = t.scanProfile(Seq(FileSkipping.NotNull("score")))
    assert(keptNotNull < totalNotNull,
      s"IS NOT NULL must skip all-null files: $keptNotNull of $totalNotNull")
    assert(t.readWhere(Seq(FileSkipping.IsNull("score"))).count() ==
      t.read.filter(col("score").isNull).count())
    assert(t.readWhere(Seq(FileSkipping.NotNull("score"))).count() ==
      t.read.filter(col("score").isNotNull).count())
    // and through the Column face: extraction + pruning + exact answer
    val pred = col("score").isNotNull && col("id") <= 250L
    assert(FileSkipping.predsOf(pred).contains(FileSkipping.NotNull("score")))
    val got = t.readFiltered(pred).select("id").as[Long].collect().sorted.toSeq
    val want = t.read.filter(pred).select("id").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("decimal stats prune money predicates on both int64 and binary encodings") {
    val root = tmpDir("skip10")
    // decimal(12,2) fits INT64; decimal(24,2) forces FIXED_LEN_BYTE_ARRAY
    val df = (0 until 400).map(i => (i.toLong, dt(f"1996-${1 + i % 4}%02d-15")))
      .toDF("id", "day")
      .withColumn("price", (col("id") * 7 / 4).cast("decimal(12,2)"))
      .withColumn("price_wide", (col("id") * 1000000 + 17).cast("decimal(24,2)"))
      .repartitionByRange(4, col("id"))
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5)
    t.init(df)
    val preds = Seq(FileSkipping.Range("price", Some(BigDecimal("100.00")), Some(BigDecimal("200.00"))))
    val (kept, total) = t.scanProfile(preds)
    assert(kept < total, s"decimal stats must prune: $kept of $total")
    assert(t.readWhere(preds).count() ==
      t.read.filter(col("price").between(BigDecimal("100.00"), BigDecimal("200.00"))).count())
    val wide = Seq(FileSkipping.Range("price_wide", None, Some(BigDecimal("50000000"))))
    val (keptW, totalW) = t.scanProfile(wide)
    assert(keptW < totalW, s"fixed-len-binary decimal stats must prune: $keptW of $totalW")
    assert(t.readWhere(wide).count() ==
      t.read.filter(col("price_wide") <= BigDecimal("50000000")).count())
    // Column face with a decimal literal
    val pred = col("price") > BigDecimal("300.00")
    assert(FileSkipping.predsOf(pred).nonEmpty, "decimal literal must extract")
    assert(t.readFiltered(pred).count() == t.read.filter(pred).count())
  }

  test("readFiltered extracts preds from a plain Column predicate and equals read.filter") {
    val t = clusteredTable(tmpDir("skip5"))
    val pred = col("id").between(10L, 20L) &&
      col("day") >= dt("1996-01-01") && col("user") =!= "u6"
    val preds = FileSkipping.predsOf(pred)
    val ranges = preds.collect { case r: FileSkipping.Range => r }
    assert(ranges.exists(r => r.column == "id" && r.lower.contains(10L) && r.upper.contains(20L)),
      s"between must extract one merged two-sided range, got $preds")
    assert(ranges.exists(r => r.column == "day" && r.lower.contains("1996-01-01")),
      "date literal must extract (internal day-int -> ISO string domain)")
    assert(preds.size == 2, s"a =!= conjunct is residual-only, got $preds")
    // the DSL face must actually SKIP files on a clustered table
    val (kept, total) = t.scanProfile(preds)
    assert(kept < total, s"Column-face extraction must prune: $kept of $total")
    val got = t.readFiltered(pred).select("id").as[Long].collect().sorted.toSeq
    val want = t.read.filter(pred).select("id").as[Long].collect().sorted.toSeq
    assert(got == want && got.nonEmpty)
    // an OR whose branches both extract yields a pruning disjunction
    val orPred = col("id") === 5L || col("user") === "u2"
    assert(FileSkipping.predsOf(orPred) ==
      Seq(FileSkipping.AnyOf(Seq(Seq(FileSkipping.Eq("id", 5L)), Seq(FileSkipping.Eq("user", "u2"))))))
    assert(t.readFiltered(orPred).count() == t.read.filter(orPred).count())
    // an OR with an unextractable branch contributes nothing (that branch
    // could match any row) but still answers exactly
    val mixedOr = col("id") === 5L || col("user").rlike("^u2$")
    assert(FileSkipping.predsOf(mixedOr).isEmpty)
    assert(t.readFiltered(mixedOr).count() == t.read.filter(mixedOr).count())
  }

  test("OR-of-ranges prunes per branch: files no branch can match are skipped, months too") {
    val t = clusteredTable(tmpDir("skip13"))
    // two disjoint id windows: the clustered files between them are dead
    val pred = col("id").between(10L, 20L) || col("id").between(350L, 360L)
    val preds = FileSkipping.predsOf(pred)
    assert(preds == Seq(FileSkipping.AnyOf(Seq(
      Seq(FileSkipping.Range("id", Some(10L), Some(20L))),
      Seq(FileSkipping.Range("id", Some(350L), Some(360L)))))),
      s"both branches must extract, got $preds")
    val (kept, total) = t.scanProfile(preds)
    assert(kept < total, s"OR-of-ranges must prune the between-windows files: $kept of $total")
    val got = t.readFiltered(pred).select("id").as[Long].collect().sorted.toSeq
    assert(got == ((10L to 20L) ++ (350L to 360L)).toSeq)
    // a 3-way OR flattens to one disjunction level and still answers right
    val three = col("id") <= 5L || col("id").between(100L, 110L) || col("id") >= 395L
    FileSkipping.predsOf(three) match {
      case Seq(FileSkipping.AnyOf(bs)) => assert(bs.length == 3, s"flatten, got $bs")
      case other => fail(s"expected one AnyOf, got $other")
    }
    assert(t.readFiltered(three).count() == t.read.filter(three).count())
    // multi-column branches: each branch's conjuncts must ALL match a file
    val multi = (col("id") <= 20L && col("user") === "u3") || col("id") >= 380L
    val (keptM, totalM) = t.scanProfile(FileSkipping.predsOf(multi))
    assert(keptM < totalM, s"multi-column OR branches must prune: $keptM of $totalM")
    assert(t.readFiltered(multi).count() == t.read.filter(multi).count())
    // month pruning recurses into the disjunction: a two-month OR on the
    // partition source keeps only those months' directories
    val dayOr = col("day").between(dt("1996-02-01"), dt("1996-02-28")) ||
      col("day").between(dt("1996-04-01"), dt("1996-04-30"))
    val (_, totalDay) = t.scanProfile(FileSkipping.predsOf(dayOr))
    val (_, totalAll) = t.scanProfile(Nil)
    assert(totalDay < totalAll, "OR on the partition source must prune months")
    assert(t.readFiltered(dayOr).count() == t.read.filter(dayOr).count())
    // SQL-parsed disjunction (resolved Or class) extracts identically
    assert(FileSkipping.predsOf(expr("id between 10 and 20 or id between 350 and 360")) == preds)
  }

  test("SQL-parsed predicates (resolved-shape Catalyst classes) extract the same ranges") {
    val preds = FileSkipping.predsOf(expr("id between 10 and 20 and day >= '1996-01-01'"))
    val ranges = preds.collect { case r: FileSkipping.Range => r }
    assert(ranges.exists(r => r.column == "id" && r.lower.contains(10L) && r.upper.contains(20L)))
    assert(ranges.exists(r => r.column == "day" && r.lower.contains("1996-01-01")))
    assert(FileSkipping.predsOf(expr("score is null")) == Seq(FileSkipping.IsNull("score")))
    assert(FileSkipping.predsOf(expr("score is not null")) == Seq(FileSkipping.NotNull("score")))
  }

  test("clustered compaction tightens file ranges: the same predicate opens fewer files after compact(clusterBy)") {
    val root = tmpDir("skip6")
    // UNclustered layout: rows round-robin over 4 tasks, so files span
    // wide id ranges and stats prune little if anything
    val rows = (0 until 400).map { i =>
      (i.toLong, s"u${i % 7}", dt(f"1996-${1 + i % 4}%02d-${1 + i % 28}%02d"))
    }
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5)
    t.init(rows.toDF("id", "user", "day").repartition(4))
    val preds = Seq(FileSkipping.Range("id", Some(10L), Some(20L)))
    // assert the post-compaction DELTA, not absolute pre-compaction
    // counts: round-robin over sequential input partitions can still
    // correlate (month, task) cells with id blocks and prune a file or two
    val (keptBefore, totalBefore) = t.scanProfile(preds)
    t.compact(target = 4, clusterBy = Seq("id"))
    val (keptAfter, totalAfter) = t.scanProfile(preds)
    assert(totalAfter > 1, s"clustered compaction must keep multiple files, got $totalAfter")
    assert(keptAfter < totalAfter, s"re-clustering must make stats prune: $keptAfter of $totalAfter")
    assert(keptAfter.toDouble / totalAfter < keptBefore.toDouble / totalBefore.max(1),
      s"clustering must LOWER the kept fraction: $keptBefore/$totalBefore -> $keptAfter/$totalAfter")
    val got = t.readWhere(preds).select("id").as[Long].collect().sorted.toSeq
    assert(got == (10L to 20L).toSeq)
  }

  test("bloom filters prune point lookups that min/max ranges cannot") {
    val root = tmpDir("skip11")
    // pid is unique per row but DECORRELATED from the round-robin layout:
    // every file's (min,max) pid range spans nearly the whole domain, so
    // range stats keep (almost) everything — only the bloom can decide
    val rows = (0 until 400).map { i =>
      (i.toLong, (i.toLong * 2654435761L) % 1000000007L, dt(f"1996-${1 + i % 4}%02d-15"))
    }
    val df = rows.toDF("id", "pid", "day").repartition(4)
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5, bloomColumns = Seq("pid"))
    t.init(df)
    val target = (123L * 2654435761L) % 1000000007L
    val eq = Seq(FileSkipping.Eq("pid", target))
    val (kept, total) = t.scanProfile(eq)
    assert(total >= 4, s"fixture should produce several files, got $total")
    assert(kept < total, s"bloom must prune: $kept of $total")
    // the identical layout WITHOUT blooms prunes strictly less
    val t2 = new CdcTable(spark, s"$root/t2", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5)
    t2.init(df)
    val (kept2, _) = t2.scanProfile(eq)
    assert(kept < kept2, s"blooms must add pruning power beyond ranges: $kept vs $kept2")
    // exact answers through both faces
    assert(t.readWhere(eq).select("id").as[Long].collect().toSeq == Seq(123L))
    assert(t.readFiltered(col("pid") === lit(target))
      .select("id").as[Long].collect().toSeq == Seq(123L))
    // a bloomless table stays correct (blooms are pure optimization)
    assert(t2.readWhere(eq).select("id").as[Long].collect().toSeq == Seq(123L))
    // a non-equality predicate on the bloom column never consults blooms
    val rangePred = Seq(FileSkipping.Range("pid", Some(0L), Some(1000000007L)))
    assert(t.readWhere(rangePred).count() == 400L)
    // an IN set probes the bloom per member: present + absent values
    // still prune to the present value's files
    val inEq = Seq(FileSkipping.InSet("pid", Seq(target, 999999999L)))
    val (keptIn, totalIn) = t.scanProfile(inEq)
    assert(keptIn < totalIn, s"bloom must prune an IN probe: $keptIn of $totalIn")
    assert(t.readWhere(inEq).select("id").as[Long].collect().toSeq == Seq(123L))
  }

  test("a single-column OR of point lookups normalizes to IN and prunes via blooms") {
    val root = tmpDir("skipanyofbloom")
    // same decorrelated-pid shape as the bloom fixture: ranges keep
    // (almost) everything, only the bloom can decide
    val rows = (0 until 400).map { i =>
      (i.toLong, (i.toLong * 2654435761L) % 1000000007L, dt(f"1996-${1 + i % 4}%02d-15"))
    }
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5, bloomColumns = Seq("pid"))
    t.init(rows.toDF("id", "pid", "day").repartition(4))
    def pid(i: Long) = (i * 2654435761L) % 1000000007L
    val (a, b) = (pid(123L), pid(77L))
    // the disjunction must prune exactly like the semantically identical
    // IN list — bloom probes included
    val asOr = Seq(FileSkipping.AnyOf(Seq(
      Seq(FileSkipping.Eq("pid", a)), Seq(FileSkipping.Eq("pid", b)))))
    val asIn = Seq(FileSkipping.InSet("pid", Seq(a, b)))
    val (keptOr, totalOr) = t.scanProfile(asOr)
    assert(t.scanProfile(asIn) == ((keptOr, totalOr)))
    assert(keptOr < totalOr, s"OR of point probes must bloom-prune: $keptOr of $totalOr")
    assert(t.readWhere(asOr).select("id").as[Long].collect().toSeq.sorted == Seq(77L, 123L))
    // the Column face goes through predsOf extraction and lands on the
    // same normalized InSet
    assert(t.readFiltered(col("pid") === lit(a) || col("pid") === lit(b))
      .select("id").as[Long].collect().toSeq.sorted == Seq(77L, 123L))
    // a MULTI-column disjunction stays conservative (no bloom) but exact
    val mixed = Seq(FileSkipping.AnyOf(Seq(
      Seq(FileSkipping.Eq("pid", a)), Seq(FileSkipping.Eq("id", 5L)))))
    assert(t.readWhere(mixed).select("id").as[Long].collect().toSeq.sorted == Seq(5L, 123L))
  }

  test("a multi-column OR of point lookups bloom-prunes per branch (the star fact-probe shape)") {
    val root = tmpDir("skipstarbloom")
    // two INDEPENDENTLY scrambled lookup columns, both decorrelated from
    // the layout: ranges keep every file, only the per-branch blooms can
    // prune the disjunction `pid1 = a OR pid2 = b`
    val rows = (0 until 400).map { i =>
      (i.toLong,
        (i.toLong * 2654435761L) % 1000000007L,
        (i.toLong * 1099511628211L) % 1000000007L,
        dt(f"1996-${1 + i % 4}%02d-15"))
    }
    val t = new CdcTable(spark, s"$root/t", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5, bloomColumns = Seq("pid1", "pid2"))
    t.init(rows.toDF("id", "pid1", "pid2", "day").repartition(4))
    def p1(i: Long) = (i * 2654435761L) % 1000000007L
    def p2(i: Long) = (i * 1099511628211L) % 1000000007L
    val pred = Seq(FileSkipping.AnyOf(Seq(
      Seq(FileSkipping.Eq("pid1", p1(123L))), Seq(FileSkipping.Eq("pid2", p2(77L))))))
    val (kept, total) = t.scanProfile(pred)
    assert(total >= 8, s"fixture should spread over several files, got $total")
    assert(kept < total, s"per-branch blooms must prune the disjunction: $kept of $total")
    assert(t.readWhere(pred).select("id").as[Long].collect().toSeq.sorted == Seq(77L, 123L))
    // same shape through the Column face
    assert(t.readFiltered(col("pid1") === lit(p1(123L)) || col("pid2") === lit(p2(77L)))
      .select("id").as[Long].collect().toSeq.sorted == Seq(77L, 123L))
    // a bloomless twin keeps everything on this predicate but stays exact
    val t2 = new CdcTable(spark, s"$root/t2", Seq("id"), partitionSource = Some("day"),
      retainVersions = 5)
    t2.init(rows.toDF("id", "pid1", "pid2", "day").repartition(4))
    val (kept2, total2) = t2.scanProfile(pred)
    assert(kept2 == total2, "without blooms the decorrelated disjunction cannot prune")
    assert(t2.readWhere(pred).select("id").as[Long].collect().toSeq.sorted == Seq(77L, 123L))
  }

  test("struct-field predicates prune on the leaf's dotted-path footer stats") {
    // parquet stats are recorded per LEAF with dotted paths ("s.a"), so a
    // predicate addressed the same way prunes nested data like any
    // top-level column — and the residual col("s.a") resolves to the
    // struct field, keeping the answer exact
    val root = tmpDir("skipnested")
    val t = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 5)
    t.init((0L until 100L).map(i => (i, i, s"v$i")).toDF("id", "sa", "sb")
      .select(col("id"), struct(col("sa").as("a"), col("sb").as("b")).as("s"))
      .repartitionByRange(4, col("id")))
    val preds = Seq(FileSkipping.Range("s.a", Some(10L), Some(12L)))
    val (kept, total) = t.scanProfile(preds)
    assert(total == 4 && kept < total, s"nested-leaf stats must prune: $kept of $total")
    assert(t.readWhere(preds).select("id").as[Long].collect().toSeq.sorted == Seq(10L, 11L, 12L))
    // the Column face: col("s.a") extracts as the dotted path and lands
    // on the same stats
    assert(t.readFiltered(col("s.a").between(10L, 12L))
      .select("id").as[Long].collect().toSeq.sorted == Seq(10L, 11L, 12L))
  }

  test("IN-list predicates prune via ranges and month manifests, and extract from both faces") {
    val t = clusteredTable(tmpDir("skip12"))
    // two far-apart ids: only their clustered files survive
    val in = Seq(FileSkipping.InSet("id", Seq(5L, 395L)))
    val (kept, total) = t.scanProfile(in)
    assert(kept < total, s"IN over clustered ids must prune: $kept of $total")
    assert(t.readWhere(in).select("id").as[Long].collect().sorted.toSeq == Seq(5L, 395L))
    // extraction: DSL isin and SQL IN both yield the InSet
    assert(FileSkipping.predsOf(col("id").isin(5L, 395L)) ==
      Seq(FileSkipping.InSet("id", Seq(5L, 395L))))
    assert(FileSkipping.predsOf(expr("id in (5, 395)")) ==
      Seq(FileSkipping.InSet("id", Seq(5L, 395L))))
    // readFiltered face answers exactly
    val got = t.readFiltered(col("id").isin(5L, 395L)).select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(5L, 395L))
    // IN on the partition-source column prunes whole months
    val dayIn = Seq(FileSkipping.InSet("day", Seq(dt("1996-02-06"), dt("1996-02-14"))))
    val (_, totalIn) = t.scanProfile(dayIn)
    val (_, totalAll) = t.scanProfile(Nil)
    assert(totalIn < totalAll, "IN on the partition source must prune months")
    assert(t.readWhere(dayIn).count() ==
      t.read.filter(col("day").isin(dt("1996-02-06"), dt("1996-02-14"))).count())
    // an IN with a non-literal member extracts nothing but answers exactly
    val mixed = col("id").isin(lit(5L), col("id") + 1)
    assert(FileSkipping.predsOf(mixed).isEmpty)
    assert(t.readFiltered(mixed).count() == t.read.filter(mixed).count())
  }

  test("commits emit the stats sidecar at write time; first pruned scans read zero footers") {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    def sidecarsUnder(root: String) =
      walk(new File(root)).filter(_.getName == FileSkipping.SidecarName)
    val root = tmpDir("skip15")
    val t = clusteredTable(root) // partitioned init commit
    assert(sidecarsUnder(root).nonEmpty,
      "init must write sidecars with the commit, before any read")
    val preds = Seq(FileSkipping.Range("id", Some(10L), Some(20L)))
    val before = FileSkipping.statFooterReads.get
    val (kept, total) = t.scanProfile(preds)
    assert(kept < total)
    assert(FileSkipping.statFooterReads.get == before,
      "first pruned scan of a freshly committed table must open zero footers for stats")
    // a merge's new month directories arrive sidecar'd too
    val nSidecars = sidecarsUnder(root).size
    t.merge(Seq((10L, "u1", dt("1996-01-05"), java.sql.Timestamp.valueOf("2001-01-01 00:00:00"), "u"))
      .toDF("id", "user", "day", "ts", "__op"), "ts")
    assert(sidecarsUnder(root).size > nSidecars,
      "merge-written month dirs must carry fresh sidecars")
    val afterMerge = FileSkipping.statFooterReads.get
    t.scanProfile(preds): Unit
    assert(FileSkipping.statFooterReads.get == afterMerge,
      "post-merge pruned scan must still be footer-free")
    // unpartitioned append: carried files keep their dirs' sidecars — only
    // the appended batch pays footer reads, and those at COMMIT time,
    // never at read time
    val u = new CdcTable(spark, s"$root/u", Seq("id"), retainVersions = 5)
    u.init((0 until 100).map(i => (i.toLong, i * 2L)).toDF("id", "v")
      .repartitionByRange(4, col("id")))
    u.append((100 until 120).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
    val afterAppend = FileSkipping.statFooterReads.get
    val (keptU, totalU) = u.scanProfile(Seq(FileSkipping.Range("id", Some(0L), Some(10L))))
    assert(keptU < totalU)
    assert(FileSkipping.statFooterReads.get == afterAppend,
      "append commit must leave a complete sidecar: read pays no footers")
    // restore re-points at the old version's dirs: their sidecars serve as-is
    u.append((120 until 130).map(i => (i.toLong, i * 2L)).toDF("id", "v"))
    val preRestoreReads = FileSkipping.statFooterReads.get
    u.restore(u.versions.head)
    u.scanProfile(Seq(FileSkipping.Range("id", Some(0L), Some(10L)))): Unit
    assert(FileSkipping.statFooterReads.get == preRestoreReads,
      "restore must rebuild the sidecar from the source version's, footer-free")
  }

  test("string and date stats prune; merge-evolved files lacking the column are kept") {
    val root = tmpDir("skip4")
    val t = clusteredTable(root)
    // string predicate over the low-cardinality user column: every file
    // holds most users, so string stats rarely prune here — but results
    // must still be exact
    val sPreds = Seq(FileSkipping.Eq("user", "u3"))
    assert(t.readWhere(sPreds).count() == t.read.filter(col("user") === "u3").count())
    // schema evolution: new column exists only in post-merge files; a
    // predicate on it keeps (cannot prune) old files yet reads correctly
    t.merge(
      Seq((1000L, "u9", dt("1996-01-15"), 7L, 1L, "c"))
        .toDF("id", "user", "day", "score", "ts", "__op"), "ts")
    val nPreds = Seq(FileSkipping.Range("score", Some(5L), None))
    val got = t.readWhere(nPreds).select("id").as[Long].collect().toSeq
    assert(got == Seq(1000L))
  }
}
