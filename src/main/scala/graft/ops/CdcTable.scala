package graft.ops

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A parquet-backed mergeable table: the engine's stand-in for the
  * reference's Iceberg v2 copy-on-write tables
  * (incremental_kafka_s3_cdc.py:126-148, write.delete.mode=copy-on-write).
  *
  * One commit layout, the Iceberg/Delta metadata-layer idea (snapshot =
  * manifest of immutable files): data lives only in immutable commit
  * directories `cNNNNNNNN`, written once and never rewritten, and a
  * version directory `vNNNNNNNN` holds only METADATA — its
  * `manifest.tsv` maps each partition key to the data directories holding
  * that key's current rows, plus the schema, commit-info, tag and
  * deletion-vector sidecars. A commit writes only the keys it changes
  * into a fresh commit dir, re-points every other key at its old
  * directories (never read, never rewritten), finalizes the version dir,
  * then repoints the `_current` pointer file with one atomic rename. A
  * crash at ANY step leaves the previous version live and readable;
  * leftovers the pointer never reached are garbage-collected by
  * [[expire]], which also frees every commit dir no retained manifest
  * names. The pointer yields time travel ([[readVersion]]) and snapshot
  * expiry (`retainVersions`) — the reference's Iceberg
  * snapshot/maintenance surface (incremental_kafka_s3_cdc.py:405-423) on
  * plain parquet.
  *
  *   - '''Partitioned (hive-layout by derived month `__part_month`,''' the
  *     reference's hidden `MONTHS(created_col)` transform, chosen by its
  *     heuristic: a timestamp column whose name contains "create" —
  *     SURVEY.md K6'''.)''' Keys are months; a commit writes the touched
  *     months under `cNNNNNNNN/__part_month=M/`, so a merge rewrites only
  *     the months its batch touches. The merge keeps the reference's
  *     `months(t.pc)=months(s.pc)` pruning conjunct
  *     (incremental_kafka_s3_cdc.py:262-264) plus the moved-key guard.
  *
  *   - '''Unpartitioned.''' The degenerate case: one constant key `""`
  *     whose data sits directly in `cNNNNNNNN/`. Merge and compaction
  *     rewrite that key; append adds one directory per batch; restore
  *     and vectored deletes only re-point the manifest.
  *
  * A version directory with parquet directly inside and no manifest was
  * written by the earlier full-copy unpartitioned layout; it reads as a
  * one-entry manifest naming itself, and [[expire]] keeps it while a
  * retained manifest still names it.
  *
  * Concurrency (SURVEY.md §7 risk e): commits use OPTIMISTIC version
  * reservation — a commit first claims its version number with one atomic
  * `createDirectory` of the version dir, so two writers racing for
  * `current+1` cannot both win; the loser sees
  * [[CdcTable.CommitConflictException]] and [[mergeWithRetry]] re-reads
  * the table and recomputes, the reference's merge-conflict retry loop
  * (incremental_kafka_s3_cdc.py:281-291: 10 tries x 10 s + REFRESH).
  * [[expire]] garbage-collects only pointer-reachable history (never a
  * version number above the pointer), so an in-flight reservation can
  * never be deleted out from under its writer; a CRASHED reservation at
  * `current+1` is reclaimed by the takeover step of the retry loop.
  */
final class CdcTable(
    spark: SparkSession,
    val path: String,
    val keys: Seq[String],
    val partitionSource: Option[String] = None,
    val retainVersions: Int = 3,
    /** When set, merge/append commits run [[compactIfNeeded]] with this
      * threshold afterwards — the automatic table-services policy; None
      * keeps compaction manual.
      */
    val autoCompactMaxFiles: Option[Int] = None,
    /** Columns every data file gets a parquet column BLOOM FILTER for
      * (adaptively sized per row group, capped at 128 KiB). Point lookups
      * on these columns skip files min/max ranges cannot — the
      * high-cardinality-but-unclustered case ([[FileSkipping]] tests the
      * blooms for equality predicates in [[readWhere]]/[[readFiltered]]).
      * Pick the lookup keys a consumer probes by; empty = no blooms.
      */
    val bloomColumns: Seq[String] = Nil,
    /** Commit-protocol metadata I/O ([[TableIO]]): pointer publish,
      * version reservation, manifest/sidecar read/write, listing, GC.
      * The local-FS default keeps today's behavior; an object-store
      * implementation swaps in here without touching the protocol — see
      * the S3 mapping on the trait. The DATA path (parquet read/write)
      * always goes through Spark's Hadoop FS layer, not this.
      */
    val io: TableIO = LocalTableIO,
    /** Partition-key granularity for `partitionSource`: "month" (the
      * reference's hidden MONTHS transform — the default) or "day" (the
      * Iceberg `days(col)` transform: `yyyy-MM-dd` keys). Everything
      * downstream — manifests, pruning, retention cuts, scoped
      * compaction — treats the keys as opaque sorted strings, so only
      * the mint/parse sites depend on this. Persisted in `_table_meta`;
      * [[CdcTable.open]] restores it.
      */
    val partitionGranularity: String = "month",
    /** Columns tracked for incremental DISTINCT-COUNT statistics
      * ([[TableStats]]): every committed data directory gets a 256-
      * register HLL sidecar per tracked column, so [[analyze]] answers
      * table-level NDV from metadata alone — the ANALYZE-without-a-scan
      * contract. Pick join keys and grouping columns a planner would ask
      * about; empty = no tracking (analyze falls back to scan+backfill).
      * Cost: one delta-sized aggregation per commit. Persisted in
      * `_table_meta`; [[CdcTable.open]] restores it.
      */
    val ndvColumns: Seq[String] = Nil) {

  import CdcTable._

  require(Seq("month", "day", "hour").contains(partitionGranularity),
    s"partitionGranularity must be month|day|hour, got $partitionGranularity")

  /** Key pattern for the active granularity — each one longer than and
    * prefixed by the coarser, so keys keep sorting lexically.
    */
  private def partPattern: String = partitionGranularity match {
    case "hour" => "yyyy-MM-dd-HH"
    case "day"  => "yyyy-MM-dd"
    case _      => "yyyy-MM"
  }

  // ---------------------------------------------------------------- layout

  private def pointer = new File(path, CurrentPointer)
  private def versionDir(v: Long) = new File(path, f"v$v%08d")
  private def commitDir(v: Long) = new File(path, f"c$v%08d")
  private def manifestFile(v: Long) = new File(versionDir(v), ManifestName)
  private def schemaFile(v: Long) = new File(versionDir(v), SchemaName)

  /** Latest committed version, if any. */
  def currentVersion: Option[Long] =
    if (!io.exists(pointer.getPath)) None
    else Some(io.readString(pointer.getPath).trim.stripPrefix("v").toLong)

  /** All committed versions still on disk, oldest first. */
  def versions: Seq[Long] =
    io.list(path)
      .filter(e => e.isDir && e.name.matches("v\\d{8}"))
      .map(_.name.stripPrefix("v").toLong).sorted

  /** Pointer-based existence, with a loud failure for pre-versioning
    * layouts: a directory holding hive partition dirs or bare parquet at
    * the root (no `_current`) is data this protocol cannot see — silently
    * bootstrapping a fresh table beside it would orphan the old rows.
    */
  private def exists: Boolean =
    if (io.exists(pointer.getPath)) true
    else {
      val legacy = io.list(path)
        .exists(e => (e.isDir && e.name.contains("=")) ||
          (!e.isDir && e.name.endsWith(".parquet")))
      if (legacy)
        throw new IllegalStateException(
          s"$path holds a pre-versioning (hive-at-root) table: no $CurrentPointer " +
            "pointer but data files at the root. Migrate it (read the old layout, " +
            "init() a fresh CdcTable elsewhere) instead of writing through this one.")
      false
    }

  private def currentOrThrow: Long =
    currentVersion.getOrElse(
      throw new java.io.FileNotFoundException(s"no committed version at $path"))

  // --------------------------------------------------- table metadata

  private def tableMetaFile = new File(path, TableMetaName)

  /** Persist the table's LAYOUT metadata (merge keys, partition source,
    * bloom columns) beside the pointer, making the table SELF-DESCRIBING:
    * [[CdcTable.open]] reconstructs a correct handle from the path alone,
    * so DML routers, catalogs, and downstream consumers need no
    * out-of-band knowledge of how a table was created (the reference
    * keeps this in the Iceberg catalog; plain parquet has nowhere else
    * to put it). Written on every pointer commit — one small idempotent
    * PUT — so pre-metadata tables upgrade on their next commit.
    */
  private def writeTableMeta(): Unit = {
    val content = Seq(
      s"keys\t${keys.mkString(",")}",
      s"partitionSource\t${partitionSource.getOrElse("")}",
      s"partitionGranularity\t$partitionGranularity",
      s"bloomColumns\t${bloomColumns.mkString(",")}",
      s"ndvColumns\t${ndvColumns.mkString(",")}").mkString("\n")
    if (!io.exists(tableMetaFile.getPath))
      io.writeAtomic(tableMetaFile.getPath, content)
    else if (io.readString(tableMetaFile.getPath) != content) {
      enforceLayout() // pointer-flip backstop for funnels without a row check
      io.writeAtomic(tableMetaFile.getPath, content)
    }
  }

  /** A handle whose PARTITION LAYOUT disagrees with the committed
    * `_table_meta` sidecar would mint keys under a different scheme into
    * the same manifest — refuse BEFORE any version is reserved (so a
    * mis-constructed handle burns nothing and leaves no orphan
    * reservation). Keys/bloom changes are operational re-declarations
    * and stay allowed. Runs at the head of every commit funnel (via
    * [[enforceConstraints]]) plus as a pointer-flip backstop.
    */
  private def enforceLayout(): Unit =
    readTableMeta(path, io).foreach { stored =>
      val storedPs = stored.getOrElse("partitionSource", "")
      val storedGran = stored.getOrElse("partitionGranularity", "month")
      require(storedPs == partitionSource.getOrElse("") &&
        (storedPs.isEmpty || storedGran == partitionGranularity),
        s"$path was committed with partitionSource='$storedPs' " +
          s"granularity='$storedGran' but this handle uses " +
          s"'${partitionSource.getOrElse("")}'/'$partitionGranularity' — " +
          "open the table with CdcTable.open (layout comes from the sidecar)")
    }

  // --------------------------------------------------- CHECK constraints

  private def constraintsFile = new File(path, ConstraintsName)

  /** Declared row invariants, name -> predicate SQL (empty when none). */
  def constraints: Seq[(String, String)] =
    if (!io.exists(constraintsFile.getPath)) Nil
    else io.readLines(constraintsFile.getPath).map { l =>
      val i = l.indexOf('\t')
      (l.substring(0, i), l.substring(i + 1))
    }

  /** Declare a CHECK constraint (`ALTER TABLE ... ADD CONSTRAINT`):
    * every future commit rejects — loudly, before any version is
    * reserved — when a written row evaluates the predicate to FALSE
    * (NULL passes, SQL CHECK semantics). Existing rows must already
    * satisfy it, so readers can rely on the invariant over the whole
    * table from the moment the call returns. Persisted beside the table
    * (survives handle restarts, applies to every writer).
    */
  def addConstraint(name: String, predicate: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"constraint name must be non-empty without tab/newline: '$name'")
    require(constraints.forall(_._1 != name), s"constraint $name already exists")
    if (exists) {
      val bad = read.filter(!coalesce(expr(predicate), lit(true))).limit(3).collect()
      if (bad.nonEmpty)
        throw new ConstraintViolationException(
          s"cannot add CHECK constraint $name ($predicate) to $path: existing rows " +
            s"violate it, e.g. ${bad.mkString("; ")}")
    }
    io.writeAtomic(constraintsFile.getPath,
      (constraints :+ (name -> predicate))
        .map { case (n, p) => s"$n\t$p" }.mkString("\n"))
  }

  /** Remove a CHECK constraint; unknown names reject loudly. */
  def dropConstraint(name: String): Unit = {
    val kept = constraints.filterNot(_._1 == name)
    require(kept.size < constraints.size, s"no CHECK constraint named $name on $path")
    io.writeAtomic(constraintsFile.getPath,
      kept.map { case (n, p) => s"$n\t$p" }.mkString("\n"))
  }

  /** Reject `df` when any row violates a declared constraint — called at
    * the head of the commit funnel, BEFORE version reservation, so a
    * bad batch burns nothing and surfaces no conflict to other writers.
    * Cost: one filter+limit job per constraint over the commit's rewrite
    * set (carried keys are never part of `df`).
    */
  private def enforceConstraints(df: DataFrame): Unit = {
    enforceLayout()
    constraints.foreach { case (name, predicate) =>
      val bad = df.filter(!coalesce(expr(predicate), lit(true))).limit(3).collect()
      if (bad.nonEmpty)
        throw new ConstraintViolationException(
          s"CHECK constraint $name ($predicate) on $path violated by " +
            s"${bad.mkString("; ")}")
    }
  }

  // ------------------------------------------------------------- manifests

  /** Version manifest: `(partition key, table-relative data dir)` lines.
    * A key may map to several directories (appends add one per batch);
    * an unpartitioned table's only key is `""`. A [[legacy]] version
    * reads as one entry naming its own dir; any other version without a
    * manifest is expired (or a half-deleted leftover of an expiry).
    */
  def manifest(v: Long): Seq[(String, String)] = {
    val f = manifestFile(v)
    if (io.exists(f.getPath))
      io.readLines(f.getPath).map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i), l.substring(i + 1))
      }
    else if (legacy(v)) Seq("" -> versionDir(v).getName)
    else throw new ExpiredVersionException(s"version $v of $path is expired or never existed")
  }

  /** Whether version `v` was written by the earlier full-copy
    * unpartitioned layout: parquet directly in the version dir (no other
    * layout ever put data there) and no manifest. The one place that
    * decides it, for [[manifest]]'s fallback and the deletion-vector
    * sites that rename its subs.
    */
  private def legacy(v: Long): Boolean =
    !io.exists(manifestFile(v).getPath) &&
      io.list(versionDir(v).getPath).exists(e => !e.isDir && e.name.endsWith(".parquet"))

  private def writeManifest(v: Long, entries: Seq[(String, String)]): Unit = {
    io.mkdirs(versionDir(v).getPath)
    io.writeString(manifestFile(v).getPath,
      entries.map { case (m, d) => s"$m\t$d" }.mkString("\n"))
  }

  /** Data dir of `key` in commit `v`: the hive key dir, or the commit dir
    * itself for the unpartitioned table's constant key.
    */
  private def relDir(v: Long, key: String): String =
    if (key.isEmpty) commitDir(v).getName else f"c$v%08d/$PartCol=$key"

  /** Union the manifest's data directories (optionally only `months`),
    * re-attaching a partitioned table's month as `__part_month`.
    * Per-directory reads union by name so additive schema evolution
    * across commits just works; the directory list is metadata-scale
    * (keys x commits), never data-scale.
    *
    * `at` names the version the entries came from: a version whose
    * manifest is EMPTY (a delete matched every row) reads as an empty
    * DataFrame with that version's recorded schema (the `_schema.json`
    * sidecar each commit writes) instead of throwing — a fully-deleted
    * table stays readable.
    */
  private def readParts(entries: Seq[(String, String)], months: Option[Set[String]],
                        at: Long): DataFrame = {
    val picked = months.fold(entries)(ms => entries.filter(e => ms.contains(e._1)))
    if (picked.isEmpty) {
      val f = schemaFile(at)
      if (io.exists(f.getPath)) {
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(io.readString(f.getPath))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
      throw new java.io.FileNotFoundException(s"no live partitions at $path for $months")
    }
    // ONE multi-path scan per COMMIT DIR (all months a commit wrote share
    // one schema), with the commit dir as basePath so the hive layout
    // re-attaches __part_month — instead of one relation per (month,
    // commit) entry. A 10-year table is ~120 months x commits; the
    // per-entry shape paid a driver-side footer read and a union relation
    // PER ENTRY (measured: it dominated compaction and merge wall time at
    // sf0.1, not the data volume). Union-by-name across commit dirs keeps
    // additive schema evolution working; manifest-level month pruning is
    // preserved because only the picked month directories are listed.
    // The unpartitioned key's dirs (one per append) are ONE scan: there
    // is no hive column to re-attach, and its dirs share one schema
    // (merge, compact and rewrite replace the key whole; append aligns
    // its batch's types).
    // deletion vector: the per-row (file, idx) identity must project at
    // SCAN level (before the union strips `_metadata`); one anti-join
    // applies after the union
    val dv = dvAt(at)
    val groups = picked.groupBy(e => if (e._1.isEmpty) "" else e._2.takeWhile(_ != '/'))
    val unioned = groups.toSeq.sortBy(_._1).map { case (cdir, es) =>
      val reader = spark.read.option("mergeSchema", "true")
      val scan = (if (cdir.isEmpty) reader else reader.option("basePath", new File(path, cdir).getPath))
        .parquet(es.map(e => new File(path, e._2).getPath): _*)
      val base =
        if (scan.columns.contains(PartCol)) scan.withColumn(PartCol, col(PartCol).cast("string"))
        else scan
      if (dv.isEmpty) base
      else base.withColumn(DvSubCol, dvSubExpr)
        .withColumn(DvFileCol, col("_metadata.file_name"))
        .withColumn(DvIdxCol, col("_metadata.row_index"))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    dv.fold(unioned)(d =>
      unioned.join(d.select(col("sub").as(DvSubCol), col("file").as(DvFileCol),
          col("idx").as(DvIdxCol)),
          Seq(DvSubCol, DvFileCol, DvIdxCol), "left_anti")
        .drop(DvSubCol, DvFileCol, DvIdxCol))
  }

  // ----------------------------------------------------------------- reads

  /** Current table content (user columns only). */
  def read: DataFrame = readVersion(currentOrThrow)

  /** Partition-pruned read: only the named months' data directories are
    * listed and scanned (manifest-level pruning — the reader never
    * touches other months' files, the same guarantee Iceberg gets from
    * its manifests). Months with no live data simply contribute nothing.
    */
  def readMonths(months: Set[String]): DataFrame = {
    require(partitionSource.isDefined, "readMonths requires a partitioned table")
    val cur = currentOrThrow
    val entries = manifest(cur).filter(e => months.contains(e._1))
    if (entries.isEmpty && io.exists(schemaFile(cur).getPath))
      // typed empty from the schema sidecar — zero file listing/footers
      readParts(Nil, None, cur).drop(PartCol)
    else if (entries.isEmpty) readVersion(cur).filter(lit(false))
    else readParts(entries, None, cur).drop(PartCol)
  }

  /** Stats-pruned scan — the Iceberg-column-metrics analogue
    * ([[FileSkipping]]): the manifest prunes MONTHS (a range predicate on
    * the partition-source column bounds the month keys, which sort
    * lexically as `yyyy-MM`), footer-derived file stats prune FILES
    * inside the surviving months, and the residual predicate still
    * applies to whatever is read — so the answer is identical to
    * `read.filter(...)` while a selective scan opens only the files
    * whose min/max ranges can match. Predicates reference DATA columns
    * (the partition-source column included); stats are cached per
    * immutable data directory, so repeat scans pay zero footer reads.
    */
  def readWhere(preds: Seq[FileSkipping.Pred]): DataFrame =
    readWhereAt(currentOrThrow, preds)

  /** [[readWhere]] pinned to retained version `v` — the face maintenance
    * paths (MV refresh, join-view deltas) scan through, so their pruned
    * reads stay version-consistent with the rest of the refresh while
    * opening only the files the delta's key/partition predicates can
    * touch.
    */
  def readWhereAt(v: Long, preds: Seq[FileSkipping.Pred]): DataFrame =
    prunedScan(v, preds,
      preds.map(FileSkipping.residualOf).reduceOption(_ && _).getOrElse(lit(true)))

  /** [[readWhere]] with a plain Catalyst predicate: the skippable
    * conjuncts are extracted ([[FileSkipping.predsOf]]) for pruning and
    * the FULL predicate re-applies to whatever is scanned — so any
    * predicate is accepted and the answer always equals
    * `read.filter(pred)`; only the pruning power varies with how much of
    * the predicate is range/null-check shaped.
    */
  def readFiltered(pred: Column): DataFrame =
    prunedScan(currentOrThrow, FileSkipping.predsOf(pred), pred)

  /** The files of version `v` that `preds` cannot rule out, read with the
    * version's deletion vector applied and `filter` on top — the body of
    * [[readWhereAt]] and [[readFiltered]].
    */
  private def prunedScan(v: Long, preds: Seq[FileSkipping.Pred], filter: Column): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val kept = scanDirs(v, preds).flatMap(FileSkipping.prunedFiles(conf, _, preds))
    if (kept.isEmpty) readVersion(v).filter(lit(false))
    else {
      val df = applyDv(
        spark.read.option("mergeSchema", "true").parquet(kept.map(_.getPath): _*), v)
        .filter(filter)
      if (df.columns.contains(PartCol)) df.drop(PartCol) else df
    }
  }

  /** `(files a readWhere(preds) scan opens, files it considers)` at the
    * current version — the skipping effectiveness number specs and plan
    * audits assert on; metadata-only. The second figure counts only the
    * files of the data directories the predicates keep (on a partitioned
    * table, the months — or days, hours — their bounds allow), not every
    * file of the version: `scanProfile(Nil)._2` is the table's total.
    */
  def scanProfile(preds: Seq[FileSkipping.Pred]): (Int, Int) =
    scanProfileAt(currentOrThrow, preds)

  /** Exact `read.filter(preds).count()` answered from METADATA where
    * provable — the Iceberg/Delta manifest-count analogue. Files whose
    * stats prove every row matches ([[FileSkipping.mustMatchFile]])
    * contribute their sidecar row counts without being opened; only
    * boundary files — where a predicate edge cuts through a file's
    * [min, max] — are scanned, with the residual filter, so the answer
    * always equals the full filtered scan. With no predicates this is a
    * pure metadata COUNT(*): one sidecar read per data directory and
    * zero data I/O, whatever the table size — on a clustered layout a
    * selective range count opens only the two edge files at 100 TB
    * exactly as at 100 MB.
    */
  def countWhere(preds: Seq[FileSkipping.Pred] = Nil): Long =
    countWhereProfile(preds).count

  /** [[countWhere]] plus the audit trail specs assert on. */
  def countWhereProfile(preds: Seq[FileSkipping.Pred]): CdcTable.CountProfile = {
    val cur = currentOrThrow
    val conf = spark.sessionState.newHadoopConf()
    val classified = scanDirs(cur, preds).map(FileSkipping.classifiedFiles(conf, _, preds))
    val full = classified.flatMap(_._1)
    val partial = classified.flatMap(_._2)
    val allFiles = scanDirs(cur, Nil)
      .map(FileSkipping.prunedFiles(conf, _, Nil).size).sum
    // deletion vector: a full-match file's LIVE count is its recorded
    // rows minus its vector count (every deleted position was one of the
    // file's rows, all of which match) — still pure sidecar metadata;
    // partial files scan vector-applied like any other read
    val dvCount = dvSummary(cur).map { case (d, f, c) => (dvSubOf(d), f) -> c }.toMap
    val metaRows = full.map { case (f, rows) =>
      rows - dvCount.getOrElse((f.getParentFile.getName, f.getName), 0L)
    }.sum
    val scanned =
      if (partial.isEmpty) 0L
      else {
        val residual = preds.map(FileSkipping.residualOf)
          .reduceOption(_ && _).getOrElse(lit(true))
        applyDv(
          spark.read.option("mergeSchema", "true").parquet(partial.map(_.getPath): _*), cur)
          .filter(residual).count()
      }
    CdcTable.CountProfile(metaRows + scanned, full.size, partial.size,
      allFiles - full.size - partial.size)
  }

  /** Metadata-only MIN/MAX of `column` at the current version: the fold
    * of per-file sidecar ranges ([[FileSkipping.minMaxOfDirs]]), in the
    * stat domain (integers as Long, timestamps as epoch micros,
    * dates/strings as String, decimals as java BigDecimal). None
    * whenever the fold is not PROVABLE (a non-empty file without stats
    * for the column, torn ranges, unorderable values, or an all-null
    * column) — callers fall back to `read.agg(min, max)`; a defined
    * answer is exact and costs zero data I/O.
    */
  def minMaxFromStats(column: String): Option[(Any, Any)] = {
    val cur = currentOrThrow
    // a deletion vector may have deleted exactly the extremum row, so a
    // vectored version's ranges cannot prove MIN/MAX — scan fallback
    // until a rewrite (compact/merge) materializes the vector away
    if (hasDv(cur)) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      FileSkipping.minMaxOfDirs(conf, scanDirs(cur, Nil), column)
    }
  }

  /** Metadata column profile at the current version: one row per column
    * with total rows, null count, and the min/max fold — everything from
    * the commit stats sidecars, zero data I/O (the DESCRIBE-statistics
    * face; the scanning twin is the `x_data_profile` query). Null count
    * is None when any file failed to record one; min/max are None
    * whenever [[minMaxFromStats]] would refuse (all-null column, torn
    * stats, or a live deletion vector). Values are rendered as strings
    * in the stat domain — this is an observability surface, not an
    * oracle-compared query.
    */
  def describeStats: DataFrame = {
    val cur = currentOrThrow
    val conf = spark.sessionState.newHadoopConf()
    val dirs = scanDirs(cur, Nil)
    val stats = dirs.flatMap(d => FileSkipping.statsForDir(conf, d).values)
    val sq = spark
    import sq.implicits._
    val rows = stats.map(_.rows).sum
    val cols = stats.flatMap(_.cols.keys).distinct.sorted
    val vectored = hasDv(cur)
    cols.map { c =>
      val nulls =
        if (stats.exists(s => s.rows > 0 && !s.cols.get(c).flatMap(_.nulls).isDefined)) None
        else Some(stats.flatMap(_.cols.get(c).flatMap(_.nulls)).sum)
      val mm = if (vectored) None
        else FileSkipping.minMaxOfDirs(conf, dirs, c)
      (c, rows, nulls, mm.map(_._1.toString), mm.map(_._2.toString))
    }.toDF("column", "rows", "nulls", "min", "max")
  }

  /** [[scanProfile]] at a pinned version (the audit face for
    * version-pinned maintenance scans).
    */
  def scanProfileAt(v: Long, preds: Seq[FileSkipping.Pred]): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val dirs = scanDirs(v, preds)
    (dirs.map(FileSkipping.prunedFiles(conf, _, preds).size).sum,
      dirs.map(FileSkipping.prunedFiles(conf, _, Nil).size).sum)
  }

  /** The data directories a predicate scan must consider: manifest
    * entries, minus (partitioned) those whose months fall outside the
    * predicate's `yyyy-MM` range. Month
    * bounds derive from range bounds on the partition-source column:
    * STRING-normalized bounds truncate to their `yyyy-MM` prefix (ISO
    * dates and month keys both sort lexically), and — when the schema
    * sidecar proves the source column is TIMESTAMP-typed — epoch-micros
    * Long bounds format to `yyyy-MM` in the session time zone, the same
    * zone `date_format` used to mint the month keys. The type gate
    * matters: a numeric partition source must not be misread as micros,
    * so unproven Long bounds skip month pruning instead.
    */
  private def scanDirs(cur: Long, preds: Seq[FileSkipping.Pred]): Seq[File] = {
    val entries = manifest(cur)
    val kept = partitionSource.fold(entries) { src =>
      lazy val srcIsTimestamp = schemaAt(cur)
        .flatMap(_.find(_.name == src))
        .exists(_.dataType == org.apache.spark.sql.types.TimestampType)
      def month(v: Any): Option[String] = FileSkipping.norm(v) match {
        case s: String =>
          // Normalize a timestamp-string bound to the key alphabet:
          // hour keys are 'yyyy-MM-dd-HH' (dash at index 10) while
          // bounds arrive as '2001-01-01 11:30:00' or ISO 'T'-separated
          // — left unmapped, ' '/'T' sort on the wrong side of '-' and
          // the bound check silently drops qualifying partitions.
          val k = s.take(partPattern.length)
          if (k.length > 10 && (k.charAt(10) == ' ' || k.charAt(10) == 'T'))
            Some(k.updated(10, '-'))
          else Some(k)
        case m: Long if srcIsTimestamp =>
          val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
          Some(java.time.Instant.ofEpochSecond(Math.floorDiv(m, 1000000L)).atZone(zone)
            .format(java.time.format.DateTimeFormatter.ofPattern(partPattern)))
        case _ => None
      }
      // can month `m` hold a row satisfying `p`? Conservative: any
      // predicate not range/IN-shaped on the partition source (or whose
      // bounds don't map to months) allows every month; a disjunction
      // allows a month any branch allows.
      def monthAllows(m: String, p: FileSkipping.Pred): Boolean = p match {
        case r: FileSkipping.Range if r.column == src =>
          r.lower.flatMap(month).forall(m >= _) && r.upper.flatMap(month).forall(m <= _)
        case FileSkipping.InSet(c, vs) if c == src =>
          // only when EVERY member yields a month (else no month pruning)
          val ms = vs.map(month)
          !ms.forall(_.isDefined) || ms.flatten.contains(m)
        case FileSkipping.AnyOf(bs) => bs.exists(_.forall(monthAllows(m, _)))
        case _ => true
      }
      entries.filter { case (m, _) => preds.forall(monthAllows(m, _)) }
    }
    kept.map(e => new File(path, e._2))
  }

  private def copySchema(from: Long, to: Long): Unit =
    if (io.exists(schemaFile(from).getPath))
      io.copy(schemaFile(from).getPath, schemaFile(to).getPath)

  /** Recorded schema of version `v` from its `_schema.json` sidecar, if
    * present (every commit writes one); metadata-only.
    */
  private def schemaAt(v: Long): Option[org.apache.spark.sql.types.StructType] = {
    val f = schemaFile(v)
    if (!io.exists(f.getPath)) None
    else scala.util.Try(org.apache.spark.sql.types.DataType
      .fromJson(io.readString(f.getPath))
      .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption
  }

  /** One row per live month at the current version — `(month, dir,
    * files)`, month-sorted: the SHOW PARTITIONS face. Metadata-only
    * (manifest + per-dir listings). A month spanning several commit dirs
    * before compaction contributes one row per dir.
    */
  def partitions: DataFrame = {
    require(partitionSource.isDefined, "SHOW PARTITIONS needs a partitioned table")
    val sq = spark
    import sq.implicits._
    manifest(currentOrThrow).sortBy(e => (e._1, e._2))
      .map { case (m, rel) => (m, rel, dataFileCount(new File(path, rel))) }
      .toDF("partition", "dir", "files")
  }

  /** Time travel: read a specific retained version. */
  def readVersion(v: Long): DataFrame = readParts(manifest(v), None, v).drop(PartCol)

  // --------------------------------------------------------------- commits

  /** Atomically claim version number `next` (one POSIX `mkdir` — at most
    * one writer can create the directory). Returns false when another
    * writer — live or crashed — already holds it.
    */
  private def reserve(next: Long): Boolean = {
    io.mkdirs(path)
    io.createDirExclusive(versionDir(next).getPath)
  }

  private def reserveOrConflict(next: Long): Unit =
    if (!reserve(next))
      throw new CommitConflictException(
        s"version v$next of $path is already reserved by another writer " +
          "(live or crashed); re-read and retry — see mergeWithRetry")

  /** Atomically repoint `_current` at `next`: write the new pointer beside
    * the old one, rename over it (POSIX rename replaces atomically), then
    * expire history. A crash before the rename leaves the old version
    * live; after it, the new one.
    */
  private def commitPointer(next: Long): Unit = {
    if (currentVersion.exists(_ >= next))
      throw new CommitConflictException(
        s"pointer of $path moved past v$next during commit")
    writeTableMeta()
    // operation provenance beside the version's own metadata: written
    // BEFORE the pointer flips, so a published version always carries
    // its record and a crashed commit's orphan record dies with its dir
    io.writeString(new File(versionDir(next), CommitInfoName).getPath,
      s"$pendingOp\t${System.currentTimeMillis()}")
    if (pendingTags.nonEmpty)
      io.writeString(new File(versionDir(next), CommitTagsName).getPath, renderTags(pendingTags))
    io.writeAtomic(pointer.getPath, f"v$next%08d")
    expire()
  }

  // Caller-supplied tags the NEXT commit publishes atomically with its
  // version (see [[CdcTable.CommitTagsName]]). Instance-local in-flight
  // state, same rationale as `pendingOp`.
  private var pendingTags: Map[String, String] = Map.empty

  /** Run `body` with `tags` attached to every commit it publishes; the
    * tags land in the version dir before the pointer flip, so they are
    * visible exactly iff the commit is.
    */
  def withCommitTags[A](tags: Map[String, String])(body: => A): A = {
    require(tags.forall { case (k, v) => !(k + v).exists(c => c == '\t' || c == '\n' || c == '\r') },
      "commit tags must not contain tabs or line separators")
    val prev = pendingTags
    pendingTags = prev ++ tags
    try body finally pendingTags = prev
  }

  /** Tags recorded with retained version `v` (empty when none). */
  def commitTags(v: Long): Map[String, String] = readTags(new File(versionDir(v), CommitTagsName))

  private def readTags(f: File): Map[String, String] =
    if (!io.exists(f.getPath)) Map.empty
    else io.readLines(f.getPath).flatMap(_.split('\t') match {
      case Array(k, value) => Some(k -> value)
      case _ => None
    }).toMap

  private def renderTags(tags: Map[String, String]): String =
    tags.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("\n")

  // ------------------------------------------------------ reflected record

  private def fastForwardFile = new File(path, ReflectedSidecarName)

  /** Run `body` — a maintained view's refresh of THIS table — recording
    * that the result reflects `sources`, the ordered `(source, version)`
    * list it was derived from. The record rides every commit `body`
    * publishes as commit tags, so the view's rows and the versions they
    * reflect become visible together: a crash at any step leaves both at
    * the previous refresh. When `body` commits nothing (an empty window),
    * the record goes to one fast-forward sidecar instead, stamped with
    * the head it was verified against; it counts only while that version
    * is still the head, so any later commit — a RESTORE included —
    * retires it. Source names may hold spaces and colons, not tabs or
    * line separators ([[withCommitTags]] rejects those).
    *
    * A view's table has ONE writer, its refresh (maintenance of the view
    * table runs between refreshes, not beside them), so a reservation
    * above the head when a refresh starts can only be a crashed earlier
    * refresh — or an orphan of a view written before the record existed
    * — and is reclaimed here: the refresh recovers by itself instead of
    * meeting a dead writer's claim on every retry.
    */
  def reflecting[A](sources: Seq[(String, Long)])(body: => A): A = {
    require(sources.nonEmpty && sources.forall(_._1.nonEmpty),
      "a reflected record names at least one source, each by a non-empty name")
    val tags = reflectedTags(sources)
    val before = currentVersion
    reclaim(before.getOrElse(0L) + 1)
    val out = withCommitTags(tags)(body)
    currentVersion.filter(head => before.contains(head)).foreach { head =>
      io.writeAtomic(fastForwardFile.getPath, renderTags(tags + (ReflectedHeadTag -> head.toString)))
    }
    out
  }

  /** The record [[reflecting]] left at the head version: its fast-forward
    * sidecar when that was written against the head, else the head's
    * commit tags. None when the head carries none — never refreshed, a
    * view written before the record existed, or a commit that replaced
    * the rows (RESTORE, DML); a view reads that as "re-bootstrap".
    */
  def reflected: Option[Reflected] = currentVersion.flatMap { head =>
    val ahead = Some(readTags(fastForwardFile)).filter(_.get(ReflectedHeadTag).contains(head.toString))
    val tags = ahead.getOrElse(commitTags(head))
    val entries = Iterator.from(0).map(i => tags.get(s"$ReflectedTag$i"))
      .takeWhile(_.isDefined).flatten.toSeq
    if (entries.isEmpty) None
    else scala.util.Try(entries.map { e =>
      val i = e.lastIndexOf(':')
      require(i > 0)
      (e.substring(0, i), e.substring(i + 1).toLong)
    }).toOption.map(Reflected(head, _))
  }

  /** The one refresh protocol of a maintained view kept in THIS table:
    * bring it to the heads of `sources`, `(name, table)` pairs whose
    * names are what the record stores. Reads each head once and does
    * nothing while a source has no version yet.
    *
    *   - The record names exactly those heads: nothing runs, no view
    *     version is burned.
    *   - It names the same sources in the same order, none past its
    *     head: `window` applies the per-source `(from, to)` windows. If
    *     a window has expired from its source's retained history
    *     (`isExpiredBase`), the refresh logs that and bootstraps; the
    *     fallback's own [[reflecting]] reclaims whatever the failed
    *     window reserved.
    *   - Anything else (no record, other sources, a record ahead of its
    *     source): `bootstrap` rebuilds the view at the heads.
    *
    * Both bodies run under [[reflecting]], so the record rides their
    * commit.
    */
  def refreshView(sources: Seq[(String, CdcTable)])(window: Seq[(Long, Long)] => Unit)(
      bootstrap: Seq[Long] => Unit): Unit = {
    val heads = sources.map(_._2.currentVersion)
    if (heads.forall(_.isDefined)) {
      val to = heads.flatten
      val at = sources.map(_._1).zip(to)
      reflected.map(_.sources) match {
        case Some(r) if r == at => ()
        case Some(r) if r.map(_._1) == at.map(_._1) && r.map(_._2).zip(to).forall(w => w._1 <= w._2) =>
          try reflecting(at)(window(r.map(_._2).zip(to)))
          catch {
            case e: Throwable if isExpiredBase(e, sources.map(_._2.path)) =>
              log.warn(s"view $path: reflected window expired from retained history, bootstrapping", e)
              reflecting(at)(bootstrap(to))
          }
        case _ => reflecting(at)(bootstrap(to))
      }
    }
  }

  private def reflectedTags(sources: Seq[(String, Long)]): Map[String, String] =
    sources.zipWithIndex.map { case ((n, v), i) => s"$ReflectedTag$i" -> s"$n:$v" }.toMap

  /** Run a rewrite that keeps every row and changes only files
    * (compaction, delete materialization) so its commit carries the
    * head's reflected record: compacting a view's table does not make
    * its next refresh a re-bootstrap.
    */
  private def keepingReflected[A](body: => A): A =
    if (pendingTags.keys.exists(_.startsWith(ReflectedTag))) body
    else reflected.fold(body)(r => withCommitTags(reflectedTags(r.sources))(body))

  // The operation name the NEXT commit records (DESCRIBE HISTORY
  // provenance). Instance-local like the rest of a table handle's
  // in-flight commit state: concurrent writers hold separate handles
  // (the optimistic protocol assumes that already).
  private var pendingOp: String = "WRITE"
  private def withOp[A](op: String)(body: => A): A = {
    val prev = pendingOp
    pendingOp = op
    try body finally pendingOp = prev
  }

  /** One row per retained version, newest first: operation, commit
    * timestamp, data-file count — the table's `DESCRIBE HISTORY` face.
    * Metadata-only (pointer + sidecar reads, one listing per data dir
    * the version's manifest references).
    */
  def history: DataFrame = {
    val sq = spark
    import sq.implicits._
    versions.reverse.map { v =>
      val (op, ts) = commitMeta(v) match {
        case Some((o, t)) => (o, java.lang.Long.valueOf(t))
        case None         => (null: String, null: java.lang.Long)
      }
      val files = manifest(v).map(_._2).distinct
        .map(rel => dataFileCount(new File(path, rel))).sum
      (v, op, ts, files.toLong)
    }.toDF("version", "operation", "ts_millis", "num_files")
  }

  /** Operation + commit epoch-millis recorded for retained version `v`. */
  private def commitMeta(v: Long): Option[(String, Long)] = {
    val f = new File(versionDir(v), CommitInfoName)
    if (!io.exists(f.getPath)) None
    else io.readString(f.getPath).trim.split('\t') match {
      case Array(o, t) => Some((o, t.toLong))
      case _ => None
    }
  }

  /** The latest retained version committed AT OR BEFORE epoch-millis
    * `tsMillis` — the Delta/Iceberg `TIMESTAMP AS OF` resolution. Loud
    * when `tsMillis` precedes every retained commit (earlier state
    * EXPIRED: answering with the oldest survivor would silently time
    * travel to the wrong state).
    */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val stamped = versions.flatMap(v => commitMeta(v).map(m => (v, m._2)))
    stamped.filter(_._2 <= tsMillis).map(_._1).maxOption.getOrElse(
      throw new ExpiredVersionException(
        s"no retained version of $path at or before ts $tsMillis " +
          s"(oldest retained commit: ${stamped.headOption.fold("none")(_._2.toString)})"))
  }

  /** Time-travel read by commit timestamp (`TABLE t TIMESTAMP AS OF`). */
  def readAtTimestamp(tsMillis: Long): DataFrame =
    readVersion(versionAtTimestamp(tsMillis))

  /** `DESCRIBE TABLE` face: one row per column (name, type, nullable)
    * from the current version's schema sidecar, then `# `-prefixed
    * layout rows (merge keys, partition source, bloom columns, current
    * version) — the reference's DESCRIBE-with-partition-spec shape
    * (SURVEY S4) served from engine metadata instead of string-parsed
    * catalog output. Metadata-only; falls back to one mergeSchema
    * inference only for pre-sidecar versions.
    */
  def describe: DataFrame = {
    val sq = spark
    import sq.implicits._
    val v = currentOrThrow
    val schema = schemaAt(v).getOrElse(readVersion(v).schema)
    val cols = schema.fields.toSeq.map(f =>
      (f.name, f.dataType.simpleString, f.nullable.toString))
    val layout = Seq(
      ("# merge_keys", keys.mkString(", "), ""),
      ("# partition_source", partitionSource.getOrElse(""), ""),
      ("# partition_granularity",
        partitionSource.fold("")(_ => partitionGranularity), ""),
      ("# bloom_columns", bloomColumns.mkString(", "), ""),
      ("# current_version", v.toString, ""))
    (cols ++ layout).toDF("col_name", "data_type", "nullable")
  }

  /** Per-data-file inventory of the current version — the Iceberg
    * `table.files` / Delta DESCRIBE DETAIL face: data directory
    * (relative), file name, row count, and per-file deleted-position
    * count from the deletion-vector summary. METADATA-ONLY: rows come
    * from the commit-time stats sidecars, never a footer or data read.
    */
  def filesInfo: DataFrame = {
    val sq = spark
    import sq.implicits._
    val v = currentOrThrow
    val conf = spark.sessionState.newHadoopConf()
    val dirs = dataDirsAt(v)
    val dv = dvSummary(v).map { case (d, f, c) => (d, f) -> c }.toMap
    dirs.flatMap { case (rel, dir) =>
      FileSkipping.statsForDir(conf, dir).toSeq.map { case (name, st) =>
        (rel, name, st.rows, dv.getOrElse((rel, name), 0L))
      }
    }.sortBy(t => (t._1, t._2))
      .toDF("data_dir", "file", "row_count", "deleted_rows")
  }

  private def dataFileCount(dir: File): Long =
    io.list(dir.getPath).count(e => !e.isDir && e.name.endsWith(".parquet")).toLong

  /** Runs `body` (a parquet write action) with INT64 timestamp output
    * (`TIMESTAMP_MICROS`) forced for the duration. Spark's DEFAULT
    * `spark.sql.parquet.outputTimestampType` is the legacy INT96, whose
    * byte-string statistics do not order like timestamps (PARQUET-1065)
    * and are therefore never written — an INT96-written timestamp column
    * silently loses ALL min/max file skipping ([[FileSkipping]]) and
    * metadata-answered counts ([[countWhere]]). Forcing INT64 here makes
    * every data file this table commits stats-complete regardless of the
    * hosting session's conf. The conf is session-scoped, so a
    * concurrently PLANNED write elsewhere in the session may also pick
    * up MICROS (harmless: it only gains stats) or, on the restore race,
    * the session default (stats absent → pruning conservatively keeps —
    * never a wrong answer).
    */
  private def withInt64Timestamps[A](body: => A): A = {
    val k = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None    => spark.conf.unset(k)
    }
  }

  /** `df.write` with the table's bloom-filter options applied: parquet
    * sizes each column's bloom adaptively from the row group's actual
    * distinct count, bounded so metadata stays metadata-scale.
    */
  private def writer(df: DataFrame): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    if (bloomColumns.isEmpty) df.write
    else bloomColumns.foldLeft(
      df.write
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .option("parquet.bloom.filter.max.bytes", (128 * 1024).toString)
    )((w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true"))

  /** The one commit: `df` (carrying `__part_month` on a partitioned
    * table) is written into a fresh commit dir, and the new manifest is
    * `carried` — entries of version `expected` kept verbatim, their files
    * never read or rewritten — plus one entry per key `df` wrote. A
    * replaced entry's old files stay until their last referencing version
    * expires; that is what keeps time travel consistent. `expected` is the
    * version `df` and `carried` were DERIVED FROM: if another writer
    * committed after the caller read it, `expected + 1` is already
    * reserved and this throws instead of silently losing that writer's
    * update. `linked` are `(key, data file)` pairs carried byte-for-byte
    * into the key's new dir beside `df`'s rows ([[materializeDeletes]]).
    */
  private def commit(
      df: DataFrame, carried: Seq[(String, String)], expected: Option[Long],
      linked: Seq[(String, File)] = Nil): Unit = {
    enforceConstraints(df)
    val next = expected.getOrElse(0L) + 1
    // claim the version BEFORE materializing data: the reservation owns
    // the commit-dir number too, so the Overwrite below can only clobber
    // leftovers of a crashed writer of this same (reclaimed) number.
    // `expected` is the version df/carried were derived from — reserving
    // expected+1 makes read-base and commit-base the same version.
    reserveOrConflict(next)
    withInt64Timestamps {
      writer(df).mode(SaveMode.Overwrite).partitionBy(keyCols: _*)
        .parquet(commitDir(next).getPath)
    }
    linked.foreach { case (k, f) =>
      io.linkOrCopy(f.getPath, new File(new File(path, relDir(next, k)), f.getName).getPath)
    }
    // the keys actually written, from the listing — no second evaluation
    // of df's plan: each hive dir names a month, and parquet directly in
    // the commit dir is the unpartitioned table's constant key
    val outKeys = io.list(commitDir(next).getPath).collect {
      case e if e.isDir && e.name.startsWith(s"$PartCol=") => e.name.stripPrefix(s"$PartCol=")
      case e if !e.isDir && e.name.endsWith(".parquet") => ""
    }.distinct.sorted
    val outDirs = outKeys.map(k => new File(path, relDir(next, k)))
    // write-time stats sidecars for exactly the directories this commit
    // produced (carried dirs keep theirs — the dirs are immutable)
    locally {
      val conf = spark.sessionState.newHadoopConf()
      // linked files keep their source dir's stats: same bytes, same name
      val reuse = linked.map(_._2.getParentFile).distinct
        .flatMap(FileSkipping.statsForDir(conf, _)).toMap
      // key dirs are independent: bound-parallel like the per-file
      // footer reads inside writeStatsNow (a hot commit writes dozens of
      // months; serial sidecar emission was visible commit wall time)
      if (outDirs.size <= 1) outDirs.foreach(FileSkipping.writeStatsNow(conf, _, reuse))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, outDirs.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(outDirs.map { d =>
            (() => FileSkipping.writeStatsNow(conf, d, reuse)): java.util.concurrent.Callable[Unit]
          }.asJava).asScala.foreach(_.get())
        } finally pool.shutdown()
      }
    }
    writeNdvSidecars(next, outKeys)
    writeManifest(next, carried ++ outKeys.map(k => k -> relDir(next, k)))
    // deletion vector: entries for carried dirs survive (their files are
    // the same bytes); entries for replaced dirs fall away — those files
    // were rewritten from a vector-applied read
    expected.foreach(carryDv(_, next, keepDirs = carried.map(_._2).toSet))
    // schema sidecar: the TABLE's schema as of this version — this
    // commit's write schema unioned with the previous version's recorded
    // schema, matching what a mergeSchema read over every carried file
    // would see. Recording only the write schema would lose an evolved
    // column carried solely by UNTOUCHED months' files, and the
    // changed-months-pruned changesBetween (which recovers pruned-away
    // columns from these sidecars) would emit a feed whose schema depends
    // on which months changed. Also lets an all-months-deleted
    // (empty-manifest) version still read as a typed empty table.
    val priorFields = expected.flatMap(schemaAt).map(_.fields).getOrElse(Array.empty)
    val unionSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++ priorFields.filterNot(f => df.columns.contains(f.name)))
    io.writeString(schemaFile(next).getPath, unionSchema.json)
    commitPointer(next)
  }

  /** Metadata-speed snapshot clone: materialize the CURRENT version at
    * `destPath` as a fresh single-version table whose data files are
    * carried via [[TableIO.linkOrCopy]] — hard links locally, server-side
    * COPY on an object store — so no row is read or rewritten through
    * Spark. Unlike a Delta SHALLOW CLONE, the result is SELF-CONTAINED:
    * it references only files under its own root, so either table's
    * expiry/GC/compaction can never invalidate the other (the
    * shallow-clone footgun this deliberately avoids); locally the links
    * share blocks, so the clone is still metadata-cost. Stats sidecars
    * carry over entry-for-entry (same bytes, same names — zero footer
    * reads on the clone's first pruned scan); declared CHECK constraints
    * copy; history starts with one CLONE record. The dev/test-snapshot
    * operation: cloning a 100 TB table costs one metadata pass.
    */
  def cloneTo(destPath: String): CdcTable = withOp("CLONE") {
    currentOrThrow: Unit
    require(!io.exists(new File(destPath, CurrentPointer).getPath),
      s"clone destination $destPath already holds a table")
    val dest = new CdcTable(spark, destPath, keys, partitionSource,
      retainVersions, autoCompactMaxFiles, bloomColumns, io, partitionGranularity,
      ndvColumns)
    dest.io.mkdirs(destPath)
    require(dest.reserve(1L), s"clone destination $destPath already reserved")
    linkStateInto(dest, 1L)
    constraints.foreach { case (n, p) => dest.addConstraintUnchecked(n, p) }
    dest.pendingOp = "CLONE"
    dest.commitPointer(1L)
    dest
  }

  /** Hard-link THIS table's current state — data files, stats + schema
    * sidecars, deletion vector — into version `destV` of `dest`, which
    * the caller must have already reserved. Metadata-speed: no data
    * bytes move except a DV parquet rewrite when a file's identity
    * changes. Shared by [[cloneTo]] (fresh destination, destV = 1) and
    * [[publish]] (the branch fast-forwards its parent, destV = parent
    * head + 1). The caller owns the pointer commit.
    */
  private def linkStateInto(dest: CdcTable, destV: Long): Unit = {
    val v = currentOrThrow
    val conf = spark.sessionState.newHadoopConf()
    // a key spanning several source commit dirs folds into ONE dest key
    // dir (the layout readParts expects); file names get a source-commit
    // prefix only when needed for uniqueness, and the stats sidecar
    // entries remap to the new names — still zero footer reads on the
    // clone
    // (src dir rel -> (dst dir rel, file-name prefix)) — the same
    // mapping the stats remap uses, reused below for the deletion
    // vector (its entries reference files by dir + name)
    val dirMap = scala.collection.mutable.Map.empty[String, (String, String)]
    val entries = manifest(v).groupBy(_._1).toSeq.sortBy(_._1).map { case (m, es) =>
      val dstRel = dest.relDir(destV, m)
      val dst = new File(dest.path, dstRel)
      val multi = es.size > 1
      val reuse = es.flatMap { case (_, rel) =>
        val src = new File(path, rel)
        val prefix = if (multi) rel.takeWhile(_ != '/') + "_" else ""
        dirMap(rel) = (dstRel, prefix)
        val srcStats = FileSkipping.statsForDir(conf, src)
        io.list(src.getPath)
          .filter(e => !e.isDir && !e.name.startsWith("_") && !e.name.startsWith("."))
          .flatMap { e =>
            val dstName = prefix + e.name
            io.linkOrCopy(new File(src, e.name).getPath,
              new File(dst, dstName).getPath)
            srcStats.get(e.name).map(dstName -> _)
          }
      }.toMap
      FileSkipping.writeStatsNow(conf, dst, reuse = reuse)
      // NDV sidecars carry too: a key folded from several source dirs
      // max-merges their registers (union of sketches IS the sketch of
      // the union); any source dir without one -> skip, analyze
      // backfills
      val srcNdv = es.map { case (_, rel) =>
        TableStats.readSidecar(io, new File(path, rel))
      }
      if (srcNdv.nonEmpty && srcNdv.forall(_.isDefined)) {
        val cols = srcNdv.flatMap(_.get.keys).distinct
        TableStats.writeSidecar(dest.io, dst, cols.map { c =>
          c -> srcNdv.map(_.get.getOrElse(c, TableStats.zero))
            .reduce(TableStats.merged)
        }.toMap)
      }
      (m, dstRel)
    }
    dest.writeManifest(destV, entries)
    schemaAt(v).foreach(sc =>
      dest.io.writeString(dest.schemaFile(destV).getPath, sc.json))
    // deletion vector: entries remap with the same (dir, prefix) the
    // data files did. The parquet links verbatim while every file keeps
    // its (sub, name) identity — a month dir keeps its name — and
    // rewrites through Spark when one changes (multi-commit folding, or
    // an unpartitioned key whose sub is the commit dir itself)
    val sum = dvSummary(v)
    if (sum.nonEmpty) {
      val remapped = sum.map { case (d, f, c) =>
        val (nd, pre) = dirMap(d); (nd, pre + f, c)
      }
      def ids(es: Seq[(String, String, Long)]) = es.map(e => (dvSubOf(e._1), e._2))
      if (ids(remapped) == ids(sum)) {
        io.list(dvDir(v).getPath).filter(!_.isDir).foreach(e =>
          io.linkOrCopy(new File(dvDir(v), e.name).getPath,
            new File(dest.dvDir(destV), e.name).getPath))
      } else {
        // rename keyed by (sub, file): a write task emits same-named
        // files into several month dirs, so file name alone is not a
        // join identity
        val ren = ids(sum).zip(ids(remapped)).map { case ((s0, f0), (s1, f1)) => (s0, f0, s1, f1) }
        val sq = spark
        import sq.implicits._
        dvAt(v).get.join(ren.toDF("sub", "file", "nsub", "nf"), Seq("sub", "file"))
          .select(col("nsub").as("sub"), col("nf").as("file"), col("idx"))
          .coalesce(1).write.parquet(dest.dvDir(destV).getPath)
      }
      dest.writeDvSummary(destV, remapped)
    }
  }

  // --------------------------------------------- WAP branches (write-audit-publish)

  private def branchesRoot = new File(path, BranchesDir)
  private def branchDir(name: String) = new File(branchesRoot, name)
  private def forkFile(name: String) = new File(branchDir(name), ForkMarker)

  /** Names of live branches of this table, sorted. */
  def branches: Seq[String] =
    if (!io.exists(branchesRoot.getPath)) Nil
    else io.list(branchesRoot.getPath).filter(_.isDir).map(_.name).sorted

  /** Fork a BRANCH off the current version — the write-audit-publish
    * staging pattern of the reference's Iceberg deployment (branch,
    * write the risky batch there, audit it, then [[publish]] atomically
    * or [[dropBranch]] silently): a metadata-speed clone under
    * `path/_branches/name` plus a fork marker recording the version it
    * forked from. The branch is a full [[CdcTable]] — every operator
    * (merge, DML, evolution, compaction, time travel) works on it, and
    * NOTHING a branch writer does is visible to readers of this table
    * until publish. Data files hard-link, so a branch costs metadata
    * until it actually rewrites something.
    */
  def createBranch(name: String): CdcTable = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"branch name '$name' — use [A-Za-z0-9._-], starting alphanumeric")
    require(!io.exists(new File(branchDir(name), CurrentPointer).getPath),
      s"branch $name of $path already exists")
    val forkV = currentOrThrow
    cloneTo(branchDir(name).getPath): Unit
    io.writeAtomic(forkFile(name).getPath, forkV.toString)
    branch(name)
  }

  /** Handle on an existing branch (same keys/partitioning/IO as the
    * parent — the clone carried them). Branch RETENTION is effectively
    * unbounded, deliberately: the fork version (branch v1) must survive
    * every staged commit so [[publishRebased]] can always diff
    * fork→head, a branch's whole history is bounded by its staged
    * commits (hard-linked, metadata-cheap), and publish/drop deletes
    * the entire directory anyway — a staging area needs its base, not
    * a retention policy.
    */
  def branch(name: String): CdcTable = {
    require(io.exists(new File(branchDir(name), CurrentPointer).getPath),
      s"no branch $name at $path (have: ${branches.mkString(", ")})")
    new CdcTable(spark, branchDir(name).getPath, keys, partitionSource,
      retainVersions = BranchRetain, autoCompactMaxFiles, bloomColumns, io,
      partitionGranularity, ndvColumns)
  }

  /** PUBLISH the branch: fast-forward this table to the branch's current
    * state as ONE new version (op `PUBLISH` in [[history]]), then drop
    * the branch. Metadata-speed — the branch's files hard-link into the
    * new version exactly like [[cloneTo]]; audit-added CHECK constraints
    * carry over. Readers see the whole audited batch at one atomic
    * pointer flip, and [[restore]] undoes it like any other commit.
    *
    * Fast-forward ONLY: if this table committed anything after the fork,
    * the branch state no longer contains those changes and publishing it
    * would silently roll them back — [[PublishConflictException]]
    * instead; re-branch from the current version and replay the batch
    * (the staged writes are ordinary merges, so replay is idempotent),
    * or apply the branch's rows through a normal [[merge]]. A branch
    * with NO commits since the fork publishes as a no-op (dropped,
    * no version burned).
    */
  def publish(name: String): Unit = {
    val b = branch(name)
    require(io.exists(forkFile(name).getPath),
      s"branch $name of $path has no fork marker — not created by createBranch()")
    val forkV = io.readString(forkFile(name).getPath).trim.toLong
    val cur = currentOrThrow
    if (cur != forkV)
      throw new PublishConflictException(
        s"branch $name forked at v$forkV but $path is now at v$cur — the branch " +
          "no longer fast-forwards; re-branch and replay, or merge its rows")
    if (b.currentOrThrow > 1L) withOp("PUBLISH") {
      withCommitTags(Map(PublishedBranchTag -> name)) {
      val next = cur + 1
      reserveOrConflict(next)
      // a crashed writer of this same (reclaimed) number may have left a
      // partial commit dir; we own the reservation, clear it
      if (io.exists(commitDir(next).getPath))
        io.deleteRecursively(commitDir(next).getPath)
      b.linkStateInto(this, next)
      val mine = constraints.map(_._1).toSet
      b.constraints.filterNot(c => mine(c._1))
        .foreach { case (n, p) => addConstraintUnchecked(n, p) }
      commitPointer(next)
      }
    } else {
      // No staged data commits — still carry branch-added CHECK
      // constraints to the parent: an auditor whose whole batch was
      // "declare this invariant" must not lose it to the no-op drop.
      // The parent equals the fork state (fast-forward precondition),
      // so checked addition validates against the same rows the auditor
      // saw; a duplicate name means the parent already has it.
      val mine = constraints.map(_._1).toSet
      b.constraints.filterNot(c => mine(c._1))
        .foreach { case (n, p) => addConstraint(n, p) }
    }
    dropBranch(name)
  }

  /** `(branch, forked-at parent version, branch head version)` rows —
    * the `SHOW BRANCHES` face. `forked_at = -1` marks a branch directory
    * without a fork marker (not created by [[createBranch]]); head > 1
    * means the branch holds staged commits.
    */
  def branchInfo: Seq[(String, Long, Long)] =
    branches.map { n =>
      val forkV =
        if (io.exists(forkFile(n).getPath))
          io.readString(forkFile(n).getPath).trim.toLong
        else -1L
      (n, forkV, branch(n).currentVersion.getOrElse(0L))
    }

  /** PUBLISH a branch whose parent moved past the fork — the rebase
    * resolution [[publish]]'s conflict message points at: the branch's
    * staged DELTA (its change feed from the fork clone to its head)
    * replays onto the CURRENT parent state through the ordinary keyed
    * merge, so parent commits made after the fork survive and
    * keys the delta touches take the branch's final state (standard
    * merge semantics — the staged batch is the later writer, its batch-
    * internal collisions latest-wins on `tsCol`) while keys it does not
    * touch keep the parent's post-fork state — exactly what would have
    * happened had the staged batches been merged directly. Lands as one
    * ordinary MERGE commit (not a PUBLISH fast-forward: the result is a
    * three-way combination, not the branch head). Falls back to plain
    * [[publish]] when the parent never moved. The branch drops
    * afterwards either way.
    *
    * Cost: delta-sized — one branch CDF diff + one merge of that delta;
    * the parent's post-fork data is never rewritten beyond the months
    * the delta touches.
    */
  def publishRebased(name: String, tsCol: String): Unit = {
    val b = branch(name)
    require(io.exists(forkFile(name).getPath),
      s"branch $name of $path has no fork marker — not created by createBranch()")
    val forkV = io.readString(forkFile(name).getPath).trim.toLong
    if (currentOrThrow == forkV) { publish(name); return }
    val head = b.currentOrThrow
    if (head > 1L) {
      val feed = b.changesBetween(1L, head)
      val batch = feed
        .filter(col(ChangeTypeCol).isin("insert", "update_postimage", "delete"))
        .withColumn(CdcMerge.OpColumn,
          when(col(ChangeTypeCol) === "delete", lit("d")).otherwise(lit("u")))
        .drop(ChangeTypeCol)
      merge(batch, tsCol)
    }
    dropBranch(name)
  }

  /** Discard a branch (the audit said no): delete its directory; the
    * parent table never sees anything. Idempotent.
    */
  def dropBranch(name: String): Unit =
    if (io.exists(branchDir(name).getPath))
      io.deleteRecursively(branchDir(name).getPath)

  /** Constraint carry-over for [[cloneTo]]: the source table already
    * guarantees the invariant over exactly these rows.
    */
  private def addConstraintUnchecked(name: String, predicate: String): Unit =
    io.writeAtomic(constraintsFile.getPath,
      (constraints :+ (name -> predicate))
        .map { case (n, p) => s"$n\t$p" }.mkString("\n"))

  /** Drop expired history: version directories at or below the pointer
    * that fall outside the newest `retainVersions`, then any commit
    * directory at or below the pointer that no retained manifest
    * references. A legacy full-copy version dir is also a data dir: it
    * stays, whole and readable, while a retained manifest names it.
    * NEVER touches a version number above
    * the pointer: those are reservations of writers that are either
    * in-flight (deleting them would corrupt a concurrent commit) or
    * crashed (reclaimed by the takeover step of [[mergeWithRetry]] when
    * their number comes up again). Safe to re-run at any time.
    *
    * Concurrency sizing: `retainVersions` is also the read lease — a
    * merge scanning version X survives `retainVersions - 1` competing
    * commits before X can be expired under it. Size it above the worst
    * concurrent-writer lag (default 3 tolerates two commits landing
    * during one in-flight merge).
    */
  def expire(): Unit = currentVersion.foreach { cur =>
    val all = versions
    val live = all.filter(_ <= cur).takeRight(retainVersions).toSet + cur
    // a concurrent writer's expire may have just removed a live version
    val referencedDirs = live.flatMap { v =>
      try manifest(v).map(_._2)
      catch { case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => Nil }
    }
    all.filter(v => v <= cur && !live.contains(v) &&
        !referencedDirs.contains(versionDir(v).getName))
      .foreach { v =>
        io.deleteRecursively(versionDir(v).getPath)
        if (io.exists(dvVersionDir(v).getPath))
          io.deleteRecursively(dvVersionDir(v).getPath)
      }
    // GC at MONTH-DIR granularity, not just whole commit dirs: a
    // dropMonths retention cut unlists a month whose commit dir the
    // kept months still reference — once no retained manifest names
    // the month's rel path, its subdir frees even though its commit
    // dir survives (retention that never frees storage isn't
    // retention). A commit dir with no referenced keys at all still
    // goes wholesale.
    val referencedCommits = referencedDirs.map(_.takeWhile(_ != '/'))
    io.list(path)
      .filter(e => e.isDir && e.name.matches("c\\d{8}"))
      .filter(e => e.name.stripPrefix("c").toLong <= cur)
      .foreach { e =>
        if (!referencedCommits.contains(e.name))
          io.deleteRecursively(new File(path, e.name).getPath)
        else if (!referencedDirs.contains(e.name))
          io.list(new File(path, e.name).getPath)
            .filter(s => s.isDir && s.name.startsWith(s"$PartCol="))
            .filterNot(s => referencedDirs.contains(s"${e.name}/${s.name}"))
            .foreach(s => io.deleteRecursively(
              new File(new File(path, e.name), s.name).getPath))
      }
  }

  /** Initialize (overwrite) the table with `df` as a new version. */
  def init(df: DataFrame): Unit = withOp("CREATE") {
    commit(distributeByMonth(withPart(df)), carried = Nil, currentVersion)
  }

  /** Keyless append (reference K3/K4): the batch lands in a new commit
    * dir whose keys ADD manifest entries — no key is replaced, so a key
    * can span many commit dirs until compaction folds them, and no
    * prior data file is read, rewritten or copied. The batch commits
    * through the same atomic-pointer protocol; a crashed append leaves
    * only a pointer-unreachable orphan that [[expire]] collects.
    */
  def append(df0: DataFrame): Unit = withOp("APPEND") {
    val df = alignAppendTypes(df0)
    exists: Unit // legacy hive-at-root guard (throws); bootstrap on a truly-empty dir is fine
    val cur = currentVersion
    commit(distributeByMonth(withPart(df)), carried = cur.map(manifest).getOrElse(Nil), cur)
    maybeAutoCompact()
  }

  /** `df` with its partition key minted as `__part_month`; an
    * unpartitioned frame mints none (its one key is implicit).
    */
  private def withPart(df: DataFrame): DataFrame = partitionSource match {
    case Some(src) => df.withColumn(PartCol, date_format(col(src), partPattern))
    case None      => df
  }

  /** The key columns a commit frame carries ([[withPart]]): the commit
    * writes one hive dir per value and the write shapes distribute by
    * them; none on an unpartitioned table.
    */
  private def keyCols: Seq[String] =
    if (partitionSource.isDefined) Seq(PartCol) else Nil

  /** Hash-distribute an UN-SHAPED commit batch by its month key before
    * the hive dynamic-partition write (the Iceberg
    * `write.distribution-mode=hash` discipline, guide §6): without it
    * every write task opens a writer for EVERY month it holds — at scale
    * that is tasks x months small files per commit, and locally the
    * single-scan-task init serializes all months through one writer.
    * REBALANCE rather than a plain repartition: AQE coalesces small
    * months together (few files locally) AND SPLITS a hot month across
    * tasks by byte size (optimizeSkewsInRebalancePartitions, on by
    * default) — a plain hash repartition would funnel a skewed month
    * through one writer task, the exact straggler guide §2.5 warns a
    * monthly-partitioned 100 TB table produces. Applied ONLY to
    * init/append/merge batches — compaction paths pre-shape their own
    * distribution (range/z-order cluster layouts a blanket repartition
    * would destroy), and a batch the CALLER explicitly repartitioned or
    * sorted keeps its shape — pre-clustering an init batch so file
    * min/max stats prune (the FileSkipping discipline) is a supported
    * idiom this distribution must not silently undo. An unpartitioned
    * frame writes unshuffled into its commit's one data dir.
    */
  private def distributeByMonth(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def userShaped(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation => true
      case _: Sort => true
      case p: Project => userShaped(p.child) // withPart/projections keep partitioning
      case _ => false
    }
    if (keyCols.isEmpty || userShaped(df.queryExecution.logical)) df
    else df.hint("rebalance", col(PartCol))
  }

  /** Align an appended batch to the CURRENT stored column types: a
    * NARROWER batch column upcasts losslessly to the stored type; a
    * WIDER or incompatible batch column rejects loudly — append cannot
    * evolve column types: it rewrites no stored file, and the multi-dir
    * file scans ([[readWhere]], [[readFiltered]], [[countWhere]]) read
    * every live file in ONE mergeSchema relation, which cannot reconcile
    * e.g. int files with long files. Widen through [[merge]] (which
    * rewrites at the union type) or an explicit migration.
    */
  private def alignAppendTypes(df: DataFrame): DataFrame = currentVersion match {
    case None => df
    case Some(v) =>
      // the schema sidecar spares a per-append mergeSchema inference over
      // the data files (measured: it dominated the keyless-append step,
      // BASELINE.md "Write-path (CDC/DML) scaling slopes", r11 refresh);
      // the relation-based fallback covers pre-sidecar tables
      val curT = schemaAt(v).map(_.map(f => f.name -> f.dataType).toMap)
        .getOrElse(readVersion(v).schema.map(f => f.name -> f.dataType).toMap)
      val bad = scala.collection.mutable.Buffer.empty[String]
      val out = df.schema.fields.foldLeft(df) { (d, f) =>
        curT.get(f.name) match {
          case Some(t) if t != f.dataType =>
            SchemaEvolution.widenedType(t, f.dataType) match {
              case Some(w) if w == t => d.withColumn(f.name, col(f.name).cast(t))
              case _ =>
                bad += s"${f.name}: table ${t.simpleString}, batch ${f.dataType.simpleString}"
                d
            }
          case _ => d
        }
      }
      require(bad.isEmpty,
        s"append to $path cannot evolve column types (${bad.mkString("; ")}) — " +
          "widening evolves through merge(); incompatible changes need an explicit migration")
      out
  }

  // ----------------------------------------------------------------- merge

  /** MERGE a raw CDC batch: latest-wins dedup on (keys, tsCol), then
    * join-based upsert/delete, rewriting only touched partition keys (an
    * unpartitioned table's one key: the whole table). Idempotent:
    * re-applying the same batch is a no-op.
    *
    * An EMPTY batch (zero rows after dedup) is a COMPLETE no-op: no
    * version is burned, and — deliberate semantics change vs pre-r10
    * builds — no schema evolution happens either. A zero-row batch that
    * carries new columns does NOT widen the table schema; evolve through
    * [[SchemaEvolution]] (or the first non-empty batch carrying the
    * column) instead of relying on evolve-via-empty-batch. The isEmpty
    * probe costs one driver job over the already-checkpointed batch.
    */
  def merge(batch: DataFrame, tsCol: String, tieBreakers: Seq[String] = Nil): Unit =
    mergeImpl(Dedup.latestWins(batch, keys, tsCol, tieBreakers))

  /** [[merge]] minus the latest-wins dedup pass, for batches that are
    * ALREADY one row per key BY CONSTRUCTION — the maintained-view
    * refreshes ([[JoinView.starBatch]], [[DerivedView.deltaBatch]])
    * each emit exactly one CDC row per
    * affected view key, so the dedup's groupBy was a full extra shuffle
    * + aggregation of every refresh batch that provably returned its
    * input unchanged. Raw CDC feeds (multiple events per key) must keep
    * using [[merge]]; this is deliberately package-private so external
    * batches cannot skip the dedup contract.
    */
  private[graft] def mergePreDeduped(batch: DataFrame): Unit = mergeImpl(batch)

  private def mergeImpl(dedupedIn: DataFrame): Unit = withOp("MERGE") {
    if (!exists) {
      // first batch bootstraps the table (CREATE TABLE path, K6)
      init(dedupedIn.filter(col(CdcMerge.OpColumn) =!= "d")
        .drop(CdcMerge.OpColumn))
      return
    }
    // localCheckpoint: the deduped batch is referenced up to three times
    // (month probe, moved-key guard, the merge itself) — materializing it
    // once keeps the CALLER's batch plan from re-executing per reference
    // (a streaming foreachBatch source or a derived churn set would
    // otherwise be recomputed 3x), and it is delta-sized by assumption
    val deduped = dedupedIn.localCheckpoint()
    // an EMPTY batch is a complete no-op: without this, it would still
    // burn a version — a full table rewrite on an unpartitioned table —
    // for zero row changes (reachable from maintenance refreshes that net
    // nothing, idempotent replays, and quiet streaming windows). The
    // isEmpty probe reads the already-materialized checkpoint, not the
    // caller's plan.
    if (deduped.isEmpty) return
    // the version this merge reads; the commit reserves expected+1, so a
    // concurrent commit between here and the reservation surfaces as a
    // CommitConflictException instead of a lost update
    val expected = currentOrThrow
    val entries = manifest(expected)
    // Partition-pruned copy-on-write: the keys the batch touches are
    // read, merged, and re-manifested; everything else carries over. An
    // unpartitioned table has one key, so it is touched whole.
    val touched: Set[String] = partitionSource match {
      case None => entries.map(_._1).toSet
      case Some(src) =>
        val batchMonths = deduped
          .select(date_format(col(src), partPattern).as(PartCol))
          .distinct().as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq
        // Moved-key guard: a stored row whose key appears in the batch may
        // live in a different month (the partition-source column was
        // updated, or a delete arrived carrying a new/null month). Probe
        // the stored (keys, month) pairs — column pruning keeps this scan
        // to the key columns plus the attached month literal — with the
        // small batch-key set broadcast, and union those months into the
        // touched set so the old copy is read and rewritten too.
        val keyMonths = readParts(entries, None, expected)
          .select((keys.map(col) :+ col(PartCol)): _*)
          .join(broadcast(deduped.select(keys.map(col): _*).distinct()), keys, "left_semi")
          .select(col(PartCol))
          .distinct().as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq
        (batchMonths ++ keyMonths).distinct.filter(_ != null).toSet
    }
    val existing =
      if (entries.exists(e => touched.contains(e._1)))
        readParts(entries, Some(touched), expected).drop(PartCol)
      else deduped.drop(CdcMerge.OpColumn).filter(lit(false))
    val merged = distributeByMonth(withPart(CdcMerge.merge(existing, deduped, keys)))
    commit(merged, carried = entries.filterNot(e => touched(e._1)), Some(expected))
    maybeAutoCompact()
  }

  /** Snapshot SYNC — make the table's contents equal `snapshot`
    * (latest-wins within it), with the difference applied as an ordinary
    * [[merge]] so the change feed carries TRUE row-level diffs: present
    * keys upsert, keys the snapshot lacks delete (`MERGE ... WHEN NOT
    * MATCHED BY SOURCE THEN DELETE` — the full-table-ingest shape where
    * the source re-exports everything and disappearing rows mean
    * deletions). Maintained views (incremental/join/sketch/Gram) refresh
    * off the emitted deletes exactly like any other churn.
    *
    * One anti-join computes the vanished keys (AQE picks broadcast vs
    * shuffle — a "snapshot" can be anything from a dimension re-export
    * to the whole table); their CURRENT rows ride the batch as
    * `__op = 'd'`, so the merge's pre-image machinery sees real rows,
    * and a sync that changes nothing is the usual empty-batch no-op.
    */
  def syncFrom(snapshot: DataFrame, tsCol: String): Unit = {
    require(keys.nonEmpty, s"$path: snapshot sync needs merge keys")
    val cur = read
    // VALUE-level diff, not key-level: a periodic full re-export mostly
    // repeats yesterday's rows, and re-merging identical rows would
    // rewrite the whole table every sync. Rows compare on EVERY snapshot
    // column EXCLUDING tsCol (an export stamp changes every run by
    // definition); a snapshot-NEW column compares against a typed NULL
    // pad on the current side, so a row whose only change is a value in
    // that column is still detected and the column's values land through
    // the merge's ordinary schema evolution (diffing only the shared
    // columns would silently classify such rows unchanged — partial
    // evolution). EXCEPT ALL is null-safe and exact, and its output is
    // delta-sized. An unchanged sync degenerates to the empty-batch
    // no-op — zero versions burned.
    val compareCols = snapshot.columns.filter(_ != tsCol).toSeq
    require(keys.forall(compareCols.contains),
      s"$path: snapshot must carry the merge keys ${keys.mkString(", ")}")
    val snapTypes = snapshot.schema.fields.map(f => f.name -> f.dataType).toMap
    val curPadded = compareCols.foldLeft(cur) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(snapTypes(c)))
    }
    val changedKeys = snapshot.select(compareCols.map(col): _*)
      .exceptAll(curPadded.select(compareCols.map(col): _*))
      .select(keys.map(col): _*).distinct()
    val ups = snapshot.join(changedKeys, keys, "left_semi")
      .withColumn(CdcMerge.OpColumn, lit("u"))
    val gone = cur
      .join(snapshot.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .withColumn(CdcMerge.OpColumn, lit("d"))
    merge(ups.unionByName(gone, allowMissingColumns = true), tsCol)
  }

  /** [[merge]] wrapped in the reference's merge-conflict retry loop
    * (incremental_kafka_s3_cdc.py:281-291 — 10 tries x 10 s sleep +
    * REFRESH): every attempt re-reads the CURRENT table state, so a retry
    * after losing a race merges on top of the winner's commit, never on
    * the stale snapshot.
    *
    * Crashed-writer takeover: a reservation is reclaimed (dir removed)
    * only on the penultimate attempt, and only if the SAME reservation
    * (same version number, same directory mtime — i.e. zero progress) was
    * what blocked this writer for at least the two preceding backoff
    * sleeps. A live writer that merely commits slowly keeps advancing its
    * directory mtime and is never reclaimed; a writer stalled past the
    * whole backoff (default ~90 s) is treated as dead — the same
    * assumption the reference's 10x10s loop makes. A reclaimed-then-
    * revived writer's late commit is still fenced by commitPointer's
    * version check.
    */
  def mergeWithRetry(
      batch: DataFrame, tsCol: String, tieBreakers: Seq[String] = Nil,
      maxTries: Int = 10, sleepMs: Long = 10000L): Unit = {
    var attempt = 0
    var observed: Option[(Long, Long)] = None // blocking (version, dir mtime)
    var observedAt = 0
    var done = false
    while (!done) {
      try { merge(batch, tsCol, tieBreakers); done = true }
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= maxTries) throw e
          val nxt = currentVersion.getOrElse(0L) + 1
          val sig = (nxt, io.lastModified(versionDir(nxt).getPath))
          if (!observed.contains(sig)) { observed = Some(sig); observedAt = attempt }
          Thread.sleep(sleepMs)
          if (attempt == maxTries - 1 && attempt - observedAt >= 1 &&
              currentVersion.getOrElse(0L) + 1 == nxt &&
              io.lastModified(versionDir(nxt).getPath) == sig._2)
            // stale for the whole observed backoff: presumed dead
            reclaim(nxt)
      }
    }
  }

  /** Remove a dead writer's reservation of version `n` (above the
    * pointer): its commit dir and deletion vector first, its version dir
    * last, so a reclaim cut short is redone by the next one. A later
    * commit of `n` then starts clean — a stale vector left behind would
    * otherwise read as that commit's deletes.
    */
  private def reclaim(n: Long): Unit =
    if (io.exists(versionDir(n).getPath)) {
      io.deleteRecursively(commitDir(n).getPath)
      io.deleteRecursively(dvVersionDir(n).getPath)
      io.deleteRecursively(versionDir(n).getPath)
    }

  // ------------------------------------------------------- deletion vectors

  // The vector lives OUTSIDE the data directories (`path/dv/vNNNNNNNN/`)
  // so no data-path listing ever sees it: an underscore-prefixed sidecar
  // inside the version dir also works, but Spark 4 then logs a spurious
  // "All paths were ignored" warning on every vector read (the top-level
  // input path trips the hidden-name filter even though the read
  // succeeds) — a side location avoids both the noise and the reliance
  // on that ambiguous behavior. Lifecycle matches the version dirs:
  // written before the pointer commit, expired with its version.
  private def dvVersionDir(v: Long) = new File(path, f"dv/v$v%08d")
  private def dvDir(v: Long) = new File(dvVersionDir(v), DeletesName)
  private def dvSummaryFile(v: Long) = new File(dvVersionDir(v), DeletesSummaryName)

  /** Per-file deleted-position counts recorded at version `v`:
    * `(data dir rel path, file name, count)` — the metadata face of the
    * deletion vector (driver-side, bounded by files-with-deletes).
    * Empty when the version carries no vector. Public observability:
    * "how much merge-on-read debt does this table carry" is the number a
    * maintenance policy watches to schedule a materializing compact.
    */
  def dvSummary(v: Long): Seq[(String, String, Long)] =
    if (!io.exists(dvSummaryFile(v).getPath)) Nil
    else io.readLines(dvSummaryFile(v).getPath).map { l =>
      val p = l.split('\t')
      (p(0), p(1), p(2).toLong)
    }

  private def hasDv(v: Long): Boolean = io.exists(dvSummaryFile(v).getPath)

  /** The deletion vector of version `v` as a DataFrame
    * `(sub, file, idx)`: row positions (parquet row index within the
    * named data file) that are DELETED as of `v`. None when the version
    * has no vector. A legacy full-copy version recorded an empty sub for
    * its one dir; it reads as that dir's name.
    */
  private def dvAt(v: Long): Option[DataFrame] =
    if (!hasDv(v)) None
    else {
      val dv = spark.read.parquet(dvDir(v).getPath)
      Some(if (legacy(v)) dv.withColumn("sub", lit(versionDir(v).getName)) else dv)
    }

  /** The carry-stable sub-directory discriminator of a data file's
    * identity: the name of the directory holding it. File NAMES are not
    * table-unique: one write task emits a same-named part file into
    * EVERY month dir its rows hit, so a (file, idx) match alone would
    * delete row idx of the wrong month's twin. The month dir name
    * (`__part_month=...`) — or, unpartitioned, the commit dir name —
    * disambiguates and survives every manifest re-point (the data dir
    * is kept verbatim; across commits the writer UUID differs).
    */
  private def dvSubOf(dirRel: String): String =
    dirRel.substring(dirRel.lastIndexOf('/') + 1)

  private def dvSubExpr: org.apache.spark.sql.Column =
    element_at(split(col("_metadata.file_path"), "/"), -2)

  /** Filter version `v`'s deletion vector out of a RAW file scan (the
    * `_metadata` struct must still be resolvable — call this before any
    * join/aggregation, which every raw-scan site below does). The vector
    * is a plain (sub, file name, row index) anti-join: at 100 TB its
    * size is bounded by rows deleted since those files were last
    * rewritten, so Catalyst/AQE broadcast it in the common case and
    * degrade to a shuffle join only if a table somehow accretes a huge
    * vector — correct either way, and compaction resets it to zero.
    */
  private def applyDv(raw: DataFrame, v: Long): DataFrame = dvAt(v) match {
    case None => raw
    case Some(dv) =>
      raw.withColumn(DvSubCol, dvSubExpr)
        .withColumn(DvFileCol, col("_metadata.file_name"))
        .withColumn(DvIdxCol, col("_metadata.row_index"))
        .join(dv.select(col("sub").as(DvSubCol), col("file").as(DvFileCol),
            col("idx").as(DvIdxCol)),
          Seq(DvSubCol, DvFileCol, DvIdxCol), "left_anti")
        .drop(DvSubCol, DvFileCol, DvIdxCol)
  }

  private def writeDvSummary(v: Long, rows: Seq[(String, String, Long)]): Unit =
    io.writeAtomic(dvSummaryFile(v).getPath,
      rows.sortBy(r => (r._1, r._2))
        .map { case (d, f, c) => s"$d\t$f\t$c" }.mkString("\n"))

  /** Carry version `from`'s deletion vector to reserved version `to`.
    * `keepDirs` = the data dirs `to` still references (entries for
    * replaced/dropped dirs fall away — their files were rewritten with
    * the deletes applied). When every entry survives, the vector's
    * parquet files LINK (metadata-only); a partial carry, or one from a
    * legacy version (whose subs [[dvAt]] renames), rewrites the (small)
    * vector through Spark.
    */
  private def carryDv(from: Long, to: Long, keepDirs: Set[String]): Unit = {
    val sum = dvSummary(from)
    if (sum.isEmpty) return
    val kept = sum.filter(e => keepDirs.contains(e._1))
    if (kept.isEmpty) return
    if (kept.size == sum.size && !legacy(from)) {
      io.list(dvDir(from).getPath).filter(!_.isDir).foreach(e =>
        io.linkOrCopy(new File(dvDir(from), e.name).getPath,
          new File(dvDir(to), e.name).getPath))
    } else {
      val keepKeys = kept.map(e => s"${dvSubOf(e._1)}/${e._2}")
      dvAt(from).get
        .filter(concat(col("sub"), lit("/"), col("file")).isin(keepKeys: _*))
        .coalesce(1).write.parquet(dvDir(to).getPath)
    }
    writeDvSummary(to, kept)
  }

  /** The data directories of version `v` as (rel path, dir). */
  private def dataDirsAt(v: Long): Seq[(String, File)] =
    manifest(v).map(_._2).distinct.map(rel => rel -> new File(path, rel))

  /** Per-row tag of a raw file scan's data dir: the file path's last two
    * directory segments, matched driver-side against [[dirTagOf]].
    */
  private def dirTagExpr: org.apache.spark.sql.Column = {
    val parts = split(col("_metadata.file_path"), "/")
    concat_ws("/", element_at(parts, -3), element_at(parts, -2))
  }

  /** [[dirTagExpr]]'s value for a manifest data dir. Unique within a
    * manifest: a month dir name recurs across commit dirs, so the tag
    * keeps the commit dir too, and a one-segment dir pairs with the
    * table dir's name.
    */
  private def dirTagOf(rel: String): String = {
    val full = s"${new File(path).getName}/$rel"
    full.substring(full.lastIndexOf('/', full.lastIndexOf('/') - 1) + 1)
  }

  /** Predicate DELETE, MERGE-ON-READ: instead of rewriting every file
    * holding a match (copy-on-write [[delete]]), record the matching
    * rows' (file, row position) in a deletion vector committed WITH the
    * new version; reads anti-join the vector out. Deleting 100 rows from
    * a 100 TB table writes kilobytes — data files carry forward
    * untouched (a manifest re-point), prior versions stay
    * byte-immutable for time travel, and [[compact]] (or any
    * copy-on-write rewrite touching the files) materializes the vector
    * away. The Delta deletion-vector / Iceberg v2 position-delete
    * analogue, on the same atomic-pointer commit protocol.
    *
    * Semantics match [[delete]] exactly: rows where `condition` is true
    * vanish from reads; a no-match delete burns no version; deleting an
    * already-vector-deleted row again is a no-op (the vector is built
    * from the VISIBLE rows). Interactions: file-skipping stats still
    * prune conservatively (a vector only shrinks a file's live content);
    * [[countWhere]] subtracts per-file vector counts so metadata counts
    * stay exact; [[minMaxFromStats]] refuses (a vector may have deleted
    * the extremum row); [[changesBetween]] sees vector deletes because
    * both snapshots read vector-applied (its month pruning consults the
    * vector summaries).
    */
  def deleteVectored(condition: org.apache.spark.sql.Column): Unit = withOp("DELETE") {
    val cur = currentOrThrow
    val dirs = dataDirsAt(cur)
    if (dirs.isEmpty) return
    // ONE multi-path scan over every data dir, with the dir identity
    // derived per row from `_metadata.file_path` ([[dirTagExpr]], mapped
    // back to the manifest rel driver-side). The previous shape unioned
    // one relation PER MANIFEST ENTRY; a months x commits table paid a
    // driver-side footer read and a scan node per entry (measured at
    // sf0.1: 21.5 s of the k_analyze_ndv fixture build was this union's
    // planning + per-relation listing).
    // Read schema: the sidecar UNION schema when the table has one (every
    // commit since the sidecars landed writes it), parquet mergeSchema
    // only as the legacy fallback. The one multi-path scan spans ALL
    // commit dirs at once, and after a type-widening merge only the
    // touched months were rewritten at the wide type — mergeSchema
    // REFUSES to reconcile e.g. int files (untouched months) with bigint
    // files (rewritten months), whereas the explicit wide read schema
    // upcasts the narrow files at scan time (the same union type the
    // readParts per-commit-group unionByName coercion produces), so a
    // table readable via read() stays vector-deletable. PartCol is
    // stripped: on the partitioned layout it lives in directory names,
    // not in the files this scan opens directly.
    val reader = schemaAt(cur) match {
      case Some(sc) => spark.read.schema(
        org.apache.spark.sql.types.StructType(sc.fields.filterNot(_.name == PartCol)))
      case None => spark.read.option("mergeSchema", "true")
    }
    val scans = reader
      .parquet(dirs.map(_._2.getPath): _*)
      .withColumn(DvDirCol, dirTagExpr)
      .withColumn(DvSubCol, dvSubExpr)
      .withColumn(DvFileCol, col("_metadata.file_name"))
      .withColumn(DvIdxCol, col("_metadata.row_index"))
    val matchedAll = scans.filter(coalesce(condition, lit(false)))
      .select(col(DvDirCol).as("dir"), col(DvSubCol).as("sub"),
        col(DvFileCol).as("file"), col(DvIdxCol).as("idx"))
    // visible rows only: positions already in the vector stay single
    val matched = (dvAt(cur) match {
      case None     => matchedAll
      case Some(dv) => matchedAll.join(dv, Seq("sub", "file", "idx"), "left_anti")
    }).localCheckpoint()
    // driver-side but BOUNDED: one row per (dir, file) holding a deleted
    // position — at most the table's file count, the same scale as the
    // stats sidecars the driver already handles
    val relByTag = dirs.map { case (rel, _) => dirTagOf(rel) -> rel }.toMap
    val perFile = matched.groupBy("dir", "file").count()
      .collect().map(r => (relByTag(r.getString(0)), r.getString(1), r.getLong(2))).toSeq
    if (perFile.isEmpty) return // no matches: no version burned
    val next = cur + 1
    reserveOrConflict(next)
    // carry the DATA untouched — a manifest re-point: the whole point
    writeManifest(next, manifest(cur))
    copySchema(cur, next)
    // vector = previous vector ∪ fresh positions; summary merges counts
    val fresh = matched.drop("dir")
    val newDv = dvAt(cur).fold(fresh)(_.unionByName(fresh))
    newDv.coalesce(1).write.parquet(dvDir(next).getPath)
    val merged = (dvSummary(cur) ++ perFile)
      .groupBy(e => (e._1, e._2)).map { case ((d, f), es) => (d, f, es.map(_._3).sum) }
      .toSeq
    writeDvSummary(next, merged)
    commitPointer(next)
  }

  /** METADATA-ONLY partition drop: commit a new version whose manifest
    * simply omits the named months — terabytes of expired data leave the
    * visible table without reading or writing one data file (the
    * `ALTER TABLE DROP PARTITION` / log-retention analogue; a predicate
    * [[delete]] would copy-on-write REWRITE months it can instead just
    * unlist, and even [[deleteVectored]] pays a find-the-rows scan).
    * Prior versions keep the months for time travel until [[expire]]'s
    * GC collects the then-unreferenced commit dirs; the change feed
    * reports the dropped rows as ordinary deletes (the dropped months'
    * dir sets differ between the versions). Unknown month names are
    * ignored and a drop that removes nothing burns no version, so
    * retention re-runs are idempotent.
    */
  def dropMonths(months: Set[String]): Unit = withOp("DROP_PARTITIONS") {
    require(partitionSource.isDefined, "dropMonths needs a partitioned table")
    val cur = currentOrThrow
    val (dropped, kept) = manifest(cur).partition(e => months.contains(e._1))
    if (dropped.isEmpty) return
    val next = cur + 1
    reserveOrConflict(next)
    writeManifest(next, kept)
    copySchema(cur, next)
    carryDv(cur, next, keepDirs = kept.map(_._2).toSet)
    commitPointer(next)
  }

  /** Month-granular retention policy: drop every month strictly BEFORE
    * `keepFrom` (`yyyy-MM`, the inclusive lower bound of the kept
    * range). Returns the dropped month names. `yyyy-MM` sorts
    * lexically, so the cut is a string compare over the manifest —
    * metadata-scale like [[dropMonths]] itself.
    */
  def retainMonthsFrom(keepFrom: String): Set[String] = {
    val keyRe = partitionGranularity match {
      case "hour" => "\\d{4}-\\d{2}-\\d{2}-\\d{2}"
      case "day"  => "\\d{4}-\\d{2}-\\d{2}"
      case _      => "\\d{4}-\\d{2}"
    }
    require(keepFrom.matches(keyRe), s"keepFrom must be $partPattern: $keepFrom")
    val old = manifest(currentOrThrow).map(_._1).filter(_ < keepFrom).toSet
    dropMonths(old)
    old
  }

  /** Materialize the deletion vector NOW, rewriting ONLY the data files
    * that carry deleted positions: their visible rows re-write into one
    * new commit dir, the other files of their dirs join them there by
    * [[TableIO.linkOrCopy]] (a manifest names dirs, not files), and every
    * dir without deletes carries forward by manifest re-point. The
    * targeted counterpart of a full [[compact]]: merge-on-read debt
    * clears at cost proportional to the DEBT-CARRYING files, not the
    * table. No vector → no-op, no version burned.
    *
    * One dir's files always agree on column types, but two vectored dirs
    * may not (a partitioned merge widens only the months it touches).
    * When the files of the vectored dirs do not merge into one parquet
    * schema, those dirs fold whole at their union types instead, so a
    * written dir never mixes types.
    */
  def materializeDeletes(): Unit = withOp("MATERIALIZE") {
    val cur = currentOrThrow
    val vectored = dvSummary(cur).groupBy(_._1).map { case (d, es) => d -> es.map(_._2).toSet }
    if (vectored.isEmpty) return
    val (touched, carried) = manifest(cur).partition(e => vectored.contains(e._2))
    val files = touched.flatMap { case (k, rel) =>
      val dir = new File(path, rel)
      io.list(dir.getPath)
        .filter(e => !e.isDir && e.name.endsWith(".parquet") && !e.name.startsWith("."))
        .map(e => (vectored(rel)(e.name), k -> new File(dir, e.name)))
    }
    keepingReflected(scala.util.Try(spark.read.option("mergeSchema", "true")
        .parquet(files.map(_._2._2.getPath): _*).schema).toOption match {
      case Some(schema) =>
        val (rewritten, kept) = files.partition(_._1)
        val existing = applyDv(
          spark.read.schema(schema).parquet(rewritten.map(_._2._2.getPath): _*), cur)
        commit(withPart(existing), carried, Some(cur), linked = kept.map(_._2))
      case None =>
        commit(withPart(readParts(touched, None, cur).drop(PartCol)), carried, Some(cur))
    })
  }

  /** Debt-policy face of [[materializeDeletes]]: materialize when the
    * vector holds more than `maxRatio` of the table's recorded rows
    * (both numbers pure sidecar metadata). Returns whether it ran — the
    * table-services hook a maintenance loop calls after vectored
    * deletes, like [[compactIfNeeded]] after appends.
    */
  def materializeDeletesIfNeeded(maxRatio: Double = 0.05): Boolean = {
    val cur = currentOrThrow
    val debt = dvSummary(cur).map(_._3).sum
    if (debt == 0L) return false
    val conf = spark.sessionState.newHadoopConf()
    val recorded = dataDirsAt(cur)
      .map(d => FileSkipping.statsForDir(conf, d._2).values.map(_.rows).sum).sum
    val run = recorded > 0L && debt.toDouble / recorded > maxRatio
    if (run) materializeDeletes()
    run
  }

  // ------------------------------------------------- column NDV statistics

  /** NDV sidecars for exactly the data dirs commit `v` produced
    * (carried dirs keep theirs — the dirs are immutable): ONE job over
    * the read-back of the written dirs (columnar, tracked columns only,
    * pages cache-hot — same timing argument as the footer-stats
    * sidecars), grouped by month on a partitioned table and collected at
    * keys × columns × 256 bytes. A tracked column the data lacks records
    * zero registers (an absent column HAS zero distinct values), so
    * analyze never rescans a dir that predates a schema evolution.
    */
  private def writeNdvSidecars(v: Long, outKeys: Seq[String]): Unit =
    if (ndvColumns.nonEmpty && outKeys.nonEmpty) {
      val scan = spark.read.option("basePath", commitDir(v).getPath)
        .parquet(outKeys.map(k => new File(path, relDir(v, k)).getPath): _*)
      val groups = scan.columns.toSeq.filter(_ == PartCol)
      val df = if (groups.isEmpty) scan else scan.withColumn(PartCol, col(PartCol).cast("string"))
      val present = ndvColumns.filter(df.columns.contains)
      val byKey =
        if (present.isEmpty) Map.empty[Seq[String], Map[String, Array[Byte]]]
        else TableStats.collectRegs(TableStats.regsByGroup(df, groups, present), groups)
      outKeys.foreach { k =>
        val got = byKey.getOrElse(if (groups.isEmpty) Nil else Seq(k),
          Map.empty[String, Array[Byte]])
        TableStats.writeSidecar(io, new File(path, relDir(v, k)),
          ndvColumns.map(c => c -> got.getOrElse(c, TableStats.zero)).toMap)
      }
    }

  private def colStatsFile(v: Long) = new File(versionDir(v), ColStatsName)

  /** Table-level column statistics — the `ANALYZE TABLE` body. NDV per
    * tracked column and the exact live row count, answered from METADATA
    * in the steady state: live directories' [[TableStats]] register
    * sidecars byte-max-merge (copy-on-write keeps per-dir sketches exact
    * forever), and rows come from the footer-stats sidecars minus the
    * deletion vector's recorded positions — O(live dirs × columns), zero
    * data I/O, at any table size. Two anomalies scan, each bounded by the
    * anomaly and never the table: a dir with no/incomplete sidecar is
    * scanned once and BACKFILLED (immutable dirs make late stats true
    * stats), and a dir carrying deletion-vector entries recomputes
    * through the vector-applied read (HLL cannot subtract; materializing
    * the vector clears the debt). Returns one row per tracked column
    * `(column, n_rows, hll_sum, hll_zeros, ndv)` — the estimate via
    * [[graft.functions.HllAggregator.estimateSql]], identical SQL text
    * to the cross-engine oracle — and persists the result as the
    * version's `_colstats.tsv` ([[columnStats]] reads it back).
    */
  def analyze(): DataFrame = {
    require(ndvColumns.nonEmpty,
      s"$path declares no ndvColumns — construct/open the table with ndvColumns to track NDV")
    val cur = currentOrThrow
    val conf = spark.sessionState.newHadoopConf()
    val dirs = dataDirsAt(cur)
    val dirtyDirs = dvSummary(cur).map(_._1).toSet
    val acc = scala.collection.mutable.Map.empty[String, Array[Byte]]
    ndvColumns.foreach(c => acc(c) = TableStats.zero)
    // Sidecar-served dirs fold driver-side (metadata only). Everything
    // else — dirty dirs and missing/incomplete sidecars — batches into
    // ONE grouped Spark job: a per-dir-job loop here costs O(dirs) job
    // latencies the moment a table-wide vectored delete dirties every
    // month (measured 19 s → <2 s on the sf0.1 oracle fixture).
    val needScan = scala.collection.mutable.ListBuffer.empty[(String, File, Boolean)]
    dirs.foreach { case (rel, dir) =>
      val dirty = dirtyDirs.contains(rel)
      val sidecar =
        if (dirty) None
        else TableStats.readSidecar(io, dir).filter(m => ndvColumns.forall(m.contains))
      sidecar match {
        case Some(regs) =>
          ndvColumns.foreach(c => acc(c) = TableStats.merged(acc(c), regs(c)))
        case None => needScan += ((rel, dir, dirty))
      }
    }
    if (needScan.nonEmpty) {
      // ONE multi-dir read (mergeSchema absorbs evolution across dirs;
      // absent columns null out, and nulls never touch a register),
      // grouped by the runtime dir tag ([[dirTagExpr]]): a month's
      // PARTITION dir name alone recurs across commit dirs on
      // append-only partitioned tables (each append() lands the month
      // under its own commit; the manifest then lists several dirs for
      // one month), so the tag keeps the commit dir too.
      val relByTag = needScan.map { case (rel, _, _) => dirTagOf(rel) -> rel }.toMap
      require(relByTag.size == needScan.size,
        s"duplicate data-dir tags within version $cur of $path — cannot tag the batched scan")
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(needScan.map(_._2.getPath).toSeq: _*)
      val present = ndvColumns.filter(raw.columns.contains)
      val tagged = raw.select(
        dirTagExpr.as("__dir") +:
          dvSubExpr.as(DvSubCol) +:
          col("_metadata.file_name").as(DvFileCol) +:
          col("_metadata.row_index").as(DvIdxCol) +:
          present.map(col): _*)
      val live = dvAt(cur) match {
        case Some(dv) => tagged.join(dv.select(col("sub").as(DvSubCol),
            col("file").as(DvFileCol), col("idx").as(DvIdxCol)),
          Seq(DvSubCol, DvFileCol, DvIdxCol), "left_anti")
        case None => tagged
      }
      val byDir =
        if (present.isEmpty) Map.empty[Seq[String], Map[String, Array[Byte]]]
        else TableStats.collectRegs(
          TableStats.regsByGroup(live, Seq("__dir"), present), Seq("__dir"))
      needScan.foreach { case (rel, dir, dirty) =>
        val got = byDir.getOrElse(Seq(dirTagOf(rel)), Map.empty[String, Array[Byte]])
        val full = ndvColumns.map(c => c -> got.getOrElse(c, TableStats.zero)).toMap
        // backfill only clean dirs: a vector-applied read is not the
        // dir's true registers (HLL cannot subtract)
        if (!dirty) TableStats.writeSidecar(io, dir, full)
        ndvColumns.foreach(c => acc(c) = TableStats.merged(acc(c), full(c)))
      }
    }
    val nRows = dirs.map { case (_, d) =>
      FileSkipping.statsForDir(conf, d).values.map(_.rows).sum
    }.sum - dvSummary(cur).map(_._3).sum
    val summary = ndvColumns.sorted.map { c =>
      val (s, z) = TableStats.summarize(acc(c))
      (c, nRows, s, z)
    }
    import spark.implicits._
    val out = summary.toDF("column", "n_rows", "hll_sum", "hll_zeros")
      .withColumn("ndv",
        expr(graft.functions.HllAggregator.estimateSql("hll_sum")))
      .localCheckpoint() // tiny; pin before the collect below reuses it
    io.writeAtomic(colStatsFile(cur).getPath,
      (ColStatsHeader +: out.collect().toSeq.map(r =>
        Seq(r.getAs[String]("column"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("hll_sum"), r.getAs[Int]("hll_zeros"),
          r.getAs[Long]("ndv")).mkString("\t"))).mkString("\n"))
    out
  }

  /** The recorded ANALYZE result of the CURRENT version, if one was
    * taken at this version — the planner-facing face (join-side sizing,
    * broadcast decisions) that never recomputes.
    */
  def columnStats: Option[Seq[CdcTable.ColumnStat]] = {
    val f = colStatsFile(currentOrThrow)
    if (!io.exists(f.getPath)) None
    else {
      val lines = io.readLines(f.getPath)
      if (lines.isEmpty || lines.head != ColStatsHeader) None
      else Some(lines.tail.map { l =>
        val p = l.split('\t')
        CdcTable.ColumnStat(p(0), p(1).toLong, p(2).toLong, p(3).toInt, p(4).toLong)
      })
    }
  }

  // ------------------------------------------------------------- DML / CDF

  /** Predicate UPDATE (copy-on-write, the reference's
    * `write.update.mode=copy-on-write` — incremental_kafka_s3_cdc.py:129):
    * rows matching `condition` get `set`'s assignments applied; every
    * right-hand side sees the OLD row (SQL UPDATE semantics, so swaps
    * like `a = b, b = a` work). Partitioned tables rewrite only the
    * months holding matches — the same partition-pruned copy-on-write as
    * [[merge]] — and a row whose partition-source column changes moves to
    * its new month (old copy dropped with its rewritten month, new month
    * gains a manifest entry). No matches -> no new version is burned.
    */
  def update(condition: org.apache.spark.sql.Column,
             set: Map[String, org.apache.spark.sql.Column]): Unit = {
    // validate BEFORE the no-match short-circuit: a typo'd SET column must
    // reject loudly even when the predicate matches nothing
    val bad = set.keySet -- read.columns.toSet
    require(bad.isEmpty, s"UPDATE assigns unknown columns: ${bad.mkString(", ")}")
    withOp("UPDATE")(rewrite(condition) { df =>
      df.select(df.columns.toIndexedSeq.map { c =>
        set.get(c).map(e => when(condition, e).otherwise(col(c)).as(c)).getOrElse(col(c))
      }: _*)
    })
  }

  /** Predicate DELETE (copy-on-write twin of [[update]]): matching rows
    * vanish; partitioned tables rewrite only the months holding matches.
    */
  def delete(condition: org.apache.spark.sql.Column): Unit =
    withOp("DELETE")(rewrite(condition)(_.filter(!coalesce(condition, lit(false)))))

  /** Shared COW core: find the partition keys `condition` touches, apply
    * `transform` to just their rows, commit. `transform` must preserve
    * non-matching rows (update keeps them as-is, delete keeps exactly
    * them).
    */
  private def rewrite(condition: org.apache.spark.sql.Column)
                     (transform: DataFrame => DataFrame): Unit = {
    val expected = currentOrThrow
    val entries = manifest(expected)
    val touched: Set[String] = partitionSource match {
      case Some(_) =>
        readParts(entries, None, expected)
          .filter(condition).select(col(PartCol))
          .distinct().as[String](org.apache.spark.sql.Encoders.STRING).collect().toSet
      case None =>
        if (readVersion(expected).filter(condition).isEmpty) Set.empty
        else entries.map(_._1).toSet
    }
    if (touched.nonEmpty) {
      val existing = readParts(entries, Some(touched), expected).drop(PartCol)
      commit(withPart(transform(existing)), entries.filterNot(e => touched(e._1)), Some(expected))
    }
  }

  /** Change data feed between two retained versions: the row-level diff
    * keyed by the merge keys, tagged `_change_type` in
    * insert / delete / update_preimage / update_postimage — what a
    * downstream incremental consumer replays instead of re-reading the
    * table (Delta CDF / Iceberg changelog semantics, derived purely from
    * the versioned snapshots). One full-outer join on the keys. Schema
    * evolution between the versions is handled by null-padding the
    * missing columns.
    *
    * Both sides read ONLY the partition keys whose manifest data-dir
    * sets differ between the versions: an untouched key points at the
    * very same committed directories in both manifests, so its rows are
    * physically identical on both sides and can contribute no feed
    * entry; a row that moved months rewrites both
    * the origin and destination month, keeping the pruned diff exact.
    * At 100 TB this is what makes per-merge CDF (and the MV refresh
    * built on it) scale with the CHANGED months, not the table — the
    * manifest comparison itself is metadata-scale.
    */
  def changesBetween(fromV: Long, toV: Long): DataFrame = {
    require(keys.nonEmpty,
      "change data feed needs merge keys: a keyless (append-only) table has no row identity to diff")
    val oldEntries = manifest(fromV)
    val newEntries = manifest(toV)
    val om = oldEntries.groupMap(_._1)(_._2)
    val nm = newEntries.groupMap(_._1)(_._2)
    // a key whose dir set is identical can still differ through its
    // DELETION VECTOR (a vectored delete re-points the manifest
    // unchanged). Per surviving dir the vector only GROWS (entries
    // drop only when the dir itself is replaced — a manifest change),
    // so comparing per-dir summary counts detects every difference.
    def dvByDir(v: Long): Map[String, Long] =
      dvSummary(v).groupBy(_._1).map { case (d, es) => d -> es.map(_._3).sum }
    val odv = dvByDir(fromV)
    val ndv = dvByDir(toV)
    val keyOfDir = (oldEntries ++ newEntries).map(_.swap).toMap
    val dvChanged = (odv.keySet ++ ndv.keySet)
      .filter(d => odv.getOrElse(d, 0L) != ndv.getOrElse(d, 0L))
      .map(keyOfDir)
    val changedKeys = (om.keySet ++ nm.keySet)
      .filter(m => dvChanged.contains(m) ||
        om.get(m).map(_.toSet) != nm.get(m).map(_.toSet))
    val oldDf = readParts(oldEntries.filter(e => changedKeys(e._1)), None, fromV).drop(PartCol)
    val newDf = readParts(newEntries.filter(e => changedKeys(e._1)), None, toV).drop(PartCol)
    // null-pad to the union of the read columns AND the versions' recorded
    // schemas: month pruning may drop the only files carrying an evolved
    // column, and the feed's schema must not depend on which months changed
    val recorded = (schemaAt(fromV).toSeq ++ schemaAt(toV).toSeq)
      .flatMap(_.fields).filterNot(_.name == PartCol)
    val allCols = (oldDf.columns ++ newDf.columns ++ recorded.map(_.name)).distinct.toIndexedSeq
    // null-pad missing columns TYPED (from whichever version has them) so
    // the o-row and n-row structs below are union-compatible; a column
    // whose type WIDENED between the versions (int->long merge evolution)
    // resolves to the union type and both sides cast to it — the feed's
    // pre- and post-image structs must agree exactly
    val typeOf = (recorded.map(f => f.name -> f.dataType) ++
      (oldDf.schema ++ newDf.schema).map(f => f.name -> f.dataType))
      .foldLeft(Map.empty[String, org.apache.spark.sql.types.DataType]) {
        case (m, (n2, t)) => m.updated(n2,
          m.get(n2).flatMap(SchemaEvolution.widenedType(_, t)).getOrElse(t))
      }
    // presence marker that survives the outer join where a key value could
    // be null; suffixed until it collides with no user column
    val present = Iterator.iterate("__present")(_ + "_").find(!allCols.contains(_)).get
    def align(df: DataFrame): DataFrame =
      df.select(allCols.map { c =>
        if (!df.columns.contains(c)) lit(null).cast(typeOf(c)).as(c)
        else if (df.schema(c).dataType != typeOf(c)) col(c).cast(typeOf(c)).as(c)
        else col(c)
      }: _*).withColumn(present, lit(true))
    val o = align(oldDf).alias("o")
    val n = align(newDf).alias("n")
    val joinCond = keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val joined = o.join(n, joinCond, "full_outer")
    val inOld = coalesce(col(s"o.$present"), lit(false))
    val inNew = coalesce(col(s"n.$present"), lit(false))
    val nonKey = allCols.filterNot(keys.contains)
    val changed =
      if (nonKey.isEmpty) lit(false)
      else !(struct(nonKey.map(c => col(s"o.$c")): _*) <=>
             struct(nonKey.map(c => col(s"n.$c")): _*))
    // single pass over the join: each row contributes 0, 1, or 2 feed
    // entries (an update yields its pre- AND post-image), exploded from
    // one case expression — the join and both snapshot scans run once,
    // which is the whole point of the one-join scale claim
    def row(side: String, tag: String) =
      struct((allCols.map(c => col(s"$side.$c").as(c)) :+ lit(tag).as(ChangeTypeCol)): _*)
    val entries = when(!inOld && inNew, array(row("n", "insert")))
      .when(inOld && !inNew, array(row("o", "delete")))
      .when(inOld && inNew && changed,
        array(row("o", "update_preimage"), row("n", "update_postimage")))
      .otherwise(array())
    joined.select(explode(entries).as("__r"))
      .select((allCols :+ ChangeTypeCol).map(c => col(s"__r.$c").as(c)): _*)
  }

  /** RESTORE: make a retained historical version's content current again
    * by committing it as a NEW version (Delta-style rollback — history
    * moves forward, nothing is rewritten in place, and the bad versions
    * between remain inspectable until they expire). The new version
    * commits through the normal protocol, so the usual crash-safety and
    * conflict rules apply.
    */
  def restore(v: Long): Unit = restore(v, ifHeadIs = None)

  /** RESTORE with a compare-and-set fence: when `ifHeadIs` is given, the
    * rollback only applies if the table's head is STILL that version —
    * a commit that landed after the caller validated the head makes the
    * restore throw instead of silently replacing it (the abort-recovery
    * race: validate-then-restore is two reads of the head).
    */
  def restore(v: Long, ifHeadIs: Option[Long]): Unit = withOp("RESTORE") {
    val expected = currentOrThrow
    ifHeadIs.foreach { want =>
      if (expected != want)
        throw new CommitConflictException(
          s"RESTORE fence: $path head moved to v$expected after the caller " +
            s"validated v$want — a concurrent commit would be lost; re-validate")
    }
    if (v == expected) return
    // metadata-only rollback: data dirs are immutable and expire() keeps
    // every commit dir a retained manifest references, so the new version
    // simply re-points at version v's directories — no data is read,
    // rewritten or copied (Delta-style RESTORE)
    val entries = manifest(v)
    val next = expected + 1
    reserveOrConflict(next)
    writeManifest(next, entries)
    copySchema(v, next)
    // a restored version resurrects WITH its deletion vector — the
    // restored content is version v's VISIBLE rows
    carryDv(v, next, keepDirs = entries.map(_._2).toSet)
    commitPointer(next)
  }

  /** Compaction (reference K10): rewrite to `target` files per partition,
    * folding a partitioned table's multi-commit months back to one
    * directory each (a new version; content unchanged). `clusterBy`
    * optionally RE-CLUSTERS while compacting: rows land range-ordered on
    * the named columns within each month, so every rewritten file covers
    * a tight value range and [[FileSkipping]] stats prune predicate scans
    * on those columns — the OPTIMIZE SORT BY maintenance move, at zero
    * extra cost beyond the rewrite compaction already pays. A linear sort
    * is tight only on its LEADING column; `zorderBy` instead
    * Morton-clusters ([[ZOrder]]) the named dimensions so every rewritten
    * file covers a small hyper-rectangle of the dimension space — stats
    * prune scans filtered on ANY of the z-ordered columns (the OPTIMIZE
    * ZORDER move). Dimensions are bucketized from their observed min/max
    * (one extra aggregate over the compaction input, which the rewrite
    * reads anyway); numeric and timestamp columns qualify.
    */
  def compact(target: Int = 1, clusterBy: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil): Unit = withOp("COMPACT") {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "pick linear clusterBy OR multi-dim zorderBy, not both")
    val expected = currentOrThrow
    val entries = manifest(expected)
    val nKeys = entries.map(_._1).distinct.size
    val all = readParts(entries, None, expected)
    val shaped =
      if (zorderBy.nonEmpty) zorderShape(all, nKeys, target, zorderBy)
      else compactShape(all, nKeys, target, clusterBy)
    keepingReflected(commit(shaped, carried = Nil, Some(expected)))
  }

  /** PARTITION-SCOPED compaction: fold (and optionally cluster/z-order)
    * ONLY the named months; every other month carries over untouched in
    * the manifest — the `OPTIMIZE t PARTITIONS (...)` statement body,
    * and the manual face of what [[compactIfNeeded]] decides by policy.
    * At 100 TB a full-table OPTIMIZE is a non-event you schedule; the
    * scoped form is the tool an operator actually reaches for (yesterday
    * ran hot, fold yesterday).
    */
  def compactMonths(months: Set[String], target: Int = 1,
                    clusterBy: Seq[String] = Nil,
                    zorderBy: Seq[String] = Nil): Unit = withOp("COMPACT") {
    require(partitionSource.isDefined,
      "partition-scoped compaction needs a partitioned table — use compact()")
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "pick linear clusterBy OR multi-dim zorderBy, not both")
    require(months.nonEmpty, "no months named")
    val expected = currentOrThrow
    val entries = manifest(expected)
    val missing = months -- entries.map(_._1)
    require(missing.isEmpty,
      s"months not in the table: ${missing.toSeq.sorted.mkString(", ")}")
    val (folded, carried) = entries.partition(e => months(e._1))
    val rows = readParts(folded, None, expected)
    val shaped =
      if (zorderBy.nonEmpty) zorderShape(rows, months.size, target, zorderBy)
      else compactShape(rows, months.size, target, clusterBy)
    keepingReflected(commit(shaped, carried, Some(expected)))
  }

  /** Z-order compaction shape: bucketize each dimension into
    * `[0, 2^bits)` from its observed min/max, interleave into one Morton
    * key, range-partition (+ month first on a partitioned table) and
    * locally sort by it. A constant or all-null dimension degenerates to
    * bucket 0 and simply stops discriminating — never an error.
    */
  private def zorderShape(df: DataFrame, months: Int, target: Int,
                          zorderBy: Seq[String]): DataFrame = {
    val bits = math.min(16, 62 / zorderBy.size)
    val aggs = zorderBy.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bucketized = zorderBy.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1) ||
          !(row.getDouble(2 * i + 1) > row.getDouble(2 * i))) lit(0L)
      else ZOrder.bucketize(col(c).cast("double"),
        row.getDouble(2 * i), row.getDouble(2 * i + 1), 1 << bits)
    }
    val key = ZOrder.interleave(bits, bucketized: _*)
    val cols = keyCols.map(col) :+ key
    df.repartitionByRange(math.max(1, months * target), cols: _*).sortWithinPartitions(cols: _*)
  }

  /** Compaction write shape: distribute BY MONTH over `months * target`
    * shuffle partitions so every hot month rewrites in parallel —
    * `repartition(target, month)` alone funnels EVERY month through
    * `target` writer tasks, a single-writer bottleneck once many months
    * are hot (measured 38 s for a full-table fold at sf0.1 that the
    * parallel shape does in a fraction). A month never splits across
    * partitions on the month key alone, so when `target > 1` a
    * row-content salt spreads each month over `target` buckets; with
    * `clusterBy`, range partitioning on (month, cluster cols) + a local
    * sort replaces the salt — same parallelism, but each file covers a
    * tight cluster-column range (stats-prunable) instead of a random
    * slice. An unpartitioned frame round-robins into exactly `target`
    * files.
    */
  private def compactShape(df: DataFrame, months: Int, target: Int,
                           clusterBy: Seq[String] = Nil): DataFrame =
    if (clusterBy.nonEmpty) {
      val cols = (keyCols ++ clusterBy).map(col)
      df.repartitionByRange(math.max(1, months * target), cols: _*)
        .sortWithinPartitions(cols: _*)
    } else if (keyCols.isEmpty) df.repartition(math.max(1, target))
    else {
      val dataCols = df.columns.filterNot(_ == PartCol).map(col).toIndexedSeq
      val salt = if (target <= 1) lit(0) else pmod(hash(dataCols: _*), lit(target))
      df.repartition(math.max(1, months * target), col(PartCol), salt)
    }

  /** Live parquet file count per partition key (an unpartitioned
    * table's single key is "") — the quantity the auto-compaction policy
    * thresholds on. Metadata-only: directory listings of the manifest's
    * dirs, no data read.
    */
  def liveFileCounts: Map[String, Int] =
    manifest(currentOrThrow).groupBy(_._1).view
      .mapValues(_.map(e => dataFileCount(new File(path, e._2)).toInt).sum).toMap

  /** Auto-compaction policy (the table-services side of the reference's
    * 512 MB-target-file intent, incremental_kafka_s3_cdc.py:405-423):
    * fold any partition whose live file count exceeds `maxFiles` down to
    * `target` files, and ONLY those — cold months carry over as manifest
    * pointer copies, byte-untouched. Appends add a commit dir per batch
    * and merges write shuffle-width files, so a hot month's file count
    * grows linearly with commits until scans pay per-file open cost;
    * this bounds it. The rewrite commits through the normal versioned
    * path, so history stays time-travelable (old commit dirs live until
    * the last retained manifest referencing them expires). Returns true
    * when a compaction committed.
    */
  def compactIfNeeded(maxFiles: Int = 16, target: Int = 1): Boolean = {
    val cur = currentOrThrow
    val hot = liveFileCounts.filter(_._2 > maxFiles).keySet
    if (hot.isEmpty) false
    else {
      val (folded, carried) = manifest(cur).partition(e => hot(e._1))
      keepingReflected(
        commit(compactShape(readParts(folded, None, cur), hot.size, target), carried, Some(cur)))
      true
    }
  }

  /** One-call maintenance pass — the operation a nightly scheduler runs
    * per table instead of wiring four policies by hand. Order matters
    * and is deliberate:
    *
    *   1. [[materializeDeletesIfNeeded]] — clear merge-on-read debt
    *      FIRST (its rewrite also resets the touched files' layout, and
    *      a later compaction would materialize the vector anyway);
    *   2. [[compactIfNeeded]] — bound per-partition file counts;
    *   3. [[expire]] — drop versions past retention and GC unreferenced
    *      commit dirs (after the rewrites, so their inputs can age out);
    *   4. [[analyze]] — refresh table-level column statistics when
    *      NDV columns are declared (metadata-speed in the steady state,
    *      and the rewrites above just changed the dir layout).
    *
    * Every step is the existing idempotent primitive; a no-op pass
    * burns zero versions. Returns what ran, for the scheduler's log.
    */
  def maintain(maxFiles: Int = 16, maxDvRatio: Double = 0.05): CdcTable.MaintenanceReport = {
    val dv = materializeDeletesIfNeeded(maxDvRatio)
    val compacted = compactIfNeeded(maxFiles)
    expire()
    val analyzed = if (ndvColumns.nonEmpty) { analyze(): Unit; true } else false
    CdcTable.MaintenanceReport(dv, compacted, analyzed, currentOrThrow)
  }

  /** Best-effort policy hook run after write commits when the table was
    * constructed with `autoCompactMaxFiles`. Any failure here must NOT
    * make the already-committed write look failed to the caller (a lost
    * commit race, a transient IO error mid-rewrite, a concurrently
    * expired read version): the next commit re-checks the same policy,
    * so swallowing is safe and correct.
    */
  private def maybeAutoCompact(): Unit =
    autoCompactMaxFiles.foreach { n =>
      try compactIfNeeded(n): Unit
      catch {
        case scala.util.control.NonFatal(e) =>
          // swallowed by design (see scaladoc) but never silently: a
          // persistently failing policy (corrupt file, permissions)
          // must surface in the logs
          CdcTable.log.warn(s"auto-compaction of $path failed (write already committed; " +
            s"policy re-runs on next commit): $e")
      }
    }

}

object CdcTable {
  private[ops] val log = org.slf4j.LoggerFactory.getLogger(classOf[CdcTable])

  /** Table-root layout sidecar (`key TAB value` lines) making a committed
    * table self-describing — see [[open]].
    */
  val TableMetaName = "_table_meta"

  /** The `key -> value` map of `path`'s [[TableMetaName]] sidecar, read
    * through `io`; None when the table has never committed (or predates
    * the sidecar). The one reader of the format.
    */
  def readTableMeta(path: String, io: TableIO = LocalTableIO): Option[Map[String, String]] = {
    val f = new File(path, TableMetaName).getPath
    if (!io.exists(f)) None
    else Some(io.readLines(f).map { l =>
      val i = l.indexOf('\t')
      (l.substring(0, i), l.substring(i + 1))
    }.toMap)
  }

  /** A comma-list value of a [[readTableMeta]] map (empty when absent). */
  def metaList(meta: Map[String, String], key: String): Seq[String] =
    meta.getOrElse(key, "").split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  /** Open a committed table from its path alone, reconstructing merge
    * keys / partition source / bloom columns from the `_table_meta`
    * sidecar every commit maintains. Fails loudly on a table that has
    * never committed (nothing to describe) or predates the sidecar
    * (one commit through a fully-parameterized handle upgrades it).
    */
  def open(spark: SparkSession, path: String, io: TableIO = LocalTableIO,
           retainVersions: Int = 3): CdcTable = {
    val kv = readTableMeta(path, io).getOrElse(throw new IllegalArgumentException(
      s"$path has no $TableMetaName sidecar — not a committed table of this " +
        "engine (or written by a pre-metadata build: commit once through a " +
        "handle constructed with explicit keys to upgrade it)"))
    def list(k: String): Seq[String] = metaList(kv, k)
    new CdcTable(spark, path, list("keys"),
      kv.get("partitionSource").filter(_.nonEmpty),
      retainVersions = retainVersions,
      bloomColumns = list("bloomColumns"), io = io,
      partitionGranularity = kv.getOrElse("partitionGranularity", "month"),
      ndvColumns = list("ndvColumns"))
  }

  /** How a metadata-answered COUNT ([[CdcTable.countWhereProfile]]) was
    * assembled: `fullFiles` contributed their sidecar row counts without
    * being opened, `scannedFiles` boundary files were actually read,
    * `prunedFiles` were never touched (stats-pruned files plus whole
    * months the manifest excluded). `scannedFiles == 0` is the pure
    * metadata path — the count cost O(manifest + sidecars), zero data
    * I/O, at any table size.
    */
  final case class CountProfile(count: Long, fullFiles: Int,
                                scannedFiles: Int, prunedFiles: Int)

  /** Another writer holds the version this commit needs (or the pointer
    * advanced mid-commit): re-read and retry — [[CdcTable.mergeWithRetry]].
    */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** The parent table moved past a branch's fork point: publishing would
    * silently roll back the parent's newer commits. Re-branch and replay
    * (staged merges are idempotent) or merge the branch's rows directly.
    */
  final class PublishConflictException(msg: String) extends RuntimeException(msg)

  /** What a [[CdcTable.maintain]] pass actually did. */
  final case class MaintenanceReport(
      materializedDeletes: Boolean,
      compacted: Boolean,
      analyzed: Boolean,
      versionAfter: Long)

  /** Directory under the table root holding WAP branches (each a full
    * CdcTable cloned at fork time).
    */
  val BranchesDir = "_branches"

  /** Marker inside a branch recording the parent version it forked from
    * (the publish fast-forward precondition).
    */
  val ForkMarker = "_forked_at"

  /** Branch retention: effectively unbounded so the fork version always
    * survives the staged commits — see [[CdcTable.branch]].
    */
  val BranchRetain: Int = Int.MaxValue

  /** The requested version has expired from the table's retained history
    * (or never existed). Extends FileNotFoundException so pre-existing
    * catch sites keep working, but maintenance fallbacks (view
    * re-bootstrap on expired base) should match THIS type — a generic
    * FNF from an unrelated cause (lost shuffle file, the view's own
    * files) must not silently convert an incremental refresh into a full
    * recompute.
    */
  final class ExpiredVersionException(msg: String)
    extends java.io.FileNotFoundException(msg)

  /** True only when `e` traces to EXPIRED RETAINED HISTORY of one of a
    * view's SOURCE tables: either [[ExpiredVersionException]] (thrown
    * eagerly by manifest/readVersion/changesBetween when the version is
    * gone), or — for the lazy-plan race where a concurrent expire()
    * deletes version files between plan build and write action, which
    * Spark surfaces as its own wrapped FileNotFoundException — an FNF
    * whose message names one of `sourcePaths`. A transient FNF from an
    * unrelated cause (lost shuffle/temp file, the view's own files)
    * propagates instead of silently degrading every refresh to a full
    * re-bootstrap.
    */
  private def isExpiredBase(e: Throwable, sourcePaths: Seq[String]): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
      case _: ExpiredVersionException => true
      case f: java.io.FileNotFoundException =>
        sourcePaths.exists(p => Option(f.getMessage).exists(_.contains(p)))
      case _ => false
    }

  /** What a maintained view's table reflects ([[CdcTable.reflected]]):
    * the ordered `(source, version)` list recorded at view version
    * `version`, the head it was read from — a reader pins that version
    * to get exactly the rows the list describes.
    */
  final case class Reflected(version: Long, sources: Seq[(String, Long)]) {
    /** The version of `source` when the record names that one source. */
    def of(source: String): Option[Long] = sources match {
      case Seq((`source`, v)) => Some(v)
      case _ => None
    }
  }

  /** Commit-tag key prefix of the reflected record: entry `i` of the list
    * is tag `reflected.i` = `source:version` (split at the last colon).
    */
  val ReflectedTag = "reflected."

  /** Sidecar tag naming the head a fast-forward record was verified at. */
  val ReflectedHeadTag = "reflected.head"

  /** Table-root fast-forward sidecar of the reflected record, written
    * when a refresh's window was empty and so committed nothing.
    */
  val ReflectedSidecarName = "_reflected_ff"

  /** Derived hive partition column (month bucket of the source ts col). */
  val PartCol = "__part_month"

  /** Pointer file naming the live version. */
  val CurrentPointer = "_current"

  /** Per-version partition key -> data-directory map. */
  val ManifestName = "manifest.tsv"

  /** Per-version schema sidecar — the table's union schema, and the
    * read schema of a version whose manifest holds no live keys.
    */
  val SchemaName = "_schema.json"

  /** Per-version operation-provenance sidecar: `op TAB tsMillis`. */
  val CommitInfoName = "_commit_info"

  /** Per-version caller-supplied tag sidecar: `key TAB value` lines
    * (the Iceberg snapshot-summary shape). Written into the version dir
    * BEFORE the pointer flips, so tags publish atomically with the
    * version — a crashed commit's tags die with its orphan dir. The
    * maintained-view ops use this to record the reflected source
    * version IN the refresh commit itself ([[CdcTable.reflecting]]; a
    * post-commit marker would double-apply a signed delta on crash
    * replay).
    */
  val CommitTagsName = "_commit_tags"

  /** Commit-tag key recording WHICH branch a fast-forward PUBLISH commit
    * published — lets a transaction abort attribute a participant's head
    * commit to the transaction (vs a concurrent writer) precisely.
    */
  val PublishedBranchTag = "publish.branch"

  /** Table-root CHECK-constraint registry: `name TAB predicate` lines. */
  val ConstraintsName = "_constraints"

  /** A commit (or constraint declaration) found rows violating a
    * declared CHECK constraint; nothing was committed.
    */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** Change-data-feed tag column emitted by [[CdcTable.changesBetween]]:
    * insert / delete / update_preimage / update_postimage.
    */
  val ChangeTypeCol = "_change_type"

  /** Deletion-vector parquet dir name inside `path/dv/vNNNNNNNN/`. */
  val DeletesName = "deletes.parquet"

  /** Deletion-vector metadata sidecar (same dir): one
    * `dir \t file \t count` line per data file with deleted positions.
    * The summary is the AUTHORITATIVE presence marker (written last on
    * the vector path) and serves every driver-side use — metadata count
    * subtraction, CDF month pruning, carry filtering — without opening
    * the vector parquet.
    */
  val DeletesSummaryName = "deletes_summary.tsv"

  /** Per-version recorded ANALYZE result ([[CdcTable.analyze]]). */
  val ColStatsName = "_colstats.tsv"
  val ColStatsHeader = "colstats-v1"

  /** One ANALYZE row read back from the version's `_colstats.tsv`. */
  final case class ColumnStat(column: String, nRows: Long, hllSum: Long,
                              hllZeros: Int, ndv: Long)

  private[ops] val DvDirCol = "__dv_dir"
  private[ops] val DvSubCol = "__dv_sub"
  private[ops] val DvFileCol = "__dv_file"
  private[ops] val DvIdxCol = "__dv_idx"

  /** The reference's partition-column heuristic
    * (incremental_kafka_s3_cdc.py:212-213): a non-nullable date/timestamp
    * column whose name contains "create".
    */
  def choosePartitionSource(schema: org.apache.spark.sql.types.StructType): Option[String] =
    schema.fields.find { f =>
      (f.dataType == org.apache.spark.sql.types.TimestampType ||
        f.dataType == org.apache.spark.sql.types.DateType) &&
        f.name.toLowerCase.contains("create")
    }.map(_.name)
}
