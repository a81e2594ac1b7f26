package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.envelope.EnvelopeCodec
import graft.ops.{CdcTable, LocalTableIO}

/** The streaming CDC engine: Structured Streaming over an envelope source,
  * `foreachBatch` into per-table merges, exactly-once via checkpointing +
  * idempotent latest-wins merge. Re-expresses the reference's flagship path
  * (incremental_kafka_s3_cdc.py:360-403, SURVEY.md §3.1) with the Kafka
  * source swapped for a file source carrying the same envelope rows
  * (key, value, headers, topic) — the wire format is identical, so the
  * decode pipeline is shared with the batch path.
  *
  * Trigger semantics: `Trigger.AvailableNow` — the 4.x successor of the
  * reference's `trigger(once=True)` incremental run-to-completion. Restart
  * resumes from the checkpoint: already-processed files are never
  * reprocessed, and the idempotent merge makes replays safe anyway.
  */
final class CdcPipeline(
    spark: SparkSession,
    /** Where envelopes come from — the source-adapter seam
      * ([[graft.sources.EnvelopeSource]]): the offline file source and a
      * real Kafka reader are interchangeable here, the pipeline code
      * never knows which.
      */
    source: graft.sources.EnvelopeSource,
    checkpointDir: String,
    tableRoot: String,
    /** Materialized views to maintain inside the ingestion flow: after a
      * table's micro-batch merge commits, its registered views refresh
      * from the table's change data feed (merge -> CDF -> signed-delta
      * refresh, no re-scan) — see [[graft.ops.MaterializedView]].
      */
    views: Seq[CdcPipeline.ViewSpec] = Nil,
    /** Incremental JOIN views maintained inside the same flow: after all
      * of a micro-batch's table merges commit, every registered join
      * view whose fact or dimension table was touched refreshes through
      * [[graft.ops.JoinView.refreshStar]] — merge -> CDF -> delta-bounded
      * restricted recompute, file-skipped snapshot passes. The reference's
      * stream-maintains-sink shape (incremental_kafka_s3_cdc.py:384-398)
      * for the enriched-export case.
      */
    joinViews: Seq[CdcPipeline.JoinViewSpec] = Nil,
    /** Incremental DERIVED tables maintained inside the same flow: after
      * a batch's merges commit, every registered derived view whose
      * source table was touched refreshes through
      * [[graft.ops.DerivedView.refresh]] — transform-of-delta upserts
      * plus shrink-exact deletes, never a source rescan. The chunk /
      * signature / fingerprint index tables of a training pipeline, kept
      * current by the ingest itself.
      */
    derivedViews: Seq[CdcPipeline.DerivedViewSpec] = Nil,
    /** ANN indexes maintained inside the same flow: after a batch's
      * merges commit, every registered index whose vector table was
      * touched catches up through [[graft.ops.IvfIndex.refresh]] —
      * assign(delta) against the frozen codebook, never a rebuild. The
      * first touching batch trains the codebook ([[graft.ops.IvfIndex
      * .build]]); an expired refresh window falls back to
      * [[graft.ops.IvfIndex.rebootstrap]] (same codebook, snapshot
      * re-assign), logged.
      */
    annIndexes: Seq[CdcPipeline.AnnIndexSpec] = Nil,
    /** Distinct-count sketch views maintained inside the same flow: after
      * a batch's merges commit, every registered [[graft.ops.SketchView]]
      * whose source table was touched catches up from the change feed —
      * register-merge for insert-only windows, dirty-group pruned
      * recompute under deletes. The live "distinct users per segment"
      * artifact, kept current by the ingest itself.
      */
    sketchViews: Seq[CdcPipeline.SketchViewSpec] = Nil) {

  /** File-backed convenience constructors (the offline default). */
  def this(spark: SparkSession, envelopeDir: String, checkpointDir: String,
           tableRoot: String, views: Seq[CdcPipeline.ViewSpec]) =
    this(spark, new graft.sources.FileEnvelopeSource(envelopeDir), checkpointDir,
      tableRoot, views)
  def this(spark: SparkSession, envelopeDir: String, checkpointDir: String,
           tableRoot: String) =
    this(spark, envelopeDir, checkpointDir, tableRoot, Nil)

  @volatile private var batchesSeen: Long = 0L
  def batchCount: Long = batchesSeen

  /** Process one micro-batch: null-drop, split by __table, dynamic decode
    * per table, merge into that table's CdcTable. Mirrors df_to_sink +
    * process_for_table (incremental_kafka_s3_cdc.py:311-357,390-398) as
    * declarative plans — no RDD round-trips, no pandas detour.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    batchesSeen += 1
    val withMeta = EnvelopeCodec.withMeta(batch)
      .na.drop(Seq("__op", "value", "__table", "__db"))
      .cache()
    try {
      val tables = withMeta.select("__table").distinct()
        .collect().map(_.getString(0))
      tables.foreach { t =>
        val env = withMeta.filter(col("__table") === t)
        // one sniff per table per batch: the max-__ts_ms record (not a
        // positional tail — deterministic under any partitioning, later
        // key schema wins) drives BOTH the schema decode and PK routing
        val latest = EnvelopeCodec.latestRecord(env).getOrElse(
          throw new IllegalArgumentException(s"empty envelope batch for table $t"))
        val decoded = EnvelopeCodec.withTenantColumns(EnvelopeCodec.decodeDynamic(env, latest))
        val keyName = graft.envelope.DebeziumSchema.primaryKeyFromKeyJson(latest._1)
        keyName match {
          case Some(pk) =>
            val table = new CdcTable(spark, s"$tableRoot/$t", Seq(pk))
            val payload = decoded
              .drop("__deleted", "__db", "__topic")
            // Tie-break on every non-key payload column: within a key group
            // the dedup key is constant, so it can never break a tie — order
            // by the remaining columns gives a deterministic winner even for
            // two ops sharing __ts_ms (SURVEY §7 risk d). The file-envelope
            // source carries no per-record sequence (no Kafka offset), so a
            // same-millisecond update/delete pair resolves update-wins
            // ('u' > 'd' in the __op tie column) — deterministic, and the
            // documented semantics until a monotonic offset column exists
            // to rank the physically-later op first.
            val tieCols = payload.columns.toSeq
              .filterNot(c => c == pk || c == "__ts_ms")
            table.merge(payload, "__ts_ms", tieCols)
            maintainViews(t, table)
          case None =>
            // keyless tables degrade to append (reference K3)
            val table = new CdcTable(spark, s"$tableRoot/$t", Nil)
            table.append(decoded.drop("__deleted", "__db", "__topic", "__op"))
            maintainViews(t, table)
        }
      }
      // join + derived views refresh AFTER every table of the batch has
      // merged, so a batch carrying both fact and dimension rows
      // refreshes once, from a consistent set of committed versions
      maintainJoinViews(tables.toSet)
      maintainDerivedViews(tables.toSet)
      maintainAnnIndexes(tables.toSet)
      maintainSketchViews(tables.toSet)
    } finally {
      withMeta.unpersist(): Unit
    }
  }

  /** Out-of-band ERASURE (the GDPR right-to-be-forgotten shape): delete
    * every row matching `condition` from the named ingested table as a
    * merge-on-read vector commit ([[CdcTable.deleteVectored]] — data
    * files untouched, kilobytes written) and propagate the deletion
    * through EVERY artifact registered over it — materialized views,
    * join views on either side, derived index tables, ANN indexes — in
    * this one call. The next micro-batch would pick the delete up
    * anyway (every maintenance path consumes the change feed), but
    * erasure must not wait on ingest traffic arriving.
    *
    * Retention caveat, deliberately NOT automated: prior retained
    * versions still hold the rows for time travel until the retention
    * window passes and [[CdcTable.expire]] collects them — full
    * physical erasure is `erase` + the table's normal expiry cycle
    * (plus a [[CdcTable.materializeDeletes]] to clear the vector), and
    * retention policy is the operator's contract, not this method's.
    */
  def erase(tableName: String, condition: org.apache.spark.sql.Column): Unit = {
    val path = s"$tableRoot/$tableName"
    val keys = recordedKeys(path).getOrElse(throw new IllegalArgumentException(
      s"unknown table $tableName — erase() targets tables this pipeline has ingested"))
    require(keys.nonEmpty,
      s"erasure needs a keyed table ($tableName is append-only — no row identity to diff " +
        "through the maintenance paths)")
    val table = new CdcTable(spark, path, keys)
    table.deleteVectored(condition)
    maintainViews(tableName, table)
    maintainJoinViews(Set(tableName))
    maintainDerivedViews(Set(tableName))
    maintainAnnIndexes(Set(tableName))
    maintainSketchViews(Set(tableName))
  }

  /** The merge-key columns `tablePath` was actually committed with (the
    * PK sniffed from the envelope key JSON; empty = keyless), read from
    * the table's own `_table_meta` sidecar — every commit maintains it,
    * so view registrations validate against the table's REAL row
    * identity with no second bookkeeping file. A view spec joining a
    * dimension on a non-PK column would otherwise diff the change feed
    * under the wrong identity and silently maintain a wrong view.
    * Legacy `_table_keys` markers from pre-meta builds still read.
    */
  private def recordedKeys(tablePath: String): Option[Seq[String]] = {
    val legacy = new java.io.File(tablePath, CdcPipeline.KeysMarker).getPath
    CdcTable.readTableMeta(tablePath).map(CdcTable.metaList(_, "keys")).orElse(
      if (LocalTableIO.exists(legacy)) Some(LocalTableIO.readLines(legacy)) else None)
  }

  /** Fail fast when a view spec's key columns disagree with the keys the
    * pipeline actually ingests that table with (no-op for tables this
    * pipeline has not recorded — externally-built tables are the caller's
    * contract).
    */
  private def validateKeys(viewPath: String, table: String, specKeys: Seq[String]): Unit =
    recordedKeys(s"$tableRoot/$table").foreach { actual =>
      require(actual == specKeys,
        s"view $viewPath: table $table is ingested with merge keys " +
          s"${actual.mkString("[", ",", "]")} but the view spec uses " +
          s"${specKeys.mkString("[", ",", "]")} — refreshing would diff rows " +
          "under the wrong identity and silently produce a wrong view")
    }

  private def maintainViews(tableName: String, table: CdcTable): Unit =
    views.filter(_.table == tableName).foreach { vs =>
      new graft.ops.MaterializedView(spark, table, vs.viewPath, vs.groupCols, vs.sumCols, vs.extCols)
        .refresh()
    }

  /** Refresh every registered join view one of whose sides the batch
    * touched. The view's table records the (fact, dim...) versions it
    * matches in the refresh's own commit ([[CdcTable.reflecting]]), so a
    * crash leaves view rows and record together at the previous refresh
    * and the next batch re-runs that window. A reflected version that
    * already expired from the table's retained history falls back to a
    * full re-init at the current versions.
    */
  private def maintainJoinViews(touched: Set[String]): Unit =
    joinViews
      .filter(j => touched(j.factTable) || j.dims.exists(d => touched(d.table)))
      .foreach { j =>
        import graft.ops.JoinView
        validateKeys(j.viewPath, j.factTable, j.factKeys)
        j.dims.foreach(d => validateKeys(j.viewPath, d.table, d.on.map(_._2)))
        val fact = new CdcTable(spark, s"$tableRoot/${j.factTable}", j.factKeys)
        val dims = j.dims.map(d =>
          d -> new CdcTable(spark, s"$tableRoot/${d.table}", d.on.map(_._2)))
        if (fact.currentVersion.isDefined && dims.forall(_._2.currentVersion.isDefined)) {
          val fv = fact.currentVersion.get
          val dvs = dims.map(_._2.currentVersion.get)
          val names = j.factTable +: j.dims.map(_.table)
          val at = names.zip(fv +: dvs)
          val view = new CdcTable(spark, j.viewPath, j.factKeys)
          val ts = new java.sql.Timestamp(System.currentTimeMillis())
          // default payload: every dimension column that is neither a
          // join key nor pipeline meta (__ts_ms etc — the fact side
          // already carries its own copies; they must not collide)
          def payloadOf(d: CdcPipeline.DimSpec, t: CdcTable): Seq[String] =
            d.payload.getOrElse(t.read.columns.toSeq
              .filterNot(c => c.startsWith("__") || d.on.map(_._2).contains(c)))
          def bootstrap(): Unit = {
            val joined = dims.zip(dvs).foldLeft(fact.readVersion(fv)) {
              case (acc, ((d, t), dv)) =>
                val proj = t.readVersion(dv).select(
                  (d.on.map(_._2) ++ payloadOf(d, t)).distinct
                    .map(org.apache.spark.sql.functions.col): _*)
                JoinView.compute(acc, proj, d.on, j.outer)
            }
            view.reflecting(at)(view.init(joined.withColumn(JoinView.TsCol, lit(ts))))
          }
          // the record holds (table, version) PAIRS and refresh demands
          // the names line up with the spec: a view whose dimension list
          // was edited (same arity, different table) must re-bootstrap,
          // not replay the new table's feed against state built from the
          // old one
          view.reflected.map(_.sources) match {
            case Some(vs) if vs == at => () // already current
            case Some(vs) if vs.map(_._1) == names =>
              try view.reflecting(at) {
                JoinView.refreshStar(view, fact, vs.head._2, fv,
                  dims.zip(dvs).zip(vs.tail).map { case (((d, t), dv), (_, d0)) =>
                    JoinView.StarDim(t, d0, dv, d.on, Some(payloadOf(d, t)))
                  }, ts, j.outer)
              } catch {
                case e: Throwable
                    if CdcTable.isExpiredBase(e, (fact +: dims.map(_._2)).map(_.path)) =>
                  CdcPipeline.log.warn(
                    s"join view ${j.viewPath}: reflected window expired from " +
                      "retained history, falling back to full re-bootstrap", e)
                  bootstrap()
              }
            case _ => bootstrap() // never reflected, or the table list changed
          }
        } // else: a side not ingested yet — nothing to enrich
      }

  /** Catch up every registered ANN index whose vector table the batch
    * touched. The lists table records the source version it reflects in
    * each refresh commit, like the views: replays are no-ops, a crashed
    * refresh re-runs one delta-sized window, and an expired window
    * degrades to a snapshot re-assign under the SAME frozen codebook —
    * assignments stay comparable across the fallback.
    */
  private def maintainAnnIndexes(touched: Set[String]): Unit =
    annIndexes.filter(a => touched(a.table)).foreach { a =>
      validateKeys(a.indexPath, a.table, a.tableKeys)
      val source = new CdcTable(spark, s"$tableRoot/${a.table}", a.tableKeys)
      source.currentVersion.foreach { _ =>
        val idx = new graft.ops.IvfIndex(spark, a.indexPath, a.k)
        if (!idx.exists) idx.build(source)
        else try idx.refresh(source)
        catch {
          case e: Throwable if CdcTable.isExpiredBase(e, Seq(source.path)) =>
            CdcPipeline.log.warn(
              s"ann index ${a.indexPath}: reflected version expired from " +
                "retained history, re-assigning the snapshot under the frozen codebook", e)
            idx.rebootstrap(source)
        }
      }
    }

  /** Catch up every registered sketch view whose source table the batch
    * touched ([[graft.ops.SketchView.refresh]] records the reflected
    * version in its own commit); an expired window degrades to a
    * snapshot re-bootstrap (same registers), logged.
    */
  private def maintainSketchViews(touched: Set[String]): Unit =
    sketchViews.filter(sv => touched(sv.table)).foreach { sv =>
      validateKeys(sv.viewPath, sv.table, sv.tableKeys)
      val source = new CdcTable(spark, s"$tableRoot/${sv.table}", sv.tableKeys)
      source.currentVersion.foreach { _ =>
        val view = new graft.ops.SketchView(spark, source, sv.viewPath,
          sv.groupCols, sv.hashExpr)
        try view.refresh()
        catch {
          case e: Throwable if CdcTable.isExpiredBase(e, Seq(source.path)) =>
            CdcPipeline.log.warn(
              s"sketch view ${sv.viewPath}: reflected window expired from " +
                "retained history, re-sketching the snapshot", e)
            view.bootstrap()
        }
      }
    }

  /** Refresh every registered derived view whose source table the batch
    * touched — same record discipline as [[maintainJoinViews]] (the
    * reflected version rides the refresh commit, expired windows
    * re-bootstrap).
    */
  private def maintainDerivedViews(touched: Set[String]): Unit =
    derivedViews.filter(d => touched(d.table)).foreach { d =>
      import graft.ops.DerivedView
      validateKeys(d.viewPath, d.table, d.tableKeys)
      val source = new CdcTable(spark, s"$tableRoot/${d.table}", d.tableKeys)
      source.currentVersion.foreach { sv =>
        val view = new CdcTable(spark, d.viewPath, d.viewKeys)
        val ts = new java.sql.Timestamp(System.currentTimeMillis())
        val at = Seq(d.table -> sv)
        def bootstrap(): Unit = view.reflecting(at) {
          view.init(DerivedView.compute(source.readVersion(sv), d.transform)
            .withColumn(DerivedView.TsCol, lit(ts)))
        }
        view.reflected.flatMap(_.of(d.table)) match {
          case Some(v0) if v0 == sv => ()
          case Some(v0) =>
            try view.reflecting(at)(DerivedView.refresh(view, source, v0, sv, d.transform, ts))
            catch {
              case e: Throwable if CdcTable.isExpiredBase(e, Seq(source.path)) =>
                CdcPipeline.log.warn(
                  s"derived view ${d.viewPath}: reflected version expired from " +
                    "retained history, falling back to full re-bootstrap", e)
                bootstrap()
            }
          case _ => bootstrap() // never reflected, or re-pointed at a new source
        }
      }
    }

  /** Run one incremental pass over all currently-available envelope files,
    * then stop (trigger-once semantics). Safe to call repeatedly; each call
    * picks up only files the checkpoint has not seen.
    */
  def runOnce(): Unit = {
    val stream = source.readStream(spark)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: DataFrame, id: Long) => processBatch(df, id))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

object CdcPipeline {
  private[cdc] val log = org.slf4j.LoggerFactory.getLogger(classOf[CdcPipeline])

  /** Declarative view registration for the pipeline: maintain at
    * `viewPath` the per-`groupCols` count/sum/avg aggregate of ingested
    * table `table` (sums and avgs over `sumCols`, min/max over
    * `extCols`).
    */
  final case class ViewSpec(table: String, viewPath: String,
                            groupCols: Seq[String], sumCols: Seq[String],
                            extCols: Seq[String] = Nil)

  /** One dimension of a registered join view: the ingested table's name,
    * the `(factCol, dimKey)` join mapping, and an optional payload
    * restriction (None = every non-meta, non-join-key column).
    */
  final case class DimSpec(table: String, on: Seq[(String, String)],
                           payload: Option[Seq[String]] = None)

  /** Declarative JOIN-view registration: maintain at `viewPath` the
    * enrichment `factTable JOIN dimTable [JOIN extraDims...]` (`on`
    * pairs fact fk columns with the dimension's merge keys), keyed by
    * `factKeys`; `outer` keeps partner-less facts null-padded;
    * `dimPayload` restricts which dimension columns enrich the view;
    * `extraDims` turns the view into a STAR — fact + several dimensions
    * maintained by one refresh per batch.
    */
  final case class JoinViewSpec(factTable: String, factKeys: Seq[String],
                                dimTable: String, viewPath: String,
                                on: Seq[(String, String)],
                                outer: Boolean = false,
                                dimPayload: Option[Seq[String]] = None,
                                extraDims: Seq[DimSpec] = Nil) {
    /** All dimensions, primary first. */
    def dims: Seq[DimSpec] = DimSpec(dimTable, on, dimPayload) +: extraDims
  }

  /** Declarative DERIVED-view registration: maintain at `viewPath` the
    * table `transform(source)` keyed by `viewKeys`, refreshed from the
    * source's change feed after every batch that touches `table`.
    * `transform` must follow [[graft.ops.DerivedView]]'s row-local
    * contract.
    */
  final case class DerivedViewSpec(table: String, tableKeys: Seq[String],
                                   viewPath: String, viewKeys: Seq[String],
                                   transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)

  /** Declarative sketch-view registration: maintain at `viewPath` the
    * per-`groupCols` HLL distinct-count registers over `hashExpr` of
    * ingested table `table`, refreshed from the change feed after every
    * touching batch ([[graft.ops.SketchView]]).
    */
  final case class SketchViewSpec(table: String, tableKeys: Seq[String],
                                  viewPath: String, groupCols: Seq[String],
                                  hashExpr: String)

  /** Declarative ANN-index registration: maintain at `indexPath` an
    * [[graft.ops.IvfIndex]] over `table` (which must expose the index's
    * expected `vec_id` key and `embedding` vector column), trained on the
    * first touching batch and thereafter refreshed at change-feed cost.
    */
  final case class AnnIndexSpec(table: String, tableKeys: Seq[String],
                                indexPath: String, k: Int = 16)

  /** LEGACY marker from pre-`_table_meta` builds (one key per line;
    * empty file = keyless) — still read, no longer written: the table's
    * own sidecar is the key record now.
    */
  val KeysMarker = "_table_keys"
}
