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
    /** The artifacts maintained inside the ingestion flow, refreshed in
      * this order after all of a micro-batch's table merges commit (and
      * after an [[erase]]): every registered view one of whose source
      * tables the batch touched catches up from those tables' change
      * feeds through [[graft.ops.CdcTable.refreshView]] — a no-op when
      * current, the window otherwise, a bootstrap when it has none or its
      * window expired from retained history. The reference's
      * stream-maintains-sink shape (incremental_kafka_s3_cdc.py:384-398),
      * one registration per artifact kind:
      *   - [[CdcPipeline.ViewSpec]]: a count/sum/avg/min/max
      *     [[graft.ops.MaterializedView]] (signed-delta refresh);
      *   - [[CdcPipeline.JoinViewSpec]]: an enriched fact ⋈ dimension(s)
      *     [[graft.ops.JoinView]] (delta-bounded restricted recompute);
      *   - [[CdcPipeline.DerivedViewSpec]]: a row-local
      *     [[graft.ops.DerivedView]] (transform-of-delta upserts);
      *   - [[CdcPipeline.SketchViewSpec]]: per-group HLL registers, a
      *     [[graft.ops.SketchView]];
      *   - [[CdcPipeline.AnnIndexSpec]]: an [[graft.ops.IvfIndex]] whose
      *     first refresh trains the codebook and whose later ones assign
      *     under it, never retraining.
      */
    views: Seq[CdcPipeline.Maintained] = Nil) {

  /** File-backed convenience constructors (the offline default). */
  def this(spark: SparkSession, envelopeDir: String, checkpointDir: String,
           tableRoot: String, views: Seq[CdcPipeline.Maintained]) =
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
          case None =>
            // keyless tables degrade to append (reference K3)
            new CdcTable(spark, s"$tableRoot/$t", Nil)
              .append(decoded.drop("__deleted", "__db", "__topic", "__op"))
        }
      }
      // views refresh AFTER every table of the batch has merged, so a
      // batch carrying both fact and dimension rows refreshes once, from
      // a consistent set of committed versions
      maintain(tables.toSet)
    } finally {
      withMeta.unpersist(): Unit
    }
  }

  /** Out-of-band ERASURE (the GDPR right-to-be-forgotten shape): delete
    * every row matching `condition` from the named ingested table as a
    * merge-on-read vector commit ([[CdcTable.deleteVectored]] — data
    * files untouched, kilobytes written) and propagate the deletion
    * through EVERY artifact registered over it — materialized views,
    * join views on either side, derived index tables, sketch views, ANN
    * indexes — in
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
    new CdcTable(spark, path, keys).deleteVectored(condition)
    maintain(Set(tableName))
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

  /** Refresh, in registration order, every registered view one of whose
    * source tables `touched` names. Each source opens under the keys its
    * spec diffs it with (validated first), or the keys it was ingested
    * with when the spec names none; each view kind supplies only its
    * window and bootstrap bodies to [[CdcTable.refreshView]], whose record
    * rides the refresh commit: a crash leaves view rows and record
    * together at the previous refresh, and the next batch re-runs that
    * window.
    */
  private def maintain(touched: Set[String]): Unit =
    views.filter(_.sources.exists(s => touched(s._1))).foreach { v =>
      val tables = v.sources.map { case (name, keys) =>
        val path = s"$tableRoot/$name"
        keys.foreach(validateKeys(v.path, name, _))
        new CdcTable(spark, path, keys.getOrElse(recordedKeys(path).getOrElse(Nil)))
      }
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      v match {
        case m: CdcPipeline.ViewSpec =>
          new graft.ops.MaterializedView(spark, tables.head, m.viewPath, m.groupCols,
            m.sumCols, m.extCols).refresh()
        case j: CdcPipeline.JoinViewSpec =>
          import graft.ops.JoinView
          val (fact, dims) = (tables.head, j.dims.zip(tables.tail))
          val view = new CdcTable(spark, j.viewPath, j.factKeys)
          // default payload: every dimension column that is neither a
          // join key nor pipeline meta (__ts_ms etc — the fact side
          // already carries its own copies; they must not collide)
          def payloadOf(d: CdcPipeline.DimSpec, t: CdcTable): Seq[String] =
            d.payload.getOrElse(t.read.columns.toSeq
              .filterNot(c => c.startsWith("__") || d.on.map(_._2).contains(c)))
          // the record names the sources in spec order, so a view whose
          // dimension list was edited (same arity, different table)
          // re-bootstraps instead of replaying the new table's feed
          // against state built from the old one
          view.refreshView(j.sources.map(_._1).zip(tables)) { w =>
            JoinView.refreshStar(view, fact, w.head._1, w.head._2,
              dims.zip(w.tail).map { case ((d, t), (from, to)) =>
                JoinView.StarDim(t, from, to, d.on, Some(payloadOf(d, t)))
              }, ts, j.outer)
          } { at =>
            val joined = dims.zip(at.tail).foldLeft(fact.readVersion(at.head)) {
              case (acc, ((d, t), dv)) =>
                val proj = t.readVersion(dv).select(
                  (d.on.map(_._2) ++ payloadOf(d, t)).distinct.map(col): _*)
                JoinView.compute(acc, proj, d.on, j.outer)
            }
            view.init(joined.withColumn(JoinView.TsCol, lit(ts)))
          }
        case d: CdcPipeline.DerivedViewSpec =>
          import graft.ops.DerivedView
          val (source, view) = (tables.head, new CdcTable(spark, d.viewPath, d.viewKeys))
          view.refreshView(Seq(d.table -> source)) { case Seq((from, to)) =>
            DerivedView.refresh(view, source, from, to, d.transform, ts)
          } { at =>
            view.init(DerivedView.compute(source.readVersion(at.head), d.transform)
              .withColumn(DerivedView.TsCol, lit(ts)))
          }
        case s: CdcPipeline.SketchViewSpec =>
          new graft.ops.SketchView(spark, tables.head, s.viewPath, s.groupCols, s.hashExpr)
            .refresh()
        case a: CdcPipeline.AnnIndexSpec =>
          new graft.ops.IvfIndex(spark, a.indexPath, a.k).refresh(tables.head)
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
  /** A view registration: one artifact the pipeline keeps current from
    * the tables it ingests.
    */
  sealed trait Maintained {
    /** Where the artifact lives. */
    def path: String
    /** Its source tables in record order, each with the merge keys the
      * spec diffs it under (None: the keys it was ingested with).
      */
    def sources: Seq[(String, Option[Seq[String]])]
  }

  /** Declarative view registration for the pipeline: maintain at
    * `viewPath` the per-`groupCols` count/sum/avg aggregate of ingested
    * table `table` (sums and avgs over `sumCols`, min/max over
    * `extCols`).
    */
  final case class ViewSpec(table: String, viewPath: String,
                            groupCols: Seq[String], sumCols: Seq[String],
                            extCols: Seq[String] = Nil) extends Maintained {
    def path: String = viewPath
    def sources: Seq[(String, Option[Seq[String]])] = Seq(table -> None)
  }

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
                                extraDims: Seq[DimSpec] = Nil) extends Maintained {
    /** All dimensions, primary first. */
    def dims: Seq[DimSpec] = DimSpec(dimTable, on, dimPayload) +: extraDims
    def path: String = viewPath
    def sources: Seq[(String, Option[Seq[String]])] =
      (factTable -> Some(factKeys)) +: dims.map(d => d.table -> Some(d.on.map(_._2)))
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
      extends Maintained {
    def path: String = viewPath
    def sources: Seq[(String, Option[Seq[String]])] = Seq(table -> Some(tableKeys))
  }

  /** Declarative sketch-view registration: maintain at `viewPath` the
    * per-`groupCols` HLL distinct-count registers over `hashExpr` of
    * ingested table `table`, refreshed from the change feed after every
    * touching batch ([[graft.ops.SketchView]]).
    */
  final case class SketchViewSpec(table: String, tableKeys: Seq[String],
                                  viewPath: String, groupCols: Seq[String],
                                  hashExpr: String) extends Maintained {
    def path: String = viewPath
    def sources: Seq[(String, Option[Seq[String]])] = Seq(table -> Some(tableKeys))
  }

  /** Declarative ANN-index registration: maintain at `indexPath` an
    * [[graft.ops.IvfIndex]] over `table` (which must expose the index's
    * expected `vec_id` key and `embedding` vector column), trained on the
    * first touching batch and thereafter refreshed at change-feed cost.
    */
  final case class AnnIndexSpec(table: String, tableKeys: Seq[String],
                                indexPath: String, k: Int = 16) extends Maintained {
    def path: String = indexPath
    def sources: Seq[(String, Option[Seq[String]])] = Seq(table -> Some(tableKeys))
  }

  /** LEGACY marker from pre-`_table_meta` builds (one key per line;
    * empty file = keyless) — still read, no longer written: the table's
    * own sidecar is the key record now.
    */
  val KeysMarker = "_table_keys"
}
