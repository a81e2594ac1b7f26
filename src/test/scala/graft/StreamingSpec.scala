package graft

import org.apache.spark.sql.functions._
import graft.cdc.CdcPipeline
import graft.envelope.EnvelopeCodec

/** End-to-end streaming CDC: envelope files -> Structured Streaming ->
  * foreachBatch -> per-table merge, with checkpoint-based incremental
  * restart (the reference's trigger-once + checkpoint semantics, K1/§2.9).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def envelopesFor(ids: Range, tsBase: Long, op: String = "u") = {
    val events = ids.map { i =>
      (i.toLong, new java.sql.Timestamp(tsBase + i), i.toLong % 10,
        if (op == "auto") (if (i % 5 == 0) "error" else "click") else opName(op),
        i * 1.5, s"""{"k": $i}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    EnvelopeCodec.synthesize(events)
  }
  private def opName(op: String) = op match {
    case "c" => "signup"; case "d" => "error"; case _ => "click"
  }

  // versioned-table read (the unpartitioned CdcTable layout keeps data
  // under pointer-named version directories)
  private def tbl(path: String) =
    new graft.ops.CdcTable(spark, path, Seq("event_id")).read

  test("availableNow processes files once; restart picks up only new files; merges are applied") {
    val root = tmpDir("cdcstream")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"

    envelopesFor(0 until 100, 1700000000000L, "auto").write.parquet(envDir)
    val p1 = new CdcPipeline(spark, envDir, ckpt, tables)
    p1.runOnce()
    assert(p1.batchCount >= 1)

    val t = tbl(s"$tables/events")
    // error rows are deletes -> absent; others upserted by event_id
    assert(t.count() == (0 until 100).count(_ % 5 != 0))
    assert(t.filter(col("event_id") % 5 === 0).count() == 0)

    // restart with NO new data: checkpoint prevents reprocessing
    val p2 = new CdcPipeline(spark, envDir, ckpt, tables)
    p2.runOnce()
    assert(tbl(s"$tables/events").count() ==
      (0 until 100).count(_ % 5 != 0))

    // new file arrives: updates for 10 existing keys with later ts
    envelopesFor(0 until 10, 1800000000000L, "u")
      .write.mode("append").parquet(envDir)
    val p3 = new CdcPipeline(spark, envDir, ckpt, tables)
    p3.runOnce()
    assert(p3.batchCount >= 1)
    val after = tbl(s"$tables/events")
    // previously-deleted ids 0 and 5 are re-inserted by the update batch
    assert(after.count() == (0 until 100).count(_ % 5 != 0) + 2)
    // __ts_ms of id 1 advanced to the new batch
    val ts1 = after.filter(col("event_id") === 1).select("__ts_ms")
      .as[java.sql.Timestamp].head()
    assert(ts1.getTime == 1800000000001L)
  }

  test("latest-wins within one batch: several events per key collapse to final state") {
    val root = tmpDir("cdcstream2")
    val envDir = s"$root/env"
    // same key updated 3x then deleted, all in one batch -> key absent
    val events = Seq(
      (1L, new java.sql.Timestamp(1000L), 1L, "click", 1.0, "{}"),
      (1L, new java.sql.Timestamp(2000L), 1L, "click", 2.0, "{}"),
      (1L, new java.sql.Timestamp(3000L), 1L, "error", 3.0, "{}"),
      (2L, new java.sql.Timestamp(1000L), 2L, "signup", 9.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    EnvelopeCodec.synthesize(events).write.parquet(envDir)
    val p = new CdcPipeline(spark, envDir, s"$root/ckpt", s"$root/tables")
    p.runOnce()
    val t = tbl(s"$root/tables/events")
    assert(t.select("event_id").as[Long].collect().toSeq == Seq(2L))
  }

  test("end-to-end view maintenance: foreachBatch merge -> CDF -> persisted view refresh in one flow") {
    import graft.ops.{CdcTable, IncrementalView, MaterializedView}
    val root = tmpDir("cdcview2")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    val spec = CdcPipeline.ViewSpec("events", s"$root/view", Seq("event_type"), Seq("user_id"))
    val t = new CdcTable(spark, s"$tables/events", Seq("event_id"))
    def mv = new MaterializedView(spark, t, s"$root/view", Seq("event_type"), Seq("user_id"))
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_type", "n_rows", "user_id").orderBy("event_type").collect().toSeq

    // three streamed batches — inserts+deletes, updates, then a pure
    // delete wave — each processed by the pipeline with the view
    // registered; the view refreshes INSIDE the flow and must equal the
    // full recompute after every run, with zero manual refresh calls
    val batches = Seq(
      ((0 until 60), 1700000000000L, "auto"), // i%5==0 rows are deletes
      ((40 until 80), 1800000000000L, "u"),
      ((10 until 30), 1900000000000L, "d"))
    for (((range, ts, op), i) <- batches.zipWithIndex) {
      envelopesFor(range, ts, op).write.mode("append").parquet(envDir)
      new CdcPipeline(spark, envDir, ckpt, tables, views = Seq(spec)).runOnce()
      assert(mv.reflectedVersion.contains(t.currentVersion.get),
        s"view must be refreshed to the table's committed version by run $i")
      assert(sortedRows(mv.read) ==
        sortedRows(IncrementalView.compute(t.read, Seq("event_type"), Seq("user_id"))),
        s"view must equal the full recompute after run $i")
    }
    // the delete wave actually shrank groups (refresh handled deletes)
    assert(mv.read.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0) ==
      t.read.count())
  }

  test("erase propagates through the registered views without waiting for a micro-batch") {
    import graft.ops.{CdcTable, IncrementalView, MaterializedView}
    import org.apache.spark.sql.functions._
    val root = tmpDir("cdcerase")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    val spec = CdcPipeline.ViewSpec("events", s"$root/view", Seq("event_type"), Seq("user_id"))
    envelopesFor(0 until 60, 1700000000000L, "auto").write.mode("append").parquet(envDir)
    val pipeline = new CdcPipeline(spark, envDir, ckpt, tables, views = Seq(spec))
    pipeline.runOnce()

    val t = new CdcTable(spark, s"$tables/events", Seq("event_id"))
    val mv = new MaterializedView(spark, t, s"$root/view", Seq("event_type"), Seq("user_id"))
    val before = t.read.count()
    val victim = t.read.agg(min("user_id")).head.getLong(0)
    val nVictim = t.read.filter(col("user_id") === victim).count()
    assert(nVictim > 0)

    // no new envelopes arrive: erase must still land in table AND view
    pipeline.erase("events", col("user_id") === victim)
    assert(t.read.count() == before - nVictim)
    assert(t.read.filter(col("user_id") === victim).isEmpty)
    assert(t.dvSummary(t.currentVersion.get).map(_._3).sum == nVictim,
      "erase must be a merge-on-read vector commit, not a rewrite")
    assert(mv.reflectedVersion.contains(t.currentVersion.get),
      "the registered view must reflect the erasure immediately")
    val want = IncrementalView.compute(t.read, Seq("event_type"), Seq("user_id"))
      .orderBy("event_type").collect().toSeq
    assert(mv.read.select(want.head.schema.fieldNames.map(col): _*)
      .orderBy("event_type").collect().toSeq == want)

    // unknown and keyless targets reject loudly
    intercept[IllegalArgumentException](pipeline.erase("nope", lit(true)))
  }

  test("streaming join-view maintenance: fact + dim batches keep the persisted enrichment equal to the recompute") {
    import graft.ops.{CdcTable, JoinView}
    val root = tmpDir("cdcjoinview")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    val jv = CdcPipeline.JoinViewSpec(
      factTable = "fact", factKeys = Seq("id"), dimTable = "dim",
      viewPath = s"$root/jview", on = Seq("fk" -> "k"))
    def factEnv(rows: Seq[(Long, Long, Double, Long, String)]) =
      EnvelopeCodec.synthesizeTable(
        rows.map { case (id, fk, amt, ts, op) => (id, fk, amt, new java.sql.Timestamp(ts), op) }
          .toDF("id", "fk", "amount", "ts", "__op"),
        table = "fact", pk = "id", opCol = "__op", tsCol = "ts")
    def dimEnv(rows: Seq[(Long, String, Long, String)]) =
      EnvelopeCodec.synthesizeTable(
        rows.map { case (k, name, ts, op) => (k, name, new java.sql.Timestamp(ts), op) }
          .toDF("k", "name", "ts", "__op"),
        table = "dim", pk = "k", opCol = "__op", tsCol = "ts")
    def run(): Unit =
      new CdcPipeline(spark, new graft.sources.FileEnvelopeSource(envDir), ckpt, tables,
        views = Seq(jv)).runOnce()
    def assertViewCurrent(label: String): Unit = {
      val fact = new CdcTable(spark, s"$tables/fact", Seq("id"))
      val dim = new CdcTable(spark, s"$tables/dim", Seq("k"))
      val view = new CdcTable(spark, s"$root/jview", Seq("id"))
      val dimProj = dim.read.select("k", "name")
      val want0 = JoinView.compute(fact.read, dimProj, Seq("fk" -> "k"))
      val cols = want0.columns.sorted.toSeq
      val got = view.read.drop(JoinView.TsCol).select(cols.map(col): _*)
        .orderBy("id").collect().toSeq
      val want = want0.select(cols.map(col): _*).orderBy("id").collect().toSeq
      assert(got == want, s"$label: streamed view diverged:\n got $got\nwant $want")
    }

    // run 1: both sides bootstrap in ONE batch -> view bootstraps
    factEnv(Seq((1L, 10L, 5.0, 1000L, "c"), (2L, 20L, 6.0, 1000L, "c"),
      (3L, 99L, 7.0, 1000L, "c"))). // dangling fk: absent from the inner view
      write.mode("append").parquet(envDir)
    dimEnv(Seq((10L, "a", 1000L, "c"), (20L, "b", 1000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertViewCurrent("bootstrap")
    assert(new CdcTable(spark, s"$root/jview", Seq("id")).read.count() == 2)

    // run 2: dim update + delete AND fact churn stream together -> one
    // incremental refresh inside foreachBatch
    factEnv(Seq((1L, 20L, 50.0, 2000L, "u"), (4L, 10L, 8.0, 2000L, "c")))
      .write.mode("append").parquet(envDir)
    dimEnv(Seq((10L, "a2", 2000L, "u"), (20L, "b", 2000L, "d")))
      .write.mode("append").parquet(envDir)
    run()
    assertViewCurrent("churn window")
    val v = new CdcTable(spark, s"$root/jview", Seq("id")).read
    // fact 1 moved onto deleted dim 20 -> dropped; fact 4 joined a2
    assert(v.filter(col("id") === 1L).count() == 0)
    assert(v.filter(col("id") === 4L).select("name").as[String].head() == "a2")

    // run 3: a dim-only window still refreshes facts through the fk probe
    dimEnv(Seq((99L, "z", 3000L, "c"))).write.mode("append").parquet(envDir)
    run()
    assertViewCurrent("dim-only window")
    assert(new CdcTable(spark, s"$root/jview", Seq("id")).read
      .filter(col("id") === 3L).select("name").as[String].head() == "z")

    // a view committed without a reflected record (as one persisted
    // before the record existed) reads as never reflected: the next batch
    // re-bootstraps once and the view still equals the recompute
    val jview = new CdcTable(spark, s"$root/jview", Seq("id"))
    jview.init(jview.read)
    assert(jview.reflected.isEmpty)
    dimEnv(Seq((99L, "z2", 4000L, "u"))).write.mode("append").parquet(envDir)
    run()
    assertViewCurrent("record-less view recovery")
    assert(new CdcTable(spark, s"$root/jview", Seq("id")).read
      .filter(col("id") === 3L).select("name").as[String].head() == "z2")
    assert(jview.reflected.exists(_.sources.map(_._1) == Seq("fact", "dim")))
  }

  test("reflected record roundtrips names with spaces/colons; rejects line separators; old format re-bootstraps") {
    import graft.ops.CdcTable
    val root = tmpDir("reflmarker")
    val view = new CdcTable(spark, s"$root/view", Seq("id"))
    val entries = Seq("my fact" -> 3L, "dim:with:colons" -> 5L)
    view.reflecting(entries)(view.init(Seq((1L, "a")).toDF("id", "v")))
    assert(view.reflected.map(_.sources).contains(entries))
    // a name the record cannot hold is rejected before the refresh runs
    var ran = false
    Seq("bad\nname", "bad\rname").foreach { bad =>
      intercept[IllegalArgumentException](view.reflecting(Seq(bad -> 1L)) { ran = true })
    }
    assert(!ran)
    // the earlier formats — a `_reflected` marker file beside the view (in
    // either its line or its space-separated shape) and GramView's
    // single-version tag — hold no record: the view re-bootstraps once and
    // never replays a window from them
    java.nio.file.Files.writeString(java.nio.file.Paths.get(view.path, "_reflected"), "a:3\nb:5")
    view.init(view.read)
    assert(view.reflected.isEmpty)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(view.path, "_reflected"), "a:3 b:5")
    view.withCommitTags(Map("gram.reflected_source_version" -> "3"))(view.init(view.read))
    assert(view.reflected.isEmpty)
  }

  test("join view registered on a non-PK dim column fails fast, never silently maintains a wrong view") {
    val root = tmpDir("cdcbadkeys")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    // 'name' is a payload column — the dim's sniffed PK is 'k'
    val bad = CdcPipeline.JoinViewSpec(
      factTable = "fact", factKeys = Seq("id"), dimTable = "dim",
      viewPath = s"$root/jview", on = Seq("fk" -> "name"))
    EnvelopeCodec.synthesizeTable(
      Seq((1L, 10L, new java.sql.Timestamp(1000L), "c"))
        .toDF("id", "fk", "ts", "__op"),
      table = "fact", pk = "id", opCol = "__op", tsCol = "ts")
      .write.mode("append").parquet(envDir)
    EnvelopeCodec.synthesizeTable(
      Seq((10L, "a", new java.sql.Timestamp(1000L), "c"))
        .toDF("k", "name", "ts", "__op"),
      table = "dim", pk = "k", opCol = "__op", tsCol = "ts")
      .write.mode("append").parquet(envDir)
    val e = intercept[Exception] {
      new CdcPipeline(spark, new graft.sources.FileEnvelopeSource(envDir), ckpt, tables,
        views = Seq(bad)).runOnce()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
      .exists(t => t.isInstanceOf[IllegalArgumentException] &&
        t.getMessage.contains("merge keys")),
      s"expected the key-mismatch IllegalArgumentException, got $e")
  }

  test("streaming star view: fact + two dims through one pipeline, one refresh per batch") {
    import graft.ops.{CdcTable, JoinView}
    val root = tmpDir("cdcstarview")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    val jv = CdcPipeline.JoinViewSpec(
      factTable = "fact", factKeys = Seq("id"), dimTable = "dimA",
      viewPath = s"$root/sview", on = Seq("fka" -> "ka"),
      extraDims = Seq(CdcPipeline.DimSpec("dimB", Seq("fkb" -> "kb"))))
    def factEnv(rows: Seq[(Long, Long, Long, Double, Long, String)]) =
      EnvelopeCodec.synthesizeTable(
        rows.map { case (id, fka, fkb, amt, ts, op) =>
          (id, fka, fkb, amt, new java.sql.Timestamp(ts), op) }
          .toDF("id", "fka", "fkb", "amount", "ts", "__op"),
        table = "fact", pk = "id", opCol = "__op", tsCol = "ts")
    def dimEnv(tbl: String, kCol: String, rows: Seq[(Long, String, Long, String)]) =
      EnvelopeCodec.synthesizeTable(
        rows.map { case (k, v, ts, op) => (k, v, new java.sql.Timestamp(ts), op) }
          .toDF(kCol, s"${kCol}_name", "ts", "__op"),
        table = tbl, pk = kCol, opCol = "__op", tsCol = "ts")
    def run(): Unit =
      new CdcPipeline(spark, new graft.sources.FileEnvelopeSource(envDir), ckpt, tables,
        views = Seq(jv)).runOnce()
    def assertViewCurrent(label: String): Unit = {
      val fact = new CdcTable(spark, s"$tables/fact", Seq("id"))
      val dimA = new CdcTable(spark, s"$tables/dimA", Seq("ka"))
      val dimB = new CdcTable(spark, s"$tables/dimB", Seq("kb"))
      val view = new CdcTable(spark, s"$root/sview", Seq("id"))
      val want0 = JoinView.computeStar(fact.read,
        Seq(dimA.read.select("ka", "ka_name") -> Seq("fka" -> "ka"),
          dimB.read.select("kb", "kb_name") -> Seq("fkb" -> "kb")))
      val cols = want0.columns.sorted.toSeq
      val got = view.read.drop(JoinView.TsCol).select(cols.map(col): _*)
        .orderBy("id").collect().toSeq
      val want = want0.select(cols.map(col): _*).orderBy("id").collect().toSeq
      assert(got == want, s"$label: streamed star diverged:\n got $got\nwant $want")
    }

    // run 1: all three tables bootstrap in one batch
    factEnv(Seq((1L, 10L, 100L, 5.0, 1000L, "c"), (2L, 20L, 200L, 6.0, 1000L, "c")))
      .write.mode("append").parquet(envDir)
    dimEnv("dimA", "ka", Seq((10L, "a", 1000L, "c"), (20L, "b", 1000L, "c")))
      .write.mode("append").parquet(envDir)
    dimEnv("dimB", "kb", Seq((100L, "x", 1000L, "c"), (200L, "y", 1000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertViewCurrent("bootstrap")
    assert(new CdcTable(spark, s"$root/sview", Seq("id")).read.count() == 2)

    // run 2: BOTH dims churn (update + delete) with a fact insert
    dimEnv("dimA", "ka", Seq((10L, "a2", 2000L, "u"))).write.mode("append").parquet(envDir)
    dimEnv("dimB", "kb", Seq((200L, "y", 2000L, "d"))).write.mode("append").parquet(envDir)
    factEnv(Seq((3L, 20L, 100L, 7.0, 2000L, "c"))).write.mode("append").parquet(envDir)
    run()
    assertViewCurrent("dual-dim churn")
    val v = new CdcTable(spark, s"$root/sview", Seq("id")).read
    assert(v.filter(col("id") === 2L).count() == 0, "fact 2 lost its dimB partner")
    val r1 = v.filter(col("id") === 1L).select("ka_name", "kb_name").head()
    assert((r1.getString(0), r1.getString(1)) == (("a2", "x")))
  }

  test("streaming derived view: the chunk index tracks ingested docs, shrink included") {
    import graft.ops.{CdcTable, DerivedView}
    import org.apache.spark.sql.DataFrame
    val root = tmpDir("cdcderived")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    def chunks(df: DataFrame): DataFrame = {
      val w = df.select(col("id"), split(col("body"), " ").as("words"))
      w.withColumn("chunk_id",
          explode(sequence(lit(0), ((size(col("words")) - 1) / 2).cast("int"))))
        .select(col("id"), col("chunk_id").cast("long").as("chunk_id"),
          array_join(slice(col("words"), col("chunk_id") * 2 + 1, lit(2)), " ").as("chunk"))
    }
    val dv = CdcPipeline.DerivedViewSpec("docs", Seq("id"), s"$root/chunks",
      Seq("id", "chunk_id"), chunks)
    def docsEnv(rows: Seq[(Long, String, Long, String)]) =
      EnvelopeCodec.synthesizeTable(
        rows.map { case (id, body, ts, op) => (id, body, new java.sql.Timestamp(ts), op) }
          .toDF("id", "body", "ts", "__op"),
        table = "docs", pk = "id", opCol = "__op", tsCol = "ts")
    def run(): Unit =
      new CdcPipeline(spark, new graft.sources.FileEnvelopeSource(envDir), ckpt, tables,
        views = Seq(dv)).runOnce()
    def assertCurrent(label: String): Unit = {
      val source = new CdcTable(spark, s"$tables/docs", Seq("id"))
      val view = new CdcTable(spark, s"$root/chunks", Seq("id", "chunk_id"))
      def rows(df: DataFrame) = df.select("id", "chunk_id", "chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(t => (t._1, t._2)).toSeq
      assert(rows(view.read) == rows(chunks(source.read.select("id", "body"))),
        s"$label: derived view diverged from recompute")
    }

    docsEnv(Seq((1L, "a b c d e f", 1000L, "c"), (2L, "g h", 1000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertCurrent("bootstrap")
    assert(new CdcTable(spark, s"$root/chunks", Seq("id", "chunk_id")).read.count() == 4)

    // doc 1 SHRINKS to one chunk, doc 2 dies, doc 3 arrives
    docsEnv(Seq((1L, "x y", 2000L, "u"), (2L, "g h", 2000L, "d"), (3L, "m n o p", 2000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertCurrent("churn window")
    val v = new CdcTable(spark, s"$root/chunks", Seq("id", "chunk_id")).read
    assert(v.filter(col("id") === 1L).count() == 1, "stale chunks of the shrunk doc must die")
    assert(v.filter(col("id") === 2L).count() == 0)
  }

  test("maxFilesPerTrigger rate-bounds batches; AvailableNow still drains the backlog") {
    import graft.ops.CdcTable
    val root = tmpDir("cdcrate")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    def env(ids: Seq[Long]) = EnvelopeCodec.synthesizeTable(
      ids.map(i => (i, s"v$i", new java.sql.Timestamp(1000L + i), "c"))
        .toDF("id", "v", "ts", "__op"),
      table = "rated", pk = "id", opCol = "__op", tsCol = "ts")
    // three separate envelope files form the backlog
    env(Seq(1L)).write.mode("append").parquet(envDir)
    env(Seq(2L)).write.mode("append").parquet(envDir)
    env(Seq(3L)).write.mode("append").parquet(envDir)
    val pipe = new CdcPipeline(spark,
      new graft.sources.FileEnvelopeSource(envDir, maxFilesPerTrigger = Some(1)),
      ckpt, tables)
    pipe.runOnce()
    assert(pipe.batchCount >= 3, s"backlog must split into rate-bounded batches, got ${pipe.batchCount}")
    assert(new CdcTable(spark, s"$tables/rated", Seq("id")).read.count() == 3,
      "the drain must still deliver everything")
  }

  test("streaming-maintained sketch view: live distinct counts track the ingest, deletes included") {
    import graft.ops.{CdcTable, SketchView}
    import org.apache.spark.sql.DataFrame
    val root = tmpDir("cdcsketch")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    val hashExpr = TextQueries.h64("CAST(uid AS STRING)")
    val spec = CdcPipeline.SketchViewSpec("hits", Seq("id"), s"$root/dau",
      Seq("seg"), hashExpr)
    def hitsEnv(rows: Seq[(Long, String, Long, Long, String)]) =
      EnvelopeCodec.synthesizeTable(
        rows.map { case (id, seg, uid, ts, op) => (id, seg, uid, new java.sql.Timestamp(ts), op) }
          .toDF("id", "seg", "uid", "ts", "__op"),
        table = "hits", pk = "id", opCol = "__op", tsCol = "ts")
    def run(): Unit =
      new CdcPipeline(spark, new graft.sources.FileEnvelopeSource(envDir), ckpt, tables,
        views = Seq(spec)).runOnce()
    def assertCurrent(label: String): Unit = {
      val source = new CdcTable(spark, s"$tables/hits", Seq("id"))
      val view = new CdcTable(spark, s"$root/dau", Seq("seg"))
      def rows(df: DataFrame) = df
        .select(col("seg"), col(SketchView.SumCol), col(SketchView.ZerosCol))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
      val want = rows(SketchView.summarized(
        SketchView.regsOf(source.read, Seq("seg"), hashExpr)))
      assert(rows(view.read) == want, s"$label: sketch view diverged from recompute")
    }

    hitsEnv(Seq((1L, "web", 10L, 1000L, "c"), (2L, "web", 11L, 1000L, "c"),
      (3L, "app", 10L, 1000L, "c"), (4L, "app", 12L, 1000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertCurrent("bootstrap")

    // insert-only window, then a churn window (uid move + segment death)
    hitsEnv(Seq((5L, "web", 12L, 2000L, "c"), (6L, "api", 13L, 2000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertCurrent("insert-only window")
    hitsEnv(Seq((2L, "web", 14L, 3000L, "u"), (6L, "api", 13L, 3000L, "d")))
      .write.mode("append").parquet(envDir)
    run()
    assertCurrent("churn window")
    val v = new CdcTable(spark, s"$root/dau", Seq("seg")).read
    assert(v.filter(col("seg") === "api").count() == 0, "emptied segment must vanish")
  }

  test("streaming-maintained ANN index: frozen codebook, lists track the vector table across runs") {
    import graft.ops.{CdcTable, IvfIndex}
    import org.apache.spark.sql.DataFrame
    val root = tmpDir("cdcann")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"
    val spec = CdcPipeline.AnnIndexSpec("vectors", Seq("vec_id"), s"$root/ivf", k = 4)
    def vecEnv(rows: Seq[(Long, Seq[Float], Long, String)]) =
      EnvelopeCodec.synthesizeTable(
        rows.map { case (id, e, ts, op) => (id, e, new java.sql.Timestamp(ts), op) }
          .toDF("vec_id", "embedding", "ts", "__op"),
        table = "vectors", pk = "vec_id", opCol = "__op", tsCol = "ts")
    def run(): Unit =
      new CdcPipeline(spark, new graft.sources.FileEnvelopeSource(envDir), ckpt, tables,
        views = Seq(spec)).runOnce()
    def emb(seed: Int): Seq[Float] =
      (0 until 8).map(d => ((seed * 31 + d * 7) % 13 - 6).toFloat)
    def assertCurrent(label: String): Unit = {
      val source = new CdcTable(spark, s"$tables/vectors", Seq("vec_id"))
      val idx = new IvfIndex(spark, s"$root/ivf", k = 4)
      def rows(df: DataFrame) = df.select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows(idx.lists.read) ==
        rows(idx.assign(source.read.select("vec_id", "embedding"))),
        s"$label: maintained lists diverged from the snapshot re-assign")
    }

    // run 1: bootstrap trains the codebook and assigns the snapshot
    vecEnv((1L to 12L).map(i => (i, emb(i.toInt), 1000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertCurrent("bootstrap")
    val codebook = new IvfIndex(spark, s"$root/ivf", k = 4).centroids
      .map { case (cid, ce) => (cid, ce.toSeq) }

    // run 2: two vectors move in space, one dies, one arrives
    vecEnv(Seq((3L, emb(99), 2000L, "u"), (5L, emb(100), 2000L, "u"),
      (7L, emb(7), 2000L, "d"), (20L, emb(20), 2000L, "c")))
      .write.mode("append").parquet(envDir)
    run()
    assertCurrent("churn window")
    val idx = new IvfIndex(spark, s"$root/ivf", k = 4)
    assert(idx.centroids.map { case (cid, ce) => (cid, ce.toSeq) } == codebook,
      "streaming refresh must never retrain the codebook")
    assert(idx.lists.read.filter(col("vec_id") === 7L).count() == 0)
    assert(idx.lists.read.count() == 12) // 12 - 1 dead + 1 new
  }

  test("streaming-maintained materialized view: CDF refresh tracks the table across runs") {
    import graft.ops.{CdcTable, IncrementalView}
    val root = tmpDir("cdcview")
    val envDir = s"$root/env"; val ckpt = s"$root/ckpt"; val tables = s"$root/tables"

    def sortedView(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type").collect().toSeq

    // run 1: ingest, bootstrap the view from the table
    envelopesFor(0 until 60, 1700000000000L, "auto").write.parquet(envDir)
    new CdcPipeline(spark, envDir, ckpt, tables).runOnce()
    val t = new CdcTable(spark, s"$tables/events", Seq("event_id"))
    var vPrev = t.currentVersion.get
    var view = IncrementalView.compute(t.read, Seq("event_type"), Seq("user_id"))

    // runs 2-3: updates to existing keys and brand-new keys stream in;
    // after each incremental run the view refreshes from the table's own
    // change feed — never re-scanning the table — and must equal the
    // recompute (the streaming face of incremental view maintenance)
    for ((range, ts) <- Seq((40 until 80) -> 1800000000000L,
                            (70 until 90) -> 1900000000000L)) {
      envelopesFor(range, ts, "u").write.mode("append").parquet(envDir)
      new CdcPipeline(spark, envDir, ckpt, tables).runOnce()
      val vNow = t.currentVersion.get
      view = IncrementalView.refresh(
        view, t.changesBetween(vPrev, vNow), Seq("event_type"), Seq("user_id"))
      vPrev = vNow
      assert(sortedView(view) ==
        sortedView(IncrementalView.compute(t.read, Seq("event_type"), Seq("user_id"))))
    }
    assert(view.count() > 0)
  }
}
