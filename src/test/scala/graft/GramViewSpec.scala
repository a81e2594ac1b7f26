package graft

import org.apache.spark.sql.functions._
import graft.ops.{CdcTable, GramView}

/** Incrementally-maintained exact Gram matrix: additive maintenance
  * (inserts add, deletes subtract, updates cancel pre/post) must equal a
  * full recompute cell-for-cell after every window — the property HLL
  * views cannot have and sums do.
  */
class GramViewSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Array[Float])*) =
    rows.toSeq.toDF("vec_id", "embedding")

  private def axis(k: Int, s: Float, d: Int = 8) =
    Array.tabulate(d)(i => if (i == k) s else 0.0f)

  private def cells(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Long]("s")).toMap

  test("bootstrap equals the one-shot Gram; churn windows stay exact") {
    val root = tmpDir("gramview")
    val src = new CdcTable(spark, s"$root/vecs", Seq("vec_id"))
    src.init(vecs(1L -> axis(0, 1.0f), 2L -> axis(1, 2.0f), 3L -> axis(0, 0.5f)))
    val view = new GramView(spark, src, s"$root/gram", "embedding")
    view.refresh()
    assert(cells(view.table.read) === cells(GramView.gramOf(src.read, "embedding")))

    // window 1: insert a vector, delete one, update one (scale by 2 —
    // exact in float): the maintained matrix must equal the recompute
    def batch(rows: (Long, Array[Float], String)*) =
      rows.toSeq.toDF("vec_id", "embedding", "__op")
        .withColumn("__ts_ms", lit(10L))
    src.merge(batch(
      (4L, axis(2, 3.0f), "c"),
      (3L, axis(0, 0.0f), "d"),
      (2L, axis(1, 4.0f), "u")), "__ts_ms")
    view.refresh()
    val expect = cells(GramView.gramOf(src.read, "embedding"))
    assert(cells(view.table.read) === expect)
    // the deleted axis-0 mass really subtracted: only vec 1 remains on axis 0
    assert(expect((0L, 0L)) === 1000000L * 1000000L)
    // the update replaced 2e6² with 4e6² on axis 1
    assert(expect((1L, 1L)) === 4000000L * 4000000L)

    // window 2: delete-then-reinsert the same vector cancels exactly
    src.merge(batch((1L, axis(0, 1.0f), "d")), "__ts_ms")
    src.merge(batch((1L, axis(0, 1.0f), "c")), "__ts_ms")
    view.refresh()
    assert(cells(view.table.read) === expect)
  }

  test("streaming foreachBatch keeps the matrix current per micro-batch") {
    val root = tmpDir("gramstream")
    val srcDir = s"$root/in"
    vecs(1L -> axis(0, 1.0f), 2L -> axis(1, 2.0f))
      .write.mode("overwrite").parquet(srcDir)
    val table = new CdcTable(spark, s"$root/vecs", Seq("vec_id"))
    val view = new GramView(spark, table, s"$root/gram", "embedding")

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("vec_id BIGINT, embedding ARRAY<FLOAT>").parquet(srcDir)
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!df.isEmpty) {
            table.merge(df.withColumn("__op", lit("c")).withColumn("__ts_ms", lit(1L)),
              "__ts_ms")
            view.refresh()
            (): Unit
          }
        }
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(cells(view.table.read) === cells(GramView.gramOf(table.read, "embedding")))

    // a late file flows through the SAME checkpointed stream: the matrix
    // absorbs only the delta and still equals the recompute
    vecs(3L -> axis(0, 3.0f)).write.mode("append").parquet(srcDir)
    runOnce()
    assert(cells(view.table.read) === cells(GramView.gramOf(table.read, "embedding")))
    assert(cells(view.table.read)((0L, 0L)) ===
      1000000L * 1000000L + 3000000L * 3000000L)
  }

  test("property: random churn sequences keep the maintained matrix equal to the recompute") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val d = 6
    val vecGen = Gen.listOfN(d, Gen.choose(-8, 8).map(_ / 4.0f)).map(_.toArray)
    // a batch: per id in a small space, one op (insert/update/delete)
    val batchGen = for {
      ids <- Gen.someOf(1L to 8L)
      if ids.nonEmpty
      ops <- Gen.listOfN(ids.size, Gen.oneOf("c", "u", "d"))
      vs <- Gen.listOfN(ids.size, vecGen)
    } yield ids.toList.lazyZip(ops).lazyZip(vs).toList
    val seqGen = for {
      init <- Gen.listOfN(5, vecGen)
      batches <- Gen.listOfN(3, batchGen)
    } yield (init, batches)

    val prop = Prop.forAll(seqGen) { case (init, batches) =>
      val root = tmpDir("gramprop")
      val src = new CdcTable(spark, s"$root/vecs", Seq("vec_id"))
      src.init(init.zipWithIndex.map { case (v, i) => (i.toLong + 1, v) }.toDF("vec_id", "embedding"))
      val view = new GramView(spark, src, s"$root/gram", "embedding")
      view.refresh()
      var ok = true
      batches.zipWithIndex.foreach { case (b, bi) =>
        // deletes of absent keys are dropped (merge ignores them anyway);
        // timestamps advance per batch so latest-wins is deterministic
        val df = b.map { case (id, op, v) => (id, v, op) }
          .toDF("vec_id", "embedding", "__op")
          .withColumn("__ts_ms", lit(bi.toLong + 10))
        src.merge(df, "__ts_ms")
        view.refresh()
        val got = cells(view.table.read)
        val want = cells(GramView.gramOf(src.read, "embedding"))
        if (got != want) {
          println(s"MISMATCH after batch $bi: ${got.toSeq.diff(want.toSeq).take(5)}")
          ok = false
        }
      }
      ok
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }

  test("reflected version rides the refresh commit; a stale sidecar cannot double-apply") {
    val root = tmpDir("gramcrash")
    val src = new CdcTable(spark, s"$root/vecs", Seq("vec_id"))
    src.init(vecs(1L -> axis(0, 1.0f), 2L -> axis(1, 2.0f)))
    val view = new GramView(spark, src, s"$root/gram", "embedding")
    view.refresh()
    val bootSrcV = src.currentVersion.get
    val bootViewV = view.table.currentVersion.get

    // the reflected version is a COMMIT TAG of the view's own version —
    // atomic with the matrix, not a post-commit sidecar
    assert(view.table.commitTags(bootViewV).get(s"${CdcTable.ReflectedTag}0") ===
      Some(s"${src.path}:$bootSrcV"))

    def batch(rows: (Long, Array[Float], String)*) =
      rows.toSeq.toDF("vec_id", "embedding", "__op").withColumn("__ts_ms", lit(10L))
    src.merge(batch((3L, axis(2, 3.0f), "c")), "__ts_ms")
    view.refresh()
    val expect = cells(GramView.gramOf(src.read, "embedding"))
    assert(cells(view.table.read) === expect)

    // the crash state a post-commit marker would leave: the matrix
    // already reflects the window, a sidecar still names the pre-window
    // source version. That sidecar was written against an older view
    // head, so the newer commit tag wins and a re-refresh must NOT
    // re-apply the window's signed delta.
    writeSidecar(s"$root/gram", bootViewV, s"${src.path}:$bootSrcV")
    assert(view.reflectedVersion === src.currentVersion)
    val vAfter = view.table.currentVersion.get
    view.refresh()
    assert(view.table.currentVersion.get === vAfter, "no version burned")
    assert(cells(view.table.read) === expect, "signed delta not double-applied")
  }

  test("a later commit retires the fast-forward sidecar; a RESTORE cannot promote it") {
    val root = tmpDir("gramsidecar")
    val src = new CdcTable(spark, s"$root/vecs", Seq("vec_id"))
    src.init(vecs(1L -> axis(0, 1.0f)))
    val view = new GramView(spark, src, s"$root/gram", "embedding")
    view.refresh()
    val bootViewV = view.table.currentVersion.get
    // an empty window (the source's compaction keeps its rows) fast-
    // forwards the record through the sidecar and burns no view version
    src.compact()
    view.refresh()
    assert(view.table.currentVersion.get === bootViewV)
    assert(view.reflectedVersion === src.currentVersion)
    val sidecar = java.nio.file.Paths.get(s"$root/gram", CdcTable.ReflectedSidecarName)
    assert(java.nio.file.Files.exists(sidecar))

    def batch(rows: (Long, Array[Float], String)*) =
      rows.toSeq.toDF("vec_id", "embedding", "__op").withColumn("__ts_ms", lit(10L))
    src.merge(batch((2L, axis(1, 2.0f), "c")), "__ts_ms")
    view.refresh() // tagged commit lands past the sidecar's head
    assert(view.reflectedVersion === src.currentVersion)
    assert(cells(view.table.read) === cells(GramView.gramOf(src.read, "embedding")))
    // restoring the view's table to the bootstrap version brings back
    // the bootstrap matrix under a new, untagged head: the sidecar names
    // an older head, so the view reads as unreflected — it re-syncs
    // instead of skipping windows against a rolled-back matrix
    view.table.restore(bootViewV)
    assert(view.reflectedVersion === None)
    view.refresh()
    assert(view.reflectedVersion === src.currentVersion)
    assert(cells(view.table.read) === cells(GramView.gramOf(src.read, "embedding")))
  }

  private def writeSidecar(viewPath: String, head: Long, entry: String): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(viewPath, CdcTable.ReflectedSidecarName),
      s"${CdcTable.ReflectedTag}0\t$entry\n${CdcTable.ReflectedHeadTag}\t$head"): Unit

  test("refresh is idempotent and an up-to-date view burns no version") {
    val root = tmpDir("gramview2")
    val src = new CdcTable(spark, s"$root/vecs", Seq("vec_id"))
    src.init(vecs(1L -> axis(0, 1.0f)))
    val view = new GramView(spark, src, s"$root/gram", "embedding")
    view.refresh()
    val v = view.table.currentVersion.get
    view.refresh() // already current: no-op
    assert(view.table.currentVersion.get === v)
    assert(view.reflectedVersion === src.currentVersion)
  }
}
