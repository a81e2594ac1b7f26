package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{CdcTable, LocalTableIO, TableStats}

/** ANALYZE TABLE via incremental per-directory NDV sidecars
  * ([[graft.ops.TableStats]] / [[CdcTable.analyze]]): the metadata-only
  * merge must equal a full-scan recompute after every mutation class —
  * appends, copy-on-write deletes, vectored (merge-on-read) deletes,
  * compaction — and sidecar loss must degrade to backfill, never to a
  * wrong answer.
  */
class TableStatsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, idOffset: Long = 0): DataFrame =
    (0 until n).map { i =>
      val id = idOffset + i
      (id, s"user_${id % 37}", s"2024-${"%02d".format(i % 3 + 1)}-15 10:00:00")
    }.toDF("id", "actor", "created")
      .withColumn("created", col("created").cast("timestamp"))

  /** Full-scan truth: registers straight over the table's CURRENT rows. */
  private def scanStats(t: CdcTable): Map[String, (Long, Int)] =
    TableStats.collectRegs(
        TableStats.regsByGroup(t.read, Nil, t.ndvColumns), Nil)
      .getOrElse(Seq.empty, Map.empty)
      .map { case (c, regs) => c -> TableStats.summarize(regs) }

  private def analyzed(t: CdcTable): Map[String, (Long, Long, Int)] =
    t.analyze().collect()
      .map(r => r.getAs[String]("column") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("hll_sum"), r.getAs[Int]("hll_zeros"))))
      .toMap

  private def assertMatchesScan(t: CdcTable): Unit = {
    val got = analyzed(t)
    val want = scanStats(t)
    val nRows = t.read.count()
    t.ndvColumns.foreach { c =>
      val (gotRows, gotSum, gotZeros) = got(c)
      assert(gotRows == nRows, s"$c: n_rows $gotRows != $nRows")
      val (wantSum, wantZeros) = want.getOrElse(c, (256L << 53, 256))
      assert(gotSum == wantSum && gotZeros == wantZeros,
        s"$c: merged registers diverge from full-scan truth")
    }
  }

  test("partitioned: append/delete/compact all keep analyze == full scan") {
    val t = new CdcTable(spark, tmpDir("ndv_part") + "/t", keys = Seq("id"),
      partitionSource = Some("created"), ndvColumns = Seq("id", "actor"))
    t.init(rows(300))
    assertMatchesScan(t)
    t.append(rows(200, idOffset = 250)) // 50 ids overlap
    assertMatchesScan(t)
    t.delete(col("id") % 5 === 0) // copy-on-write rewrite re-derives sidecars
    assertMatchesScan(t)
    t.compact(target = 1)
    assertMatchesScan(t)
  }

  test("steady state is metadata-only: every live dir carries a sidecar") {
    val t = new CdcTable(spark, tmpDir("ndv_meta") + "/t", keys = Seq("id"),
      partitionSource = Some("created"), ndvColumns = Seq("id"))
    t.init(rows(120))
    t.append(rows(80, idOffset = 120))
    t.delete(col("id") === 7L)
    val missing = t.filesInfo.select("data_dir").distinct().as[String].collect()
      .filter(d => !new File(new File(t.path, d), TableStats.SidecarName).exists())
    assert(missing.isEmpty, s"dirs without NDV sidecar: ${missing.mkString(", ")}")
  }

  test("vectored delete: analyze recomputes the masked dirs, stays exact") {
    val t = new CdcTable(spark, tmpDir("ndv_dv") + "/t", keys = Seq("id"),
      ndvColumns = Seq("id", "actor"))
    t.init(rows(400))
    t.deleteVectored(col("id").between(100, 299))
    // the raw sidecar cannot see masked rows; analyze must
    assertMatchesScan(t)
    t.materializeDeletes()
    assertMatchesScan(t)
  }

  test("unpartitioned append writes its batch's sidecar at delta cost") {
    val t = new CdcTable(spark, tmpDir("ndv_app") + "/t", keys = Seq("id"),
      ndvColumns = Seq("id", "actor"))
    t.init(rows(100))
    t.append(rows(100, idOffset = 100))
    t.append(rows(100, idOffset = 150)) // half overlap
    val dirs = t.filesInfo.select("data_dir").distinct().as[String].collect()
    assert(dirs.length == 3, s"each batch lands in its own commit dir: ${dirs.toSeq}")
    dirs.foreach(d => assert(new File(new File(t.path, d), TableStats.SidecarName).exists(),
      s"every commit must write its dir's sidecar: $d"))
    assertMatchesScan(t)
  }

  test("batched scan disambiguates same-month dirs across commit dirs (append-only layout)") {
    // append() lands each batch's months under its OWN commit dir, so a
    // month's partition-dir NAME recurs across commits; when several such
    // dirs need scanning at once (here: every sidecar lost), the batched
    // job must tag by (commit dir, partition dir) — the r13-advice bug
    // tagged by partition dir alone and hard-failed on the collision.
    val t = new CdcTable(spark, tmpDir("ndv_dup") + "/t", keys = Seq("id"),
      partitionSource = Some("created"), ndvColumns = Seq("id", "actor"))
    t.init(rows(120))
    t.append(rows(90, idOffset = 120))  // same three months, new commit dir
    t.append(rows(60, idOffset = 210))  // and a third dir per month
    val dirs = t.filesInfo.select("data_dir").distinct().as[String].collect()
    val monthNames = dirs.map(_.split('/').last)
    assert(monthNames.distinct.length < monthNames.length,
      "test setup: months must span multiple commit dirs")
    val sidecars = dirs.map(d => new File(new File(t.path, d), TableStats.SidecarName))
    sidecars.foreach(f => assert(f.delete(), s"test setup: $f"))
    assertMatchesScan(t) // one batched job over colliding month names
    assert(sidecars.forall(_.exists()), "backfill must reach every dir")
    assertMatchesScan(t)
  }

  test("lost sidecar degrades to scan + backfill, never a wrong answer") {
    val t = new CdcTable(spark, tmpDir("ndv_back") + "/t", keys = Seq("id"),
      partitionSource = Some("created"), ndvColumns = Seq("actor"))
    t.init(rows(150))
    val sidecars = t.filesInfo.select("data_dir").distinct().as[String].collect()
      .map(d => new File(new File(t.path, d), TableStats.SidecarName))
    sidecars.foreach(f => assert(f.delete(), s"test setup: $f"))
    assertMatchesScan(t) // scans and backfills
    assert(sidecars.forall(_.exists()), "analyze must backfill immutable dirs")
    assertMatchesScan(t) // now metadata-only again
  }

  test("torn sidecar is ignored (recompute), absent column reads as zero NDV") {
    val t = new CdcTable(spark, tmpDir("ndv_torn") + "/t", keys = Seq("id"),
      ndvColumns = Seq("id"))
    t.init(rows(50))
    val side = new File(new File(t.path, t.filesInfo.select("data_dir").as[String].head()),
      TableStats.SidecarName)
    assert(side.exists(), s"test setup: $side")
    java.nio.file.Files.writeString(side.toPath, "ndv-v1\nid\tnot-base64!!")
    assertMatchesScan(t)
    // a column that no file carries: zero registers -> ndv reported, no crash
    val t2 = CdcTable.open(spark, t.path)
    assert(t2.ndvColumns == Seq("id"), "_table_meta must persist ndvColumns")
  }

  test("ANALYZE TABLE statement + columnStats read-back through GraftSession") {
    val root = tmpDir("ndv_sess")
    val g = new GraftSession(spark, root)
    val t = new CdcTable(spark, s"$root/ev", keys = Seq("id"),
      ndvColumns = Seq("id", "actor"))
    t.init(rows(200))
    val out = g.sql("ANALYZE TABLE ev").collect()
    assert(out.length == 2 && out.map(_.getAs[String]("column")).sorted
      .sameElements(Array("actor", "id")))
    // 37 distinct actors, 200 distinct ids: the small-range-corrected
    // estimate (linear counting from hll_zeros — the planner face) must
    // land near truth; the SQL `ndv` column stays the raw formula
    val est = out.map(r => r.getAs[String]("column") ->
      TableStats.estimateCorrected(r.getAs[Long]("hll_sum"), r.getAs[Int]("hll_zeros"))).toMap
    assert(math.abs(est("actor") - 37L) <= 6, s"actor ndv ${est("actor")}")
    assert(math.abs(est("id") - 200L) <= 30, s"id ndv ${est("id")}")
    val byCol = out.map(r => r.getAs[String]("column") -> r.getAs[Long]("ndv")).toMap
    val recorded = g.table("ev").columnStats.get
    assert(recorded.map(s => s.column -> s.ndv).toMap == byCol)
    assert(recorded.forall(_.nRows == 200L))
  }
}
