package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.CdcPipeline
import graft.envelope.EnvelopeCodec
import graft.ops.{CdcTable, GramView, IvfIndex, JoinView, LocalTableIO, SketchView, TableIO}

/** The reflected record a maintained view's table keeps
  * ([[CdcTable.reflecting]] / [[CdcTable.reflected]]): it commits with
  * the view's rows, so a crash at any metadata step leaves rows and
  * record both before or both after the refresh, and rewrites that keep
  * the rows (compaction) keep the record.
  */
class ReflectedRecordSpec extends SparkSpec {
  import spark.implicits._
  import ReflectedRecordSpec.CrashingIO

  private def batch(rows: (Long, String, String, String)*): DataFrame =
    rows.toSeq.toDF("id", "g", "v", "__op").withColumn("mts", lit(2L))

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).forEach { (p: Path) =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }

  /** What a crash may leave behind: the view's rows and its record. */
  private def state(view: CdcTable, rows: DataFrame => Any) =
    (rows(view.read), view.reflected.map(_.sources))

  /** Run `open(path, io).refresh` over a fresh copy of the `template`
    * view once per N = 1, 2, ..., the view's TableIO dying at call N,
    * until a refresh completes. After each crash the view must hold its
    * before or its after state, and the next refresh — with whatever the
    * dead one left on storage — must land on `want`. Returns the number
    * of calls a whole refresh makes.
    */
  private def sweep(root: String, template: String, source: CdcTable,
                    open: (String, TableIO) => (CdcTable, () => Unit),
                    rows: DataFrame => Any, want: Any): Int = {
    var copies = 0
    def fresh(): String = {
      copies += 1
      val p = s"$root/copy$copies"
      copyTree(template, p)
      p
    }
    val before = state(open(template, LocalTableIO)._1, rows)
    val after = {
      val (t, refresh) = open(fresh(), LocalTableIO)
      refresh()
      state(t, rows)
    }
    assert(after == ((want, Some(Seq(source.path -> source.currentVersion.get)))))
    var n = 0
    var crashed = true
    while (crashed) {
      n += 1
      val path = fresh()
      crashed =
        try { open(path, new CrashingIO(n))._2(); false }
        catch { case e: Throwable if CrashingIO.isCrash(e) => true }
      val (t, refresh) = open(path, LocalTableIO)
      val got = state(t, rows)
      assert(got == before || got == after, s"crash at TableIO call $n left a mixed state: $got")
      if (crashed) {
        refresh()
        assert(state(t, rows) == after, s"refresh after a crash at TableIO call $n")
      }
    }
    n - 1
  }

  private val hash = TextQueries.h64("concat(g, '|', v)")

  private def sketchRows(df: DataFrame): Map[String, (Seq[Int], Long, Int)] =
    df.select(col("g"), col(SketchView.RegsCol), col(SketchView.SumCol), col(SketchView.ZerosCol))
      .as[(String, Seq[Int], Long, Int)].collect()
      .map { case (g, r, s, z) => g -> ((r, s, z)) }.toMap

  private def sketchSweep(name: String, advance: CdcTable => Unit): Int = {
    val root = tmpDir(name)
    val source = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 5)
    source.init((1 to 40).map(i => (i.toLong, s"g${i % 3}", s"v$i")).toDF("id", "g", "v"))
    def open(path: String, io: TableIO) = {
      val v = new SketchView(spark, source, path, Seq("g"), hash, io)
      (v.table, () => v.refresh())
    }
    open(s"$root/template", LocalTableIO)._2()
    advance(source)
    sweep(root, s"$root/template", source, open, sketchRows,
      sketchRows(SketchView.summarized(SketchView.regsOf(source.read, Seq("g"), hash))))
  }

  test("SketchView: a crash at any TableIO call of a refresh leaves the before or the after state") {
    val calls = sketchSweep("crashsketch", s => s.merge(batch(
      (41L, "g0", "new", "c"), (2L, "g2", "v2", "d"), (4L, "g1", "moved", "u")), "mts"))
    assert(calls > 10, s"the sweep must cover the commit, saw $calls calls")
  }

  test("SketchView: a crash at any TableIO call of an empty-window refresh leaves the before or the after state") {
    val calls = sketchSweep("crashsketchempty", _.compact())
    assert(calls > 3, s"the sweep must cover the fast-forward, saw $calls calls")
  }

  private def gramCells(df: DataFrame): Map[(Long, Long), Long] =
    df.collect().map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Long]("s")).toMap

  private def axis(k: Int, s: Float) = Array.tabulate(4)(i => if (i == k) s else 0.0f)

  private def gramSweep(name: String, advance: CdcTable => Unit): Int = {
    val root = tmpDir(name)
    val source = new CdcTable(spark, s"$root/vecs", Seq("vec_id"), retainVersions = 5)
    source.init(Seq(1L -> axis(0, 1.0f), 2L -> axis(1, 2.0f), 3L -> axis(2, 0.5f))
      .toDF("vec_id", "embedding"))
    def open(path: String, io: TableIO) = {
      val v = new GramView(spark, source, path, "embedding", io)
      (v.table, () => v.refresh())
    }
    open(s"$root/template", LocalTableIO)._2()
    advance(source)
    sweep(root, s"$root/template", source, open, gramCells,
      gramCells(GramView.gramOf(source.read, "embedding")))
  }

  test("GramView: a crash at any TableIO call of a refresh leaves the before or the after state") {
    val calls = gramSweep("crashgram", s => s.merge(
      Seq((4L, axis(3, 3.0f), "c"), (2L, axis(1, 4.0f), "u"), (3L, axis(2, 0.5f), "d"))
        .toDF("vec_id", "embedding", "__op").withColumn("mts", lit(2L)), "mts"))
    assert(calls > 10, s"the sweep must cover the commit, saw $calls calls")
  }

  test("GramView: a crash at any TableIO call of an empty-window refresh leaves the before or the after state") {
    val calls = gramSweep("crashgramempty", _.compact())
    assert(calls > 3, s"the sweep must cover the fast-forward, saw $calls calls")
  }

  private def listRows(df: DataFrame): Set[(Long, Long, Seq[Long])] =
    df.select("vec_id", "cid", "qe").as[(Long, Long, Seq[Long])].collect().toSet

  test("IvfIndex: a crash at any TableIO call of a refresh leaves the before or the after state") {
    val root = tmpDir("crashivf")
    val source = new CdcTable(spark, s"$root/vecs", Seq("vec_id"), retainVersions = 5)
    def vec(i: Int) = Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)
    source.init((1 to 24).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"))
    def open(path: String, io: TableIO) = {
      val idx = new IvfIndex(spark, path, k = 4, io = io)
      (idx.lists, () => idx.refresh(source))
    }
    open(s"$root/template", LocalTableIO)._2()
    val frozen = new IvfIndex(spark, s"$root/template", k = 4)
    val codebook = frozen.centroids.map { case (cid, ce) => (cid, ce.toSeq) }
    // a window that inserts, moves and deletes vectors
    source.merge(Seq((25L, vec(3), "c"), (2L, vec(9), "u"), (4L, vec(4), "d"))
      .toDF("vec_id", "embedding", "__op").withColumn("mts", lit(2L)), "mts")
    val calls = sweep(root, s"$root/template", source, open, listRows,
      listRows(frozen.assign(source.read)))
    assert(calls > 10, s"the sweep must cover the commit, saw $calls calls")
    (1 to calls + 2).foreach { n =>
      assert(new IvfIndex(spark, s"$root/copy$n", k = 4).centroids
        .map { case (cid, ce) => (cid, ce.toSeq) } == codebook,
        s"copy $n: a refresh must never retrain the codebook")
    }
  }

  test("compacting a GramView table between refreshes keeps the next refresh incremental") {
    val root = tmpDir("gramcompact")
    val io = new CrashingIO()
    val source = new CdcTable(spark, s"$root/vecs", Seq("vec_id"), retainVersions = 5, io = io)
    source.init(Seq(1L -> axis(0, 1.0f), 2L -> axis(1, 2.0f)).toDF("vec_id", "embedding"))
    val view = new GramView(spark, source, s"$root/gram", "embedding")
    view.refresh()
    val from = source.currentVersion.get
    source.merge(Seq((3L, axis(2, 3.0f), "c")).toDF("vec_id", "embedding", "__op")
      .withColumn("mts", lit(2L)), "mts")
    view.table.compact()
    view.table.maintain(maxFiles = 0)
    assert(view.reflectedVersion.contains(from), "compaction must keep the record")
    io.paths.clear()
    view.refresh()
    assert(io.paths.exists(_.endsWith(f"v$from%08d/${CdcTable.ManifestName}")),
      "the refresh must diff the window, not re-read the snapshot")
    assert(view.reflectedVersion == source.currentVersion)
    assert(gramCells(view.table.read) == gramCells(GramView.gramOf(source.read, "embedding")))
  }

  test("compacting a JoinView table between pipeline refreshes keeps the next refresh incremental") {
    val root = tmpDir("joincompact")
    val envDir = s"$root/env"; val tables = s"$root/tables"
    val spec = CdcPipeline.JoinViewSpec(factTable = "fact", factKeys = Seq("id"),
      dimTable = "dim", viewPath = s"$root/jview", on = Seq("fk" -> "k"))
    def factEnv(rows: (Long, Long, Long, String)*) = EnvelopeCodec.synthesizeTable(
      rows.map { case (id, fk, ts, op) => (id, fk, new java.sql.Timestamp(ts), op) }
        .toDF("id", "fk", "ts", "__op"), table = "fact", pk = "id", opCol = "__op", tsCol = "ts")
    def dimEnv(rows: (Long, String, Long, String)*) = EnvelopeCodec.synthesizeTable(
      rows.map { case (k, name, ts, op) => (k, name, new java.sql.Timestamp(ts), op) }
        .toDF("k", "name", "ts", "__op"), table = "dim", pk = "k", opCol = "__op", tsCol = "ts")
    def run(): Unit = new CdcPipeline(spark, new graft.sources.FileEnvelopeSource(envDir),
      s"$root/ckpt", tables, views = Seq(spec)).runOnce()
    val view = new CdcTable(spark, s"$root/jview", Seq("id"))
    def recompute = JoinView.compute(new CdcTable(spark, s"$tables/fact", Seq("id")).read,
      new CdcTable(spark, s"$tables/dim", Seq("k")).read.select("k", "name"), Seq("fk" -> "k"))
    def sorted(df: DataFrame) = df.select("id", "fk", "name").orderBy("id").collect().toSeq

    factEnv((1L, 10L, 1000L, "c"), (2L, 20L, 1000L, "c")).write.mode("append").parquet(envDir)
    dimEnv((10L, "a", 1000L, "c"), (20L, "b", 1000L, "c")).write.mode("append").parquet(envDir)
    run()
    val record = view.reflected.map(_.sources)
    assert(record.exists(_.map(_._1) == Seq("fact", "dim")))
    view.compact()
    assert(view.reflected.map(_.sources) == record, "compaction must keep the record")

    factEnv((3L, 10L, 2000L, "c")).write.mode("append").parquet(envDir)
    dimEnv((20L, "b2", 2000L, "u")).write.mode("append").parquet(envDir)
    run()
    assert(view.history.select("operation").as[String].head() == "MERGE",
      "the refresh must merge the window, not re-init the view")
    assert(sorted(view.read) == sorted(recompute))
  }
}

object ReflectedRecordSpec {

  /** Delegates to `inner` and records every path it is asked about; from
    * its `failAt`-th call on, every call throws [[CrashingIO.Crash]]
    * instead — the process died there, so nothing later reaches storage.
    * Never fails with the default `failAt`.
    */
  final class CrashingIO(failAt: Int = Int.MaxValue, inner: TableIO = LocalTableIO) extends TableIO {
    var calls = 0
    val paths = scala.collection.mutable.Buffer.empty[String]
    private def call[A](p: String)(a: => A): A = {
      calls += 1
      if (calls >= failAt) throw new CrashingIO.Crash(calls)
      paths += p
      a
    }
    def exists(p: String) = call(p)(inner.exists(p))
    def readString(p: String) = call(p)(inner.readString(p))
    def readLines(p: String) = call(p)(inner.readLines(p))
    def writeString(p: String, c: String) = call(p)(inner.writeString(p, c))
    def writeAtomic(p: String, c: String) = call(p)(inner.writeAtomic(p, c))
    def mkdirs(p: String) = call(p)(inner.mkdirs(p))
    def createDirExclusive(p: String) = call(p)(inner.createDirExclusive(p))
    def list(p: String) = call(p)(inner.list(p))
    def lastModified(p: String) = call(p)(inner.lastModified(p))
    def linkOrCopy(s: String, d: String) = call(d)(inner.linkOrCopy(s, d))
    def copy(s: String, d: String) = call(d)(inner.copy(s, d))
    def deleteRecursively(p: String) = call(p)(inner.deleteRecursively(p))
  }

  object CrashingIO {
    final class Crash(n: Int) extends RuntimeException(s"crashed at TableIO call $n")

    /** Whether `e` is a [[Crash]], possibly wrapped by the caller. */
    def isCrash(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[Crash])
  }
}
