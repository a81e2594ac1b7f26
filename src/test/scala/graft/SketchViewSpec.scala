package graft

import graft.ops.{CdcTable, SketchView}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SketchView: bootstrap equals the one-shot sketch, insert-only windows
  * maintain by register merge, delete/update windows recompute exactly
  * the dirty groups, dead groups vanish, empty windows burn nothing, and
  * window replays are idempotent.
  */
class SketchViewSpec extends SparkSpec {
  import spark.implicits._

  private val hash = TextQueries.h64("concat(g, '|', v)")
  private def ts(n: Int) = java.sql.Timestamp.valueOf(f"2001-01-0$n%d 00:00:00")

  private def rows(df: DataFrame): Map[String, (Seq[Int], Long, Int)] =
    df.select(col("g"), col(SketchView.RegsCol), col(SketchView.SumCol),
        col(SketchView.ZerosCol))
      .as[(String, Seq[Int], Long, Int)].collect()
      .map { case (g, r, s, z) => g -> ((r, s, z)) }.toMap

  private def recompute(source: CdcTable): Map[String, (Seq[Int], Long, Int)] =
    rows(SketchView.summarized(SketchView.regsOf(source.read, Seq("g"), hash)))

  test("bootstrap == one-shot sketch == HllAggregator on the same rows") {
    val root = tmpDir("sketchboot")
    val source = new CdcTable(spark, s"$root/t", Seq("id"))
    source.init((1 to 500).map(i => (i.toLong, s"g${i % 3}", s"v${i % 120}"))
      .toDF("id", "g", "v"))
    val view = new SketchView(spark, source, s"$root/view", Seq("g"), hash)
    view.refresh()
    assert(rows(view.table.read) == recompute(source))

    // same registers as the typed Aggregator over the same hashes
    val agg = new graft.functions.HllAggregator
    val byHand = (1 to 500).map(i => (s"g${i % 3}", s"g${i % 3}|v${i % 120}")).distinct
      .groupBy(_._1).map { case (g, vs) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h64(s: String) = java.lang.Long.parseLong(
          md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15), 16)
        val sum = agg.finish(vs.foldLeft(agg.zero)((b, x) => agg.reduce(b, h64(x._2))))
        g -> ((sum.hll_sum, sum.hll_zeros))
      }
    assert(rows(view.table.read).map { case (g, (_, s, z)) => g -> ((s, z)) } == byHand)
  }

  test("insert-only window maintains by register merge; replay is idempotent") {
    val root = tmpDir("sketchins")
    val source = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 5)
    source.init((1 to 300).map(i => (i.toLong, s"g${i % 2}", s"v$i")).toDF("id", "g", "v"))
    val view = new SketchView(spark, source, s"$root/view", Seq("g"), hash)
    view.refresh()

    source.merge((301 to 400).map(i => (i.toLong, s"g${i % 2}", s"v$i", "c", 2L))
      .toDF("id", "g", "v", "__op", "mts"), "mts")
    view.refresh()
    assert(rows(view.table.read) == recompute(source))

    // replay the same window: rewind the record to the window's start
    // without touching the registers, then refresh again — no change
    val vBefore = view.table.currentVersion
    rewindRecord(view, source, source.currentVersion.get - 1)
    view.refresh()
    assert(rows(view.table.read) == recompute(source))

    // already-current refresh burns no version
    val v0 = view.table.currentVersion
    view.refresh()
    assert(view.table.currentVersion == v0)
    assert(vBefore.forall(v0.get > _), "replay committed a (harmless) version")
  }

  test("deletes and updates recompute the dirty groups; a dead group vanishes") {
    val root = tmpDir("sketchdel")
    val source = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 5)
    // g0/g1 big, gdead only two rows
    source.init(((1 to 200).map(i => (i.toLong, s"g${i % 2}", s"v$i")) ++
      Seq((900L, "gdead", "x"), (901L, "gdead", "y"))).toDF("id", "g", "v"))
    val view = new SketchView(spark, source, s"$root/view", Seq("g"), hash)
    view.refresh()

    // delete all of gdead, delete half of g0, move one g1 row's value
    val batch = (Seq((900L, "gdead", "x", "d", 2L), (901L, "gdead", "y", "d", 2L)) ++
      (1 to 100).filter(_ % 2 == 0).map(i => (i.toLong, "g0", s"v$i", "d", 2L)) :+
      ((3L, "g1", "moved", "u", 2L))).toDF("id", "g", "v", "__op", "mts")
    source.merge(batch, "mts")
    view.refresh()
    val got = rows(view.table.read)
    assert(got == recompute(source))
    assert(!got.contains("gdead"), "emptied group must vanish from the view")
    assert(got.keySet == Set("g0", "g1"))
  }

  test("empty window burns no view version") {
    val root = tmpDir("sketchempty")
    val source = new CdcTable(spark, s"$root/t", Seq("id"), retainVersions = 5)
    source.init(Seq((1L, "g0", "a")).toDF("id", "g", "v"))
    val view = new SketchView(spark, source, s"$root/view", Seq("g"), hash)
    view.refresh()
    val v0 = view.table.currentVersion
    // a source commit whose feed nets nothing for the sketch: append-free
    // compact (same rows, new version)
    source.compact()
    view.refresh()
    assert(rows(view.table.read) == recompute(source))
    assert(view.table.currentVersion == v0, "no-op window must not commit")
  }

  /** Commit the view's current registers again, recorded as reflecting
    * source version `v`.
    */
  private def rewindRecord(view: SketchView, source: CdcTable, v: Long): Unit =
    view.table.reflecting(Seq(source.path -> v))(view.table.init(view.table.read))
}
