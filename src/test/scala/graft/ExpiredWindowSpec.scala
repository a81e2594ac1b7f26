package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.cdc.CdcPipeline
import graft.ops.{CdcTable, DerivedView, GramView, IncrementalView, IvfIndex, JoinView,
  MaterializedView, SketchView}

/** Every maintained-view kind over a refresh window that expired from its
  * source's retained history ([[CdcTable.refreshView]]): the refresh
  * bootstraps to the recompute, records the source head, and the next
  * refresh is a no-op that burns no view version.
  */
class ExpiredWindowSpec extends SparkSpec {
  import spark.implicits._
  import ExpiredWindowSpec.UnderTest

  private def emb(i: Int): Array[Float] = Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)

  private def srcRows(ids: Seq[Int], shift: Int, op: String, ts: Long = 100L): DataFrame =
    ids.map(i => (i.toLong, s"g${(i + shift) % 3}", (i * 10 + shift).toLong, (i % 4).toLong,
      emb(i + shift), ts, op))
      .toDF("vec_id", "g", "v", "fk", "embedding", "__ts_ms", "__op")

  private val hash = TextQueries.h64("CAST(v AS STRING)")

  private val derive: DataFrame => DataFrame =
    _.select(col("vec_id"), upper(col("g")).as("gu"), (col("v") * 2).as("v2"))

  private def pipelined(root: String, spec: CdcPipeline.Maintained): () => Unit = {
    val pipeline = new CdcPipeline(spark, s"$root/env", s"$root/ckpt", s"$root/tables",
      views = Seq(spec))
    () => pipeline.erase("src", lit(false)) // deletes nothing, refreshes the views
  }

  private val kinds: Seq[(String, (String, CdcTable) => UnderTest)] = Seq(
    "MaterializedView" -> { (root, src) =>
      val mv = new MaterializedView(spark, src, s"$root/view", Seq("g"), Seq("v"))
      UnderTest(mv.viewTable, () => mv.refresh(),
        () => IncrementalView.compute(src.read, Seq("g"), Seq("v")),
        () => Seq(src.path -> src.currentVersion.get))
    },
    "pipeline JoinView" -> { (root, src) =>
      val dim = new CdcTable(spark, s"$root/tables/dim", Seq("k"))
      UnderTest(new CdcTable(spark, s"$root/view", Seq("vec_id")),
        pipelined(root, CdcPipeline.JoinViewSpec(factTable = "src", factKeys = Seq("vec_id"),
          dimTable = "dim", viewPath = s"$root/view", on = Seq("fk" -> "k"))),
        () => JoinView.compute(src.read, dim.read.select("k", "name"), Seq("fk" -> "k")),
        () => Seq("src" -> src.currentVersion.get, "dim" -> dim.currentVersion.get))
    },
    "pipeline DerivedView" -> { (root, src) =>
      UnderTest(new CdcTable(spark, s"$root/view", Seq("vec_id")),
        pipelined(root, CdcPipeline.DerivedViewSpec("src", Seq("vec_id"), s"$root/view",
          Seq("vec_id"), derive)),
        () => DerivedView.compute(src.read, derive),
        () => Seq("src" -> src.currentVersion.get))
    },
    "SketchView" -> { (root, src) =>
      val sv = new SketchView(spark, src, s"$root/view", Seq("g"), hash)
      UnderTest(sv.table, () => sv.refresh(),
        () => SketchView.summarized(SketchView.regsOf(src.read, Seq("g"), hash)),
        () => Seq(src.path -> src.currentVersion.get))
    },
    "GramView" -> { (root, src) =>
      val gv = new GramView(spark, src, s"$root/view", "embedding")
      UnderTest(gv.table, () => gv.refresh(),
        () => GramView.gramOf(src.read, "embedding"),
        () => Seq(src.path -> src.currentVersion.get))
    },
    "IvfIndex" -> { (root, src) =>
      val idx = new IvfIndex(spark, s"$root/view", k = 4)
      UnderTest(idx.lists, () => idx.refresh(src),
        () => idx.assign(src.read),
        () => Seq(src.path -> src.currentVersion.get))
    })

  /** `got` over the recompute's columns, order-free. */
  private def rows(got: DataFrame, want: DataFrame): (Seq[String], Seq[String]) = {
    def of(df: DataFrame) = df.select(want.columns.toSeq.map(col): _*).collect()
      .map((r: Row) => r.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case x => String.valueOf(x)
      }.mkString("|")).toSeq.sorted
    (of(got), of(want))
  }

  for ((name, open) <- kinds) {
    test(s"$name: a refresh over an expired window bootstraps to the recompute") {
      val root = tmpDir("expired")
      val src = new CdcTable(spark, s"$root/tables/src", Seq("vec_id"), retainVersions = 2)
      src.init(srcRows(1 to 16, 0, "c").drop("__op"))
      new CdcTable(spark, s"$root/tables/dim", Seq("k"))
        .init((0L to 3L).map(k => (k, s"n$k", 100L)).toDF("k", "name", "__ts_ms"))
      val view = open(root, src)
      view.refresh()
      val base = src.currentVersion.get
      assert(view.table.reflected.map(_.sources) == Some(view.record()))

      // the view lags while its source advances past its retention window
      src.merge(srcRows(Seq(17, 18), 0, "c", 101L).unionByName(srcRows(Seq(2, 5), 1, "u", 101L))
        .unionByName(srcRows(Seq(3), 0, "d", 101L)), "__ts_ms")
      src.merge(srcRows(Seq(19), 2, "c", 102L).unionByName(srcRows(Seq(7), 2, "u", 102L))
        .unionByName(srcRows(Seq(11), 0, "d", 102L)), "__ts_ms")
      assert(!src.versions.contains(base), "fixture must expire the reflected base")

      view.refresh()
      val (got, want) = rows(view.table.read, view.recompute())
      assert(got == want, "the view must equal the recompute")
      assert(view.table.reflected.map(_.sources) == Some(view.record()),
        "the record must name the source head")
      val head = view.table.currentVersion
      view.refresh()
      assert(view.table.currentVersion == head, "a current view must burn no version")
    }
  }
}

object ExpiredWindowSpec {

  /** One view under test: its table, a refresh, the recompute it must
    * equal, and the record it must keep.
    */
  final case class UnderTest(table: CdcTable, refresh: () => Unit,
                              recompute: () => DataFrame,
                              record: () => Seq[(String, Long)])
}
