package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{CdcTable, FileSkipping, IvfIndex}

/** Incrementally-maintained IVF index (r11): the codebook trains once;
  * the inverted lists are a DerivedView of the vector table and must
  * track its change feed exactly — maintained == rebuilt, always.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def listRows(df: DataFrame): Set[(Long, Long, Seq[Long])] =
    df.select("vec_id", "cid", "qe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet

  test("lists bootstrap as assign(snapshot) and track inserts, updates and deletes") {
    val src = new CdcTable(spark, tmpDir("ivfsrc") + "/t", Seq("vec_id"))
    src.init(Tables(spark, sf, "embeddings"))
    val idx = new IvfIndex(spark, tmpDir("ivfidx"), k = 8)
    idx.build(src)
    assert(listRows(idx.lists.read) == listRows(idx.assign(src.read)))
    assert(idx.lists.read.count() == src.read.count())
    // the codebook is frozen and k-sized
    assert(idx.centroids.size == 8)

    // CDC round: 3 inserts (fresh ids, embeddings borrowed from existing
    // rows so assignments are nontrivial), 1 update (vector moves in
    // space -> may change list), 2 deletes
    val donors = src.read.orderBy("vec_id").limit(4).collect()
    val emb = (i: Int) => donors(i).getSeq[Float](donors(i).fieldIndex("embedding"))
    val maxId = src.read.agg(max("vec_id")).as[Long].head()
    val ins = (1 to 3).map(i => (maxId + i, emb(i - 1), 0, 1L, "c"))
    val upd = Seq((donors(0).getLong(0), emb(3), 0, 1L, "u"))
    val del = Seq((donors(1).getLong(0), emb(1), 0, 1L, "d"),
      (donors(2).getLong(0), emb(2), 0, 1L, "d"))
    src.merge((ins ++ upd ++ del)
      .toDF("vec_id", "embedding", "label", "ts", "__op")
      .withColumn("embedding", col("embedding").cast("array<float>")), "ts")

    idx.refresh(src)
    // maintained == rebuilt from the current snapshot, row for row
    assert(listRows(idx.lists.read) == listRows(idx.assign(src.read)))
    assert(idx.indexedVersion(src) == src.currentVersion)
    // refresh is idempotent / no-op when current
    idx.refresh(src)
    assert(listRows(idx.lists.read) == listRows(idx.assign(src.read)))
  }

  test("lists stay equal to the rebuild across several successive churn windows") {
    val src = new CdcTable(spark, tmpDir("ivfsrc3") + "/t", Seq("vec_id"), retainVersions = 8)
    src.init(Tables(spark, sf, "embeddings"))
    val idx = new IvfIndex(spark, tmpDir("ivfidx3"), k = 8)
    idx.build(src)
    val donors = src.read.orderBy("vec_id").limit(6).collect()
    val emb = (i: Int) => donors(i).getSeq[Float](donors(i).fieldIndex("embedding"))
    val maxId = src.read.agg(max("vec_id")).as[Long].head()
    // window w: insert one, update one (rotating donor vectors), delete one
    (1 to 3).foreach { w =>
      src.merge(Seq(
        (maxId + w, emb(w - 1), 0, w.toLong, "c"),
        (donors(w - 1).getLong(0), emb(w + 2), 0, w.toLong, "u"),
        (donors(w + 2).getLong(0), emb(w + 2), 0, w.toLong, "d"))
        .toDF("vec_id", "embedding", "label", "ts", "__op")
        .withColumn("embedding", col("embedding").cast("array<float>")), "ts")
      idx.refresh(src)
      assert(listRows(idx.lists.read) == listRows(idx.assign(src.read)),
        s"maintained != rebuilt after window $w")
      assert(idx.indexedVersion(src) == src.currentVersion)
    }
  }

  test("probing every list returns the exact brute-force top-k; clustered lists prune files per probe") {
    val src = new CdcTable(spark, tmpDir("ivfsrc2") + "/t", Seq("vec_id"))
    src.init(Tables(spark, sf, "embeddings"))
    val idx = new IvfIndex(spark, tmpDir("ivfidx2"), k = 8)
    idx.build(src)

    val query = src.read.orderBy("vec_id").limit(1)
      .select("embedding").as[Seq[Float]].head()
    val got = idx.topK(query, topK = 5, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq

    // brute force over the same quantization and scoring
    val q = query.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
    graft.functions.VectorFunctions.register(spark)
    val brute = idx.assign(src.read)
      .withColumn("qv", array(q.map(lit(_)): _*))
      .withColumn("dot", expr("dot_i64(qe, qv)"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(5).select("vec_id").as[Long].collect().toSeq
    assert(got == brute, s"index $got vs brute $brute")

    // nprobe < k returns a subset of the probed lists only
    val narrow = idx.topK(query, topK = 5, nprobe = 2)
    val probedCids = narrow.select("cid").as[Long].collect().toSet
    assert(probedCids.size <= 2)

    // cid-clustered compaction: a single-list probe opens fewer files
    idx.compactLists(target = 4)
    assert(listRows(idx.lists.read) == listRows(idx.assign(src.read)))
    val someCid = idx.lists.read.select("cid").as[Long].head()
    val (kept, total) = idx.lists.scanProfile(Seq(FileSkipping.InSet("cid", Seq(someCid))))
    assert(total == 4 && kept < total, s"kept $kept of $total")
  }
}
