package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index over a vector table, maintained
  * INCREMENTALLY from the table's change data feed.
  *
  * The production IVF pattern splits the index into two parts with very
  * different lifecycles:
  *
  *   - the CODEBOOK (k centroids) trains once on a snapshot and is then
  *     FROZEN — retraining is an explicit, offline rebuild;
  *   - the INVERTED LISTS (vector -> nearest-centroid assignment) must
  *     track every ingest, and against a frozen codebook the assignment
  *     of a vector is a pure function of that one vector.
  *
  * That second property is exactly [[DerivedView]]'s row-local contract,
  * so the lists live in a [[CdcTable]] keyed by `vec_id` and refresh at
  * change-feed cost: assign(delta) merged under the same versioned commit
  * protocol as any other table — never a corpus re-scan. At 100 TB the
  * per-ingest cost is the batch's rows x k broadcast centroid rows,
  * map-side-combined to one output row per vector before the merge.
  *
  * Training reuses [[graft.IndexQueries]]'s deterministic k-means recipe
  * (salted-hash seeds, two unrolled Lloyd rounds, integer-quantized
  * centroids), so a maintained index is comparable ROW-FOR-ROW with a
  * from-scratch rebuild — the equality the spec asserts.
  *
  * Search probes `nprobe` lists: the k-row codebook ranks in-process, and
  * the list scan is a stats-prunable equality filter on `cid` — after
  * `compact(clusterBy = cid)` each probe opens only the files whose cid
  * range covers it (the [[FileSkipping]] layer), the on-disk analogue of
  * reading one inverted list.
  *
  * Reference behavior covered: the ANN surface of the similarity/index
  * query packs, made maintainable (the packs train per session on a
  * static snapshot; a pipeline ingesting vectors continuously needs the
  * index to track the table without rebuilds).
  */
final class IvfIndex(
    spark: SparkSession,
    /** Index root: the lists table plus the codebook sidecar. */
    val path: String,
    val k: Int = 16,
    val io: TableIO = LocalTableIO) {

  import spark.implicits._

  /** The inverted lists as a versioned table: (vec_id, cid, qe); every
    * commit records the source version it reflects
    * ([[CdcTable.reflecting]]).
    */
  val lists = new CdcTable(spark, new File(path, "lists").getPath, Seq("vec_id"), io = io)

  private def centroidsFile = new File(path, "_centroids").getPath

  /** The frozen codebook, cid-ascending: (cid, quantized centroid). */
  def centroids: Seq[(Long, Array[Long])] =
    io.readLines(centroidsFile).map { l =>
      val parts = l.split(',')
      (parts.head.toLong, parts.tail.map(_.toLong))
    }

  /** Source-table version the lists of `source` currently reflect. */
  def indexedVersion(source: CdcTable): Option[Long] = lists.reflected.flatMap(_.of(source.path))

  /** Whether [[build]] has run (the codebook sidecar exists). */
  def exists: Boolean = io.exists(centroidsFile)

  private def quantized(src: DataFrame): DataFrame = {
    // a vector column arriving through a MySQL-shaped CDC envelope is a
    // JSON string (the wire has no array type); parse it back before
    // quantizing so the same index serves both ingest paths
    val vec = src.schema("embedding").dataType match {
      case org.apache.spark.sql.types.StringType =>
        from_json(col("embedding"),
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
      case _ => col("embedding")
    }
    src.withColumn("embedding", vec).withColumn("qe",
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))"))
  }

  /** Train the codebook on the source snapshot and bootstrap the lists
    * as assign(snapshot), recording the source version it reflects — an
    * explicit rebuild: it retrains even when a codebook exists.
    */
  def build(source: CdcTable): Unit = {
    val v = source.currentVersion.getOrElse(
      throw new IllegalStateException(s"cannot index an empty table"))
    train(source.readVersion(v))
    lists.reflecting(Seq(source.path -> v))(lists.init(assign(source.readVersion(v))))
  }

  private def train(snapshot: DataFrame): Unit = {
    graft.functions.VectorFunctions.register(spark)
    quantized(snapshot).select("vec_id", "qe").createOrReplaceTempView("ivf_train_src")
    val cents = spark.sql(
      s"""WITH ${graft.IndexQueries.sparkKmeansFor("ivf_", "ivf_train_src", k)}
         |SELECT cid, ce FROM ivf_c2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    io.writeAtomic(centroidsFile,
      cents.map { case (cid, ce) => s"$cid,${ce.mkString(",")}" }.mkString("\n"))
  }

  /** Nearest-frozen-centroid assignment of `src` rows — the row-local
    * transform the lists derive by. Broadcast k-row codebook, integer
    * distance terms (||x-c||^2 argmin needs only c.c - 2 x.c), min_by
    * aggregation so the k candidate rows per vector combine MAP-SIDE;
    * the only shuffle is one row per vector into the final aggregate.
    */
  def assign(src: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val centDf = centroids.toDF("cid", "ce")
    quantized(src).select("vec_id", "qe")
      .crossJoin(broadcast(centDf))
      .withColumn("dist", expr("dot_i64(ce, ce) - 2 * dot_i64(qe, ce)"))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cid"), col("qe")), struct(col("dist"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"), col("best.qe").as("qe"))
  }

  /** Catch the lists up to the source's current version
    * ([[CdcTable.refreshView]]): one [[DerivedView]] refresh over the
    * change feed — assign(delta), with deletes/shrinks handled by the
    * view's keyed merge. Idempotent; a no-op when already current. Lists
    * with no usable record of `source` (never indexed, an index built
    * before the record existed, or a window expired from the source's
    * retained history) bootstrap: the first trains the codebook, every
    * later one re-assigns the snapshot under the EXISTING frozen codebook,
    * so the lists stay comparable with every previously served result
    * (the codebook never changes outside an explicit [[build]]).
    */
  def refresh(source: CdcTable): Unit =
    lists.refreshView(Seq(source.path -> source)) { case Seq((from, to)) =>
      DerivedView.refresh(lists, source, from, to, assign, new java.sql.Timestamp(0L))
    } { to =>
      if (!exists) train(source.readVersion(to.head))
      lists.init(assign(source.readVersion(to.head)))
    }

  /** Cluster the list files by cid so each probe's equality filter
    * prunes to the files actually holding that list — `target` files,
    * cid-sorted, so a probe opens ~target/k of them.
    */
  def compactLists(target: Int = 1): Unit =
    lists.compact(target = target, clusterBy = Seq("cid"))

  /** Top-`topK` by exact integer dot product among the `nprobe` nearest
    * lists to `query` (float vector, quantized with the index rule). The
    * codebook ranks driver-side (k rows); the scan is `cid IN probes`
    * over the lists table — stats/bloom-prunable — and the global top-k
    * plans as TakeOrdered, never a full sort.
    */
  def topK(query: Seq[Float], topK: Int = 5, nprobe: Int = 4): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val q = query.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray
    val probes = centroids
      .map { case (cid, ce) =>
        val dot = ce.zip(q).map { case (a, b) => a * b }.sum
        val cc = ce.map(x => x * x).sum
        (cc - 2 * dot, cid)
      }
      .sorted.take(nprobe).map(_._2)
    val qLit = array(q.map(lit(_)).toIndexedSeq: _*)
    lists.readWhere(Seq(FileSkipping.InSet("cid", probes)))
      .filter(col("cid").isin(probes: _*))
      .withColumn("qv", qLit)
      .withColumn("dot", expr("dot_i64(qe, qv)"))
      .select(col("vec_id"), col("cid"), col("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(topK)
  }
}
