package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver testdata: clone every scaling
  * table `factor` times with key offsets, preserving the schema, value
  * distributions, and referential integrity of the source scale factor —
  * the local stand-in for "what does this plan do at 10x the data",
  * used to measure the scaling SLOPE of the headline queries
  * (BASELINE.md). The driver testdata is read-only, so output goes
  * under the repo (gitignored).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.ScaleData /root/repo/testdata/sf1 10"
  *
  * Content rules (chosen so per-operator work scales the way a real 10x
  * corpus would, instead of degenerating):
  *  - keys and foreign keys offset by clone x (max+1) — joins stay
  *    exactly as selective as the source;
  *  - dimension-fixed tables (region, nation) copy unchanged, like
  *    TPC-H;
  *  - document text is word-salted per clone BY WORD VALUE
  *    (h(word) % 3 == 0 -> word_i): two docs that shared a shingle
  *    still share it within a clone (true near-dup structure scales
  *    linearly), while cross-clone shingle sets are ~70% disjoint
  *    (Jaccard ~0.17, far under the 0.8 dedup threshold) so clones do
  *    not register as near-dups of each other;
  *  - embeddings are circularly dimension-shifted per clone — an
  *    isometry (within-clone dot products and norms are EXACTLY the
  *    source's, so true neighbor structure replicates) while
  *    cross-clone vectors decorrelate;
  *  - event/order timestamps keep the source time range (10x density
  *    in the same window — how a bigger day of traffic actually looks).
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    // --zipf: skew the scaled data the way production traffic skews —
    // 30% of lineitem rows concentrate on 5 hot order keys, and event
    // user_ids draw log-uniform (Zipf-1 tail) over the user span — the
    // fixture for measuring whether the salted/AQE plans hold where the
    // uniform clones cannot show it. Perf fixture only: the oracle board
    // runs on the uniform dirs.
    val zipf = args.contains("--zipf")
    val pos = args.filterNot(_.startsWith("--"))
    val outDir = pos.headOption.getOrElse("/root/repo/testdata/sf1")
    val factor = pos.lift(1).map(_.toInt).getOrElse(10)
    val srcDir = SparkEntry.envSfDir
    val spark = SparkEntry.session(SparkEntry.envCpus)
    // events.parquet carries TIMESTAMP(NANOS): read it as raw longs and
    // write it back as raw longs, so the scaled dir round-trips through
    // graft.Tables exactly like the source dir does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def read(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def keySpan(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1L
    def clones(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).toDF("__clone"))
    def off(c: String, span: Long) = (col(c) + col("__clone") * span).as(c)
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.drop("__clone").repartition(parts)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")

    val (customer, supplier, part, orders, lineitem, events, baseDocuments, embeddings) =
      (read("customer"), read("supplier"), read("part"), read("orders"),
        read("lineitem"), read("events"), read("documents"), read("embeddings"))
    // append the multi-script fixture corpus (UnicodeQueries.fixtureDocs)
    // BEFORE cloning, so every scaled dir carries Cyrillic/Greek/CJK/
    // Hangul/Arabic/Devanagari text through the word-salting machinery —
    // the dedup/BPE/perplexity family exercises non-Latin scripts at
    // every slope point, not just via the inline board fixtures
    val documents = {
      val d0 = keySpan(baseDocuments, "doc_id")
      val fix = spark.createDataFrame(
        UnicodeQueries.fixtureDocs.zipWithIndex.map { case ((_, lang, text), i) =>
          (d0 + i, text, lang, "fixture", text.length.toLong)
        })
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      baseDocuments.unionByName(fix)
    }
    val (cSpan, sSpan, pSpan, oSpan) = (keySpan(customer, "c_custkey"),
      keySpan(supplier, "s_suppkey"), keySpan(part, "p_partkey"),
      keySpan(orders, "o_orderkey"))

    // fixed dimensions copy unchanged
    Seq("region", "nation").foreach(n => write(read(n).withColumn("__clone", lit(0)), n, 1))

    write(clones(customer).select(off("c_custkey", cSpan), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"), col("__clone")), "customer", 4)
    write(clones(supplier).select(off("s_suppkey", sSpan), col("s_name"),
      col("s_nationkey"), col("s_acctbal"), col("__clone")), "supplier", 1)
    write(clones(part).select(off("p_partkey", pSpan), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice"), col("__clone")), "part", 2)
    write(clones(orders).select(off("o_orderkey", oSpan), off("o_custkey", cSpan),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"), col("__clone")), "orders", 8)
    // zipf mode: 30% of lineitem rows land on 5 hot order keys (the
    // skewed-join fixture); the other 70% clone normally. The hot keys
    // 0..4 all HIT build-side rows: the driver's orders table keys start
    // at 0 (verified: SELECT min(o_orderkey) = 0 and each of 0..4 is
    // present at every SF), and clone 0 preserves the original keys —
    // so skewed probes stress the shuffle AND the match side.
    val liOrderKey =
      if (zipf) expr(
        s"""IF(pmod(hash(l_orderkey, l_linenumber, __clone), 10) < 3,
           |   CAST(pmod(hash(l_orderkey, l_linenumber, __clone, 7), 5) AS BIGINT),
           |   l_orderkey + __clone * ${oSpan}L)""".stripMargin).as("l_orderkey")
      else off("l_orderkey", oSpan)
    write(clones(lineitem).select(liOrderKey, off("l_partkey", pSpan),
      off("l_suppkey", sSpan), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate"), col("__clone")), "lineitem", 16)

    val eSpan = keySpan(events, "event_id")
    val uSpan = keySpan(events, "user_id")
    // zipf mode: user ids draw log-uniform over the scaled span — the
    // frequency of user u falls off ~1/u, the sessionization/salted-agg
    // hot-key shape
    val evUser =
      if (zipf) expr(
        s"""CAST(least(CAST(${uSpan * factor}L AS DOUBLE) - 1,
           |  pow(CAST(${uSpan * factor}L AS DOUBLE),
           |      pmod(hash(event_id, __clone), 1000000) / 1000000.0)) AS BIGINT)""".stripMargin)
        .as("user_id")
      else off("user_id", uSpan)
    write(clones(events).select(off("event_id", eSpan), col("ts"),
      evUser, col("event_type"), col("value"), col("props"),
      col("__clone")), "events", 8)

    val dSpan = keySpan(documents, "doc_id")
    val salted = expr(
      """concat_ws(' ', transform(split(text, '\\s+'),
        |  w -> IF(__clone > 0 AND pmod(hash(w), 3) = 0,
        |          concat(w, '_', __clone), w)))""".stripMargin)
    write(clones(documents).select(off("doc_id", dSpan), salted.as("text"),
      col("lang"), col("source"), col("__clone"))
      .withColumn("n_chars", length(col("text"))), "documents", 4)

    val vSpan = keySpan(embeddings, "vec_id")
    val shifted = expr(
      """CASE WHEN __clone = 0 THEN embedding
        |ELSE concat(slice(embedding, CAST(__clone + 1 AS INT), size(embedding) - CAST(__clone AS INT)),
        |            slice(embedding, 1, CAST(__clone AS INT))) END""".stripMargin)
    write(clones(embeddings).select(off("vec_id", vSpan), shifted.as("embedding"),
      col("label"), col("__clone")), "embeddings", 2)

    println(s"scaled $srcDir x$factor -> $outDir")
    spark.stop()
  }
}
