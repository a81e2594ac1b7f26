package graft

import org.apache.spark.sql.functions._

import graft.ops.{CdcTable, JoinView}
import graft.plans.JoinRewrite

/** The automatic JOIN-view substitution rule (`plans/JoinRewrite.scala`):
  * a fact-joins-dimension query over registered tables is served from the
  * maintained denormalized view, with freshness / snapshot-identity /
  * join-shape guards falling back to the real join.
  */
class JoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def scansOnly(df: org.apache.spark.sql.DataFrame, pathPart: String): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Seq("<non-fs>")
        }
    }.flatten
    leaves.nonEmpty && leaves.forall(_.contains(pathPart))
  }

  /** Fact + dim CdcTables and the maintained view (bootstrap compute),
    * committed with the reflected record the pipeline would write.
    */
  private def fixture(name: String): (CdcTable, CdcTable, CdcTable, String) = {
    val root = tmpDir(name)
    val fact = new CdcTable(spark, s"$root/orders_t", Seq("o_id"), retainVersions = 10)
    fact.init(Seq(
      (1L, 10L, 100L), (2L, 10L, 50L), (3L, 20L, 75L), (4L, 30L, 25L))
      .toDF("o_id", "cust_fk", "amount"))
    val dim = new CdcTable(spark, s"$root/cust_t", Seq("c_id"), retainVersions = 10)
    dim.init(Seq((10L, "gold"), (20L, "silver"), (30L, "gold"))
      .toDF("c_id", "segment"))
    val on = Seq("cust_fk" -> "c_id")
    val view = new CdcTable(spark, s"$root/jv", Seq("o_id"), retainVersions = 10)
    reflectingBoth(view, fact, dim) {
      view.init(JoinView.compute(fact.read, dim.read, on)
        .withColumn(JoinView.TsCol, lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
    }
    JoinRewrite.register("orders_t", fact, "cust_t", dim, on, view)
    (fact, dim, view, root)
  }

  private def reflectingBoth(view: CdcTable, fact: CdcTable, dim: CdcTable)(body: => Unit): Unit =
    view.reflecting(Seq("orders_t" -> fact.currentVersion.get, "cust_t" -> dim.currentVersion.get))(body)

  test("fact-join-dim is served from the maintained view, dim key maps to the fk") {
    val (fact, dim, view, _) = fixture("jrw1")
    try {
      val f = fact.read; val d = dim.read
      val q = f.join(d, f("cust_fk") === d("c_id"))
        .select("o_id", "c_id", "segment", "amount")
      assert(scansOnly(q, "/jv"), q.queryExecution.optimizedPlan.treeString)
      val got = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, 10L, "gold", 100L), (2L, 10L, "gold", 50L),
        (3L, 20L, "silver", 75L), (4L, 30L, "gold", 25L)))
    } finally JoinRewrite.unregister(view)
  }

  test("aggregate over the join: the swap happens beneath the aggregate") {
    val (fact, dim, view, _) = fixture("jrw2")
    try {
      val f = fact.read; val d = dim.read
      val q = f.join(d, f("cust_fk") === d("c_id"))
        .groupBy("segment").agg(sum("amount").as("s"))
      assert(scansOnly(q, "/jv"), q.queryExecution.optimizedPlan.treeString)
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq ==
        Seq(("gold", 175L), ("silver", 75L)))
    } finally JoinRewrite.unregister(view)
  }

  test("filters pushed below the join re-apply on the view") {
    val (fact, dim, view, _) = fixture("jrw3")
    try {
      val f = fact.read.filter($"amount" > 30L)
      val d = dim.read.filter($"segment" === "gold")
      val q = f.join(d, f("cust_fk") === d("c_id"))
        .select("o_id", "segment", "amount")
      assert(scansOnly(q, "/jv"), q.queryExecution.optimizedPlan.treeString)
      assert(q.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq ==
        Seq((1L, "gold", 100L), (2L, "gold", 50L)))
    } finally JoinRewrite.unregister(view)
  }

  test("staleness: a merged side without a refreshed marker falls back to the real join") {
    // (the "marker" is the view's reflected record)
    val (fact, dim, view, _) = fixture("jrw4")
    try {
      fact.merge(Seq((5L, 20L, 500L, 1L, "c")).toDF("o_id", "cust_fk", "amount", "ts", "__op"), "ts")
      val f1 = fact.read; val d1 = dim.read
      val q = f1.join(d1, f1("cust_fk") === d1("c_id"))
        .select("o_id", "segment")
      assert(!scansOnly(q, "/jv"), "stale view must not serve the join")
      assert(q.collect().length == 5, "fallback must see the merged row")
      // refresh the view content under a new record (what the pipeline
      // does) -> re-arms
      reflectingBoth(view, fact, dim) {
        JoinView.refresh(view, fact, fact.currentVersion.get - 1, fact.currentVersion.get,
          dim, dim.currentVersion.get, dim.currentVersion.get,
          Seq("cust_fk" -> "c_id"), new java.sql.Timestamp(2L))
      }
      val f2 = fact.read; val d2 = dim.read
      val q2 = f2.join(d2, f2("cust_fk") === d2("c_id"))
        .select("o_id", "segment")
      assert(scansOnly(q2, "/jv"), q2.queryExecution.optimizedPlan.treeString)
      assert(q2.collect().length == 5)
    } finally JoinRewrite.unregister(view)
  }

  test("STAR: a fact joined to BOTH dimensions (either order) is served from the star view") {
    val root = tmpDir("jrw6")
    val fact = new CdcTable(spark, s"$root/orders_t", Seq("o_id"), retainVersions = 10)
    fact.init(Seq(
      (1L, 10L, 7L, 100L), (2L, 10L, 8L, 50L), (3L, 20L, 7L, 75L))
      .toDF("o_id", "cust_fk", "clerk_fk", "amount"))
    val cust = new CdcTable(spark, s"$root/cust_t", Seq("c_id"), retainVersions = 10)
    cust.init(Seq((10L, "gold"), (20L, "silver")).toDF("c_id", "segment"))
    val clerk = new CdcTable(spark, s"$root/clerk_t", Seq("k_id"), retainVersions = 10)
    clerk.init(Seq((7L, "emea"), (8L, "apac")).toDF("k_id", "region"))
    val view = new CdcTable(spark, s"$root/jv", Seq("o_id"), retainVersions = 10)
    view.reflecting(Seq("orders_t" -> fact.currentVersion.get,
        "cust_t" -> cust.currentVersion.get, "clerk_t" -> clerk.currentVersion.get)) {
      view.init(JoinView.computeStar(fact.read,
        Seq(cust.read -> Seq("cust_fk" -> "c_id"), clerk.read -> Seq("clerk_fk" -> "k_id")))
        .withColumn(JoinView.TsCol, lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
    }
    JoinRewrite.registerStar("orders_t", fact, Seq(
      JoinRewrite.DimReg("cust_t", cust, Seq("cust_fk" -> "c_id")),
      JoinRewrite.DimReg("clerk_t", clerk, Seq("clerk_fk" -> "k_id"))), view)
    try {
      val f = fact.read; val c = cust.read; val k = clerk.read
      val q = f.join(c, f("cust_fk") === c("c_id"))
        .join(k, f("clerk_fk") === k("k_id"))
        .select("o_id", "segment", "region", "amount")
      assert(scansOnly(q, "/jv"), q.queryExecution.optimizedPlan.treeString)
      assert(q.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).sortBy(_._1).toSeq ==
        Seq((1L, "gold", "emea", 100L), (2L, "gold", "apac", 50L), (3L, "silver", "emea", 75L)))
      // reversed dimension order
      val q2 = f.join(k, f("clerk_fk") === k("k_id"))
        .join(c, f("cust_fk") === c("c_id"))
        .groupBy("region").agg(sum("amount").as("s"))
      assert(scansOnly(q2, "/jv"), q2.queryExecution.optimizedPlan.treeString)
      assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq ==
        Seq(("apac", 50L), ("emea", 175L)))
      // joining only ONE dim of a 2-dim star must NOT use the view (the
      // star's inner join against the other dim could drop rows)
      val partial = f.join(c, f("cust_fk") === c("c_id"))
      assert(!scansOnly(partial, "/jv"))
    } finally JoinRewrite.unregister(view)
  }

  test("shape guards: wrong key, outer join, and time travel never rewrite") {
    val (fact, dim, view, _) = fixture("jrw5")
    try {
      // join on a non-registered column pair
      val f = fact.read; val d = dim.read
      val wrong = f.join(d, f("amount") === d("c_id"))
      assert(!scansOnly(wrong, "/jv"))
      // outer join has different semantics than the inner view
      val outer = f.join(d, f("cust_fk") === d("c_id"), "left_outer")
      assert(!scansOnly(outer, "/jv"))
      // a time-travel read of the fact side
      val v1 = fact.currentVersion.get
      fact.merge(Seq((6L, 10L, 7L, 1L, "c")).toDF("o_id", "cust_fk", "amount", "ts", "__op"), "ts")
      val fv1 = fact.readVersion(v1)
      val tt = fv1.join(d, fv1("cust_fk") === d("c_id"))
      assert(!scansOnly(tt, "/jv"))
      assert(tt.count() == 4L)
    } finally JoinRewrite.unregister(view)
  }
}
