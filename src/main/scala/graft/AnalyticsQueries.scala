package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General OLAP surface: scans with pushed filters, multi-way joins with
  * broadcastable dimensions, exact aggregation, windows, set ops, rollup.
  *
  * Cross-engine determinism conventions (shared with the DuckDB oracle):
  * money/quantity sums aggregate as DECIMAL (exact, order-independent) and
  * cast to DOUBLE only at the end; averages divide the exact decimal sum by
  * the count in double space; running/windowed sums stay decimal inside the
  * frame. Double group keys and comparisons are bit-identical across
  * engines, so filters/ranks on raw doubles are safe — only ORDER of double
  * summation is not.
  */
object AnalyticsQueries extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // decimal-exact money arithmetic, textually identical in Spark and DuckDB
  private val discPrice =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
  private val charge =
    s"$discPrice * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"

  // ------------------------------------------------------------------
  // Maintained HLL sketch view (ops.SketchView), memoized per (session,
  // sf) like the trained ANN indexes: a keyed events table bootstraps,
  // then an INSERT-ONLY window (pure register-merge path, no source
  // read) and an UPDATE+DELETE window (dirty-group pruned recompute
  // path) churn it with the view refreshing after each commit. The
  // oracle recomputes the registers of the replayed FINAL state — so a
  // stale merge, a wrong dirty set, or a leaked deleted row all
  // hash-mismatch.
  // ------------------------------------------------------------------
  private val sketchViews =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.ops.SketchView]

  private def maintainedSketch(s: SparkSession, dir: String): graft.ops.SketchView =
    sketchViews.synchronized {
      sketchViews.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      sketchViews.getOrElseUpdate((s, dir), {
        val root = java.nio.file.Files.createTempDirectory("graft_hllview").toString
        val ev = Tables(s, dir, "events")
        val source = new graft.ops.CdcTable(s, s"$root/events", Seq("event_id"),
          retainVersions = 5)
        source.init(ev.filter(col("event_id") % 10 < 8))
        val key = "concat(CAST(user_id AS STRING), '#', " +
          "CAST(unix_micros(ts) div 86400000000 AS STRING))"
        val view = new graft.ops.SketchView(s, source, s"$root/hll_view",
          Seq("event_type"), TextQueries.h64(key))
        view.refresh()
        source.merge(ev.filter(col("event_id") % 10 >= 8)
          .withColumn("__op", lit("c"))
          .withColumn("v_ts", lit(java.sql.Timestamp.valueOf("2001-01-02 00:00:00"))),
          "v_ts")
        view.refresh()
        source.merge(
          ev.filter(col("event_id") % 10 === 0)
            .withColumn("user_id", col("user_id") + 1000)
            .withColumn("__op", lit("u"))
            .unionByName(ev.filter(col("event_id") % 10 === 1)
              .withColumn("__op", lit("d")))
            .withColumn("v_ts", lit(java.sql.Timestamp.valueOf("2001-01-03 00:00:00"))),
          "v_ts")
        view.refresh()
        view
      })
    }

  // ------------------------------------------------------------------
  // Materialized-view auto-rewrite fixture (plans/MvRewrite): a CdcTable
  // of events with integer cents, its MaterializedView on event_type,
  // registered with the optimizer rule — memoized per (session, sf).
  // ------------------------------------------------------------------
  private val mvRewriteViews =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.ops.MaterializedView]

  private def rewriteView(s: SparkSession, dir: String): graft.ops.MaterializedView =
    mvRewriteViews.synchronized {
      mvRewriteViews.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      mvRewriteViews.getOrElseUpdate((s, dir), {
        val root = java.nio.file.Files.createTempDirectory("graft_mvrw").toString
        val ev = Tables(s, dir, "events")
          .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
          .select("event_id", "event_type", "cents")
        val t = new graft.ops.CdcTable(s, s"$root/events", Seq("event_id"),
          retainVersions = 5)
        t.init(ev)
        val mv = new graft.ops.MaterializedView(s, t, s"$root/view",
          Seq("event_type"), Seq("cents"), Seq("cents"))
        mv.refresh()
        graft.plans.MvRewrite.register(mv)
        mv
      })
    }

  // ------------------------------------------------------------------
  // Join-view auto-rewrite fixture (plans/JoinRewrite): orders as the
  // fact, customer as the dimension, the maintained denormalized view
  // bootstrapped and recorded exactly as the streaming pipeline would —
  // memoized per (session, sf).
  // ------------------------------------------------------------------
  private val joinRewriteViews =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (graft.ops.CdcTable, graft.ops.CdcTable)]

  private def joinRewriteFixture(s: SparkSession, dir: String): (graft.ops.CdcTable, graft.ops.CdcTable) =
    joinRewriteViews.synchronized {
      joinRewriteViews.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      joinRewriteViews.getOrElseUpdate((s, dir), {
        val root = java.nio.file.Files.createTempDirectory("graft_jvrw").toString
        val on = Seq("o_custkey" -> "c_custkey")
        val fact = new graft.ops.CdcTable(s, s"$root/orders", Seq("o_orderkey"), retainVersions = 5)
        fact.init(Tables(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"))
        val dim = new graft.ops.CdcTable(s, s"$root/customer", Seq("c_custkey"), retainVersions = 5)
        dim.init(Tables(s, dir, "customer").select("c_custkey", "c_mktsegment"))
        val view = new graft.ops.CdcTable(s, s"$root/jview", Seq("o_orderkey"), retainVersions = 5)
        view.reflecting(Seq("orders" -> fact.currentVersion.get, "customer" -> dim.currentVersion.get)) {
          view.init(graft.ops.JoinView.compute(fact.read, dim.read, on)
            .withColumn(graft.ops.JoinView.TsCol,
              lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
        }
        graft.plans.JoinRewrite.register("orders", fact, "customer", dim, on, view)
        (fact, dim)
      })
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // JOIN-view AUTO-REWRITE: the query is written as fact JOIN dim +
    // aggregate — and the injected rule (plans/JoinRewrite) swaps the
    // join subtree for the maintained denormalized view, so the
    // fact-dim join the user wrote never executes; the aggregate then
    // runs over the view's rows. The star-schema dashboard accelerator:
    // at 100 TB the enrichment join is paid once, incrementally, in the
    // view's CDC-driven refresh — not per query.
    "x_join_rewrite" -> ((s, dir) => {
      val (fact, dim) = joinRewriteFixture(s, dir)
      val f = fact.read; val d = dim.read
      f.join(d, f("o_custkey") === d("c_custkey"))
        .groupBy("c_mktsegment").agg(
          count(lit(1)).as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("total_spend"))
        .withColumnRenamed("c_mktsegment", "mktsegment")
    }),

    // Materialized-view AUTO-REWRITE: the query below is written against
    // the BASE table — count/sum/min/max of integer cents per event_type
    // over a full scan — and the injected optimizer rule
    // (plans/MvRewrite, via GraftExtensions) substitutes the registered
    // MaterializedView, so the executed plan reads the group-cardinality
    // view files instead of the corpus (PlanAuditSpec pins the leaf
    // swap; MvRewriteSpec pins every fallback guard). At 100 TB this is
    // the dashboard accelerator: the table scan the user WROTE never
    // runs; the maintained aggregate serves it.
    "x_mv_rewrite" -> ((s, dir) => {
      val mv = rewriteView(s, dir)
      mv.table.read.groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
    }),

    // Bucketed co-located join: both sides are written CLUSTERED BY the
    // join key into the same bucket count, so the SortMergeJoin reads
    // bucket i of orders against bucket i of customer directly — ZERO
    // shuffle exchanges anywhere in the plan (PlanAuditSpec pins it),
    // and the per-custkey aggregate after the join reuses the same
    // bucket distribution for free. THIS is the 100 TB join strategy
    // for fact-fact joins too big to broadcast: pay the shuffle once at
    // write time, then every subsequent join/aggregate on the bucket
    // key is exchange-free. The MERGE hint keeps the demonstration
    // honest at small SF (Catalyst would otherwise broadcast the
    // customer side and hide the co-location).
    "x_bucketed_join" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders")
      t(s, dir, "customer").createOrReplaceTempView("customer")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_${dir.replaceAll("[^a-z0-9.]", "_")}"
      def freshBucketed(table: String, ddl: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $table")
        val d = new java.io.File(s"$base/$table")
        def del(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(del)
          f.delete(): Unit
        }
        if (d.exists()) del(d)
        s.sql(ddl)
      }
      freshBucketed("bkt_orders",
        s"""CREATE TABLE bkt_orders USING PARQUET
           |CLUSTERED BY (o_custkey) INTO 8 BUCKETS
           |LOCATION '$base/bkt_orders'
           |AS SELECT o_orderkey, o_custkey, o_totalprice FROM orders""".stripMargin)
      freshBucketed("bkt_customer",
        s"""CREATE TABLE bkt_customer USING PARQUET
           |CLUSTERED BY (c_custkey) INTO 8 BUCKETS
           |LOCATION '$base/bkt_customer'
           |AS SELECT c_custkey, c_mktsegment FROM customer""".stripMargin)
      s.sql(
        """SELECT /*+ MERGE(c) */ o.o_custkey AS custkey, c.c_mktsegment AS mktsegment,
          |  count(*) AS n_orders,
          |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
          |FROM bkt_orders o JOIN bkt_customer c ON c.c_custkey = o.o_custkey
          |GROUP BY o.o_custkey, c.c_mktsegment""".stripMargin)
    }),

    // Live distinct-count view: the maintained registers after the two
    // churn windows, summarized exactly like x_hll_distinct.
    "x_hll_view_incremental" -> ((s, dir) =>
      maintainedSketch(s, dir).table.read
        .select(col("event_type"), col("hll_sum"), col("hll_zeros"))
        .withColumn("hll_estimate",
          expr(graft.functions.HllAggregator.estimateSql("hll_sum")))),

    // TPC-H Q1 shape: the canonical scan+group — filter pushed to parquet,
    // partial aggregation map-side, 6 aggregates per group.
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sum_qty"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_base_price"),
          // scale-4/6 money sums outgrow 2^53 unscaled at sf1 — DuckDB's
          // int128->double->/10^scale conversion double-rounds where
          // Java's BigDecimal cast rounds once (last-ulp divergence), and
          // any re-scale-then-cast trick ties differently (HALF_UP vs
          // half-even). The arithmetic therefore stays EXACT decimal —
          // but the BOARD projection renders it as the canonical
          // full-scale string: a top-level DECIMAL reaches the driver's
          // pandas hasher as Decimal from parquet yet float64 from
          // DuckDB (r15 red row). Both engines print decimals in plain
          // notation at full declared scale (DecimalRenderSpec pins it),
          // so exactness survives and the hasher sees identical strings.
          expr(s"CAST(CAST(SUM($discPrice) AS DECIMAL(38,4)) AS STRING)").as("sum_disc_price"),
          expr(s"CAST(CAST(SUM($charge) AS DECIMAL(38,6)) AS STRING)").as("sum_charge"),
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)").as("avg_qty"),
          expr("CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*)").as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3 shape: 3-way join, group, deterministic top-10 (revenue is
    // bit-identical in both engines, ties broken by key).
    "q3_shipping_priority" -> ((s, dir) => {
      val customer = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val lineitem = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-way join; nation/region are broadcast dims.
    "q5_local_supplier" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val lineitem = t(s, dir, "lineitem")
      val supplier = t(s, dir, "supplier")
      val nation = broadcast(t(s, dir, "nation"))
      val region = broadcast(t(s, dir, "region"))
      customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .join(lineitem, col("l_orderkey") === col("o_orderkey"))
        .join(supplier, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(expr(s"CAST(SUM($discPrice) AS DOUBLE)").as("revenue"))
    }),

    // Window functions: row_number / rank / lag / decimal-exact running sum.
    "w_window_functions" -> ((s, dir) => {
      val byDate = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrice = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(byDate).cast("long"))
        .withColumn("price_rank", rank().over(byPrice).cast("long"))
        .withColumn("prev_order", lag(col("o_orderkey"), 1).over(byDate))
        .withColumn("running_spend",
          sum(expr("CAST(o_totalprice AS DECIMAL(12,2))"))
            .over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select("o_custkey", "o_orderkey", "rn", "price_rank", "prev_order", "running_spend")
    }),

    // Set operations: INTERSECT / EXCEPT / UNION ALL with provenance tags.
    "set_operations" -> ((s, dir) => {
      val buyers = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey")).distinct()
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 4000)
        .select(col("c_custkey").as("custkey")).distinct()
      buyers.intersect(rich).withColumn("tag", lit("both"))
        .unionAll(buyers.except(rich).withColumn("tag", lit("buyer_only")))
        .unionAll(rich.except(buyers).withColumn("tag", lit("rich_only")))
    }),

    // Distinct aggregation (two-phase at scale: partial distinct then merge).
    "q_distinct_agg" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"))),

    // HAVING over a grouped count.
    "q_having_filter" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("spend"))
        .filter(col("n_orders") >= 12)),

    // Semi join (EXISTS): customers having at least one big order.
    "q_semi_join_exists" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
      val c = t(s, dir, "customer")
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),

    // ROLLUP: hierarchical totals with sentinel labels for the null levels.
    "q_rollup_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("qty"), col("n"))),

    // Top-k per group via window (the distributed argmax pattern).
    "q_top_k_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    }),

    // Conditional aggregation (CASE inside SUM/COUNT).
    "q_conditional_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          expr("CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)").as("qty_hi_disc"),
          expr("COUNT(CASE WHEN l_tax = 0 THEN 1 END)").as("n_notax"),
          expr("CAST(MIN(l_extendedprice) AS DOUBLE)").as("min_price"),
          expr("CAST(MAX(l_extendedprice) AS DOUBLE)").as("max_price"))),

    // Approximate sketches — HLL distinct counts and quantile sketches.
    // Sketch values can never hash-match a different engine's estimator,
    // so the oracle is tolerance-boolean: this query computes BOTH the
    // sketch and the exact value and emits `approx within tolerance of
    // exact` per group; the DuckDB oracle emits the same group keys, the
    // same exact counts (value-checked), and literal TRUEs. Deterministic:
    // Spark's HLL++ and percentile sketches are deterministic on fixed
    // data. The exact aggregates here exist only to anchor the check — at
    // 100 TB the sketch columns are the production path (mergeable,
    // single-pass, bounded memory) and the exact ones are what they
    // replace.
    "x_approx_sketches" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          expr("abs(CAST(approx_count_distinct(l_orderkey) AS DOUBLE) / COUNT(DISTINCT l_orderkey) - 1.0) <= 0.10").as("orders_ok"),
          expr("abs(CAST(approx_count_distinct(l_partkey, 0.01) AS DOUBLE) / COUNT(DISTINCT l_partkey) - 1.0) <= 0.05").as("parts_ok"),
          expr("abs(element_at(approx_percentile(l_extendedprice, array(0.5D, 0.95D), 1000), 1) / percentile(l_extendedprice, 0.5D) - 1.0) <= 0.05").as("p50_ok"),
          expr("abs(element_at(approx_percentile(l_extendedprice, array(0.5D, 0.95D), 1000), 2) / percentile(l_extendedprice, 0.95D) - 1.0) <= 0.05").as("p95_ok"))),

    // Cross-engine-EXACT HyperLogLog (functions.HllAggregator): distinct
    // user-days per event type as a mergeable 2 KB sketch. Where
    // x_approx_sketches can only tolerance-check Spark's private HLL++
    // layout, this sketch is built on the shared 60-bit md5 hash with
    // pure integer register math, so the DuckDB oracle recomputes the
    // IDENTICAL registers and the estimate hash-compares to the bit.
    // Scale: partials combine map-side (register max), shards/streams
    // merge without re-reading data; err_pm anchors the estimate against
    // the exact distinct it replaces at 100 TB.
    "x_hll_distinct" -> ((s, dir) => {
      import graft.functions.HllAggregator
      val hll = udaf(new HllAggregator(), org.apache.spark.sql.Encoders.scalaLong)
      val key = "concat(CAST(user_id AS STRING), '#', " +
        "CAST(unix_micros(ts) div 86400000000 AS STRING))"
      t(s, dir, "events")
        .withColumn("hv", expr(TextQueries.h64(key)))
        .groupBy(col("event_type"))
        .agg(countDistinct(expr(key)).as("exact_user_days"), hll(col("hv")).as("sk"))
        .select(col("event_type"), col("exact_user_days"),
          expr(HllAggregator.estimateSql("sk.hll_sum")).as("hll_estimate"),
          col("sk.hll_zeros").as("hll_zeros"))
        .withColumn("err_pm",
          expr("abs(hll_estimate - exact_user_days) * 1000 div exact_user_days"))
    }),

    // Sketch MERGE equals sketch of the UNION — the property that lets
    // shards/days/streams combine without re-reading data, proven
    // cross-engine: the engine merges two per-slice register sets
    // (zip_with max over a date split), the oracle computes registers
    // of the union in one pass, and the estimates hash-compare to the
    // bit. The anchor columns carry the exact union distinct and the
    // error it replaces.
    "x_hll_union" -> ((s, dir) => {
      import graft.ops.SketchView
      import graft.functions.HllAggregator
      val key = "concat(CAST(user_id AS STRING), '#', " +
        "CAST(unix_micros(ts) div 86400000000 AS STRING))"
      val h = TextQueries.h64(key)
      val ev = t(s, dir, "events")
      val split = "timestamp'2024-01-16 00:00:00'"
      val a = SketchView.regsOf(ev.filter(expr(s"ts < $split")), Seq("event_type"), h)
      val b = SketchView.regsOf(ev.filter(expr(s"ts >= $split")), Seq("event_type"), h)
      val zero = expr("transform(sequence(0, 255), x -> 0)")
      val merged = a.alias("a").join(b.alias("b"), Seq("event_type"), "full_outer")
        .select(col("event_type"),
          zip_with(coalesce(col(s"a.${SketchView.RegsCol}"), zero),
            coalesce(col(s"b.${SketchView.RegsCol}"), zero),
            (x, y) => greatest(x, y)).as(SketchView.RegsCol))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(expr(key)).as("exact_union"))
      exact.join(SketchView.summarized(merged), Seq("event_type"))
        .select(col("event_type"), col("exact_union"),
          expr(HllAggregator.estimateSql("hll_sum")).as("merged_estimate"),
          col("hll_zeros"))
        .withColumn("err_pm",
          expr("abs(merged_estimate - exact_union) * 1000 div exact_union"))
    }),

    // Set-OVERLAP estimation by inclusion–exclusion over the same
    // cross-engine-identical registers: |A∩B| ≈ est(A) + est(B) −
    // est(A∪B) — the dedup-planning question ("how much does the new
    // crawl overlap the corpus?") answered from three 2 KB sketches
    // instead of a distinct-key join. The union sketch is the pointwise
    // register max (never a re-scan), every estimate is the shared
    // FLOOR formula on exact BIGINT sums, and the exact intersection
    // rides along as the anchor — err_pm quantifies the sketch error
    // where the oracle proves the ESTIMATES to the bit.
    "x_hll_intersect" -> ((s, dir) => {
      import graft.ops.SketchView
      import graft.functions.HllAggregator
      // cohorts that PARTIALLY overlap at real cardinality: A = user-days
      // with a purchase, B = user-days with an error (thousands of keys —
      // above the small-n biased regime; a time split of user-scoped keys
      // would make A∩B empty or A=B=U, both degenerate)
      val key = "concat(CAST(user_id AS STRING), '#', " +
        "CAST(unix_micros(ts) div 86400000000 AS STRING))"
      val h = TextQueries.h64(key)
      val ev = t(s, dir, "events").withColumn("slice", lit("purchase_x_error"))
      val a = ev.filter(col("event_type") === "purchase")
      val b = ev.filter(col("event_type") === "error")
      def est(df: DataFrame, name: String) =
        SketchView.summarized(SketchView.regsOf(df, Seq("slice"), h))
          .select(col("slice"),
            expr(HllAggregator.estimateSql(SketchView.SumCol)).as(name))
      val eu = est(a.unionByName(b), "est_union")
      val ka = a.selectExpr("slice", s"$key AS k").distinct()
      val kb = b.selectExpr("slice", s"$key AS k").distinct()
      val exact = ka.join(kb, Seq("slice", "k"))
        .groupBy(col("slice")).agg(count(lit(1)).as("exact_intersect"))
      exact.join(est(a, "est_a"), Seq("slice")).join(est(b, "est_b"), Seq("slice"))
        .join(eu, Seq("slice"))
        .withColumn("est_intersect", expr("est_a + est_b - est_union"))
        .withColumn("err_pm", expr(
          "abs(est_intersect - exact_intersect) * 1000 div greatest(exact_intersect, 1)"))
    }),

    // Global sort + limit with a total order (O1/O2).
    "o2_sort_limit" -> ((s, dir) =>
      t(s, dir, "events")
        .orderBy(col("ts").desc, col("event_id"))
        .limit(100)
        .select("event_id", "ts", "user_id", "event_type")),

    // PIVOT via the RelationalGroupedDataset API with explicit pivot
    // values — explicit values keep the plan a single pass (no extra
    // distinct-scan to discover columns, which is what the values-less
    // overload costs at scale). One shuffle on the group key.
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot(expr("CAST(year(o_orderdate) AS BIGINT)"), Seq(1995L, 1996L, 1997L, 1998L))
        .agg(expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)"))),

    // UNPIVOT (wide -> long) via the Dataset API: per-row transpose of
    // measure columns into (metric, value) — no shuffle beyond the
    // feeding aggregate.
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sum_qty"),
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value"))
  )

  def oracle: Map[String, String] = Map(
    "x_join_rewrite" ->
      """SELECT c.c_mktsegment AS mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_mktsegment""".stripMargin,

    "x_mv_rewrite" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(MIN(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
        |  CAST(MAX(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents
        |FROM events GROUP BY event_type""".stripMargin,

    "x_bucketed_join" ->
      """SELECT o.o_custkey AS custkey, c.c_mktsegment AS mktsegment,
        |  count(*) AS n_orders,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY o.o_custkey, c.c_mktsegment""".stripMargin,

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(CAST(SUM($discPrice) AS DECIMAL(38,4)) AS VARCHAR) AS sum_disc_price,
         |  CAST(CAST(SUM($charge) AS DECIMAL(38,6)) AS VARCHAR) AS sum_charge,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         |  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_local_supplier" ->
      s"""SELECT n_name, CAST(SUM($discPrice) AS DOUBLE) AS revenue
         |FROM customer, orders, lineitem, supplier, nation, region
         |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,

    "w_window_functions" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders""".stripMargin,

    "set_operations" ->
      """WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000),
        |rich AS (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_acctbal > 4000)
        |SELECT custkey, 'both' AS tag FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM rich)
        |UNION ALL
        |SELECT custkey, 'buyer_only' AS tag FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM rich)
        |UNION ALL
        |SELECT custkey, 'rich_only' AS tag FROM (SELECT custkey FROM rich EXCEPT SELECT custkey FROM buyers)""".stripMargin,

    "q_distinct_agg" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_having_filter" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spend
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 12""".stripMargin,

    "q_semi_join_exists" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)""".stripMargin,

    "q_rollup_agg" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_top_k_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,

    "q_conditional_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN CAST(l_quantity AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_hi_disc,
        |  COUNT(CASE WHEN l_tax = 0 THEN 1 END) AS n_notax,
        |  CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
        |  CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "o2_sort_limit" ->
      """SELECT event_id, ts, user_id, event_type FROM events
        |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin,

    "x_approx_sketches" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS orders_ok, TRUE AS parts_ok, TRUE AS p50_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "x_hll_view_incremental" ->
      """WITH src AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 10 = 0 THEN user_id + 1000 ELSE user_id END AS user_id,
        |    ts
        |  FROM events WHERE event_id % 10 != 1),
        |h AS (
        |  SELECT event_type,
        |    user_id::VARCHAR || '#' || (epoch_us(ts) // 86400000000)::VARCHAR AS k
        |  FROM src),
        |hh AS (SELECT event_type, k, ('0x' || substr(md5(k),1,15))::BIGINT AS hv FROM h),
        |r AS (
        |  SELECT event_type, hv % 256 AS bucket,
        |    max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
        |  FROM hh GROUP BY 1, 2),
        |b AS (
        |  SELECT g.event_type, gs.bucket
        |  FROM (SELECT DISTINCT event_type FROM src) g,
        |       (SELECT unnest(generate_series(0, 255)) AS bucket) gs),
        |reg AS (
        |  SELECT b.event_type, coalesce(r.rho, 0) AS rho
        |  FROM b LEFT JOIN r ON b.event_type = r.event_type AND b.bucket = r.bucket),
        |s AS (
        |  SELECT event_type, CAST(SUM(1::BIGINT << (53 - rho)) AS BIGINT) AS hll_sum,
        |    CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS INT) AS hll_zeros
        |  FROM reg GROUP BY 1)
        |SELECT event_type, hll_sum, hll_zeros,
        |  CAST(FLOOR(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 9007199254740992 / CAST(hll_sum AS DOUBLE)) AS BIGINT) AS hll_estimate
        |FROM s""".stripMargin,

    "x_hll_union" ->
      """WITH h AS (
        |  SELECT event_type,
        |    user_id::VARCHAR || '#' || (epoch_us(ts) // 86400000000)::VARCHAR AS k
        |  FROM events),
        |hh AS (SELECT event_type, k, ('0x' || substr(md5(k),1,15))::BIGINT AS hv FROM h),
        |r AS (
        |  SELECT event_type, hv % 256 AS bucket,
        |    max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
        |  FROM hh GROUP BY 1, 2),
        |b AS (
        |  SELECT g.event_type, gs.bucket
        |  FROM (SELECT DISTINCT event_type FROM events) g,
        |       (SELECT unnest(generate_series(0, 255)) AS bucket) gs),
        |reg AS (
        |  SELECT b.event_type, coalesce(r.rho, 0) AS rho
        |  FROM b LEFT JOIN r ON b.event_type = r.event_type AND b.bucket = r.bucket),
        |s AS (
        |  SELECT event_type, CAST(SUM(1::BIGINT << (53 - rho)) AS BIGINT) AS hll_sum,
        |    CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS INT) AS hll_zeros
        |  FROM reg GROUP BY 1),
        |x AS (SELECT event_type, count(DISTINCT k) AS exact_union FROM h GROUP BY 1)
        |SELECT event_type, exact_union, merged_estimate, hll_zeros,
        |  abs(merged_estimate - exact_union) * 1000 // exact_union AS err_pm
        |FROM (
        |  SELECT x.event_type, x.exact_union, s.hll_zeros,
        |    CAST(FLOOR(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 9007199254740992 / CAST(s.hll_sum AS DOUBLE)) AS BIGINT) AS merged_estimate
        |  FROM x JOIN s ON x.event_type = s.event_type)""".stripMargin,

    "x_hll_intersect" ->
      """WITH h AS (
        |  SELECT event_type,
        |    user_id::VARCHAR || '#' || (epoch_us(ts) // 86400000000)::VARCHAR AS k
        |  FROM events WHERE event_type IN ('purchase', 'error')),
        |ka AS (SELECT DISTINCT k FROM h WHERE event_type = 'purchase'),
        |kb AS (SELECT DISTINCT k FROM h WHERE event_type = 'error'),
        |bt AS (SELECT unnest(generate_series(0, 255)) AS bucket),
        |ra AS (
        |  SELECT hv % 256 AS bucket,
        |    max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
        |  FROM (SELECT ('0x' || substr(md5(k),1,15))::BIGINT AS hv FROM ka)
        |  GROUP BY 1),
        |rb AS (
        |  SELECT hv % 256 AS bucket,
        |    max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
        |  FROM (SELECT ('0x' || substr(md5(k),1,15))::BIGINT AS hv FROM kb)
        |  GROUP BY 1),
        |ru AS (
        |  SELECT hv % 256 AS bucket,
        |    max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
        |  FROM (SELECT ('0x' || substr(md5(k),1,15))::BIGINT AS hv
        |        FROM (SELECT k FROM ka UNION SELECT k FROM kb))
        |  GROUP BY 1),
        |sa AS (
        |  SELECT CAST(SUM(1::BIGINT << (53 - coalesce(ra.rho, 0))) AS BIGINT) AS hs
        |  FROM bt LEFT JOIN ra ON ra.bucket = bt.bucket),
        |sb AS (
        |  SELECT CAST(SUM(1::BIGINT << (53 - coalesce(rb.rho, 0))) AS BIGINT) AS hs
        |  FROM bt LEFT JOIN rb ON rb.bucket = bt.bucket),
        |su AS (
        |  SELECT CAST(SUM(1::BIGINT << (53 - coalesce(ru.rho, 0))) AS BIGINT) AS hs
        |  FROM bt LEFT JOIN ru ON ru.bucket = bt.bucket),
        |x AS (
        |  SELECT CAST(count(*) AS BIGINT) AS exact_intersect
        |  FROM (SELECT k FROM ka INTERSECT SELECT k FROM kb)),
        |e AS (
        |  SELECT 'purchase_x_error' AS slice, x.exact_intersect,
        |    CAST(FLOOR(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 9007199254740992 / CAST(sa.hs AS DOUBLE)) AS BIGINT) AS est_a,
        |    CAST(FLOOR(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 9007199254740992 / CAST(sb.hs AS DOUBLE)) AS BIGINT) AS est_b,
        |    CAST(FLOOR(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 9007199254740992 / CAST(su.hs AS DOUBLE)) AS BIGINT) AS est_union
        |  FROM x CROSS JOIN sa CROSS JOIN sb CROSS JOIN su)
        |SELECT slice, exact_intersect, est_a, est_b, est_union,
        |  est_a + est_b - est_union AS est_intersect,
        |  abs(est_a + est_b - est_union - exact_intersect) * 1000
        |    // greatest(exact_intersect, 1) AS err_pm
        |FROM e""".stripMargin,

    "x_hll_distinct" ->
      """WITH h AS (
        |  SELECT event_type,
        |    user_id::VARCHAR || '#' || (epoch_us(ts) // 86400000000)::VARCHAR AS k
        |  FROM events),
        |hh AS (SELECT event_type, k, ('0x' || substr(md5(k),1,15))::BIGINT AS hv FROM h),
        |r AS (
        |  SELECT event_type, hv % 256 AS bucket,
        |    max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
        |  FROM hh GROUP BY 1, 2),
        |b AS (
        |  SELECT g.event_type, gs.bucket
        |  FROM (SELECT DISTINCT event_type FROM events) g,
        |       (SELECT unnest(generate_series(0, 255)) AS bucket) gs),
        |reg AS (
        |  SELECT b.event_type, coalesce(r.rho, 0) AS rho
        |  FROM b LEFT JOIN r ON b.event_type = r.event_type AND b.bucket = r.bucket),
        |s AS (
        |  SELECT event_type, CAST(SUM(1::BIGINT << (53 - rho)) AS BIGINT) AS hll_sum,
        |    CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS INT) AS hll_zeros
        |  FROM reg GROUP BY 1),
        |x AS (SELECT event_type, count(DISTINCT k) AS exact_user_days FROM h GROUP BY 1)
        |SELECT event_type, exact_user_days, hll_estimate, hll_zeros,
        |  abs(hll_estimate - exact_user_days) * 1000 // exact_user_days AS err_pm
        |FROM (
        |  SELECT x.event_type, x.exact_user_days, s.hll_zeros,
        |    CAST(FLOOR(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 9007199254740992 / CAST(s.hll_sum AS DOUBLE)) AS BIGINT) AS hll_estimate
        |  FROM x JOIN s ON x.event_type = s.event_type)""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 1995 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS "1995",
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS "1996",
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS "1997",
        |  CAST(SUM(CASE WHEN year(o_orderdate) = 1998 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS "1998"
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM wide""".stripMargin
  )
}
