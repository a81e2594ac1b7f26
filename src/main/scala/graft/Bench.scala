package graft

/** Timing JSON for the query board: best-of-3 wall per query at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1). Positional query names restrict
  * the run — fixture pre-build and timing — to those queries:
  *
  *   sbt "runMain graft.Bench x_pagerank q14_promo_share"
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val all = SparkEntry.queries
    val unknown = args.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val selected = all.toSeq
      .filter { case (n, _) => args.isEmpty || args.contains(n) }
      .sortBy(_._1)
    val sfDir = SparkEntry.envSfDir
    val cpus = SparkEntry.envCpus
    val spark = SparkEntry.session(cpus)
    // untimed warm-up: classloading, codegen compiler, parquet footers,
    // first shuffle and window machinery — otherwise whichever query runs
    // first absorbs several seconds of one-time JVM cost
    spark.sql("SELECT count(*) FROM range(1000000)").collect()
    spark.sql(
      """SELECT x % 10 AS k, count(*), sum(x),
        |  row_number() OVER (PARTITION BY x % 10 ORDER BY x) AS rn
        |FROM (SELECT id AS x FROM range(100000)) GROUP BY x % 10, x""".stripMargin).count()
    try all.get("a1_minmax_bounds").foreach(_(spark, sfDir).count())
    catch { case _: Throwable => () }
    // the HLL register aggregator and the hive dynamic-partition writer
    // each cost seconds of one-time codegen/classloading on first use
    // (measured: the ndv fixture's first NDV sidecar job ran 3.3 s vs
    // 1.1 s steady, its first partitioned write 2.6 s vs 1.4 s) — warm
    // both on 100 synthetic rows so the fixture phase measures the
    // builders, not the JVM
    try {
      val wdf = spark.range(100).selectExpr("id", "CAST(id % 3 AS STRING) AS p")
      graft.ops.TableStats.collectRegs(
        graft.ops.TableStats.regsByGroup(wdf, Seq("p"), Seq("id")), Seq("p")): Unit
      val tmp = java.nio.file.Files.createTempDirectory("graft_warm").toString
      wdf.write.mode("overwrite").partitionBy("p").parquet(s"$tmp/w")
    } catch { case _: Throwable => () }
    // fixture-backed rows (versioned CdcTable fixtures, maintained views,
    // incremental indexes) are built ONCE per (session, sfDir) by their
    // memoized builders — pre-build them here, untimed-per-query but
    // reported as one fixture_build line item, so the best-of-3 below
    // measures QUERY latency against pre-built state instead of diluting
    // the signal with fixture construction (r14 verdict: k_analyze_ndv's
    // 2.3 s was table build + NDV sidecars, not the ANALYZE read)
    val fixtureBacked = Seq("k_", "x_join_view", "x_derived_view",
      "x_gram_view", "x_pca_view", "x_hll_view", "x_ann_index_incremental",
      "x_mv_rewrite", "x_join_rewrite", "s1_envelope_wide_types")
    // The builds are independent (separate temp roots; every shared base
    // and registry is synchronized-memoized) and each spends much of its
    // wall in driver-side commit work — overlapping a few of them
    // back-fills the executors exactly as guide §2.6 prescribes for
    // independent jobs, cutting the phase wall without touching what any
    // query computes. Per-name entries keep each build's own wall clock
    // (they overlap; their sum exceeds the phase), and fixture_build_sec
    // reports the PHASE wall — the number that actually gates a bench or
    // Verify run.
    val fixtureWall0 = System.nanoTime()
    // pool sized from the contract's core-count env (never a local[32]
    // constant): cpus/5 rounded, floor 2, cap 6. The builds spend most
    // of their wall in driver-side commit work (sidecars, manifests,
    // small collects) with the executors near-idle — measured at r17:
    // pool 4 left the phase wall schedule-bound at ~31 s while the
    // longest single build was 20 s; pool 6 starts all five multi-second
    // builds together and the wall converges to the longest build.
    val fixturePool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(6, math.max(2, cpus / 5)))
    // longest-expected-first submission (static cost hints from measured
    // builds): alphabetical order started the three ~20s join-view
    // builds LAST, tailing together on a near-empty pool — classic LPT
    // makespan. Hints only order the queue; timing/reporting unchanged.
    val costHint = Map(
      "x_join_view_star" -> 20, "x_join_view_incremental" -> 18,
      "x_join_view_outer" -> 18, "k_analyze_ndv" -> 15,
      "s1_envelope_wide_types" -> 12, "x_hll_view_incremental" -> 8,
      "x_ann_index_incremental" -> 6, "x_derived_view_incremental" -> 3,
      "x_gram_view_incremental" -> 3, "x_pca_view_incremental" -> 3,
      "k_dv_delete" -> 3, "k_ttl_drop" -> 2,
      "k_bloom_pruned_scan" -> 2, "k_hour_pruned_scan" -> 2)
    val fixtureTimes = selected
      .filter { case (n, _) => fixtureBacked.exists(n.startsWith) }
      .sortBy { case (n, _) => (-costHint.getOrElse(n, 1), n) }
      .map { case (name, fn) =>
        name -> fixturePool.submit(new java.util.concurrent.Callable[Double] {
          def call(): Double = {
            val t0 = System.nanoTime()
            try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
            (System.nanoTime() - t0) / 1e9
          }
        })
      }
      .map { case (name, fut) => name -> fut.get() }
      .sortBy(_._1) // fixed name order in the report, as before
    fixturePool.shutdown()
    val fixtureWallSec = (System.nanoTime() - fixtureWall0) / 1e9
    // fixed name order: per-query timings comparable across rounds.
    // best-of-3 per query: the host environment shows multi-second burst
    // pauses (external VM contention); min-of-n is the standard way to
    // report engine time rather than neighbor noise.
    // Inter-query cleanup, OUTSIDE every timed region: a 254-query
    // session accumulates localCheckpoint blocks (the ContextCleaner
    // frees a checkpoint's storage only when its RDD object is GC'd;
    // per-invocation checkpoints from early queries pile up for minutes)
    // and late queries pay the storage pressure of everything before
    // them — measured at sf1/32c: x_pagerank timed 6.6-7.2 s inside the
    // full bench vs 2.0 s in an isolated session, same code, same data.
    // A time-based periodic GC was tried and rejected: its pauses land
    // MID-REP and inflated early queries as much as it relieved late
    // ones (sf1 totals 158.2 -> 158.4). Deterministic synchronous GC
    // between phases / every 32 queries keeps every pause between timed
    // regions, so each query is measured against its own garbage, not
    // its 253 predecessors' — the per-query isolation the metric means.
    System.gc()
    val results = selected.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % 32 == 0) System.gc()
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }
      name -> Seq(once(), once(), once()).flatten.minOption
    }
    // broken queries report null (not a numeric sentinel) and are listed
    // in errors; ok_count lets consumers detect differing denominators
    // before comparing totals across runs
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val ok = results.flatMap(_._2)
    // field order matters: the driver archives only a bounded TAIL of this
    // line, so the long per-query map goes first and the summary fields
    // (total/ok_count/errors) last — they must survive the truncation
    val fx = fixtureTimes.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // fixture_build_sec = the fixture PHASE WALL (since the r16 pool the
    // per-name entries overlap, so their sum exceeds the wall); the sum
    // is emitted under its own name so cross-round tooling comparing the
    // two quantities fails loudly instead of silently misreading either
    val fixtureSumSec = fixtureTimes.map(_._2).sum
    val line = s"""{"queries":$qs,"fixture_build":$fx,"errors":$errors,"ok_count":${ok.size},"fixture_build_sec":$fixtureWallSec,"fixture_build_sum_sec":$fixtureSumSec,"metric":"total","value":${ok.sum},"unit":"sec","sf":"$sfDir"}"""
    println(line)
    // the stdout tail truncates the first ~68 per-query entries, so the
    // complete line is also written to a file for full per-query history
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n"): Unit
    // LAST stdout line: a compact (< 300 char) summary that fits whole
    // inside any bounded stdout tail a harness archives. The full line
    // above is ~10 KB (254 per-query entries); a consumer keeping only
    // the last N chars of stdout gets that line cut mid-JSON and can
    // parse nothing — two rounds of perf history were lost to exactly
    // that. The summary repeats the full line's summary fields verbatim
    // (same values, same meanings) and adds the core count.
    println(s"""{"metric":"total","value":${ok.sum},"unit":"sec","ok_count":${ok.size},"errors":$errors,"fixture_build_sec":$fixtureWallSec,"cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }
}
