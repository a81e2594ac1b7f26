package graft

/** Plan-audit tool: print the formatted physical plan of named queries
  * (all queries when no names given). Used to keep plans honest — filter
  * pushdown reaching the parquet scan, broadcast joins on dimension
  * tables, wide WholeStageCodegen spans, no stray shuffles.
  *
  *   sbt "runMain graft.Explain q1_pricing_summary q5_local_supplier"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = SparkEntry.envSfDir
    val spark = SparkEntry.session(SparkEntry.envCpus)
    // SPARK_GRAFT_FINAL=1: execute each query first so the printed plan
    // is AQE's FINAL re-optimized plan (runtime join-strategy changes,
    // coalesced reads) instead of the initial isFinalPlan=false sketch.
    val showFinal = sys.env.get("SPARK_GRAFT_FINAL").contains("1")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // df.count() would execute a DIFFERENT QueryExecution (an aggregate
      // over df); driving this plan's own RDD is what makes THIS df's
      // AdaptiveSparkPlanExec reach its final plan.
      if (showFinal) df.queryExecution.executedPlan.execute().count(): Unit
      df.explain("formatted")
    }
    spark.stop()
  }
}
