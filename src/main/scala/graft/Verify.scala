package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names for a targeted
    // re-verify (the driver always runs the full set)
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val spark = SparkEntry.session(SparkEntry.envCpus)
    new java.io.File(outDir).mkdirs()
    // Board contract (also spec-pinned in BoardContractSpec): every query
    // must have an oracle (or an explicit exemption) — the driver counts
    // an oracle-less query as a red `no_oracle` row.
    val noOracle =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- SparkEntry.oracleExempt
    require(noOracle.isEmpty,
      s"board contract: queries without oracleSql: ${noOracle.toSeq.sorted.mkString(", ")}")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Board contract: top-level schema restricted to the types the
        // driver's pandas hasher round-trips (see SparkEntry.boardTypeOk
        // — r13 arrays, r15 DECIMAL/FLOAT). Fail the ROW, not the run.
        val offenders = SparkEntry.boardTypeOffenders(df.schema)
        require(offenders.isEmpty,
          s"board contract: non-hashable output columns ${offenders.mkString(", ")}")
        dump(df, s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes one result dump as INT96 timestamps, which DuckDB reads as
    * naive timestamps matching its own oracle output (TIMESTAMP_MICROS
    * carries isAdjustedToUTC and would surface as TIMESTAMPTZ, failing
    * the value compare on every timestamp column). The queries
    * themselves run under the shared session conf; only this write
    * switches, which is safe because Verify runs one query at a time.
    */
  private[graft] def dump(df: DataFrame, path: String): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    val conf = df.sparkSession.conf
    val prior = conf.get(key)
    conf.set(key, "INT96")
    try df.coalesce(1).write.mode("overwrite").parquet(path)
    finally conf.set(key, prior)
  }
}
