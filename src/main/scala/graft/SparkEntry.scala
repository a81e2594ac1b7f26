package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Queries are organized in [[QueryPack]]s; every entry is either
  * hash-checked against the DuckDB SQL in `oracleSql` or covered by a
  * ScalaTest spec (non-SQL-expressible streaming/DDL paths).
  */
object SparkEntry {

  /** The one session every main and the spec suite run under, so the
    * plans Bench times are the plans Verify checked. UTC because
    * Tables' NTZ->LTZ relabel and CdcTable's month bucketing depend on
    * the session zone; TIMESTAMP_MICROS so written files carry INT64
    * timestamps with full min/max stats.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else every core this JVM may use. */
  lazy val envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_SF_DIR`, else sf0.1 — the scale Bench times. */
  lazy val envSfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private val packs: Seq[QueryPack] = Seq(
    ParityQueries,
    AnalyticsQueries,
    OlapQueries,
    TextQueries,
    UnicodeQueries,
    SimilarityQueries,
    PipelineQueries,
    IndexQueries,
    RetrievalQueries,
    SamplingQueries,
    StatsQueries,
    InferenceQueries
  )

  /** Flagship: the full CDC slice on sf0.001 — synthesize the Debezium
    * envelope from `events`, decode, dedup latest-wins, merge into a base
    * state (the reference's whole streaming soul as one declarative plan).
    */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.queries("k2_cdc_merge")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap

  /** Queries intentionally shipped WITHOUT a DuckDB oracle (the driver
    * records a weaker rows-only check, which its board counts as red).
    * Empty by design — every current query has an oracle; any future
    * exemption must be listed here with a COVERAGE.md justification, or
    * `BoardContractSpec` and `Verify` fail the build. (r13 lesson: one
    * oracle-less entry, x_bpe_train, sat on the board as `no_oracle`.)
    */
  val oracleExempt: Set[String] = Set.empty

  /** Board-schema type contract: the driver's pandas row hasher can only
    * round-trip these Spark↔parquet↔pandas↔DuckDB identically. Everything
    * else has bitten in a past round: Array/Map/Struct cells can't be
    * sorted (r13 x_expectations), DECIMAL arrives as Decimal from parquet
    * but float64 from DuckDB (r15 q1_pricing_summary), FLOAT is a float32
    * vs float64 conversion hazard (r15 s1_envelope_wide_types). Exact
    * decimals stay legal INSIDE a plan — render them as canonical
    * full-scale strings (CAST(… AS STRING) / AS VARCHAR) at the board
    * projection. Enforced at build time by BoardContractSpec and at dump
    * time by Verify.
    */
  def boardTypeOk(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DoubleType |
           StringType | BooleanType | DateType | TimestampType => true
      case _ => false
    }
  }

  def boardTypeOffenders(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.collect {
      case f if !boardTypeOk(f.dataType) => s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq
}
