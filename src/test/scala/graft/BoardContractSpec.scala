package graft

import org.apache.spark.sql.types._

/** The driver-board interface contract, pinned as failing tests (r13
  * lesson: both non-green board rows were interface bugs, not wrong
  * answers — an array-typed output column the driver's pandas hasher
  * cannot sort, and a query shipped without an oracle. r15 lesson: the
  * same hasher cannot round-trip DECIMAL — Decimal from parquet vs
  * float64 from DuckDB — nor FLOAT; q1_pricing_summary and
  * s1_envelope_wide_types both shipped red on exactly that).
  *
  *  1. every `SparkEntry.queries` key has an `oracleSql` entry, or an
  *     explicit `oracleExempt` listing (currently empty by design);
  *  2. no orphan oracles / stale exemptions;
  *  3. every query's RESULT schema is restricted at top level to the
  *     hasher-safe set {integral, DOUBLE, STRING, BOOLEAN, DATE,
  *     TIMESTAMP} — no Array/Map/Struct, no DecimalType, no FloatType.
  */
class BoardContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every query has a DuckDB oracle (or a documented exemption)") {
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- SparkEntry.oracleExempt
    assert(missing.isEmpty,
      s"queries without oracleSql: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("no orphan oracles and no stale exemptions") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracleSql entries with no query: ${orphans.toSeq.sorted.mkString(", ")}")
    val stale = SparkEntry.oracleExempt -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"oracleExempt names that are not queries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every board result schema uses only hasher-safe types (driver contract)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      SparkEntry.boardTypeOffenders(fn(spark, dir).schema).map(o => s"$name.$o")
    }
    assert(offenders.isEmpty,
      s"non-hashable board output columns: ${offenders.mkString("; ")}")
  }

  test("the contract rejects DECIMAL and FLOAT top-level columns") {
    // a deliberately-decimal/float/array schema must be flagged — this is
    // the exact shape that shipped red in r15 (and r13 for the array)
    val df = spark.sql(
      """SELECT CAST(1.5 AS DECIMAL(38,4)) AS d, CAST(1.5 AS FLOAT) AS f,
        |       array(1, 2) AS a, CAST(1.5 AS DOUBLE) AS ok, 'x' AS s""".stripMargin)
    val offenders = SparkEntry.boardTypeOffenders(df.schema)
    assert(offenders.map(_.takeWhile(_ != ':')) === Seq("d", "f", "a"))
  }

  test("Spark and DuckDB render a board-projected decimal string identically") {
    // the q1/s1 fix relies on CAST(decimal AS STRING) == DuckDB's
    // CAST(… AS VARCHAR): plain notation, full declared scale, trailing
    // zeros, '-' sign, no leading '+', no scientific notation. DuckDB's
    // renderings here are hard expectations taken from duckdb 1.x output.
    val got = spark.sql(
      """SELECT CAST(CAST(v AS DECIMAL(38,4)) AS STRING) AS s FROM VALUES
        |  (1.5), (0.0), (-2.25), (12345678901234.5678), (-0.0001)
        |AS t(v) ORDER BY v""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("-2.2500", "-0.0001", "0.0000", "1.5000",
      "12345678901234.5678"))
  }

  test("Verify dumps timestamps as INT96 and restores the session's TIMESTAMP_MICROS") {
    // DuckDB reads INT96 as a naive timestamp, matching its oracle output;
    // INT64 micros carry isAdjustedToUTC and would surface as TIMESTAMPTZ
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val key = "spark.sql.parquet.outputTimestampType"
    assert(spark.conf.get(key) === "TIMESTAMP_MICROS")
    val out = s"${tmpDir("graft_dump")}/ts"
    Verify.dump(spark.sql("SELECT TIMESTAMP '2001-02-03 04:05:06' AS at, 1 AS n"), out)
    assert(spark.conf.get(key) === "TIMESTAMP_MICROS")
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getPath), spark.sparkContext.hadoopConfiguration))
    val schema = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    val at = schema.getType(schema.getFieldIndex("at")).asPrimitiveType
    assert(at.getPrimitiveTypeName === PrimitiveTypeName.INT96)
  }
}
