package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{CdcTable, SchemaEvolution}

/** Type-widening schema evolution (r11): a source column whose type
  * widens (routine MySQL ALTERs: int->long, float->double, decimal
  * precision raise) merges at the union type; incompatible changes
  * reject loudly. Divergence from the reference's source-wins evolution
  * (sanpshot_script.py:56, SURVEY §4 — a catalogued bug) is deliberate.
  */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._
  private def ts(n: Int) = java.sql.Timestamp.valueOf(f"2000-01-$n%02d 00:00:00")

  test("widenedType: integral ladder, float->double, decimal digits; lossy pairs refuse") {
    assert(SchemaEvolution.widenedType(IntegerType, LongType).contains(LongType))
    assert(SchemaEvolution.widenedType(LongType, IntegerType).contains(LongType))
    assert(SchemaEvolution.widenedType(ByteType, ShortType).contains(ShortType))
    assert(SchemaEvolution.widenedType(FloatType, DoubleType).contains(DoubleType))
    assert(SchemaEvolution.widenedType(DecimalType(10, 2), DecimalType(12, 2))
      .contains(DecimalType(12, 2)))
    // scale raise widens integer digits AND scale component-wise
    assert(SchemaEvolution.widenedType(DecimalType(10, 2), DecimalType(10, 4))
      .contains(DecimalType(12, 4)))
    // would need 40 digits — refuses instead of truncating
    assert(SchemaEvolution.widenedType(DecimalType(38, 0), DecimalType(38, 2)).isEmpty)
    assert(SchemaEvolution.widenedType(IntegerType, StringType).isEmpty)
    assert(SchemaEvolution.widenedType(DoubleType, LongType).isEmpty)
    assert(SchemaEvolution.widenedType(TimestampType, IntegerType).isEmpty)
  }

  test("merge widens int->long: values past Int.MaxValue round-trip; later narrow batches upcast") {
    val root = tmpDir("widen1")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(Seq((1L, 10), (2L, 20)).toDF("id", "qty"))
    assert(t.read.schema("qty").dataType == IntegerType)
    val big = 3000000000L
    t.merge(Seq((2L, big, ts(2), "u"), (3L, 7L, ts(2), "c"))
      .toDF("id", "qty", "ts", "__op"), "ts")
    assert(t.read.schema("qty").dataType == LongType)
    val m = t.read.select("id", "qty").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 10L, 2L -> big, 3L -> 7L))
    // the table NEVER narrows back: a narrower follow-up batch upcasts in
    t.merge(Seq((1L, 11, ts(3), "u")).toDF("id", "qty", "ts", "__op"), "ts")
    assert(t.read.schema("qty").dataType == LongType)
    assert(t.read.filter(col("id") === 1L).select("qty").as[Long].head() == 11L)
  }

  test("partitioned merge widens via one touched month; pruned layout still reads and diffs") {
    val root = tmpDir("widen2")
    val t = new CdcTable(spark, s"$root/t", Seq("id"),
      partitionSource = Some("created"), retainVersions = 10)
    t.init(Seq(
      (1L, 10, java.sql.Timestamp.valueOf("2000-01-05 00:00:00")),
      (2L, 20, java.sql.Timestamp.valueOf("2000-02-05 00:00:00"))
    ).toDF("id", "qty", "created"))
    // the widening batch touches ONLY February: January's files keep the
    // narrow type on disk and the union read must still resolve to long
    t.merge(Seq(
      (2L, 3000000000L, java.sql.Timestamp.valueOf("2000-02-06 00:00:00"), ts(2), "u"))
      .toDF("id", "qty", "created", "ts", "__op"), "ts")
    assert(t.read.schema("qty").dataType == LongType)
    val m = t.read.select("id", "qty").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 10L, 2L -> 3000000000L))
    // the change feed across the widening carries the union type exactly
    val feed = t.changesBetween(1L, 2L)
    assert(feed.schema("qty").dataType == LongType)
    assert(feed.filter(col(CdcTable.ChangeTypeCol) === "update_postimage")
      .select("qty").as[Long].head() == 3000000000L)
  }

  test("deleteVectored spans mixed-type months after a widening merge") {
    val root = tmpDir("widen_dv")
    val t = new CdcTable(spark, s"$root/t", Seq("id"),
      partitionSource = Some("created"), retainVersions = 10)
    t.init(Seq(
      (1L, 10, java.sql.Timestamp.valueOf("2000-01-05 00:00:00")),
      (2L, 20, java.sql.Timestamp.valueOf("2000-02-05 00:00:00")),
      (3L, 30, java.sql.Timestamp.valueOf("2000-01-06 00:00:00")),
      (4L, 40, java.sql.Timestamp.valueOf("2000-02-07 00:00:00"))
    ).toDF("id", "qty", "created"))
    // widening merge touches ONLY February: January's files keep int32 on
    // disk while February's rewrite at int64 — the vectored delete's one
    // multi-path scan must reconcile both (plain parquet mergeSchema
    // refuses conflicting primitive types; the sidecar union schema reads
    // the narrow files upcast)
    t.merge(Seq(
      (2L, 3000000000L, java.sql.Timestamp.valueOf("2000-02-06 00:00:00"), ts(2), "u"))
      .toDF("id", "qty", "created", "ts", "__op"), "ts")
    assert(t.read.schema("qty").dataType == LongType)
    // matches one row in the NARROW month (id=1, Jan) and one in the
    // WIDENED month (id=2, Feb): the delete must scan across both types
    t.deleteVectored(col("qty") < 15 || col("id") === 2L)
    val m = t.read.select("id", "qty").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(3L -> 30L, 4L -> 40L))
    // the k_analyze_ndv-style debt rescan over the masked dirs stays exact
    assert(t.read.count() == 2L)
    // a second vectored delete re-reads (visible-rows-only dedup) across
    // the same mixed-type layout and extends the vector
    t.deleteVectored(col("id") === 4L)
    assert(t.read.select("id").as[Long].collect().toSet == Set(3L))
  }

  test("materializeDeletes after a widening merge keeps every written dir one type") {
    val root = tmpDir("widen_mat")
    def mk(name: String): CdcTable = {
      val t = new CdcTable(spark, s"$root/$name", Seq("id"),
        partitionSource = Some("created"), retainVersions = 10)
      // round-robin into two tasks: each month lands in two files
      t.init((1 to 8).map(i => (i.toLong, i * 10, java.sql.Timestamp.valueOf(
          if (i <= 4) "2000-01-05 00:00:00" else "2000-02-05 00:00:00")))
        .toDF("id", "qty", "created").repartition(2))
      // widening merge touches ONLY February: January stays int32 on disk
      t.merge(Seq(
        (5L, 3000000000L, java.sql.Timestamp.valueOf("2000-02-05 00:00:00"), ts(2), "u"))
        .toDF("id", "qty", "created", "ts", "__op"), "ts")
      t
    }
    def janFiles(t: CdcTable) = t.filesInfo.filter(col("data_dir").endsWith("=2000-01"))
      .select("file").as[String].collect().toSet
    def qtys(t: CdcTable) = t.read.select("id", "qty").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (1 to 8).map(i => i.toLong -> (if (i == 5) 3000000000L else i * 10L)).toMap

    // vectored rows in the narrow AND the widened month
    val both = mk("both")
    both.deleteVectored(col("id") === 1L || col("id") === 6L)
    both.materializeDeletes()
    assert(both.dvSummary(both.currentVersion.get).isEmpty)
    assert(both.read.schema("qty").dataType == LongType)
    assert(qtys(both) == want - 1L - 6L)

    // vectored rows in the narrow month only: its untouched file carries
    val jan = mk("jan")
    val before = janFiles(jan)
    assert(before.size == 2, s"test setup: $before")
    jan.deleteVectored(col("id") === 1L)
    jan.materializeDeletes()
    assert(jan.dvSummary(jan.currentVersion.get).isEmpty)
    assert(before.intersect(janFiles(jan)).size == 1, s"before=$before after=${janFiles(jan)}")
    assert(qtys(jan) == want - 1L)
    assert(qtys(CdcTable.open(spark, jan.path)) == want - 1L)
  }

  test("incompatible type change rejects loudly — never source-wins") {
    val root = tmpDir("widen3")
    val t = new CdcTable(spark, s"$root/t", Seq("id"))
    t.init(Seq((1L, 10)).toDF("id", "qty"))
    val e = intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "ten", ts(2), "u")).toDF("id", "qty", "ts", "__op"), "ts")
    }
    assert(e.getMessage.contains("qty"))
    // the table is untouched — no version burned, values intact
    assert(t.read.schema("qty").dataType == IntegerType)
    assert(t.read.select("qty").as[Int].head() == 10)
  }

  test("containers widen element-wise; nullability widens by OR; lossy elements refuse") {
    import org.apache.spark.sql.types._
    // parquet round-trips flip containsNull false->true — that pair must
    // widen, not reject (caught live by GramViewSpec's merge)
    assert(SchemaEvolution.widenedType(
      ArrayType(FloatType, containsNull = false),
      ArrayType(FloatType, containsNull = true))
      .contains(ArrayType(FloatType, containsNull = true)))
    assert(SchemaEvolution.widenedType(
      ArrayType(IntegerType, containsNull = false),
      ArrayType(LongType, containsNull = false))
      .contains(ArrayType(LongType, containsNull = false)))
    assert(SchemaEvolution.widenedType(
      MapType(StringType, FloatType, valueContainsNull = false),
      MapType(StringType, DoubleType, valueContainsNull = true))
      .contains(MapType(StringType, DoubleType, valueContainsNull = true)))
    assert(SchemaEvolution.widenedType(
      ArrayType(StringType), ArrayType(LongType)).isEmpty)
  }

  test("append upcasts a narrower batch; a widening append rejects with merge guidance") {
    val root = tmpDir("widen4")
    val t = new CdcTable(spark, s"$root/t", Nil)
    t.init(Seq((1L, 3000000000L)).toDF("id", "qty"))
    t.append(Seq((2L, 5)).toDF("id", "qty")) // int batch into long column
    assert(t.read.schema("qty").dataType == LongType)
    assert(t.read.select("qty").as[Long].collect().toSet == Set(3000000000L, 5L))
    val t2 = new CdcTable(spark, s"$root/t2", Nil)
    t2.init(Seq((1L, 10)).toDF("id", "qty"))
    val e = intercept[IllegalArgumentException] {
      t2.append(Seq((2L, 3000000000L)).toDF("id", "qty"))
    }
    assert(e.getMessage.contains("merge"))
  }
}
