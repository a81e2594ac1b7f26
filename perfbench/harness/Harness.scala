package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.CdcPipeline
import graft.envelope.EnvelopeCodec
import graft.ops.{CdcMerge, CdcTable, Dedup, FileSkipping, LocalTableIO, TableIO}

/** The benchmark's JVM side. Reads a plan written by `run.py`, drives the
  * engine through its public calls only, times each closed-loop
  * operation and writes the samples, the outputs the model checks, and
  * (when traced) spans and layer counters to one JSON result file.
  *
  * Usage: `perfbench.Harness <plan.json> <result.json>`
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val res = new Result
    val t0 = System.nanoTime()
    val cores = plan.get("cores").asInt()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // no generic warm-up queries: each workload's first base build absorbs
    // classloading and codegen, and setup_s takes the builds' median
    res.num("session_s", (System.nanoTime() - t0) / 1e9)
    val trace = new Trace(spark, plan.get("trace").asBoolean())
    val ctx = new Ctx(spark, plan, res, trace)
    try plan.get("workload").asText() match {
      case "cdc_ingest"  => CdcIngest.run(ctx)
      case "lake_mixed"  => LakeMixed.run(ctx)
    } finally {
      trace.stop()
      res.put("trace", trace.report())
      res.num("heap_after_gc_mb", Trace.heapAfterGcMb())
      Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(res.root))
      spark.stop()
    }
  }
}

/** Everything a workload needs: session, plan, result sink, tracer. */
final class Ctx(val spark: SparkSession, val plan: JsonNode, val res: Result, val trace: Trace) {
  val work: String = plan.get("work_dir").asText()
  val seconds: Double = plan.get("seconds").asDouble()
  val builds: Int = plan.get("builds").asInt()
  private var measureStart = 0L

  def startMeasuring(): Unit = { trace.resetCounters(); measureStart = System.nanoTime() }
  def timeLeft: Boolean = (System.nanoTime() - measureStart) / 1e9 < seconds

  private def keyOf(kind: String, extra: Seq[(String, Any)]): String =
    (kind +: extra.collect { case ("query", q) => q.toString }).mkString(":")

  /** In a traced run, instrument every other op of the same kind (and
    * query): the odd ones measure the same work uninstrumented.
    */
  def arm(kind: String, extra: (String, Any)*): Boolean = {
    val key = keyOf(kind, extra)
    trace.set(res.ops.count(_("key") == key) % 2 == 0)
    trace.on
  }

  /** One timed closed-loop operation; a throw is recorded as a failed op
    * and the loop continues.
    */
  def op(kind: String, extra: (String, Any)*)(body: => Map[String, Any]): Unit = {
    arm(kind, extra: _*)
    val id = res.ops.size
    val start = System.nanoTime()
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> id, "kind" -> kind, "key" -> keyOf(kind, extra), "traced" -> trace.on)
    try {
      val out = trace.span(s"bench.$kind", id)(body)
      rec("ms") = (System.nanoTime() - start) / 1e6
      rec ++= out
    } catch {
      case e: Throwable =>
        rec("ms") = (System.nanoTime() - start) / 1e6
        rec("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    rec ++= extra
    trace.endOp()
    res.ops += rec.toMap
  }

  /** Seconds of `body`, for set-up steps. */
  def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  /** (count, exact sum of row hashes) over canonical rows — the table
    * hash `model.py` computes for the model. Kinds come from the plan.
    */
  def hashOf(df: DataFrame, cols: Seq[(String, String)], prefix: Seq[Column] = Nil): Seq[String] = {
    val r = df.select(Ctx.canonRow(cols, prefix).as("r"))
      .agg(count(lit(1)), sum(conv(substring(md5(col("r")), 1, 16), 16, 10).cast("decimal(20,0)")))
      .head()
    Seq(r.getLong(0).toString, Option(r.getDecimal(1)).map(_.toBigInteger.toString).getOrElse("0"))
  }

  def kinds(name: String): Seq[(String, String)] =
    plan.get(name).elements().asScala.map(n => n.get(0).asText() -> n.get(1).asText()).toSeq
}

object Ctx {
  val Sep = "\u001f"
  private val sqlOf = Map(
    "int" -> "CAST(`%s` AS STRING)", "str" -> "`%s`",
    "cents" -> "CAST(CAST(ROUND(CAST(`%s` AS DOUBLE) * 100) AS BIGINT) AS STRING)",
    "ts_ms" -> "CAST(unix_micros(`%s`) AS STRING)", "ts_iso" -> "CAST(unix_micros(`%s`) AS STRING)",
    "ts_us" -> "CAST(unix_micros(`%s`) AS STRING)", "date_days" -> "CAST(unix_date(`%s`) AS STRING)")

  def canonRow(cols: Seq[(String, String)], prefix: Seq[Column] = Nil): Column =
    concat_ws(Sep, prefix ++ cols.map { case (c, k) =>
      coalesce(expr(sqlOf(k).format(c)), lit("\\N"))
    }: _*)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def copyDir(src: File, dst: File): Unit = {
    val s = src.toPath
    Files.walk(s).iterator().asScala.foreach { p =>
      val d = dst.toPath.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Result document: scalars, per-op records, and free-form sections. */
final class Result {
  val root = new java.util.LinkedHashMap[String, Any]()
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  root.put("ops", new java.util.AbstractList[Any] {
    def get(i: Int): Any = Result.toJava(ops(i))
    def size(): Int = ops.size
  })
  def num(k: String, v: Double): Unit = root.put(k, v)
  def put(k: String, v: Any): Unit = root.put(k, Result.toJava(v))
}

object Result {
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x              => x
  }
}

/** CDC ingest: a Debezium backfill drained by one `runOnce`, then cycles
  * of ~2,000 change events, each landed by atomic rename and drained by a
  * timed `runOnce`.
  */
object CdcIngest {
  def run(c: Ctx): Unit = {
    import c._
    val stage = s"$work/stage"
    val cycleFiles = c.plan.get("cycles").asInt()
    val warm = c.plan.get("warmup_cycles").asInt()
    // set-up: the same backfill drained `builds` times into fresh
    // pipelines; the last one carries on with the cycles
    var pipe: CdcPipeline = null
    val buildS = (1 to builds).map { b =>
      pipe = new CdcPipeline(spark, s"$work/env$b", s"$work/ck$b", s"$work/tables$b")
      timed(pipe.runOnce())
    }
    res.put("build_s", buildS)
    val env = s"$work/env$builds"
    val tables = s"$work/tables$builds"
    val salesDir = new File(s"$tables/sales")

    def land(i: Int): Unit = {
      val name = f"c$i%05d.parquet"
      Files.move(Paths.get(stage, name), Paths.get(env, name), StandardCopyOption.ATOMIC_MOVE): Unit
    }
    var next = 0
    res.num("warmup_s", timed {
      while (next < warm && next < cycleFiles) { land(next); pipe.runOnce(); next += 1 }
    })
    startMeasuring()
    while ((timeLeft || next == warm) && next < cycleFiles) {
      land(next)
      val before = if (c.arm("cycle")) Some(Listing(salesDir)) else None
      c.op("cycle", "cycle" -> next) {
        trace.span("cdc.CdcPipeline.runOnce", res.ops.size)(pipe.runOnce())
        Map.empty
      }
      before.foreach(b => trace.listingDelta(b, Listing(salesDir)))
      next += 1
    }
    res.num("cycles_run", next)
    res.put("sales_hash", hashOf(new CdcTable(spark, s"$tables/sales", Seq("sale_id")).read, kinds("sales_cols")))
    res.put("wide_hash", hashOf(new CdcTable(spark, s"$tables/sales_wide", Seq("invoice_id")).read, kinds("wide_cols")))
    if (trace.enabled) replay(c, env, tables, next)
  }

  /** Traced run only: replay recorded inputs through the public decode,
    * dedup and merge functions, each forced by a full no-op write.
    */
  private def replay(c: Ctx, env: String, tables: String, cycles: Int): Unit = {
    import c._
    def force(df: DataFrame): Double = timed(df.write.format("noop").mode("overwrite").save())
    val layer = mutable.LinkedHashMap[String, Any]()
    def decode(file: String): (DataFrame, Double, Double, Long) = {
      val wm = EnvelopeCodec.withMeta(spark.read.parquet(file)).cache()
      val rows = wm.count()
      var latest: (String, String) = null
      val sniff = timed { latest = EnvelopeCodec.latestRecord(wm).get }
      val decoded = EnvelopeCodec.withTenantColumns(EnvelopeCodec.decodeDynamic(wm, latest))
      (decoded, sniff, force(decoded), rows)
    }
    for ((tbl, file) <- Seq("sales" -> s"$env/backfill_sales.parquet",
                            "sales_wide" -> s"$env/backfill_wide.parquet")) {
      val (_, _, dec, rows) = decode(file)
      layer(s"envelope.decode_rows_per_s.$tbl") = rows / dec
    }
    val last = f"$env/c${cycles - 1}%05d.parquet"
    val (decoded, sniff, dec, _) = decode(last)
    layer("envelope.sniff_ms") = sniff * 1000
    layer("envelope.decode_ms") = dec * 1000
    val payload = decoded.drop("__deleted", "__db", "__topic").cache()
    val tie = payload.columns.toSeq.filterNot(x => x == "sale_id" || x == "__ts_ms")
    val deduped = Dedup.latestWins(payload, Seq("sale_id"), "__ts_ms", tie).cache()
    layer("ops.Dedup.latest_wins_ms") = force(deduped) * 1000
    layer("ops.Dedup.rows_in") = payload.count()
    layer("ops.Dedup.rows_out") = deduped.count()
    val table = new CdcTable(spark, s"$tables/sales", Seq("sale_id"))
    layer("ops.CdcMerge.merge_ms") = force(CdcMerge.merge(table.read, deduped, Seq("sale_id"))) * 1000
    val copy = new File(s"$work/sales_copy")
    Ctx.copyDir(new File(s"$tables/sales"), copy)
    val copyTable = new CdcTable(spark, copy.getPath, Seq("sale_id"))
    layer("ops.CdcTable.merge_ms") = timed(copyTable.merge(payload, "__ts_ms", tie)) * 1000
    res.put("replay", layer)
  }
}

/** Files under a table directory: relative path -> bytes. */
final case class Listing(files: Map[String, Long])
object Listing {
  def apply(root: File): Listing = {
    val out = mutable.Map[String, Long]()
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(x => walk(x, s"$rel/${x.getName}"))
      else out(rel) = f.length()
    walk(root, "")
    Listing(out.toMap)
  }
}

/** Writes beside reads on one month-partitioned table, with a slice of
  * the query board run against the warehouse tables in every round.
  */
object LakeMixed {
  def run(c: Ctx): Unit = {
    import c._
    val cols = kinds("order_cols")
    val base = spark.read.parquet(s"$work/orders.parquet")
    val io: TableIO = if (trace.enabled) new CountingIO(LocalTableIO, trace) else LocalTableIO
    def handle(b: Int) = new CdcTable(spark, s"$work/orders$b", Seq("o_orderkey"),
      partitionSource = Some("o_orderdate"), bloomColumns = Seq("o_orderkey"), io = io)
    val names = c.plan.get("queries").elements().asScala.map(_.asText()).toSeq
    val fixtures = c.plan.get("fixture_queries").elements().asScala.map(_.asText()).toSeq
    val qs = graft.SparkEntry.queries
    val data = s"$work/data0"
    // warm-up pass over the board slice; it writes each query's output in
    // Verify's layout for tools/check.py, with INT96 result timestamps as
    // Verify writes them
    val out = s"$work/verify"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    res.num("warm_pass_s", timed(names.foreach { q =>
      qs(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), new ObjectMapper().writeValueAsString(oracle.asJava))
    // each build creates the lake table, warms its read path once, and
    // builds the query fixtures (memoized per data directory, so each
    // build gets its own alias of the same generated tables)
    val buildS = (1 to builds).map { b =>
      val t = handle(b)
      timed {
        t.init(base)
        t.readWhere(Seq(FileSkipping.Eq("o_orderkey", 0L))).collect()
        t.readVersion(t.currentVersion.get).agg(count(lit(1))).collect()
        fixtures.foreach(q => qs(q)(spark, s"$work/data$b").count())
      }
    }
    res.put("build_s", buildS)
    // warm the write path on the first build's table; the last one is measured
    val first = c.plan.get("rounds").get(0)
    res.num("warmup_s", timed {
      val w = handle(1)
      w.merge(spark.read.parquet(s"$work/merge000.parquet"), "__ts")
      val v = w.currentVersion.get
      w.changesBetween(v - 1, v).write.format("noop").mode("overwrite").save()
      w.deleteVectored(col("o_orderkey").isin(first.get("deletes").elements().asScala.map(_.asLong()).toSeq: _*))
      w.maintain()
    })
    val tb = handle(builds)
    res.num("init_version", tb.currentVersion.get.toDouble)
    val rng = new scala.util.Random(c.plan.get("seed").asLong())
    def call[A](name: String)(body: => A): A = trace.span(s"ops.CdcTable.$name")(body)
    val rounds = c.plan.get("rounds")
    val profiles = mutable.ArrayBuffer[Map[String, Any]]()
    // scanProfile's second figure counts only the files of the months
    // the predicate keeps; the ratio is taken against every live file
    def profile(kind: String, preds: Seq[FileSkipping.Pred]): Unit = {
      val (opened, _) = tb.scanProfile(preds)
      val (_, total) = tb.scanProfile(Nil)
      profiles += Map("kind" -> kind, "opened" -> opened, "total" -> total)
    }
    startMeasuring()
    var i = 0
    while (i < rounds.size() && (timeLeft || i == 0)) {
      val r = rounds.get(i)
      r.get("lookups").elements().asScala.foreach { k =>
        val pred = Seq(FileSkipping.Eq("o_orderkey", k.asLong()))
        if (c.arm("lookup")) profile("lookup", pred)
        c.op("lookup", "round" -> i, "key" -> k.asLong()) {
          Map("rows" -> call("readWhere")(tb.readWhere(pred)).select(Ctx.canonRow(cols)).collect().map(_.getString(0)).toSeq)
        }
      }
      r.get("scans").elements().asScala.zipWithIndex.foreach { case (s, j) =>
        val pred = Seq(FileSkipping.Range("o_orderdate",
          Some(new java.sql.Timestamp(s.get(0).asLong() / 1000)), Some(new java.sql.Timestamp(s.get(1).asLong() / 1000))))
        if (c.arm("range_scan")) profile("scan", pred)
        c.op("range_scan", "round" -> i, "scan" -> j) {
          val row = call("readWhere")(tb.readWhere(pred))
            .agg(count(lit(1)), sum(expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))).head()
          Map("agg" -> Seq(row.getLong(0).toString, Option(row.get(1)).getOrElse(0L).toString))
        }
      }
      val batch = spark.read.parquet(f"$work/merge$i%03d.parquet")
      c.op("merge", "round" -> i)(Map("version" -> { call("merge")(tb.merge(batch, "__ts")); tb.currentVersion.get }))
      val cur = tb.currentVersion.get
      if (tb.versions.contains(cur - 1))
        c.op("changes_between", "round" -> i, "from" -> (cur - 1), "to" -> cur) {
          Map("hash" -> hashOf(call("changesBetween")(tb.changesBetween(cur - 1, cur)), cols, Seq(col(CdcTable.ChangeTypeCol))))
        }
      val v = math.max(cur - r.get("version_back").asLong(), tb.versions.head)
      c.op("read_version", "round" -> i, "version" -> v)(Map("hash" -> hashOf(call("readVersion")(tb.readVersion(v)), cols)))
      val keys = r.get("deletes").elements().asScala.map(_.asLong()).toSeq
      c.op("delete", "round" -> i) {
        call("deleteVectored")(tb.deleteVectored(col("o_orderkey").isin(keys: _*)))
        Map("version" -> tb.currentVersion.get)
      }
      if (i % 2 == 0) c.op("maintain", "round" -> i)(Map("version" -> { call("maintain")(tb.maintain()); tb.currentVersion.get }))
      rng.shuffle(names).foreach { q =>
        c.op("query", "round" -> i, "query" -> q) {
          trace.span(s"queries.$q")(qs(q)(spark, data).count())
          Map.empty
        }
      }
      i += 1
    }
    res.num("rounds_run", i)
    res.put("profiles", profiles)
    if (trace.enabled) {
      val root = new File(tb.path)
      val live = tb.filesInfo.collect().map(r => new File(root, s"${r.getString(0)}/${r.getString(1)}").length()).sum
      res.put("lake_disk", Map("disk_bytes" -> Ctx.dirBytes(root), "live_bytes" -> live,
        "live_files" -> tb.filesInfo.count()))
    }
  }
}
