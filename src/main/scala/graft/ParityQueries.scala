package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.envelope.{DebeziumSchema, EnvelopeCodec}
import graft.ops.{CdcMerge, CdcTable, Dedup, FileSkipping}

/** Queries exercising the reference's own operator surface (SURVEY.md §2):
  * envelope decode (S1/P1/P2/P10), latest-wins dedup (A4/O1), join-based
  * MERGE (K2/J1), anti-join (J3/P5), min/max bounds probe (A1/S2), scalar
  * functions (§2.8), metadata-style pushdown projections (S3/P4).
  *
  * Names are keyed to the SURVEY §2 operator ids so the coverage check maps
  * line-by-line.
  */
object ParityQueries extends QueryPack {

  private def events(s: SparkSession, dir: String) = Tables(s, dir, "events")

  /** __op derivation shared by the CDC fixtures (see
    * EnvelopeCodec.opFromEventType); the SQL twin must stay in sync.
    */
  private val opSql =
    "CASE WHEN event_type='signup' THEN 'c' WHEN event_type='error' THEN 'd' ELSE 'u' END"

  // double-checked per-(session, sfDir) memo for build-once fixture
  // artifacts: the TrieMap read is lock-free on the hot path, the
  // synchronized getOrElseUpdate guarantees two first calls cannot both
  // build (and leak) an artifact
  private def memoized[V](cache: scala.collection.concurrent.TrieMap[(SparkSession, String), V])
                         (s: SparkSession, dir: String)(build: => V): V =
    cache.get((s, dir)).getOrElse(cache.synchronized {
      cache.getOrElseUpdate((s, dir), build)
    })

  // ------------------------------------------------------------------
  // S1/K2/K6/K7 end-to-end on the reference's 22-type fixture table
  // (python_produce_data.py:103-129): every MySQL type of that CREATE
  // TABLE rides the Debezium wire with its real logical-type annotation
  // (ConnectDecimal, ZonedTimestamp, Timestamp, Date, MicroTime, Year,
  // Enum, EnumSet, Json, int16/int32/int64, float32/float64, 4 text
  // widths), through envelope decode → CREATE → a second MERGE window
  // (inserts + updates + deletes) → an ALTER-ADD-COLUMN evolution batch.
  // The oracle replays the same deterministic arithmetic over `orders`.
  // ------------------------------------------------------------------

  private[graft] val wideFieldNames: Seq[String] = Seq(
    "invoice_id", "item_id", "smallint_col", "mediumint_col", "quantity",
    "category", "gender", "price", "price1", "price2", "order_date",
    "current_dt", "shipping_type", "json_col", "set_col", "tinytext_col",
    "text_col", "mediumtext_col", "longtext_col", "dob", "start_to_work",
    "year_col")

  private def wideSchemaJson(withDiscount: Boolean): String = {
    val discount =
      if (withDiscount) """,{"field":"discount","type":"double","optional":true}""" else ""
    """{"type":"struct","fields":[
      |{"field":"invoice_id","type":"int64","optional":false},
      |{"field":"item_id","type":"int32","optional":true},
      |{"field":"smallint_col","type":"int16","optional":true},
      |{"field":"mediumint_col","type":"int32","optional":true},
      |{"field":"quantity","type":"int16","optional":true},
      |{"field":"category","type":"string","optional":true},
      |{"field":"gender","type":"string","optional":true},
      |{"field":"price","type":"bytes","optional":true,"name":"org.apache.kafka.connect.data.Decimal"},
      |{"field":"price1","type":"float32","optional":true},
      |{"field":"price2","type":"double","optional":true},
      |{"field":"order_date","type":"string","optional":true,"name":"io.debezium.time.ZonedTimestamp"},
      |{"field":"current_dt","type":"int64","optional":true,"name":"io.debezium.time.Timestamp"},
      |{"field":"shipping_type","type":"string","optional":true,"name":"io.debezium.data.Enum"},
      |{"field":"json_col","type":"string","optional":true,"name":"io.debezium.data.Json"},
      |{"field":"set_col","type":"string","optional":true,"name":"io.debezium.data.EnumSet"},
      |{"field":"tinytext_col","type":"string","optional":true},
      |{"field":"text_col","type":"string","optional":true},
      |{"field":"mediumtext_col","type":"string","optional":true},
      |{"field":"longtext_col","type":"string","optional":true},
      |{"field":"dob","type":"int32","optional":true,"name":"io.debezium.time.Date"},
      |{"field":"start_to_work","type":"int64","optional":true,"name":"io.debezium.time.MicroTime"},
      |{"field":"year_col","type":"int32","optional":true,"name":"io.debezium.time.Year"}""".stripMargin
      .replace("\n", "") + discount +
      """,{"field":"__deleted","type":"string","optional":true}]}"""
  }

  /** Wire-value projection over `orders`: deterministic arithmetic on
    * o_orderkey so the DuckDB oracle can replay the final state exactly.
    * `mutated` applies the second window's update rule (category/price2
    * of every 10th key).
    */
  private def wideWireCols(mutated: Boolean): Seq[String] = {
    val category =
      if (mutated) "CASE WHEN o_orderkey % 10 = 0 THEN 'UPDATED' ELSE o_orderpriority END"
      else "o_orderpriority"
    val price2 =
      if (mutated) "CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END"
      else "o_totalprice"
    Seq(
      "o_orderkey AS invoice_id",
      "CAST(o_orderkey % 1000 AS INT) AS item_id",
      "CAST(o_orderkey % 30000 AS INT) AS smallint_col",
      "CAST(o_orderkey % 8000000 AS INT) AS mediumint_col",
      "CAST(o_orderkey % 100 AS INT) AS quantity",
      s"$category AS category",
      "o_orderstatus AS gender",
      "CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS STRING) AS price",
      "CAST(o_orderkey % 900 + 0.25 AS FLOAT) AS price1",
      s"$price2 AS price2",
      "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS order_date",
      "unix_millis(o_orderdate) AS current_dt",
      "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'Free' WHEN 1 THEN '3-Day' ELSE '2-Day' END AS shipping_type",
      """concat('{"k":', CAST(o_orderkey % 7 AS STRING), '}') AS json_col""",
      "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'java' WHEN 1 THEN 'java,python' ELSE 'c++' END AS set_col",
      "substring(o_orderpriority, 1, 3) AS tinytext_col",
      "concat(o_orderpriority, ' txt') AS text_col",
      "repeat(o_orderstatus, 5) AS mediumtext_col",
      "repeat(o_orderpriority, 3) AS longtext_col",
      "CAST(o_orderkey % 15000 AS INT) AS dob",
      "(o_orderkey % 86400) * 1000000 AS start_to_work",
      "CAST(1990 + o_orderkey % 30 AS INT) AS year_col")
  }

  /** Wrap wire-valued rows as Debezium envelopes (key/value/headers/
    * topic) with a fixed op and source timestamp.
    */
  private def wideEnvelope(rows: DataFrame, op: String, tsMs: Long,
                           withDiscount: Boolean): DataFrame = {
    val names = if (withDiscount) wideFieldNames :+ "discount" else wideFieldNames
    val payload = to_json(struct(names.map(col) :+
      lit(if (op == "d") "true" else "false").as("__deleted"): _*))
    val header = (k: String, v: Column) =>
      struct(lit(k).as("key"), v.cast("binary").as("value"))
    rows.select(
      to_json(struct(col("invoice_id"))).as("key"),
      concat(lit(s"""{"schema":${wideSchemaJson(withDiscount)},"payload":"""),
        payload, lit("}")).as("value"),
      array(
        header("table", lit("wide")),
        header("op", lit(op)),
        header("source.ts_ms", lit(tsMs.toString)),
        header("source.db", lit("oms1"))).as("headers"),
      lit("source_glaucus1.oms1.wide").as("topic"))
  }

  private def decodeWide(env: DataFrame, withDiscount: Boolean): DataFrame = {
    val fields = DebeziumSchema.parseFields(wideSchemaJson(withDiscount))
    EnvelopeCodec.decodePayload(EnvelopeCodec.withMeta(env), fields,
      primaryKey = Some("invoice_id"))
  }

  private val wideTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private[graft] def wideTable(s: SparkSession, dir: String): CdcTable =
    memoized(wideTables)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_wide").toString
      val o = Tables(s, dir, "orders")
      val k = col("o_orderkey")
      val t = new CdcTable(s, s"$root/wide", keys = Seq("invoice_id"))
      // window 1 (CREATE): even keys arrive as inserts
      val b1 = decodeWide(wideEnvelope(
        o.filter(k % 2 === 0).selectExpr(wideWireCols(mutated = false): _*),
        "c", 1000000L, withDiscount = false), withDiscount = false)
      t.init(b1.select(wideFieldNames.map(col): _*))
      // window 2 (MERGE): odd keys insert, every 10th key updates, every
      // 13th key deletes (including keys never inserted — must no-op)
      val ins = wideEnvelope(o.filter(k % 2 === 1 && k % 13 =!= 0)
        .selectExpr(wideWireCols(mutated = false): _*), "c", 2000000L, withDiscount = false)
      val upd = wideEnvelope(o.filter(k % 10 === 0 && k % 13 =!= 0)
        .selectExpr(wideWireCols(mutated = true): _*), "u", 2000000L, withDiscount = false)
      val del = wideEnvelope(o.filter(k % 13 === 0)
        .selectExpr(wideWireCols(mutated = false): _*), "d", 2000000L, withDiscount = false)
      val b2 = decodeWide(ins.unionByName(upd).unionByName(del), withDiscount = false)
      t.merge(b2.select((wideFieldNames :+ "__op" :+ "__ts_ms").map(col): _*), "__ts_ms")
      // window 3 (EVOLVE): every 17th surviving key re-arrives carrying a
      // NEW `discount` column — the first non-empty batch with the column
      // widens the table schema; untouched rows read back NULL discount
      val b3rows = o.filter(k % 17 === 3 && k % 13 =!= 0)
        .selectExpr(wideWireCols(mutated = true) :+
          "CAST(o_orderkey % 5 AS DOUBLE) * 1.5 AS discount": _*)
      val b3 = decodeWide(wideEnvelope(b3rows, "u", 3000000L, withDiscount = true),
        withDiscount = true)
      t.merge(b3.select((wideFieldNames :+ "discount" :+ "__op" :+ "__ts_ms").map(col): _*),
        "__ts_ms")
      t
    }

  // one key-range-clustered versioned copy of `orders` per (session, sfDir)
  // for the stats-pruned scan, plus the memoized key bounds the probe
  // queries derive from; tight per-file key ranges are the layout
  // file skipping exists for. `o_note` is deliberately nullable BY KEY
  // RANGE (null above max/2) so the key-clustered files are all-null or
  // all-non-null in it and null-count pruning has something to skip.
  // localCheckpoint-free: the table IS the persisted artifact, rebuilt
  // only when the session or dir changes.
  private val skipTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (CdcTable, Long)]
  private def skipTable(s: SparkSession, dir: String): (CdcTable, Long) =
    memoized(skipTables)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_skip").toString
      val bounds = Tables(s, dir, "orders")
        .agg(min("o_orderkey"), max("o_orderkey")).head
      val (minKey, maxKey) = (bounds.getLong(0), bounds.getLong(1))
      // o_lookup is a Knuth-scrambled key: unique per row, DECORRELATED
      // from the o_orderkey clustering, so every file's (min,max) spans
      // the whole domain and only its bloom filter can prune a point
      // probe — the case bloomColumns exists for
      val t = new CdcTable(s, s"$root/orders", keys = Seq("o_orderkey"), retainVersions = 3,
        bloomColumns = Seq("o_lookup"))
      t.init(Tables(s, dir, "orders")
        .withColumn("o_note",
          when(col("o_orderkey") <= lit(maxKey / 2), col("o_orderpriority")))
        .withColumn("o_lookup", (col("o_orderkey") * lit(2654435761L)) % lit(1000000007L))
        .repartitionByRange(8, col("o_orderkey")))
      (t, minKey)
    }

  // a versioned orders copy that takes two overlapping MERGE-ON-READ
  // deletes and a keyless append, once per (session, sfDir) — the
  // deletion-vector oracle fixture (deterministic modulo/range gates so
  // DuckDB replays the identical edits)
  private val dvTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def dvTable(s: SparkSession, dir: String): CdcTable =
    memoized(dvTables)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_dv").toString
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val base = Tables(s, dir, "orders").select(cols.map(col): _*)
      val t = new CdcTable(s, s"$root/orders", keys = Seq("o_orderkey"))
      t.init(base.repartitionByRange(8, col("o_orderkey")))
      t.deleteVectored(col("o_orderkey").between(2000L, 4000L))
      t.deleteVectored(col("o_orderkey") % 10 === 3L) // overlaps the range
      t.append(base.filter(col("o_orderkey") % 13 === 5)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      t
    }

  // a month-partitioned orders copy with declared ndvColumns, mutated
  // through every stats-relevant path — a second append commit (sidecars
  // max-merge across commit dirs), a copy-on-write DELETE (rewritten
  // months re-derive their sidecars), and a MERGE-ON-READ vectored
  // delete (analyze must rescan exactly the masked dirs) — then
  // ANALYZE'd. The oracle recomputes the identical HLL registers from
  // the final row set in one full pass: metadata-only incremental stats
  // hash-gated against a full-scan truth.
  private val ndvTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def ndvTable(s: SparkSession, dir: String): CdcTable =
    memoized(ndvTables)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_ndv").toString
      val base = Tables(s, dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
      val t = new CdcTable(s, s"$root/orders", keys = Seq("o_orderkey"),
        partitionSource = Some("o_orderdate"),
        ndvColumns = Seq("o_custkey", "o_orderpriority", "o_orderstatus"))
      t.init(base.filter(col("o_orderkey") % 3 =!= 0))
      t.append(base.filter(col("o_orderkey") % 3 === 0))
      // both mutations are DATE-BOUNDED, which puts every stats path in
      // one table simultaneously: months before 1995 are copy-on-write
      // REWRITTEN (sidecars re-derived), 1995-96 months stay UNTOUCHED
      // (sidecars max-merged as-is), and 1997+ months carry the DV mask
      // (analyze rescans exactly those — the debt the vectored delete
      // defers is partition-bounded, the shape a 100 TB table needs:
      // unbounded-debt analyze was the r15 fixture's 23.8 s hot spot)
      t.delete(col("o_custkey") % 7 === 0 &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
      t.deleteVectored(col("o_orderkey") % 11 === 2 &&
        col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      t
    }

  // an HOUR-partitioned events slice (3 days → 72 hour dirs) with an
  // hour-granular retention cut, once per (session, sfDir) — the fixture
  // for string-timestamp-bound pruning on hours(col) tables. The r13
  // HIGH bug (wrong results: ' '/'T' separators sorting on the wrong
  // side of the hour key's '-' at index 10) was caught by driver advice,
  // not the board, because no oracle row ran an hour-partitioned scan.
  private val hourTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def hourTable(s: SparkSession, dir: String): CdcTable =
    memoized(hourTables)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_hour").toString
      val t = new CdcTable(s, s"$root/events", keys = Seq("event_id"),
        partitionSource = Some("ts"), partitionGranularity = "hour")
      t.init(Tables(s, dir, "events")
        .filter(col("ts") < lit("2024-01-04 00:00:00"))
        .select("event_id", "user_id", "event_type", "value", "ts"))
      t.retainMonthsFrom("2024-01-02-00"): Unit // drop day 1, manifest-only
      t
    }

  // a month-partitioned orders copy with a 1998-01 retention cut applied
  // metadata-only, once per (session, sfDir) — the dropMonths oracle fixture
  private val ttlTables =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def ttlTable(s: SparkSession, dir: String): CdcTable =
    memoized(ttlTables)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_ttl").toString
      val t = new CdcTable(s, s"$root/orders", keys = Seq("o_orderkey"),
        partitionSource = Some("o_orderdate"))
      t.init(Tables(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"))
      t.retainMonthsFrom("1998-01"): Unit
      t
    }

  // ONE month-partitioned full-orders fact base and ONE customer dim
  // base per (session, sfDir): the two orders-joining view fixtures
  // below start from IDENTICAL table states, so each clones these
  // (CdcTable.cloneTo — a metadata/hard-link pass, no data bytes) and
  // diverges only in its churn window. r15 bench: the join-view
  // fixtures spent ~44 s of the 103.6 s fixture_build rebuilding
  // near-identical bases at sf0.1.
  private val factBases =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def factBase(s: SparkSession, dir: String): CdcTable =
    memoized(factBases)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_factbase").toString
      val t = new CdcTable(s, s"$root/fact", Seq("o_orderkey"),
        partitionSource = Some("o_orderdate"), retainVersions = 5)
      t.init(Tables(s, dir, "orders"))
      t
    }
  private val dimBases =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def dimBase(s: SparkSession, dir: String): CdcTable =
    memoized(dimBases)(s, dir) {
      val root = java.nio.file.Files.createTempDirectory("graft_dimbase").toString
      val t = new CdcTable(s, s"$root/dim", Seq("c_custkey"), retainVersions = 5)
      t.init(Tables(s, dir, "customer"))
      t
    }

  // Churn in the orders join-view fixtures is confined to this ship
  // window (the star view's discipline): the merge rewrites only the
  // window's month partitions and the refresh's delta stays
  // window-bounded — the realistic recent-data churn shape, and what
  // keeps fixture build cost month-bounded instead of table-bounded.
  // Whole-table churn is measured in BASELINE.md "Write-path (CDC/DML)
  // scaling slopes".
  private val churnWin = col("o_orderdate") >=
    lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
  private val churnWinSql = "o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'"

  // an incrementally-maintained `orders JOIN customer` enrichment view
  // (ops.JoinView) per (session, sfDir): fact and dim each take one
  // deterministic merge batch (modulo-gated so DuckDB can replay it),
  // the view refreshes by delta-bounded restricted recompute — only the
  // keys the feeds touched — and the oracle checks the refreshed content
  // equals the fresh join of the final states.
  private val joinViews =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def joinView(s: SparkSession, dir: String): CdcTable =
    memoized(joinViews)(s, dir) {
      {
        import graft.ops.JoinView
        val root = java.nio.file.Files.createTempDirectory("graft_joinview").toString
        val onCols = Seq("o_custkey" -> "c_custkey")
        val orders = Tables(s, dir, "orders")
        val customer = Tables(s, dir, "customer")
        val fact = factBase(s, dir).cloneTo(s"$root/fact")
        val dim = dimBase(s, dir).cloneTo(s"$root/dim")
        val view = new CdcTable(s, s"$root/view", Seq("o_orderkey"), retainVersions = 5)
        view.init(JoinView.compute(fact.read, dim.read, onCols)
          .withColumn(JoinView.TsCol, lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
        val (f0, d0) = (fact.currentVersion.get, dim.currentVersion.get)
        // within the churn window: 60% repriced, 20% deleted, 20%
        // re-inserted under fresh keys — the churn shape of BASELINE.md
        // "Write-path (CDC/DML) scaling slopes", modulo-gated for the
        // SQL twin
        val slot = col("o_orderkey") % 10
        val fts = lit(java.sql.Timestamp.valueOf("2001-01-02 00:00:00"))
        val ups = orders.filter(slot < 6 && churnWin)
          .withColumn("o_totalprice", col("o_totalprice") * 1.1)
          .withColumn("__op", lit("u"))
        val dels = orders.filter(slot >= 6 && slot < 8 && churnWin).withColumn("__op", lit("d"))
        val ins = orders.filter(slot >= 8 && churnWin)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
          .withColumn("__op", lit("c"))
        fact.merge(ups.unionByName(dels).unionByName(ins).withColumn("f_ts", fts), "f_ts")
        dim.merge(customer.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_acctbal", col("c_acctbal") * 2)
          .withColumn("__op", lit("u")).withColumn("d_ts", fts), "d_ts")
        JoinView.refresh(view, fact, f0, fact.currentVersion.get,
          dim, d0, dim.currentVersion.get, onCols,
          java.sql.Timestamp.valueOf("2001-01-03 00:00:00"))
        view
      }
    }

  // LEFT-OUTER join view (the reference's snapshot-export shape: every
  // source row lands in the sink, sanpshot_script.py:229-233): same
  // fact/dim churn machinery, but fks are rerouted to NONEXISTENT keys
  // and dim rows are deleted, so the view must carry null-padded facts —
  // dangling-fk churn nets to upsert-with-nulls, never a delete.
  private val joinViewsOuter =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def joinViewOuter(s: SparkSession, dir: String): CdcTable =
    memoized(joinViewsOuter)(s, dir) {
      import graft.ops.JoinView
      val root = java.nio.file.Files.createTempDirectory("graft_joinview_outer").toString
      val onCols = Seq("o_custkey" -> "c_custkey")
      val orders = Tables(s, dir, "orders")
      val customer = Tables(s, dir, "customer")
      val fact = factBase(s, dir).cloneTo(s"$root/fact")
      val dim = dimBase(s, dir).cloneTo(s"$root/dim")
      val view = new CdcTable(s, s"$root/view", Seq("o_orderkey"), retainVersions = 5)
      view.init(JoinView.compute(fact.read, dim.read, onCols, outer = true)
        .withColumn(JoinView.TsCol, lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
      val (f0, d0) = (fact.currentVersion.get, dim.currentVersion.get)
      val slot = col("o_orderkey") % 10
      val fts = lit(java.sql.Timestamp.valueOf("2001-01-02 00:00:00"))
      // within the churn window — slots 0-2: fk rerouted into the void
      // (outer view keeps them, null-padded); 3-4: price bump; 5-6:
      // fact delete; 8-9: inserts under fresh keys
      val reroutes = orders.filter(slot < 3 && churnWin)
        .withColumn("o_custkey", col("o_custkey") + lit(900000000L))
        .withColumn("__op", lit("u"))
      val ups = orders.filter(slot >= 3 && slot < 5 && churnWin)
        .withColumn("o_totalprice", col("o_totalprice") * 1.2)
        .withColumn("__op", lit("u"))
      val dels = orders.filter(slot >= 5 && slot < 7 && churnWin).withColumn("__op", lit("d"))
      val ins = orders.filter(slot >= 8 && churnWin)
        .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
        .withColumn("__op", lit("c"))
      fact.merge(reroutes.unionByName(ups).unionByName(dels).unionByName(ins)
        .withColumn("f_ts", fts), "f_ts")
      // dim: every 7th customer vanishes (its facts go null-padded, NOT
      // deleted), every 5th (surviving) gets a payload update
      dim.merge(customer.filter(col("c_custkey") % 7 === 0)
        .withColumn("__op", lit("d"))
        .unionByName(customer.filter(col("c_custkey") % 7 =!= 0 && col("c_custkey") % 5 === 0)
          .withColumn("c_acctbal", col("c_acctbal") * 2)
          .withColumn("__op", lit("u")))
        .withColumn("d_ts", fts), "d_ts")
      JoinView.refresh(view, fact, f0, fact.currentVersion.get,
        dim, d0, dim.currentVersion.get, onCols,
        java.sql.Timestamp.valueOf("2001-01-03 00:00:00"), outer = true)
      view
    }

  // STAR join view: one fact (lineitem) + TWO dimensions (part,
  // supplier) churning in the SAME refresh window, maintained by ONE
  // JoinView.refreshStar call — the multi-dimension enrichment shape a
  // real export pipeline materializes.
  private val starViews =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def starView(s: SparkSession, dir: String): CdcTable =
    memoized(starViews)(s, dir) {
      import graft.ops.JoinView
      val root = java.nio.file.Files.createTempDirectory("graft_starview").toString
      val li = Tables(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_shipdate")
      val part = Tables(s, dir, "part").select("p_partkey", "p_name", "p_retailprice")
      val supp = Tables(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
      val keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      val onP = Seq("l_partkey" -> "p_partkey")
      val onS = Seq("l_suppkey" -> "s_suppkey")
      val fact = new CdcTable(s, s"$root/fact", keys,
        partitionSource = Some("l_shipdate"), retainVersions = 5)
      val dimP = new CdcTable(s, s"$root/part", Seq("p_partkey"), retainVersions = 5)
      val dimS = new CdcTable(s, s"$root/supp", Seq("s_suppkey"), retainVersions = 5)
      val view = new CdcTable(s, s"$root/view", keys, retainVersions = 5)
      fact.init(li)
      dimP.init(part)
      dimS.init(supp)
      view.init(JoinView.computeStar(fact.read, Seq(dimP.read -> onP, dimS.read -> onS))
        .withColumn(JoinView.TsCol, lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
      val (f0, p0, s0) = (fact.currentVersion.get, dimP.currentVersion.get, dimS.currentVersion.get)
      val ts2 = lit(java.sql.Timestamp.valueOf("2001-01-02 00:00:00"))
      val slot = (col("l_orderkey") + col("l_linenumber")) % 10
      // fact churn confined to a 2-month ship window: the merge rewrites
      // only those partitions (partition-pruned copy-on-write — the
      // realistic recent-data churn shape, and what keeps this fixture's
      // build cost month-bounded instead of table-bounded)
      val inWin = col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1996-03-01 00:00:00"))
      // fact: price bump slots 0-4, delete slots 5-6 (within the window)
      fact.merge(li.filter(slot < 5 && inWin)
        .withColumn("l_extendedprice", col("l_extendedprice") * 1.1)
        .withColumn("__op", lit("u"))
        .unionByName(li.filter(slot >= 5 && slot < 7 && inWin).withColumn("__op", lit("d")))
        .withColumn("f_ts", ts2), "f_ts")
      // part: every 11th deleted (inner star drops its lineitems), every
      // 3rd surviving repriced; supplier: every 4th rebalanced
      dimP.merge(part.filter(col("p_partkey") % 11 === 0).withColumn("__op", lit("d"))
        .unionByName(part.filter(col("p_partkey") % 11 =!= 0 && col("p_partkey") % 3 === 0)
          .withColumn("p_retailprice", col("p_retailprice") * 1.1)
          .withColumn("__op", lit("u")))
        .withColumn("p_ts", ts2), "p_ts")
      dimS.merge(supp.filter(col("s_suppkey") % 4 === 0)
        .withColumn("s_acctbal", col("s_acctbal") * 2)
        .withColumn("__op", lit("u")).withColumn("s_ts", ts2), "s_ts")
      JoinView.refreshStar(view, fact, f0, fact.currentVersion.get,
        Seq(JoinView.StarDim(dimP, p0, dimP.currentVersion.get, onP),
          JoinView.StarDim(dimS, s0, dimS.currentVersion.get, onS)),
        java.sql.Timestamp.valueOf("2001-01-03 00:00:00"))
      view
    }

  // Incrementally-maintained DERIVED table (ops.DerivedView): a chunk
  // index (doc -> 64-token windows, stride 48 — the x_doc_chunking
  // transform) kept current from the documents table's change feed.
  // The churn covers the semantics that break naive maintenance: text
  // TRUNCATION shrinks a doc's chunk count (stale chunk rows must
  // delete), text doubling grows it, docs die, fresh docs arrive.
  private val derivedViews =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), CdcTable]
  private def derivedView(s: SparkSession, dir: String): CdcTable =
    memoized(derivedViews)(s, dir) {
      import graft.ops.DerivedView
      val root = java.nio.file.Files.createTempDirectory("graft_derived").toString
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      def chunks(df: DataFrame): DataFrame = {
        val w = df.select(col("doc_id"), split(col("text"), "\\s+").as("words"))
        w.withColumn("chunk_id",
            explode(sequence(lit(0), ((size(col("words")) - 1) / 48).cast("int"))))
          .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
            size(slice(col("words"), col("chunk_id") * 48 + 1, lit(64))).cast("long").as("n_tokens"),
            md5(array_join(slice(col("words"), col("chunk_id") * 48 + 1, lit(64)), " ")).as("chunk_hash"))
      }
      val source = new CdcTable(s, s"$root/docs", Seq("doc_id"), retainVersions = 5)
      val view = new CdcTable(s, s"$root/chunks", Seq("doc_id", "chunk_id"), retainVersions = 5)
      source.init(docs)
      view.init(DerivedView.compute(source.read, chunks)
        .withColumn(DerivedView.TsCol, lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))))
      val v0 = source.currentVersion.get
      val slot = col("doc_id") % 10
      val ts2 = lit(java.sql.Timestamp.valueOf("2001-01-02 00:00:00"))
      val truncated = array_join(slice(split(col("text"), "\\s+"), 1, 60), " ")
      source.merge(
        docs.filter(slot < 3).withColumn("text", truncated).withColumn("__op", lit("u"))
          .unionByName(docs.filter(slot >= 3 && slot < 5)
            .withColumn("text", concat(col("text"), lit(" "), col("text")))
            .withColumn("__op", lit("u")))
          .unionByName(docs.filter(slot >= 5 && slot < 7).withColumn("__op", lit("d")))
          .unionByName(docs.filter(slot >= 8)
            .withColumn("doc_id", col("doc_id") + lit(1000000000L))
            .withColumn("__op", lit("c")))
          .withColumn("d_ts", ts2), "d_ts")
      DerivedView.refresh(view, source, v0, source.currentVersion.get, chunks,
        java.sql.Timestamp.valueOf("2001-01-03 00:00:00"))
      view
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // incrementally-maintained derived chunk index: after truncation /
    // growth / delete / insert churn, the CDF-refreshed chunk table must
    // equal DuckDB's flat chunking of the replayed final state — stale
    // chunks of shrunken docs must be GONE, not linger.
    "x_derived_view_incremental" -> ((s, dir) =>
      derivedView(s, dir).read
        .select("doc_id", "chunk_id", "n_tokens", "chunk_hash")),

    // incremental JOIN-view maintenance (ops.JoinView): after one churn
    // window on BOTH sides, the delta-refreshed view must equal DuckDB's
    // join of the replayed final states — proving the signed-delta
    // algebra produced exactly the recompute.
    "x_join_view_incremental" -> ((s, dir) =>
      joinView(s, dir).read
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal")),

    // LEFT-OUTER join view: dangling fks (rerouted into the void) and
    // dim deletes leave facts in the view NULL-PADDED; only fact deletes
    // remove view rows. Must equal DuckDB's LEFT JOIN of the replayed
    // final states.
    "x_join_view_outer" -> ((s, dir) =>
      joinViewOuter(s, dir).read
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_acctbal")),

    // STAR join view: fact + 2 dims churning in one window, ONE
    // refreshStar call; must equal DuckDB's 3-way join of the replayed
    // final states.
    "x_join_view_star" -> ((s, dir) =>
      starView(s, dir).read
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice", "p_name", "p_retailprice", "s_name", "s_acctbal")),

    // A4 + O1: the flagship compaction — one latest row per key, total
    // order (ts desc, event_id desc). One shuffle on the key.
    "a4_dedup_latest_wins" -> ((s, dir) =>
      Dedup.latestWins(events(s, dir), Seq("user_id"), "ts", Seq("event_id"))
        .select("user_id", "event_id", "ts", "event_type", "value", "props")),

    // S1 + P1/P2/P10 + §2.8 from_json: synthesize the Debezium envelope
    // from events, decode it back through the double-from_json pipeline,
    // normalize the logical Timestamp. Round-trip must equal the source.
    "s1_envelope_decode" -> ((s, dir) => {
      val env = EnvelopeCodec.withMeta(EnvelopeCodec.synthesize(events(s, dir)))
      val fields = DebeziumSchema.parseFields(EnvelopeCodec.eventsSchemaJson)
      EnvelopeCodec.decodePayload(env, fields, primaryKey = Some("event_id"))
        .select(
          col("event_id"), col("user_id"), col("event_type"), col("value"),
          col("props"), col("created_at"),
          col("__op").as("op"), col("__db").as("db"), col("__ts_ms").as("ts_ms"))
    }),

    // S1+K2+K6+K7: the 22-type wide matrix end-to-end — decode → create
    // → merge (insert/update/delete) → evolve (ALTER ADD via the first
    // non-empty batch carrying `discount`). The TABLE carries every
    // mapped native type (long/int/short ints, char/varchar/enum/set/
    // json/4 text widths, decimal(38,2), float, double, two timestamps,
    // date, micro-time long, year int — WideTypesSpec pins the mapping);
    // the BOARD projection re-renders the two hasher-hostile carriers:
    // decimal(38,2) as its canonical full-scale string and float32
    // widened to float64 (exact), because the driver's pandas hasher
    // materializes parquet decimal128 as Decimal but DuckDB DECIMAL as
    // float64 — same value, different representation, red row (r15).
    "s1_envelope_wide_types" -> ((s, dir) =>
      wideTable(s, dir).read.select(
        (wideFieldNames :+ "discount").map {
          case "price"  => col("price").cast("string").as("price")
          case "price1" => col("price1").cast("double").as("price1")
          case n        => col(n)
        }: _*)),

    // K2 + J1: full CDC merge — history half builds the base state, the
    // other half is the incoming batch; deletes drop, updates replace,
    // inserts append. Full-outer join on the key, exactly the
    // copy-on-write plan Iceberg would run for the reference's MERGE INTO.
    "k2_cdc_merge" -> ((s, dir) => {
      val ev = events(s, dir).withColumn("__op", EnvelopeCodec.opFromEventType(col("event_type")))
      val history = ev.filter(col("event_id") % 2 === 0)
      val base = Dedup.latestWins(history, Seq("user_id"), "ts", Seq("event_id"))
        .filter(col("__op") =!= "d")
        .select("user_id", "event_id", "event_type", "value", "ts")
      val batch = ev.filter(col("event_id") % 2 === 1)
        .select("user_id", "event_id", "event_type", "value", "ts", "__op")
      CdcMerge.applyCdcBatch(base, batch, Seq("user_id"), "ts", Seq("event_id"))
    }),

    // K10/S2 + Iceberg column metrics (incremental_kafka_s3_cdc.py:134-136,
    // write.metadata.metrics.default=full): a stats-pruned CdcTable scan.
    // orders lands key-range-clustered in a versioned table once per
    // (session, sfDir); the predicate read opens only the files whose
    // footer min/max can match (scanProfile-verified in FileSkippingSpec)
    // and must equal the DuckDB filter over the raw table exactly.
    "k_stats_pruned_scan" -> ((s, dir) => {
      val (t, _) = skipTable(s, dir)
      t.readWhere(Seq(
        FileSkipping.Range("o_orderkey", Some(1000L), Some(5000L)),
        FileSkipping.Range("o_orderdate",
          Some(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")),
          Some(java.sql.Timestamp.valueOf("1996-12-31 23:59:59")))))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    }),

    // K10 through the Column face: the same stats-pruned scan driven by a
    // plain DSL predicate — range conjuncts, the IS NOT NULL, and the
    // q19-style OR-of-ranges disjunct all prune files
    // ([[FileSkipping.predsOf]] extraction — the disjunct keeps a file
    // only when SOME branch may match it, so the key window between the
    // two branches skips), the `=!=` conjunct is residual-only, and the
    // answer must equal DuckDB's filter exactly. o_note's by-key-range
    // nullability makes the null check actually skip the all-null
    // upper-half files, not just pass through.
    "k_stats_pruned_scan_col" -> ((s, dir) => {
      val (t, _) = skipTable(s, dir)
      t.readFiltered(
        col("o_orderkey").between(2000L, 6000L) &&
          (col("o_orderkey") <= lit(2500L) || col("o_orderkey") >= lit(5500L)) &&
          col("o_note").isNotNull &&
          col("o_orderstatus") =!= "P")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_note")
    }),

    // K10, the bloom face: a point probe on the scattered o_lookup column
    // — min/max ranges keep every file (the column is decorrelated from
    // the clustering by construction), so only the parquet column bloom
    // filters the table writes for it can skip files; the answer must
    // still equal DuckDB's filter over the raw table exactly. The probe
    // key derives from min(o_orderkey) — memoized with the table, so the
    // repeat probe pays no per-invocation aggregation — and exists at
    // every SF.
    "k_bloom_pruned_scan" -> ((s, dir) => {
      val (t, minKey) = skipTable(s, dir)
      val target = (minKey * 2654435761L) % 1000000007L
      t.readFiltered(col("o_lookup") === lit(target))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_lookup")
    }),

    // K10, metadata-only retention: a month-partitioned orders table
    // applies a retention cut — every month before 1998-01 leaves the
    // table as a pure MANIFEST edit (no data file read or written, the
    // DROP PARTITION analogue); the visible content must equal DuckDB's
    // timestamp filter exactly. The data stays on disk for time travel
    // until expiry GC (DeletionVectorSpec-style invariants in
    // CdcTableSpec cover the file-level claims).
    // ANALYZE TABLE from the incremental NDV register sidecars
    // (ops.TableStats): steady-state cost is O(live dirs × columns) of
    // METADATA — zero data I/O — yet the merged registers must equal a
    // one-pass full-scan recompute (copy-on-write keeps per-dir sketches
    // exact; the vectored-delete dirs are rescanned, bounded by the
    // debt). Output is one row per tracked column; `ndv` uses the raw
    // cross-engine estimate formula (HllAggregator.estimateSql).
    "k_analyze_ndv" -> ((s, dir) =>
      ndvTable(s, dir).analyze().withColumnRenamed("column", "col_name")),

    "k_ttl_drop" -> ((s, dir) => ttlTable(s, dir).read
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")),

    // K6/K10 at HOUR granularity: a stats-pruned scan of an hours(ts)
    // table driven by STRING timestamp bounds — one with the SQL ' '
    // separator, one ISO 'T'-separated — exercising scanDirs' hour-key
    // normalization (the r13 wrong-results fix) plus the hour-granular
    // retention cut. Values must equal DuckDB's plain timestamp filter;
    // ts compares as exact epoch-micros on both sides.
    "k_hour_pruned_scan" -> ((s, dir) => hourTable(s, dir).readWhere(Seq(
        FileSkipping.Range("ts",
          Some("2024-01-02 05:30:00"), Some("2024-01-03T11:00:00"))))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))),

    // K10/K2, merge-on-read DELETE: two overlapping vectored deletes (the
    // union must not double-delete) followed by an append whose
    // carried files must keep the vector live — the read equals
    // DuckDB's replay of the same delete-then-append arithmetic. The
    // table rewrites ZERO data files for the deletes (DeletionVectorSpec
    // asserts the file-level invariants; this oracle proves the values).
    "k_dv_delete" -> ((s, dir) => dvTable(s, dir).read),

    // K10, the metadata-aggregate face: COUNT(*), a windowed COUNT and
    // MIN/MAX answered from the commit's stats sidecars alone — the
    // Iceberg/Delta manifest-count analogue. The full count and the
    // min/max fold open ZERO data files at any table size; the windowed
    // count reads only the boundary files the predicate's edges cut
    // through (interior files contribute their recorded row counts) —
    // CdcTableSpec asserts those profiles, this oracle proves the values
    // equal DuckDB's full-scan aggregates exactly.
    "k_metadata_agg" -> ((s, dir) => {
      val (t, _) = skipTable(s, dir)
      val all = t.countWhere(Nil)
      val win = t.countWhere(Seq(FileSkipping.Range("o_orderkey", Some(1000L), Some(5000L))))
      val (lo, hi) = t.minMaxFromStats("o_orderkey")
        .getOrElse(throw new IllegalStateException(
          "metadata min/max must be provable on a freshly committed table"))
      import s.implicits._
      Seq((all, win, lo.asInstanceOf[Long], hi.asInstanceOf[Long]))
        .toDF("cnt_all", "cnt_win", "lo", "hi")
    }),

    // J3 + P5: anti-join restartability — rows whose key is NOT in the
    // already-processed set (the reference's insert_log skip).
    "j3_anti_join_watermark" -> ((s, dir) => {
      val customer = Tables(s, dir, "customer")
      val loaded = events(s, dir).filter(col("event_type") === "signup")
        .select(col("user_id")).distinct()
      customer.join(loaded, customer("c_custkey") === loaded("user_id"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    }),

    // A1 + S2: the min/max bounds probe that sizes the partitioned scan.
    "a1_minmax_bounds" -> ((s, dir) =>
      Tables(s, dir, "orders").agg(
        min(col("o_orderkey")).as("lo"),
        max(col("o_orderkey")).as("hi"),
        count(lit(1)).as("cnt"))),

    // §2.8 scalar functions: regexp_extract of tenant/rds ids from topic
    // strings, epoch arithmetic, conditional defaulting — the reference's
    // add_multitenant_columns over synthesized topics.
    "f_scalar_tenant_extract" -> ((s, dir) =>
      events(s, dir)
        .withColumn("topic",
          concat(lit("source_glaucus7.oms"), (col("user_id") % 3).cast("string"), lit(".events")))
        .select(
          col("event_id"),
          coalesce(regexp_extract(col("topic"), "glaucus(\\d+)", 1).cast("long"), lit(0L)).as("rds_id"),
          coalesce(regexp_extract(col("topic"), "oms(\\d+)", 1).cast("long"), lit(0L)).as("tenant_id"),
          unix_millis(col("ts")).as("ts_epoch_ms"),
          (unix_millis(col("ts")) / lit(1000)).cast("long").as("ts_epoch_s"),
          when(col("value") > 50, "high").otherwise("low").as("value_band"))),

    // S2: the range-partitioned parallel scan (5-way on the PK, the
    // reference's JDBC numPartitions/bounds semantics). Content equals a
    // plain scan — the oracle checks that repartitioning is lossless.
    "s2_parallel_scan" -> ((s, dir) => {
      val snap = new graft.snapshot.Snapshot(s, "/tmp/graft_nolog")
      snap.parallelScan(Tables(s, dir, "orders"), Some("o_orderkey"))
    }),

    // P6/P7/P10 + §2.8 get_json_object: envelope hygiene — null-drop on
    // required meta columns, JSON key extraction from the props payload,
    // typed casts, column drops.
    "p_envelope_hygiene" -> ((s, dir) =>
      events(s, dir)
        .withColumn("k_val", get_json_object(col("props"), "$.k").cast("long"))
        .na.drop(Seq("event_type", "props"))
        .filter(col("k_val").isNotNull)
        .select(
          col("event_id"),
          col("k_val"),
          col("value").cast("decimal(12,2)").cast("string").as("value_str"),
          col("user_id").cast("int").cast("long").as("user_id"))),

    // Sessionization (gaps-and-islands): split each user's event stream
    // into sessions at >2h silence, one pass + one shuffle on the key.
    // The batch twin of streaming session windows.
    "x_sessionization" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("events")
      s.sql(
        """WITH gaps AS (
          |  SELECT user_id, event_id, ts, value,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |           OR unix_millis(ts) - unix_millis(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 7200000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events),
          |sess AS (
          |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
          |  FROM gaps)
          |SELECT user_id, sess_no, count(*) AS n_events,
          |  min(ts) AS sess_start, max(ts) AS sess_end,
          |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sess_value
          |FROM sess GROUP BY user_id, sess_no""".stripMargin)
    }),

    // The BATCH TWIN of the stateful streaming sessionizer
    // (streaming.StreamOps.sessionize): same 2-hour gap rule, same output
    // schema (user_id, start_ms, end_ms, n_events) in epoch millis — so
    // the flatMapGroupsWithState session definition is provable against
    // the DuckDB oracle here, and StreamOpsSpec proves the streamed
    // output equals THIS query on the same events. Same gaps-and-islands
    // plan as x_sessionization: one shuffle on user_id.
    "x_session_stateful_twin" -> ((s, dir) => {
      events(s, dir).createOrReplaceTempView("events")
      s.sql(
        """WITH gaps AS (
          |  SELECT user_id, event_id, unix_millis(ts) AS tms,
          |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
          |           OR unix_millis(ts) - unix_millis(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 7200000
          |         THEN 1 ELSE 0 END AS new_sess
          |  FROM events),
          |sess AS (
          |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tms, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
          |  FROM gaps)
          |SELECT user_id, CAST(min(tms) AS BIGINT) AS start_ms,
          |  CAST(max(tms) AS BIGINT) AS end_ms, count(*) AS n_events
          |FROM sess GROUP BY user_id, sess_no""".stripMargin)
    }),

    // S3 + P4: metadata-style pushdown projection — concat/substr
    // projections with a regex filter and negation, the
    // information_schema query shapes of the snapshot path.
    "s3_metadata_projection" -> ((s, dir) => {
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region")
      nation.join(region, nation("n_regionkey") === region("r_regionkey"))
        .filter(col("n_name").rlike("NATION_1\\d$"))
        .filter(!col("r_name").rlike("^EU"))
        .select(
          concat(col("r_name"), lit("."), col("n_name")).as("qualified"),
          substring(col("n_name"), 1, 3).as("prefix"),
          lower(col("n_name")).as("sanitized"))
    })
  )

  def oracle: Map[String, String] = Map(
    "a4_dedup_latest_wins" ->
      """SELECT user_id, event_id, ts, event_type, value, props
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1""".stripMargin,

    "s1_envelope_decode" ->
      s"""SELECT event_id, user_id, event_type, value, props,
         |  date_trunc('milliseconds', ts) AS created_at,
         |  $opSql AS op,
         |  'oms' || CAST(user_id % 2 + 1 AS VARCHAR) AS db,
         |  date_trunc('milliseconds', ts) AS ts_ms
         |FROM events""".stripMargin,

    "s1_envelope_wide_types" ->
      """SELECT
        |  o_orderkey AS invoice_id,
        |  CAST(o_orderkey % 1000 AS INTEGER) AS item_id,
        |  CAST(o_orderkey % 30000 AS SMALLINT) AS smallint_col,
        |  CAST(o_orderkey % 8000000 AS INTEGER) AS mediumint_col,
        |  CAST(o_orderkey % 100 AS SMALLINT) AS quantity,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'UPDATED' ELSE o_orderpriority END AS category,
        |  o_orderstatus AS gender,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(20,2)) AS DECIMAL(38,2)) AS VARCHAR) AS price,
        |  CAST(CAST(o_orderkey % 900 + 0.25 AS REAL) AS DOUBLE) AS price1,
        |  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS price2,
        |  date_trunc('second', o_orderdate) AS order_date,
        |  date_trunc('milliseconds', o_orderdate) AS current_dt,
        |  CASE CAST(o_orderkey % 3 AS INTEGER) WHEN 0 THEN 'Free' WHEN 1 THEN '3-Day' ELSE '2-Day' END AS shipping_type,
        |  '{"k":' || CAST(o_orderkey % 7 AS VARCHAR) || '}' AS json_col,
        |  CASE CAST(o_orderkey % 3 AS INTEGER) WHEN 0 THEN 'java' WHEN 1 THEN 'java,python' ELSE 'c++' END AS set_col,
        |  substr(o_orderpriority, 1, 3) AS tinytext_col,
        |  o_orderpriority || ' txt' AS text_col,
        |  repeat(o_orderstatus, 5) AS mediumtext_col,
        |  repeat(o_orderpriority, 3) AS longtext_col,
        |  DATE '1970-01-01' + CAST(o_orderkey % 15000 AS INTEGER) AS dob,
        |  (o_orderkey % 86400) * 1000000 AS start_to_work,
        |  CAST(1990 + o_orderkey % 30 AS INTEGER) AS year_col,
        |  CASE WHEN o_orderkey % 17 = 3 THEN CAST(o_orderkey % 5 AS DOUBLE) * 1.5 END AS discount
        |FROM orders WHERE o_orderkey % 13 <> 0""".stripMargin,

    "k2_cdc_merge" ->
      s"""WITH ops AS (SELECT *, $opSql AS op FROM events),
         |base AS (
         |  SELECT user_id, event_id, event_type, value, ts FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM ops WHERE event_id % 2 = 0)
         |  WHERE rn = 1 AND op <> 'd'),
         |upd AS (
         |  SELECT user_id, event_id, event_type, value, ts, op FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM ops WHERE event_id % 2 = 1)
         |  WHERE rn = 1)
         |SELECT coalesce(u.user_id, b.user_id) AS user_id,
         |  CASE WHEN u.op IS NOT NULL THEN u.event_id ELSE b.event_id END AS event_id,
         |  CASE WHEN u.op IS NOT NULL THEN u.event_type ELSE b.event_type END AS event_type,
         |  CASE WHEN u.op IS NOT NULL THEN u.value ELSE b.value END AS value,
         |  CASE WHEN u.op IS NOT NULL THEN u.ts ELSE b.ts END AS ts
         |FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id
         |WHERE u.op IS NULL OR u.op <> 'd'""".stripMargin,

    "k_stats_pruned_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000
        |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
        |                      AND TIMESTAMP '1996-12-31 23:59:59'""".stripMargin,

    "k_stats_pruned_scan_col" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_note FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        |    CASE WHEN o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 2
        |         THEN o_orderpriority END AS o_note
        |  FROM orders)
        |WHERE o_orderkey BETWEEN 2000 AND 6000
        |  AND (o_orderkey <= 2500 OR o_orderkey >= 5500)
        |  AND o_note IS NOT NULL AND o_orderstatus <> 'P'""".stripMargin,

    "k_ttl_drop" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    // micros-exact bounds on both sides: the engine stores ts floored to
    // micros, so the oracle compares epoch_us (truncation == the floor)
    "k_hour_pruned_scan" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |WHERE epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-02 05:30:00')
        |  AND epoch_us(ts) <= epoch_us(TIMESTAMP '2024-01-03 11:00:00')""".stripMargin,

    "k_analyze_ndv" ->
      """WITH rows_ AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_custkey % 7 = 0 AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00')
        |    AND NOT (o_orderkey % 11 = 2 AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00')),
        |vals AS (
        |  SELECT 'o_custkey' AS col_name, o_custkey::VARCHAR AS v FROM rows_
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM rows_
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM rows_),
        |hh AS (
        |  SELECT col_name, ('0x' || substr(md5(v),1,15))::BIGINT AS hv
        |  FROM vals WHERE v IS NOT NULL),
        |r AS (
        |  SELECT col_name, hv % 256 AS bucket,
        |    max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
        |  FROM hh GROUP BY 1, 2),
        |b AS (
        |  SELECT c.col_name, gs.bucket
        |  FROM (SELECT DISTINCT col_name FROM vals) c,
        |       (SELECT unnest(generate_series(0, 255)) AS bucket) gs),
        |reg AS (
        |  SELECT b.col_name, coalesce(r.rho, 0) AS rho
        |  FROM b LEFT JOIN r ON b.col_name = r.col_name AND b.bucket = r.bucket),
        |s AS (
        |  SELECT col_name, CAST(SUM(1::BIGINT << (53 - rho)) AS BIGINT) AS hll_sum,
        |    CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS INT) AS hll_zeros
        |  FROM reg GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM rows_)
        |SELECT col_name, n_rows, hll_sum, hll_zeros,
        |  CAST(FLOOR(0.7213 / (1 + 1.079 / 256) * 256 * 256 * 9007199254740992 / CAST(hll_sum AS DOUBLE)) AS BIGINT) AS ndv
        |FROM s CROSS JOIN n""".stripMargin,

    "k_dv_delete" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders)
        |SELECT * FROM base
        |WHERE NOT (o_orderkey BETWEEN 2000 AND 4000) AND NOT (o_orderkey % 10 = 3)
        |UNION ALL
        |SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM base WHERE o_orderkey % 13 = 5""".stripMargin,

    "k_metadata_agg" ->
      """SELECT count(*) AS cnt_all,
        |  count(*) FILTER (WHERE o_orderkey BETWEEN 1000 AND 5000) AS cnt_win,
        |  min(o_orderkey) AS lo, max(o_orderkey) AS hi
        |FROM orders""".stripMargin,

    "x_join_view_incremental" ->
      s"""WITH fact AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 < 6 AND $churnWinSql THEN o_totalprice * 1.1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE NOT (o_orderkey % 10 IN (6, 7) AND $churnWinSql)
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 IN (8, 9) AND $churnWinSql
        |),
        |dim AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer
        |)
        |SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, d.c_name, d.c_acctbal
        |FROM fact f JOIN dim d ON f.o_custkey = d.c_custkey""".stripMargin,

    "x_derived_view_incremental" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 < 3
        |         THEN array_to_string(list_slice(string_split_regex(text, '\s+'), 1, 60), ' ')
        |         WHEN doc_id % 10 IN (3, 4) THEN text || ' ' || text
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 NOT IN (5, 6)
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id % 10 IN (8, 9)
        |),
        |w AS (SELECT doc_id, string_split_regex(text, '\s+') AS words FROM src),
        |c AS (
        |  SELECT doc_id, words,
        |    unnest(generate_series(0, (len(words) - 1) // 48)) AS chunk_id
        |  FROM w)
        |SELECT doc_id, chunk_id,
        |  len(list_slice(words, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS n_tokens,
        |  md5(array_to_string(list_slice(words, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')) AS chunk_hash
        |FROM c""".stripMargin,

    "x_join_view_outer" ->
      s"""WITH fact AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 < 3 AND $churnWinSql THEN o_custkey + 900000000
        |         ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 10 IN (3, 4) AND $churnWinSql THEN o_totalprice * 1.2
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE NOT (o_orderkey % 10 IN (5, 6) AND $churnWinSql)
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 IN (8, 9) AND $churnWinSql
        |),
        |dim AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal * 2
        |         ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 7 <> 0
        |)
        |SELECT f.o_orderkey, f.o_custkey, f.o_totalprice, d.c_name, d.c_acctbal
        |FROM fact f LEFT JOIN dim d ON f.o_custkey = d.c_custkey""".stripMargin,

    "x_join_view_star" ->
      """WITH fact AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CASE WHEN (l_orderkey + l_linenumber) % 10 < 5
        |              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |              AND l_shipdate <  TIMESTAMP '1996-03-01 00:00:00'
        |         THEN l_extendedprice * 1.1
        |         ELSE l_extendedprice END AS l_extendedprice
        |  FROM lineitem
        |  WHERE NOT ((l_orderkey + l_linenumber) % 10 IN (5, 6)
        |             AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |             AND l_shipdate <  TIMESTAMP '1996-03-01 00:00:00')
        |),
        |p AS (
        |  SELECT p_partkey, p_name,
        |    CASE WHEN p_partkey % 3 = 0 THEN p_retailprice * 1.1
        |         ELSE p_retailprice END AS p_retailprice
        |  FROM part WHERE p_partkey % 11 <> 0
        |),
        |s AS (
        |  SELECT s_suppkey, s_name,
        |    CASE WHEN s_suppkey % 4 = 0 THEN s_acctbal * 2
        |         ELSE s_acctbal END AS s_acctbal
        |  FROM supplier
        |)
        |SELECT f.l_orderkey, f.l_linenumber, f.l_partkey, f.l_suppkey,
        |  f.l_extendedprice, p.p_name, p.p_retailprice, s.s_name, s.s_acctbal
        |FROM fact f
        |JOIN p ON f.l_partkey = p.p_partkey
        |JOIN s ON f.l_suppkey = s.s_suppkey""".stripMargin,

    "k_bloom_pruned_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  (o_orderkey * 2654435761) % 1000000007 AS o_lookup
        |FROM orders
        |WHERE (o_orderkey * 2654435761) % 1000000007 =
        |      (SELECT (min(o_orderkey) * 2654435761) % 1000000007 FROM orders)""".stripMargin,

    "j3_anti_join_watermark" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey NOT IN (SELECT user_id FROM events WHERE event_type = 'signup')""".stripMargin,

    "a1_minmax_bounds" ->
      "SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi, count(*) AS cnt FROM orders",

    "s2_parallel_scan" ->
      "SELECT * FROM orders",

    "x_sessionization" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 7200000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
        |  FROM gaps)
        |SELECT user_id, sess_no, count(*) AS n_events,
        |  min(ts) AS sess_start, max(ts) AS sess_end,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sess_value
        |FROM sess GROUP BY user_id, sess_no""".stripMargin,

    "x_session_stateful_twin" ->
      """WITH gaps AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS tms,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 7200000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
        |  FROM gaps)
        |SELECT user_id, CAST(min(tms) AS BIGINT) AS start_ms,
        |  CAST(max(tms) AS BIGINT) AS end_ms, count(*) AS n_events
        |FROM sess GROUP BY user_id, sess_no""".stripMargin,

    "p_envelope_hygiene" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS value_str,
        |  CAST(CAST(user_id AS INTEGER) AS BIGINT) AS user_id
        |FROM events
        |WHERE event_type IS NOT NULL AND props IS NOT NULL
        |  AND json_extract_string(props, '$.k') IS NOT NULL""".stripMargin,

    "f_scalar_tenant_extract" ->
      """SELECT event_id,
        |  CAST(7 AS BIGINT) AS rds_id,
        |  user_id % 3 AS tenant_id,
        |  epoch_ms(ts) AS ts_epoch_ms,
        |  CAST(floor(epoch_ms(ts) / 1000) AS BIGINT) AS ts_epoch_s,
        |  CASE WHEN value > 50 THEN 'high' ELSE 'low' END AS value_band
        |FROM events""".stripMargin,

    "s3_metadata_projection" ->
      """SELECT r_name || '.' || n_name AS qualified,
        |  substring(n_name, 1, 3) AS prefix,
        |  lower(n_name) AS sanitized
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |WHERE regexp_matches(n_name, 'NATION_1\d$') AND NOT regexp_matches(r_name, '^EU')""".stripMargin
  )
}
