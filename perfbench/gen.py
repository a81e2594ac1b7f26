"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same rows and byte-identical parquet files. The benchmark owns its
Debezium encoder (it never calls the engine's envelope synthesizers), so
an encode bug in the engine cannot cancel a decode bug.

Wire format (the reference's mysql-connector.json): JSON converter with
the Connect schema embedded in every value, `delete.handling.mode=rewrite`
(flat payload plus a `__deleted` flag), `decimal.handling.mode=double`,
and the positional headers `table, op, source.ts_ms, source.db`.
"""
import json
import os
import random
import datetime
import functools

import pyarrow as pa
import pyarrow.parquet as pq

from model import canon, row_hash, table_hash

ENVELOPE_SCHEMA = pa.schema([
    ("key", pa.string()),
    ("value", pa.string()),
    ("headers", pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))),
    ("topic", pa.string()),
])

TENANTS = ("oms1", "oms2")
# disjoint sale_id ranges per tenant: the model never needs a tie-break
TENANT_KEY_BASE = {"oms1": 1_000_000_000, "oms2": 2_000_000_000}
BASE_TS_MS = 1_700_000_000_000
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)

# (field, connect type, logical name, canonical kind used by the table hash)
SALES_FIELDS = [
    ("sale_id", "int64", None, "int"),
    ("item_id", "int32", None, "int"),
    ("price", "float64", None, "cents"),
    ("updated_at", "int64", "io.debezium.time.Timestamp", "ts_ms"),
]

# The reference's 22-column MySQL type matrix (python_produce_data.py).
# DECIMAL arrives as float64 because the connector sets
# decimal.handling.mode=double.
WIDE_FIELDS = [
    ("invoice_id", "int64", None, "int"),
    ("item_id", "int32", None, "int"),
    ("smallint_col", "int16", None, "int"),
    ("mediumint_col", "int32", None, "int"),
    ("quantity", "int16", None, "int"),
    ("category", "string", None, "str"),
    ("gender", "string", None, "str"),
    ("price", "float64", None, "cents"),
    ("price1", "float32", None, "cents"),
    ("price2", "float64", None, "cents"),
    ("order_date", "string", "io.debezium.time.ZonedTimestamp", "ts_iso"),
    ("current_dt", "int64", "io.debezium.time.Timestamp", "ts_ms"),
    ("shipping_type", "string", "io.debezium.data.Enum", "str"),
    ("json_col", "string", "io.debezium.data.Json", "str"),
    ("set_col", "string", "io.debezium.data.EnumSet", "str"),
    ("tinytext_col", "string", None, "str"),
    ("text_col", "string", None, "str"),
    ("mediumtext_col", "string", None, "str"),
    ("longtext_col", "string", None, "str"),
    ("dob", "int32", "io.debezium.time.Date", "date_days"),
    ("start_to_work", "int64", "io.debezium.time.MicroTime", "int"),
    ("year_col", "int32", "io.debezium.time.Year", "int"),
]

CATEGORIES = ("Garden", "Kitchen", "Office", "Household")
SHIPPING = ("Free", "3-Day", "2-Day")
SET_TYPES = ("java", "c++", "python")
WORDS = ("data", "lake", "merge", "stream", "table", "spark", "change", "event")


def connect_schema(fields, key):
    out = []
    for name, typ, logical, _ in fields:
        f = {"type": typ, "optional": name != key, "field": name}
        if logical:
            f["name"] = logical
            f["version"] = 1
        out.append(f)
    out.append({"type": "string", "optional": True, "field": "__deleted"})
    return {"type": "struct", "fields": out, "optional": False}


class Encoder:
    """Debezium envelope rows for one table."""

    def __init__(self, table, fields, key):
        self.table, self.fields, self.key = table, fields, key
        self.schema_json = json.dumps(connect_schema(fields, key), separators=(",", ":"))

    def row(self, tenant, op, ts_ms, rec):
        payload = {name: rec[name] for name, *_ in self.fields}
        payload["__deleted"] = "true" if op == "d" else "false"
        value = ('{"schema":' + self.schema_json + ',"payload":'
                 + json.dumps(payload, separators=(",", ":")) + "}")
        headers = [("table", self.table), ("op", op),
                   ("source.ts_ms", str(ts_ms)), ("source.db", tenant)]
        return (json.dumps({self.key: rec[self.key]}, separators=(",", ":")), value,
                [{"key": k, "value": v.encode()} for k, v in headers],
                f"source_glaucus1.{tenant}.{self.table}")


def write_envelopes(path, rows):
    cols = list(zip(*rows)) if rows else [[], [], [], []]
    t = pa.Table.from_arrays([pa.array(list(c), type=f.type)
                              for c, f in zip(cols, ENVELOPE_SCHEMA)], schema=ENVELOPE_SCHEMA)
    pq.write_table(t, path, compression="snappy")


# ---------------------------------------------------------------- cdc_ingest

def _sale(rng, key, ts_ms):
    return {"sale_id": key, "item_id": rng.randrange(1, 5000),
            "price": rng.randrange(100, 100000) / 100.0, "updated_at": ts_ms}


def _wide(rng, key, ts_ms):
    day = rng.randrange(7300, 20000)
    zoned = EPOCH + datetime.timedelta(seconds=rng.randrange(0, 1_700_000_000))
    n_set = rng.randrange(1, 4)
    return {
        "invoice_id": key, "item_id": rng.randrange(1, 100000),
        "smallint_col": rng.randrange(-32768, 32768),
        "mediumint_col": rng.randrange(-8388608, 8388608),
        "quantity": rng.randrange(-128, 128),
        "category": rng.choice(CATEGORIES), "gender": rng.choice("MF"),
        "price": rng.randrange(0, 10**9) / 100.0,
        "price1": rng.randrange(0, 99999) / 100.0,
        "price2": rng.randrange(0, 10**8) / 100.0,
        "order_date": zoned.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "current_dt": rng.randrange(0, 1_700_000_000) * 1000 + rng.randrange(1000),
        "shipping_type": rng.choice(SHIPPING),
        "json_col": json.dumps({"k": rng.randrange(100), "w": rng.choice(WORDS)}),
        "set_col": ",".join(sorted(rng.sample(SET_TYPES, n_set))),
        "tinytext_col": rng.choice(WORDS),
        "text_col": " ".join(rng.choice(WORDS) for _ in range(6)),
        "mediumtext_col": " ".join(rng.choice(WORDS) for _ in range(12)),
        "longtext_col": " ".join(rng.choice(WORDS) for _ in range(24)),
        "dob": day, "start_to_work": rng.randrange(0, 86_400_000_000),
        "year_col": rng.randrange(1970, 2030),
    }


class CdcLog:
    """The generated change log plus the latest-wins model of it."""

    def __init__(self, seed, sales_rows, wide_rows, cycles, events_per_cycle):
        self.rng = random.Random(f"cdc:{seed}")
        self.sales = Encoder("sales", SALES_FIELDS, "sale_id")
        self.wide = Encoder("sales_wide", WIDE_FIELDS, "invoice_id")
        self.ts = BASE_TS_MS
        rng = self.rng
        self.live = {t: [] for t in TENANTS}     # live sale_ids, fixed hot order
        # seeded start inside each tenant's own range
        self.next_key = {t: TENANT_KEY_BASE[t] + rng.randrange(10**8) for t in TENANTS}
        wide_base = {t: TENANT_KEY_BASE[t] + rng.randrange(10**8) for t in TENANTS}
        self.sales_backfill, self.wide_backfill = [], []
        self.cycles = []                         # list of lists of (tenant, op, ts, rec)
        for i in range(sales_rows):
            t = TENANTS[i % 2]
            self.sales_backfill.append((t, "r", self._tick(), _sale(rng, self._fresh(t), self.ts)))
        for i in range(wide_rows):
            t = TENANTS[i % 2]
            self.wide_backfill.append((t, "r", self._tick(), _wide(rng, wide_base[t] + i, self.ts)))
        for _ in range(cycles):
            self.cycles.append([self._event() for _ in range(events_per_cycle)])

    def _tick(self):
        # strictly increasing across the whole log: distinct within a key
        self.ts += 1
        return self.ts

    def _fresh(self, tenant):
        k = self.next_key[tenant]
        self.next_key[tenant] += 1
        self.live[tenant].append(k)
        return k

    def _pick(self, tenant):
        live = self.live[tenant]
        if self.rng.random() < 0.5:
            # Zipf-skewed reuse of the hottest keys: repeats inside a cycle
            r = min(int(self.rng.paretovariate(1.1)) - 1, len(live) - 1)
            return r
        return self.rng.randrange(len(live))

    def _event(self):
        rng, tenant = self.rng, self.rng.choice(TENANTS)
        p = rng.random()
        ts = self._tick()
        if p < 0.2:
            return (tenant, "c", ts, _sale(rng, self._fresh(tenant), ts))
        live = self.live[tenant]
        i = self._pick(tenant)
        key = live[i]
        if p < 0.3:
            live[i] = live[-1]
            live.pop()
            return (tenant, "d", ts, _sale(rng, key, ts))
        return (tenant, "u", ts, _sale(rng, key, ts))

    def write_backfill(self, path_sales, path_wide):
        write_envelopes(path_sales, [self.sales.row(*e) for e in self.sales_backfill])
        write_envelopes(path_wide, [self.wide.row(*e) for e in self.wide_backfill])

    def write_cycle(self, i, path):
        write_envelopes(path, [self.sales.row(*e) for e in self.cycles[i]])

    def model(self, n_cycles):
        """Latest-wins final state of `sales` and `sales_wide` after the
        backfill and the first `n_cycles` cycles: key -> (tenant, ts, rec)."""
        sales = {}
        for ev in self.sales_backfill:
            sales[ev[3]["sale_id"]] = ev
        for cyc in self.cycles[:n_cycles]:
            for ev in cyc:
                if ev[1] == "d":
                    sales.pop(ev[3]["sale_id"], None)
                else:
                    sales[ev[3]["sale_id"]] = ev
        wide = {ev[3]["invoice_id"]: ev for ev in self.wide_backfill}
        return sales, wide


def meta_cells(ev):
    """Pipeline columns every ingested row carries: (__ts_ms as epoch
    micros, __tenant_id, __rds_id)."""
    tenant, _, ts, _ = ev
    return [ts * 1000, int(tenant[3:]), 1]


META_KINDS = [("__ts_ms", "ts_us"), ("__tenant_id", "int"), ("__rds_id", "int")]


def table_columns(fields):
    kinds = [(name, kind) for name, _, _, kind in fields]
    return kinds + META_KINDS


# ---------------------------------------------------------------- lake_mixed

ORDER_STATUS = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
FIRST_DAY = datetime.date(1995, 1, 1)
N_DAYS = 2404  # 1995-01-01 .. 2001-08-01: 80 months, like the sf tables
ORDER_COLS = [("o_orderkey", "int"), ("o_custkey", "int"), ("o_orderstatus", "str"),
              ("o_totalprice", "cents"), ("o_orderdate", "ts_us"),
              ("o_orderpriority", "str")]


@functools.lru_cache(maxsize=None)
def day_us(d):
    return (FIRST_DAY + datetime.timedelta(days=d) - EPOCH.date()).days * 86_400_000_000


LATE_MONTHS = 4


@functools.lru_cache(maxsize=None)
def month_of_us(us):
    d = (EPOCH + datetime.timedelta(microseconds=us)).date()
    return d.year * 12 + d.month - 1


def month_of(day):
    d = FIRST_DAY + datetime.timedelta(days=day)
    return d.year * 12 + d.month - 1


def _order(rng, key, n_cust, day=None):
    r = rng.random
    return {"o_orderkey": key, "o_custkey": int(r() * n_cust),
            "o_orderstatus": ORDER_STATUS[int(r() * 3)],
            "o_totalprice": (100000 + int(r() * 49900000)) / 100.0,
            "o_orderdate": day_us(int(r() * N_DAYS) if day is None else day),
            "o_orderpriority": PRIORITIES[int(r() * 5)]}


def write_orders(path, rows, ts_us, with_op):
    cols = {c: [r[c] for r in rows] for c, _ in ORDER_COLS}
    arrays = [pa.array(cols["o_orderkey"], pa.int64()), pa.array(cols["o_custkey"], pa.int64()),
              pa.array(cols["o_orderstatus"], pa.string()),
              pa.array(cols["o_totalprice"], pa.float64()),
              pa.array(cols["o_orderdate"], pa.timestamp("us", tz="UTC")),
              pa.array(cols["o_orderpriority"], pa.string())]
    names = [c for c, _ in ORDER_COLS] + ["__ts"]
    arrays.append(pa.array([ts_us] * len(rows), pa.timestamp("us", tz="UTC")))
    if with_op:
        arrays.append(pa.array([r["__op"] for r in rows], pa.string()))
        names.append("__op")
    pq.write_table(pa.Table.from_arrays(arrays, names=names), path, compression="snappy")


def order_cells(row):
    return [canon(kind, row[c]) for c, kind in ORDER_COLS]


class LakeLog:
    """sf0.1-sized `orders` plus pre-generated rounds of lake operations,
    each with the answers the model expects. Table hashes are tracked
    incrementally: (count, sum of row hashes) is additive."""

    def __init__(self, seed, n_orders, rounds, merge_rows=300):
        rng = self.rng = random.Random(f"lake:{seed}")
        n_cust = max(1, n_orders // 10)
        self.base = [_order(rng, k, n_cust) for k in range(n_orders)]
        state = {r["o_orderkey"]: r for r in self.base}
        rh = {k: row_hash(order_cells(r)) for k, r in state.items()}
        digest = [len(state), sum(rh.values())]
        self.base_hash = list(digest)
        next_key = n_orders
        last_day = N_DAYS - 1
        recent = [d for d in range(N_DAYS) if month_of(d) >= month_of(last_day) - 2]
        self.rounds = []

        def put(k, row):
            if k in state:
                drop(k)
            state[k] = row
            rh[k] = row_hash(order_cells(row))
            digest[0] += 1
            digest[1] += rh[k]

        def drop(k):
            del state[k]
            digest[0] -= 1
            digest[1] -= rh.pop(k)

        for i in range(rounds):
            keys = list(state)
            rnd = {"hash_before": list(digest), "version_back": rng.randrange(1, 3)}
            lookups = [rng.choice(keys) for _ in range(3)] + [n_orders * 10 + i]
            rnd["lookups"] = [(k, order_cells(state[k]) if k in state else None) for k in lookups]
            rnd["scans"] = []
            for _ in range(2):
                m = rng.randrange(month_of(0), month_of(last_day) + 1)
                lo = day_us(next(d for d in range(N_DAYS) if month_of(d) >= m))
                hi = day_us(max(d for d in range(N_DAYS) if month_of(d) <= m + 2))
                hit = [r for r in state.values() if lo <= r["o_orderdate"] <= hi]
                rnd["scans"].append((lo, hi, [len(hit), sum(int(round(r["o_totalprice"] * 100)) for r in hit)]))
            recent_keys = [k for k in keys if state[k]["o_orderdate"] >= day_us(recent[0])]
            # late updates: 20% of the batch lands in a few older months
            late = set(rng.sample(range(month_of(0), month_of(recent[0])), LATE_MONTHS))
            late_keys = [k for k in keys if month_of_us(state[k]["o_orderdate"]) in late]
            merge, touched = [], set()
            for _ in range(merge_rows):
                p = rng.random()
                if p < 0.1:                     # insert into the latest months
                    row = _order(rng, next_key, n_cust, rng.choice(recent))
                    next_key += 1
                    row["__op"] = "c"
                else:
                    k = rng.choice(recent_keys if rng.random() < 0.8 else late_keys)
                    if k in touched:
                        continue
                    touched.add(k)
                    row = dict(state[k])
                    row["__op"] = "d" if p < 0.15 else "u"
                    if row["__op"] == "u":
                        row["o_totalprice"] = rng.randrange(100000, 50000000) / 100.0
                        if p < 0.17:            # moves the row to another month
                            row["o_orderdate"] = day_us(rng.randrange(N_DAYS))
                merge.append(row)
            feed = []
            for row in merge:
                k = row["o_orderkey"]
                new = {c: row[c] for c, _ in ORDER_COLS}
                if row["__op"] == "d":
                    feed.append(["delete"] + order_cells(state[k]))
                    drop(k)
                elif k in state:
                    feed.append(["update_preimage"] + order_cells(state[k]))
                    feed.append(["update_postimage"] + order_cells(new))
                    put(k, new)
                else:
                    feed.append(["insert"] + order_cells(new))
                    put(k, new)
            rnd["merge"], rnd["merge_feed"], rnd["hash_after_merge"] = merge, table_hash(feed), list(digest)
            live = list(state)
            rnd["deletes"] = sorted({rng.choice(live) for _ in range(3)})
            feed = []
            for k in rnd["deletes"]:
                feed.append(["delete"] + order_cells(state[k]))
                drop(k)
            rnd["delete_feed"], rnd["hash_after_delete"] = table_hash(feed), list(digest)
            self.rounds.append(rnd)


# -------------------------------------------------------------- board_slice

DOC_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
             "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
             "the", "value", "vector", "window")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def write_board_tables(seed, out_dir, sf=0.01):
    """The ten tables the query packs read, with the schemas and value
    domains of the TPC-H-ish test tables, sized by `sf`."""
    rng = random.Random(f"board:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_orders, n_line = int(1500000 * sf), int(6000000 * sf)
    n_events, n_docs, n_vec = int(1000000 * sf), int(50000 * sf), 500
    ts = pa.timestamp("us")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")

    def money(lo, hi):
        return rng.randrange(int(lo * 100), int(hi * 100)) / 100.0

    def day(lo, span):
        return datetime.datetime(lo, 1, 1) + datetime.timedelta(days=rng.randrange(span))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": pa.array([money(-999.99, 9999.99) for _ in range(n_cust)]),
        "c_mktsegment": pa.array([rng.choice(SEGMENTS) for _ in range(n_cust)])})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": pa.array([money(-999.99, 9999.99) for _ in range(n_supp)])})
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)]),
        "p_type": pa.array([rng.choice(P_TYPES) for _ in range(n_part)]),
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10.0 for i in range(n_part)])})
    write("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
        "o_orderstatus": pa.array([rng.choice(ORDER_STATUS) for _ in range(n_orders)]),
        "o_totalprice": pa.array([money(1000, 500000) for _ in range(n_orders)]),
        "o_orderdate": pa.array([day(1995, N_DAYS) for _ in range(n_orders)], ts),
        "o_orderpriority": pa.array([rng.choice(PRIORITIES) for _ in range(n_orders)])})
    line = {"l_orderkey": [], "l_partkey": [], "l_suppkey": [], "l_linenumber": [],
            "l_quantity": [], "l_extendedprice": [], "l_discount": [], "l_tax": [],
            "l_returnflag": [], "l_linestatus": [], "l_shipdate": []}
    for _ in range(n_line):
        line["l_orderkey"].append(rng.randrange(n_orders))
        line["l_partkey"].append(rng.randrange(n_part))
        line["l_suppkey"].append(rng.randrange(n_supp))
        line["l_linenumber"].append(rng.randrange(1, 8))
        line["l_quantity"].append(float(rng.randrange(1, 51)))
        line["l_extendedprice"].append(money(900, 105000))
        line["l_discount"].append(rng.randrange(11) / 100.0)
        line["l_tax"].append(rng.randrange(9) / 100.0)
        line["l_returnflag"].append(rng.choice("RAN"))
        line["l_linestatus"].append(rng.choice("OF"))
        line["l_shipdate"].append(day(1995, 2500))
    line["l_linenumber"] = pa.array(line["l_linenumber"], pa.int32())
    line["l_shipdate"] = pa.array(line["l_shipdate"], ts)
    write("lineitem", line)
    t0 = datetime.datetime(2024, 1, 1)
    write("events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(sorted(t0 + datetime.timedelta(microseconds=rng.randrange(30 * 86_400_000_000))
                              for _ in range(n_events)), ts),
        "user_id": pa.array([rng.randrange(max(1, n_events // 66)) for _ in range(n_events)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n_events)]),
        "value": pa.array([money(0.01, 490.03) for _ in range(n_events)]),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)])})
    texts = [" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randrange(10, 110)))
             for _ in range(n_docs)]
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    write("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array([[rng.gauss(0, 0.15) for _ in range(64)] for _ in range(n_vec)],
                              pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vec)], pa.int32())})
