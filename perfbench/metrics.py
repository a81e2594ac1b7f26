"""Turn a harness result into the benchmark's metrics.

End-to-end metrics come from untraced runs and exist in every workload.
Per-layer metrics come from traced runs; a layer a workload does not
exercise reports 0 there.
"""
from statistics import fmean

from model import median, percentile

CDC_PHASES = [("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch"),
              ("query_planning_ms", "queryPlanning"), ("add_batch_ms", "addBatch"),
              ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets")]
SPARK = ["jobs", "sql_executions", "planning_ms", "task_ms", "shuffle_bytes", "spill_bytes"]
LAKE_KINDS = ["lookup", "range_scan", "read_version", "changes_between", "merge", "delete", "maintain"]
SPAN_LAYERS = ["bench", "cdc", "ops.CdcTable", "ops.TableIO", "queries"]


def setup_s(res):
    """Session start and warm-up, plus the median of the repeated base builds."""
    return (res["session_s"] + median(res["build_s"])
            + res.get("warmup_s", 0.0) + res.get("warm_pass_s", 0.0))


def op_key(op):
    return op.get("query", op["kind"])


def end_to_end(workload, res):
    """Means, not medians: a run holds ~10-20 ops of up to 14 kinds, and a
    median of so few, mixed samples jumps between kinds."""
    by_key = {}
    for op in res["ops"]:
        by_key.setdefault(op_key(op), []).append(op["ms"])
    return {
        "setup_s": (setup_s(res), "s"),
        "op_ms_mean": (fmean(op["ms"] for op in res["ops"]), "ms"),
        "round_ms": (sum(fmean(v) for v in by_key.values()), "ms"),
    }


def span_self_ms(spans):
    """Self time per layer: a span's duration minus its children's."""
    child = [0.0] * len(spans)
    for name, start, end, parent, _ in spans:
        if parent >= 0:
            child[parent] += (end - start) / 1e6
    out = {layer: 0.0 for layer in SPAN_LAYERS}
    for i, (name, start, end, _, _) in enumerate(spans):
        layer = next((l for l in SPAN_LAYERS if name == l or name.startswith(l + ".")), None)
        if layer:
            out[layer] += (end - start) / 1e6 - child[i]
    return out


def overhead_ms(ops):
    """Instrumented minus uninstrumented op time, per op key, weighted by
    how many instrumented ops each key had."""
    diff, n = 0.0, 0
    for key in {op["key"] for op in ops}:
        on = [op["ms"] for op in ops if op["key"] == key and op["traced"]]
        off = [op["ms"] for op in ops if op["key"] == key and not op["traced"]]
        if on and off:
            diff += (fmean(on) - fmean(off)) * len(on)
            n += len(on)
    base = fmean(op["ms"] for op in ops if not op["traced"]) if any(not o["traced"] for o in ops) else 0.0
    return (diff / n if n else 0.0), base


def per_layer(workload, res, cores, queries, failed_ratio):
    ops = res["ops"]
    traced = [op for op in ops if op["traced"]]
    tr = res["trace"]
    per_op = tr["per_op"]
    n = max(1, len(traced))
    m = {}

    def val(op, k):
        return per_op.get(str(op["id"]), {}).get(k, 0.0)

    # spark: public SparkListener + QueryExecutionListener, per traced op
    for k in SPARK:
        m[f"spark.{k}"] = (sum(val(op, f"spark.{k}") for op in traced) / n,
                           "ms" if k.endswith("_ms") else ("bytes" if k.endswith("bytes") else "count"))
    wall = sum(op["ms"] for op in traced)
    m["spark.executor_busy_share"] = (sum(val(op, "spark.task_ms") for op in traced) / (wall * cores) if wall else 0.0, "ratio")
    m["jvm.heap_after_gc_mb"] = (res["heap_after_gc_mb"], "MB")

    # cdc: StreamingQueryListener durationMs per runOnce
    cycles = [op for op in traced if op["kind"] == "cycle"]
    nc = max(1, len(cycles))
    for name, key in CDC_PHASES:
        m[f"cdc.{name}"] = (sum(val(op, f"stream.{key}") for op in cycles) / nc, "ms")
    m["cdc.start_stop_ms"] = (sum(op["ms"] - val(op, "stream.triggerExecution") for op in cycles) / nc, "ms")

    # envelope + types, ops.Dedup, ops.CdcMerge: replay of recorded inputs
    rp = res.get("replay", {})
    for k, unit in [("envelope.sniff_ms", "ms"), ("envelope.decode_ms", "ms"),
                    ("envelope.decode_rows_per_s.sales", "1/s"), ("envelope.decode_rows_per_s.sales_wide", "1/s"),
                    ("ops.Dedup.latest_wins_ms", "ms"), ("ops.Dedup.rows_in", "count"),
                    ("ops.Dedup.rows_out", "count"), ("ops.CdcMerge.merge_ms", "ms")]:
        m[k] = (rp.get(k, 0.0), unit)

    # ops.CdcTable: commit footprint per cycle (cdc_ingest), call times (lake_mixed)
    lst = tr["listings"]
    events = res.get("events_per_cycle", 0) * len(lst)
    m["ops.CdcTable.bytes_written_per_change_row"] = (sum(x["bytes"] for x in lst) / events if events else 0.0, "bytes")
    m["ops.CdcTable.data_files_per_commit"] = (fmean(x["data_files"] for x in lst) if lst else 0.0, "count")
    m["ops.CdcTable.meta_files_per_commit"] = (fmean(x["meta_files"] for x in lst) if lst else 0.0, "count")
    m["ops.CdcTable.versions_on_disk"] = (lst[-1]["versions"] if lst else 0.0, "count")
    for kind in LAKE_KINDS:
        xs = [op["ms"] for op in traced if op["kind"] == kind]
        m[f"ops.CdcTable.{kind}_ms"] = (median(xs) if xs else 0.0, "ms")
    if workload == "cdc_ingest":
        m["ops.CdcTable.merge_ms"] = (rp.get("ops.CdcTable.merge_ms", 0.0), "ms")
    disk = res.get("lake_disk", {})
    m["ops.CdcTable.disk_bytes_per_live_byte"] = (
        disk["disk_bytes"] / disk["live_bytes"] if disk.get("live_bytes") else 0.0, "ratio")

    # ops.FileSkipping: scanProfile of every traced lookup and scan predicate
    for kind in ("lookup", "scan"):
        ps = [p for p in res.get("profiles", []) if p["kind"] == kind]
        total = sum(p["total"] for p in ps)
        m[f"ops.FileSkipping.{kind}_files_opened_ratio"] = (sum(p["opened"] for p in ps) / total if total else 0.0, "ratio")
    m["ops.FileSkipping.live_files"] = (disk.get("live_files", 0), "count")

    # ops.TableIO: the counting delegate, per traced lake op
    io = tr["io"]
    lake_ops = max(1, sum(1 for op in traced if op["kind"] in LAKE_KINDS)) if io else 1
    m["ops.TableIO.calls_per_op"] = (sum(a[0] for a in io.values()) / lake_ops, "count")
    m["ops.TableIO.list_calls_per_op"] = (io.get("list", [0, 0, 0])[0] / lake_ops, "count")
    m["ops.TableIO.ms_per_op"] = (sum(a[1] for a in io.values()) / lake_ops, "ms")
    m["ops.TableIO.bytes_written_per_op"] = (sum(a[2] for a in io.values()) / lake_ops, "bytes")

    # query packs: traced reps of each board query
    for q in queries:
        reps = [op for op in traced if op.get("query") == q]
        m[f"queries.{q}.ms"] = (median([op["ms"] for op in reps]) if reps else 0.0, "ms")
        m[f"queries.{q}.planning_ms"] = (median([val(op, "spark.planning_ms") for op in reps]) if reps else 0.0, "ms")

    # spans: self time per layer, and what tracing cost
    for layer, v in span_self_ms(tr["spans"]).items():
        m[f"self_ms_per_op.{layer}"] = (v / n, "ms")
    over, base = overhead_ms(ops)
    m["trace.overhead_ms_per_op"] = (over, "ms")
    m["trace.overhead_share"] = (over / base if base else 0.0, "ratio")
    m["trace.spans"] = (len(tr["spans"]), "count")
    m["bench.timed_ops"] = (len(ops), "count")
    m["bench.op_ms_p50"] = (median([op["ms"] for op in ops]), "ms")
    # 0 until a run holds enough ops for 10 samples beyond the 90th percentile
    m["bench.op_ms_p90"] = (percentile([op["ms"] for op in ops], 90) or 0.0, "ms")
    m["bench.failed_ratio"] = (failed_ratio, "ratio")
    return m
