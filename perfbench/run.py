#!/usr/bin/env python3
"""Repository benchmark: CDC ingest cycles, and a mixed lake read/write
loop with a query-board slice, each driven from outside the engine
through its public calls.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The engine and the JVM harness are compiled
from source into `.bench_build/` (reused while the sources are unchanged).
Inputs are generated from the seed, the run is timed, every output is
checked against the benchmark's own model (board query outputs against
their DuckDB oracles via tools/check.py), and the last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. `--trace 1` reports
the per-layer metrics instead of the end-to-end ones. Exit status is 0
only when every output was correct.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402
from model import SEP, Ledger, canon, table_hash  # noqa: E402

BUILD = ".bench_build"
JVM_TIMEOUT_S = 160
WORKLOADS = ("cdc_ingest", "lake_mixed")

# Sizes, fixed so every run of a workload does the same amount of work.
CDC = dict(sales_rows=10_000, wide_rows=1_000, cycles=26, events_per_cycle=2_000)
CDC_WARMUP_CYCLES = 6
LAKE = dict(n_orders=150_000, rounds=5)
BOARD_SF = 0.01
# ROADMAP item 1's named target, the two plans/ rewrites whose fixtures count in
# set-up, and the median query of five more packs (Olap, Index, Retrieval,
# Similarity, Parity)
BOARD_QUERIES = ["x_pagerank", "x_mv_rewrite", "x_join_rewrite", "q14_promo_share",
                 "x_bloom_prune", "x_bigram_lm", "x_ann_topk", "s2_parallel_scan"]
BOARD_FIXTURES = ["x_mv_rewrite", "x_join_rewrite"]
BUILDS = 2  # set-up repeats per run; setup_s takes their median

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars build.sbt compiles against (its `unmanagedBase`, which also
    holds the Scala compiler), or $SPARK_HOME/jars when that is set."""
    if os.environ.get("SPARK_HOME"):
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        where = m.group(1) if m else "."
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not jars:
        fail(f"no Spark jars in {where} (set SPARK_HOME)")
    return jars


def tree_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(sources, classpath, out):
    """Compile `sources` into `out` unless an earlier run already did."""
    if os.path.exists(os.path.join(out, ".ok")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", tmp] + sorted(sources)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Classpath of the engine and the harness, compiled from source."""
    engine_src = glob.glob("src/main/scala/**/*.scala", recursive=True)
    harness_src = glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness", "*.scala"))
    if not engine_src or not all(os.path.exists(f) for f in ("tools/check.py", "build.sbt")):
        fail("run from the repository root: src/main/scala, build.sbt or tools/check.py is missing")
    jars = spark_jars()
    engine = os.path.join(BUILD, "engine-" + tree_digest(engine_src))
    scalac(engine_src, jars, engine)
    harness = os.path.join(BUILD, "harness-" + tree_digest(engine_src + harness_src))
    scalac(harness_src, jars + [engine], harness)
    return jars + [engine, harness]


def run_jvm(classpath, plan, work):
    plan_path, result_path = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.abspath(os.path.join(work, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.abspath(work)}/warehouse",
            f"-Dderby.system.home={tmp}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(os.path.abspath(p) for p in classpath),
              "perfbench.Harness", os.path.abspath(plan_path), os.path.abspath(result_path)])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {p.returncode}:\n{tail}", 1)
    with open(result_path) as f:
        return json.load(f)


# ------------------------------------------------------------------ cdc

def prepare_cdc(seed, work):
    log = gen.CdcLog(seed, **CDC)
    os.makedirs(os.path.join(work, "stage"))
    back = os.path.join(work, "backfill")
    os.makedirs(back)
    log.write_backfill(os.path.join(back, "backfill_sales.parquet"), os.path.join(back, "backfill_wide.parquet"))
    for b in range(1, BUILDS + 1):
        env = os.path.join(work, f"env{b}")
        os.makedirs(env)
        for n in ("backfill_sales.parquet", "backfill_wide.parquet"):
            os.link(os.path.join(back, n), os.path.join(env, n))
    for i in range(CDC["cycles"]):
        log.write_cycle(i, os.path.join(work, "stage", f"c{i:05d}.parquet"))
    plan = {"cycles": CDC["cycles"], "warmup_cycles": CDC_WARMUP_CYCLES,
            "sales_cols": gen.table_columns(gen.SALES_FIELDS),
            "wide_cols": gen.table_columns(gen.WIDE_FIELDS)}
    return log, plan


def model_hash(events, fields):
    return table_hash([canon(kind, ev[3][name]) for name, _, _, kind in fields]
                      + [str(x) for x in gen.meta_cells(ev)] for ev in events)


def check_cdc(log, res, ledger, _work):
    """Every cycle must have run, and the final tables must equal the
    latest-wins model of the change log up to the last cycle run."""
    for op in res["ops"]:
        ledger.attempt()
        if "error" in op:
            ledger.fail(op["id"], op["error"])
    sales, wide = log.model(int(res["cycles_run"]))
    for name, got, want in (("sales", res.get("sales_hash"), model_hash(sales.values(), gen.SALES_FIELDS)),
                            ("sales_wide", res.get("wide_hash"), model_hash(wide.values(), gen.WIDE_FIELDS))):
        ledger.attempt()
        if got is None or [int(x) for x in got] != want:
            ledger.fail(f"final:{name}", f"table hash {got} != model {want}")


# ----------------------------------------------------------------- lake

def prepare_lake(seed, work):
    log = gen.LakeLog(seed, **LAKE)
    gen.write_orders(os.path.join(work, "orders.parquet"), log.base, 0, with_op=False)
    rounds = []
    for i, r in enumerate(log.rounds):
        gen.write_orders(os.path.join(work, f"merge{i:03d}.parquet"), r["merge"], (i + 1) * 1_000_000, with_op=True)
        rounds.append({"lookups": [k for k, _ in r["lookups"]], "scans": [[lo, hi] for lo, hi, _ in r["scans"]],
                       "version_back": r["version_back"], "deletes": r["deletes"]})
    # the warehouse tables the board slice reads, plus one alias per build
    first = os.path.join(work, "data0")
    gen.write_board_tables(seed, first, BOARD_SF)
    for b in range(1, BUILDS + 1):
        d = os.path.join(work, f"data{b}")
        os.makedirs(d)
        for f in os.listdir(first):
            os.link(os.path.join(first, f), os.path.join(d, f))
    return log, {"rounds": rounds, "order_cols": gen.ORDER_COLS,
                 "queries": BOARD_QUERIES, "fixture_queries": BOARD_FIXTURES}


def check_lake(log, res, ledger, work):
    """Every lake read must match the model at the version it read, and
    every board query output its DuckDB oracle (tools/check.py); a
    failing query fails each of its timed reps."""
    check = subprocess.run([sys.executable, "tools/check.py", os.path.join(work, "data0"),
                            os.path.join(work, "verify")] + BOARD_QUERIES,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120,
                           env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1", TMPDIR=os.path.abspath(work)))
    passed = set(re.findall(r"^PASS (\S+):", check.stdout, re.M))
    by_version = {int(res["init_version"]): log.base_hash}
    feed_of = {}
    last_commit = int(res["init_version"])
    for op in res["ops"]:
        r = log.rounds[op["round"]]
        if op["kind"] in ("merge", "delete", "maintain") and "version" in op:
            v = int(op["version"])
            if op["kind"] == "maintain":
                for x in range(last_commit + 1, v + 1):
                    by_version[x], feed_of[x] = by_version[last_commit], [0, 0]
            else:
                by_version[v] = r["hash_after_merge" if op["kind"] == "merge" else "hash_after_delete"]
                feed_of[v] = r["merge_feed" if op["kind"] == "merge" else "delete_feed"]
            last_commit = v
    for op in res["ops"]:
        ledger.attempt()
        oid, r, kind = op["id"], log.rounds[op["round"]], op["kind"]
        if "error" in op:
            ledger.fail(oid, op["error"])
        elif kind == "query":
            if op["query"] not in passed:
                ledger.fail(oid, f"{op['query']} output differs from its oracle")
        elif kind == "lookup":
            want = dict(r["lookups"])[op["key"]]
            want = [SEP.join(want)] if want else []
            if op["rows"] != want:
                ledger.fail(oid, f"lookup {op['key']}: {op['rows']} != {want}")
        elif kind == "range_scan":
            want = r["scans"][op["scan"]][2]
            if [int(x) for x in op["agg"]] != want:
                ledger.fail(oid, f"scan {op['agg']} != {want}")
        elif kind == "read_version":
            want = by_version.get(int(op["version"]))
            if [int(x) for x in op["hash"]] != want:
                ledger.fail(oid, f"version {op['version']}: {op['hash']} != {want}")
        elif kind == "changes_between":
            want = feed_of.get(int(op["to"]))
            if [int(x) for x in op["hash"]] != want:
                ledger.fail(oid, f"changes {op['from']}..{op['to']}: {op['hash']} != {want}")


# ----------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: cores this process may use)")
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM it started (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare = {"cdc_ingest": prepare_cdc, "lake_mixed": prepare_lake}
        log, plan = prepare[args.workload](args.seed, work)
        plan.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=bool(args.trace), cores=args.cores, builds=BUILDS,
                    work_dir=os.path.abspath(work))
        res = run_jvm(classpath, plan, work)
        ledger = Ledger()
        check = {"cdc_ingest": check_cdc, "lake_mixed": check_lake}
        check[args.workload](log, res, ledger, work)
        if args.trace:
            res["events_per_cycle"] = CDC["events_per_cycle"]
            out = metrics.per_layer(args.workload, res, args.cores, BOARD_QUERIES, ledger.failed_ratio)
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-{args.seed}.spans.json"), "w") as f:
                json.dump(res["trace"]["spans"], f)
        else:
            out = metrics.end_to_end(args.workload, res)
        for reason in ledger.reasons[:20]:
            print(f"perfbench: FAILED {reason}", file=sys.stderr)
        print(json.dumps({"correct": ledger.correct, "attempted": ledger.attempted,
                          "failed": ledger.failed_count,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
        return 0 if ledger.correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
