#!/usr/bin/env python3
"""Benchmark of the reference's daily run on the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>] [--set <param>=<json value> ...]
                             [--inject-fault silver_row]

Run from the repository root. Builds the engine and the harness from source
(perfbench/build.sh) into .perfbench/, generates the workload's inputs from
the seed (perfbench/gen.py), runs the harness JVM on local[cores], checks
every output (perfbench/checks.py), writes a stamped results file under
.perfbench/results/ and prints one JSON object as the last line of stdout.
With --trace 0 it reports the end-to-end metrics, with --trace 1 the
per-layer ones; BENCHMARK.json names both (perfbench/layers.json says what
each per-layer metric should move). --set overrides one generator parameter
of perfbench/workloads.json for a sensitivity run; the override is part of
the results file's configuration key.

Workloads: daily_incremental and query_basket are the gated pair;
analyst_reads and backfill run the same way on demand.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# The op kind each workload's end-to-end latency and throughput are taken
# over, and set-up repetitions per run (setup_s is their median). The gated
# workloads set up once: a repeat costs 9 s (daily) to 18 s (basket) of a
# 48-run budget that has no room for it. The on-demand workloads set up twice.
PRIMARY = {"daily_incremental": "wave", "backfill": "drop",
           "analyst_reads": "read", "query_basket": "query"}
REPS = {"daily_incremental": 1, "backfill": 2, "analyst_reads": 2, "query_basket": 1}
BASKET_DATA = os.path.join("perfbench", "data", "sf0.01")

BENCH = json.load(open(os.path.join(HERE, os.pardir, "BENCHMARK.json")))
# The JSON result carries the end-to-end metrics of BENCHMARK.json, which
# every workload has and which are never 0. The others go to the table above
# the result line and to the results file only: op_tail_s where a workload has
# enough ops for a tail, rows_per_s and bytes_per_input_byte on the write
# workloads, and failed_share, which is 0 at HEAD.
E2E_RESULT = tuple(m["name"] for m in BENCH["end_to_end"])
E2E_UNITS = dict({m["name"]: m["unit"] for m in BENCH["end_to_end"]}, op_tail_s="s",
                 rows_per_s="rows/s", bytes_per_input_byte="ratio", failed_share="ratio")
LAYER_UNITS = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
# the basket queries and analyst read types, as the per-layer metrics name them
BASKET = sorted(n.split(".")[1] for n in LAYER_UNITS if n.startswith("basket."))
READ_KINDS = sorted(n.split(".")[1] for n in LAYER_UNITS if n.startswith("reads."))

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# what a run measures with: the engine and the files the benchmark runs from
CONTENT = ("src/main", "BENCHMARK.json", "perfbench/src", "perfbench/data", "perfbench/build.sh",
           "perfbench/run.py", "perfbench/gen.py", "perfbench/checks.py", "perfbench/metrics.py",
           "perfbench/workloads.json")


def tree_hash(root, bases=("src/main", "perfbench/src", "perfbench/build.sh")):
    """Content hash of the files under `bases` (default: what the build compiles)."""
    h = hashlib.sha256()
    files = []
    for base in bases:
        path = os.path.join(root, base)
        files += [path] if os.path.isfile(path) else [
            os.path.join(d, n) for d, _, names in os.walk(path) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, state, tree):
    classes = os.path.join(state, "build", tree[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    shutil.rmtree(os.path.join(state, "build"), ignore_errors=True)
    os.makedirs(os.path.dirname(classes), exist_ok=True)
    r = subprocess.run(["bash", os.path.join("perfbench", "build.sh"), classes], cwd=root,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die(f"build failed ({r.returncode})")
    open(os.path.join(classes, ".ok"), "w").close()
    return classes


def git_stamp(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none", None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=30).stdout.strip()
        dirty = bool(subprocess.run(["git", "status", "--porcelain"], cwd=root,
                                    capture_output=True, text=True, timeout=30).stdout.strip())
        return sha or "none", dirty
    except (OSError, subprocess.SubprocessError):
        return "none", None


def inputs(state, workload, seed, params):
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()
    d = os.path.join(state, "inputs", f"{workload}-s{seed}-{key[:10]}")
    if not os.path.exists(os.path.join(d, ".ok")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d, params)
        open(os.path.join(d, ".ok"), "w").close()
    return d


def run_jvm(root, classes, work, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           # a fixed heap and capped GC/JIT threads keep the JVM's own
           # background work from competing with the cores the tasks use
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
            "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{SPARK_JARS}/*", "perfbench.Harness"] +
           [f"{k}={v}" for k, v in args.items()])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        die(f"harness exited with {rc}")


def inject_silver_row(export):
    """Fault injection for the self-test: change one close in the exported
    silver, as a wrong merge would."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for f in sorted(glob.glob(os.path.join(checks.final_silver(export), "*.parquet"))):
        t = pq.read_table(f)
        if t.num_rows:
            close = t.column("close").to_pylist()
            close[0] += 1.0
            i = t.schema.get_field_index("close")
            pq.write_table(t.set_column(i, t.schema.field(i), pa.array(close, pa.float64())), f)
            return


def run_checks(raw, workload, input_dir, root):
    """(name, ok, detail) for every output check of the run."""
    export = raw["export"]
    if workload == "query_basket":
        return checks.check_basket(os.path.join(root, BASKET_DATA), export, raw["oracle_sql"])
    con = checks.connect()
    out = checks.check_tables(con, input_dir, raw["version_files"][-1], export)
    if "checked" in raw:
        checked = {k: tuple(v) for k, v in raw["checked"].items()}
        out += checks.check_reads(con, input_dir, raw["version_files"], export, checked)
    if workload != "backfill":  # the waves' bars, landed again as one backfill
        out += checks.check_converge(con, export)
    return out


def failed_ops(raw, workload, results):
    """Indices of failed ops: thrown, or covered by a failed check. A failed
    table check fails every write op (the state is cumulative); a failed
    read or query check fails every op of that read type or query."""
    bad = {o["i"] for o in raw["ops"] if not o["ok"]}
    for name, ok, _ in results:
        if ok:
            continue
        for o in raw["ops"]:
            if name in ("silver", "gold", "quarantine", "silver_versions"):
                hit = o["kind"] in ("wave", "drop")
            elif name.startswith("read_"):
                hit = o["kind"] == "read" and o["name"] == name[5:]
            elif name.startswith("basket_"):
                hit = o["name"] == name[7:]
            else:
                hit = True
            if hit:
                bad.add(o["i"])
    return bad


def input_rows_bytes(input_dir, files):
    meta = json.load(open(os.path.join(input_dir, "meta.json")))
    rows = sum(meta["rows"][f] for f in files)
    size = sum(os.path.getsize(os.path.join(input_dir, f)) for f in files)
    return rows, size


def end_to_end(raw, workload, input_dir, n_failed):
    prim = [o for o in raw["ops"] if o["kind"] == PRIMARY[workload]]
    secs = [o["seconds"] for o in prim]
    tail_p = metrics.tail_percentile(len(secs))
    m = {
        "setup_s": statistics.median(raw["setup_reps_s"]),
        "op_p50_s": statistics.median(secs),
        "ops_per_s": len(secs) / sum(secs),
        "retained_heap_mb": raw["heap_mb"],
        "failed_share": n_failed / len(raw["ops"]),
    }
    # where no percentile above the median has TAIL_BEYOND ops beyond it
    # there is no tail; the median is not reported under its name
    info = {"tail_percentile": tail_p, "tail_samples": len(secs),
            "tail_reported": tail_p > 50.0}
    if info["tail_reported"]:
        m["op_tail_s"] = metrics.percentile(secs, tail_p)
    if workload in ("daily_incremental", "backfill"):
        # raw rows through bronze -> gold per second of op time; table bytes
        # at run end per raw input byte landed in them
        rows, _ = input_rows_bytes(input_dir, [f"ops/{o['name']}" for o in prim])
        _, size = input_rows_bytes(input_dir, raw["version_files"][-1])
        m["rows_per_s"] = rows / sum(secs)
        m["bytes_per_input_byte"] = raw["bytes_end"] / size
    return m, info


def per_layer(raw, workload, input_dir, n_failed, e2e, plain_p50):
    """Every per-layer metric of BENCHMARK.json, from a traced run (every op
    traced); 0 where the workload does not reach the layer. `plain_p50` is the untraced op_p50_s of the same
    configuration, the baseline of the tracing overhead (None: no run yet)."""
    t = metrics.Trace(raw)
    prim = PRIMARY[workload]
    ops = raw["ops"]
    out = {}
    for span in ("bronze", "silver", "gold"):
        st = t.span_stats(span)
        for k in ("wall_s", "driver_s", "jobs", "stages", "tasks"):
            out[f"{span}.{k}"] = st.get(k, 0.0)
        if span != "bronze":
            for k in ("task_s", "shuffle_write_bytes", "spill_bytes", "gc_s"):
                out[f"{span}.{k}"] = st.get(k, 0.0)
        out[f"plans.{span}.plan_ms"] = st.get("plan_ms", 0.0)
    # the table deltas span the drops of the final tables' timed window
    vf = raw.get("version_files", [[]])
    window = [f for f in vf[-1] if f.startswith("ops/")]
    n_write = len(window) if prim in ("wave", "drop") else 0
    for table in ("bronze", "silver", "gold", "quarantine"):
        d = raw.get("tables", {}).get(table, {})
        for k in ("commits", "files_added", "bytes_added"):
            out[f"{table}.{k}"] = d.get(k, 0) / n_write if n_write else 0.0
    out["tables.merge_s"] = t.span_stats("tables.merge").get("wall_s", 0.0)
    out["tables.append_s"] = t.span_stats("tables.append").get("wall_s", 0.0) + t.bronze_append_s()
    # silver: rows inserted + updated by the window's merges / CDF rows merged
    ratio = 0.0
    if n_write:
        first = len(vf) - n_write  # versions made before the window (set-up)
        v0 = raw["silver_versions"][first - 1] if first > 0 else 0
        changed = sum(ins + upd for v, ins, upd in raw["silver_history"] if v > v0)
        rows, _ = input_rows_bytes(input_dir, window)
        ratio = changed / rows
    out["silver.useful_ratio"] = ratio
    gu = raw.get("gold_useful", [])
    out["gold.useful_ratio"] = (sum(c for c, _ in gu) / sum(r for _, r in gu)
                                if gu and sum(r for _, r in gu) else 0.0)
    reads = [o for o in ops if o["kind"] == "read"]
    for kind in READ_KINDS:
        out[f"reads.{kind}.p50_s"] = metrics.median([o["seconds"] for o in reads if o["name"] == kind])
    out["sources.open_s"] = t.span_stats("sources.open").get("wall_s", 0.0)
    files = t.files_by_op()
    read_ops = [o for o in ops if o["kind"] == "read"] or [o for o in ops if o["kind"] == prim]
    out["sources.files_read"] = metrics.median([files.get(o["i"], 0) for o in read_ops])
    range_reads = [o for o in ops if o["name"] in ("gold_range", "top_movers")]
    snap = raw.get("gold_files", 0) * len(range_reads)
    out["sources.prune_ratio"] = (1.0 - sum(files.get(o["i"], 0) for o in range_reads) / snap
                                  if snap else 0.0)
    plans = t.plan_ms_by_op()
    out["plans.op.plan_ms"] = metrics.median(
        [plans.get(o["i"], 0.0) for o in ops if o["kind"] == prim])
    out["plans.read.plan_ms"] = metrics.median(
        [plans.get(o["i"], 0.0) for o in ops if o["kind"] == "read"])
    out["session.memo_build_s"] = sum(raw.get("memo_build_s", {}).values())
    out["session.cached_blocks"] = max(raw.get("cached_blocks", [0]) or [0])
    for q in BASKET:
        out[f"basket.{q}.p50_s"] = metrics.median(
            [o["seconds"] for o in ops if o["kind"] == "query" and o["name"] == q])
    over = e2e["op_p50_s"] - plain_p50 if plain_p50 else 0.0
    out["trace.overhead_s"] = over
    out["trace.overhead_share"] = over / plain_p50 if plain_p50 else 0.0
    out["pipeline.rows_per_s"] = e2e.get("rows_per_s", 0.0)
    out["pipeline.bytes_per_input_byte"] = e2e.get("bytes_per_input_byte", 0.0)
    out["run.failed_share"] = n_failed / len(ops)
    if set(out) != set(LAYER_UNITS):
        die(f"per-layer metrics differ from BENCHMARK.json: {sorted(set(out) ^ set(LAYER_UNITS))}")
    return out


def config(a, sha, content, dirty, pkey):
    """The part of a results file name every run of one configuration shares:
    cores of cpus, run length, commit, engine + benchmark content, dirty flag,
    and a hash of the workload parameters and JVM/Spark versions."""
    return (f"c{a.cores}of{os.cpu_count()}-t{a.seconds:g}-{sha[:8]}-{content[:8]}"
            f"{'-dirty' if dirty else ''}-p{pkey}")


def plain_p50(state, workload, cfg):
    """Median op_p50_s over the untraced results files of configuration `cfg`."""
    vals = []
    for f in glob.glob(os.path.join(state, "results", f"{workload}-plain-s*-{cfg}.json")):
        with open(f) as fh:
            vals.append(json.load(fh)["end_to_end"]["op_p50_s"]["value"])
    return statistics.median(vals) if vals else None


def main():
    # SIGTERM unwinds like an exception, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--set", action="append", default=[], metavar="PARAM=VALUE",
                    help="override one generator parameter (VALUE is JSON)")
    ap.add_argument("--inject-fault", choices=("silver_row",))
    a = ap.parse_args()
    gen_params = dict(gen.WORKLOADS[a.workload])
    for kv in a.set:
        k, _, v = kv.partition("=")
        if k not in gen_params:
            die(f"--set {kv}: {a.workload} has no generator parameter {k!r}")
        gen_params[k] = json.loads(v)
    root = os.getcwd()
    for need in ("src/main/scala", "perfbench/build.sh"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"run from the repository root: {need} not found under {root}")
    if not os.path.isdir(SPARK_JARS):
        die(f"no Spark jars at {SPARK_JARS}")
    state = os.path.join(root, ".perfbench")
    clock = [("start", time.monotonic())]
    tree = tree_hash(root)
    classes = build(root, state, tree)
    clock.append(("build", time.monotonic()))
    input_dir = inputs(state, a.workload, a.seed, gen_params)
    clock.append(("inputs", time.monotonic()))
    reps = REPS[a.workload]
    sha, dirty = git_stamp(root)
    content = tree_hash(root, CONTENT)
    params = {"workload": gen_params, "reps": reps, "heap": HEAP,
              "seconds": a.seconds, "basket_data": BASKET_DATA}
    run_id = f"{a.workload}-t{a.trace}-c{a.cores}-s{a.seed}-{os.getpid()}"
    work = os.path.join(state, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw_path = os.path.join(work, "raw.json")
        run_jvm(root, classes, work, {
            "workload": a.workload, "cores": a.cores, "seconds": a.seconds,
            "trace": a.trace, "reps": reps, "input": input_dir,
            "work": os.path.join(work, "tables"), "data": os.path.join(root, BASKET_DATA),
            "out": raw_path})
        clock.append(("jvm", time.monotonic()))
        raw = json.load(open(raw_path))
        if a.workload == "query_basket" and sorted(raw["oracle_sql"]) != BASKET:
            die("the harness's basket differs from the basket.* metrics of BENCHMARK.json")
        params.update(java=raw["java_version"], spark=raw["spark_version"])
        pkey = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
        cfg = config(a, sha, content, dirty, pkey)
        if a.inject_fault == "silver_row":
            inject_silver_row(raw["export"])
        results = run_checks(raw, a.workload, input_dir, root)
        clock.append(("checks", time.monotonic()))
        bad = failed_ops(raw, a.workload, results)
        e2e, tail_info = end_to_end(raw, a.workload, input_dir, len(bad))
        layers = (per_layer(raw, a.workload, input_dir, len(bad), e2e,
                            plain_p50(state, a.workload, cfg))
                  if a.trace else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp = {
        "git_sha": sha, "dirty": dirty, "content": content, "cpus": os.cpu_count(),
        "cores": a.cores, "seed": a.seed, "trace": a.trace, "workload": a.workload,
        "params": params,
        "shares": json.load(open(os.path.join(input_dir, "meta.json"))).get("shares"),
        "java": raw["java_version"], "spark": raw["spark_version"],
        "python": platform.python_version(), "duckdb": checks.duckdb.__version__,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        # wall seconds of each phase of this run, and of the harness's
        # untimed exports and checked passes after its last op
        "phase_s": {b[0]: b[1] - a_[1] for a_, b in zip(clock, clock[1:])},
        "post_window_s": raw["post_window_s"],
    }
    # the name carries every stamp field that changes what was measured, so
    # one configuration can never overwrite another's file
    name = f"{a.workload}-{'traced' if a.trace else 'plain'}-s{a.seed}-{cfg}.json"
    attempted, failed = len(raw["ops"]), len(bad)
    correct = all(ok for _, ok, _ in results) and not bad
    record = {"stamp": stamp, "correct": correct, "attempted": attempted, "failed": failed,
              "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in results],
              "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
              "tail": tail_info, "setup_reps_s": raw["setup_reps_s"],
              "ops": [{k: o[k] for k in ("kind", "name", "seconds", "ok", "err", "traced")}
                      for o in raw["ops"]]}
    if layers is not None:
        record["per_layer"] = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    os.makedirs(os.path.join(state, "results"), exist_ok=True)
    with open(os.path.join(state, "results", name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    for n, ok, d in results:
        print(f"check {n:24s} {'ok' if ok else 'FAIL'}  {d}")
    for k, v in e2e.items():
        print(f"{a.workload:18s} {k:22s} {v:14.6g} {E2E_UNITS[k]}")
    print(f"results file: .perfbench/results/{name}")
    if a.trace:
        out = record["per_layer"]
    else:
        out = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E_RESULT}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
