"""Benchmark entry point.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Generates the workload's inputs from the seed, starts one fresh worker
process (perfbench/worker.py) that sets up the engine and runs the workload,
samples the peak RSS of the worker's process tree from /proc, stops the
whole tree, checks that every output was correct, and prints a detail line
and then one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Exits 1 on any wrong output and 2 when the engine is missing or the run
fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import process_tree, rss_bytes  # noqa: E402

OUT = os.path.join(ROOT, "perfbench", "out")
RUN_TIMEOUT_S = 170


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ host

def blas_info() -> dict:
    import numpy as np

    info: dict = {"library": None, "config": None, "threads": None}
    try:
        blas = np.__config__.CONFIG["Build Dependencies"]["blas"]
        info["library"] = f"{blas.get('name')} {blas.get('version')}"
        info["config"] = blas.get("openblas configuration")
    except (AttributeError, KeyError):
        pass
    with open("/proc/self/maps") as f:
        libs = {ln.split()[-1] for ln in f if "openblas" in ln.lower()}
    for lib in libs:
        for sym in ("openblas_get_num_threads64_", "openblas_get_num_threads"):
            try:
                info["threads"] = int(getattr(ctypes.CDLL(lib), sym)())
                return info
            except (OSError, AttributeError):
                continue
    return info


def cpu_calibration_s() -> float:
    """Median time of a fixed pure-Python loop: how fast this host ran at
    that moment, so drift between runs can be told from program changes."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def host_stamp() -> dict:
    import duckdb
    import numpy
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load1_before": os.getloadavg()[0],
        "cpu_calibration_s_before": cpu_calibration_s(),
        "blas": blas_info(),
        "versions": {
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "numpy": numpy.__version__,
        },
    }


# ------------------------------------------------------------- processes

class TreeSampler(threading.Thread):
    """Every pid in a process tree (so all can be stopped) and its peak
    summed RSS."""

    def __init__(self, pid: int, interval: float = 0.05):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            tree = process_tree(self.pid)
            self.seen.update(tree)
            self.peak = max(self.peak, sum(rss_bytes(p) for p in tree))
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(proc: subprocess.Popen, pids: set[int]) -> None:
    """Stop the worker's whole tree (process group and every pid seen) and
    wait until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        for p in pids:
            if p != os.getpid() and _alive(p):
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.time() + 5
        while time.time() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.05)
        if not any(_alive(p) for p in pids):
            break
    proc.wait()


# --------------------------------------------------------------- metrics

def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def per_op_median(ops: list[dict]) -> dict:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o["op"], []).append(o["latency_s"])
    return {k: statistics.median(v) for k, v in by.items()}


def end_to_end(workload: str, res: dict, inputs: dict, setup_s: float) -> tuple[dict, dict]:
    """The bounded end-to-end metrics, and the absolute timings.

    The absolute timings go to the detail line, not the bounds: on a shared
    VM the host's speed drifts by a quarter within a minute, so they spread
    past any bound a regression check could use. ``vs_duckdb_x`` (warm) and
    ``vs_duckdb_cold_x`` (first runs) carry the speed instead: each DuckDB
    twin runs right after its Spark operation, so the drift cancels in the
    ratio."""
    from perfbench.config import DOC_QUERIES

    ops, first = res["ops"], res["first"]
    lat = [o["latency_s"] for o in ops]
    twins = [o for o in ops if "duckdb_s" in o]
    first_s = sum(o["latency_s"] for o in first)
    vs_duckdb_cold = first_s / sum(o["duckdb_s"] for o in first)
    if workload == "ner_bert":
        vs_duckdb = sum(o["latency_s"] for o in twins) / sum(o["duckdb_s"] for o in twins)
        docs_per_s = inputs["slice_size"] * len(ops) / sum(lat)
        queries_per_s = len(lat) / sum(lat)
    else:
        med = per_op_median(ops)
        duck_med = per_op_median([{"op": o["op"], "latency_s": o["duckdb_s"]} for o in twins])
        vs_duckdb = sum(med.values()) / sum(duck_med.values())
        docs = inputs["rows"]["documents"] * len(DOC_QUERIES)
        docs_per_s = docs / sum(med[q] for q in DOC_QUERIES)
        queries_per_s = len(med) / sum(med.values())  # the median round
    bounded = {
        "setup_s": (setup_s, "s"),
        "vs_duckdb_cold_x": (vs_duckdb_cold, "x"),
        "vs_duckdb_x": (vs_duckdb, "x"),
        "live_mem_mb": (res["live_mem_mb"], "MB"),
    }
    timings = {
        "first_run_total_s": (first_s, "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_p90_s": (pct(lat, 90), "s"),
        "queries_per_s": (queries_per_s, "1/s"),
        "docs_per_s": (docs_per_s, "1/s"),
    }

    def out(m):
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    return out(bounded), out(timings)


def per_layer(res: dict) -> dict:
    """Per-layer metrics from the worker's spans and Spark counters.

    "/op" values are means over the timed (warm) operations; "first_" values
    are means over the first-ever executions (the cold pass, or ner_bert's
    first operation)."""
    spans, ops, first, layers = res["spans"], res["ops"], res["first"], res["layers"]

    def total(name, **match):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name
                   and all(s.get(k) == v for k, v in match.items()))

    def mean(recs, key):
        return statistics.fmean(r.get(key, 0) for r in recs) if recs else 0.0

    def build_ms(recs):
        ids = {r["op_id"] for r in recs}
        b = [s["end"] - s["start"] for s in spans
             if s["name"] in ("operators.build", "plans.sql") and s["op"] in ids]
        return statistics.fmean(b) * 1e3 if b else 0.0

    def idle(recs):
        wall = sum(r["latency_s"] for r in recs)
        return 1 - sum(r.get("run_s", 0) for r in recs) / (wall * res["cores"]) if wall else 0.0

    def phase(name):
        ph = layers.get("phases", [])
        return statistics.fmean(p[name] for p in ph) if ph else 0.0

    ratios = [x for r in ops for x in r.get("max_over_median", [])]
    ner = layers.get("ner", {})
    boundary = layers.get("udf_boundary", [])
    hits = [r["plan_cache_hit"] for r in ops if "plan_cache_hit" in r]
    resolve = total("sources.catalog_table", first=True) + total("sources.read_parquet")
    m = {
        "session.start_s": (total("session.get_spark"), "s"),
        "sources.table_resolve_ms": (resolve * 1e3, "ms"),
        "sources.cache_fill_s": (res["cache_fill_s"] or layers.get("cache_fill_s", 0.0), "s"),
        "sources.scan_bytes": (mean(ops, "input_bytes"), "B/op"),
        "operators.build_ms": (build_ms(ops), "ms/op"),
        "operators.first_build_ms": (build_ms(first), "ms/op"),
        "plans.cache_hit_ratio": (sum(hits) / len(hits) if hits else 0.0, "ratio"),
        "plans.analysis_ms": (phase("analysis"), "ms/query"),
        "plans.optimization_ms": (phase("optimization"), "ms/query"),
        "plans.planning_ms": (phase("planning"), "ms/query"),
        "plans.first_codegen_compiles": (mean(first, "codegen_compiles"), "count/op"),
        "plans.first_codegen_ms": (mean(first, "codegen_s") * 1e3, "ms/op"),
        "plans.codegen_compiles": (mean(ops, "codegen_compiles"), "count/op"),
        "plans.codegen_ms": (mean(ops, "codegen_s") * 1e3, "ms/op"),
        "operators.stages": (mean(ops, "stages"), "count/op"),
        "operators.tasks": (mean(ops, "tasks"), "count/op"),
        "operators.executor_run_s": (mean(ops, "run_s"), "s/op"),
        "operators.executor_cpu_s": (mean(ops, "cpu_s"), "s/op"),
        "operators.gc_s": (mean(ops, "gc_s"), "s/op"),
        "operators.shuffle_write_bytes": (mean(ops, "shuffle_write_bytes"), "B/op"),
        "operators.shuffle_read_bytes": (mean(ops, "shuffle_read_bytes"), "B/op"),
        "operators.spill_bytes": (mean(ops, "spill_bytes"), "B/op"),
        "operators.task_max_over_median": (statistics.median(ratios) if ratios else 0.0, "ratio"),
        "operators.core_idle_frac": (idle(ops), "ratio"),
        "operators.first_core_idle_frac": (idle(first), "ratio"),
        "functions.udf_boundary_s": (
            statistics.median(b["latency_s"] for b in boundary) if boundary else 0.0, "s/op"),
        "functions.arrow_rows": (mean(ops, "arrow_rows"), "count/op"),
        "functions.arrow_bytes": (mean(ops, "arrow_bytes"), "B/op"),
        "ner.model_load_s": (ner.get("model_load_s", 0.0), "s"),
        "ner.tokenize_s": (ner.get("tokenize_s", 0.0), "s"),
        "ner.forward_s": (ner.get("forward_s", 0.0), "s"),
        "ner.decode_s": (ner.get("decode_s", 0.0), "s"),
        "ner.tokens": (ner.get("tokens", 0), "count"),
        "ner.forward_calls": (ner.get("forward_calls", 0), "count"),
        "ner.rows_per_forward_call": (
            ner["forward_rows"] / ner["forward_calls"] if ner.get("forward_calls") else 0.0,
            "count"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ------------------------------------------------------------------ main

def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "duckdb_ner_spark", "session.py")):
        fail(f"engine package duckdb_ner_spark not found under {ROOT}")
    from perfbench import gen
    from perfbench.config import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {', '.join(WORKLOADS)}")

    os.makedirs(OUT, exist_ok=True)
    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    # Scratch stays inside the checkout; cores are the host's, as the
    # engine's own SPARK_GRAFT_CPUS knob reads them. No engine conf is set.
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        SPARK_GRAFT_CPUS=str(nproc),
    )
    os.environ["TMPDIR"] = tmp

    host = host_stamp()
    try:
        t_gen = time.time()
        worker_args = []
        if args.workload == "ner_bert":
            inputs = gen.gen_ner(args.seed, os.path.join(run_dir, "data"))
            worker_args += ["--docs", inputs["docs_dir"], "--model", inputs["model_path"]]
        else:
            data = os.path.join(run_dir, "data")
            inputs = gen.gen_olap(args.seed, data)
            worker_args += ["--data", data]
        gen_s = time.time() - t_gen

        result_path = os.path.join(run_dir, "worker.json")
        cmd = [
            sys.executable, os.path.join(ROOT, "perfbench", "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", tmp, "--out", result_path, *worker_args,
        ]
        t_spawn = time.time()
        with open(os.path.join(run_dir, "worker.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                    stderr=subprocess.STDOUT, start_new_session=True)
            sampler = TreeSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S - (t_spawn - t_gen))
            except subprocess.TimeoutExpired:
                code = None
            sampler.stop()
            reap(proc, sampler.seen)
        if code != 0:
            with open(os.path.join(run_dir, "worker.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"worker {'timed out' if code is None else f'exited with {code}'}")
        with open(result_path) as f:
            res = json.load(f)
        host["load1_after"] = os.getloadavg()[0]
        host["cpu_calibration_s_after"] = cpu_calibration_s()
        host["spark_cores"] = res["cores"]

        setup_s = gen_s + (res["ready_wall"] - t_spawn) + res["cache_fill_s"]
        checks = res["checks"]
        failed = sum(not c["ok"] for c in checks)
        e2e, timings = end_to_end(args.workload, res, inputs, setup_s)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": host,
            "inputs": {k: v for k, v in inputs.items() if not k.endswith(("_dir", "_path"))},
            "inputs_s": gen_s,
            "samples": {"ops": len(res["ops"]), "first_runs": len(res["first"]),
                        "duckdb_twins": sum("duckdb_s" in o for o in res["ops"])},
            "timings": timings,
            "per_op_median_s": per_op_median(res["ops"]),
            "first_run_s": {o["op"]: o["latency_s"] for o in res["first"]},
            "first_run_duckdb_s": {o["op"]: o["duckdb_s"] for o in res["first"]},
            # not an end-to-end metric: it follows the JVM's adaptive heap
            # sizing (2.5-4.8 GB over five runs of one workload)
            "peak_rss_mb": sampler.peak / 2**20,
            "failed_checks": [c["op"] for c in checks if not c["ok"]][:20],
            **res["detail"],
        }
        detail["phase_start_wall"] = {
            k: round(v - t_spawn, 2) for k, v in detail["phase_start_wall"].items()}
        key = f"{args.workload}-{args.seed}"
        if args.trace:
            metrics = per_layer(res)
            base_path = os.path.join(OUT, f"e2e-{key}.json")
            e2e = {**e2e, **timings}
            overhead = {"traced_end_to_end": {k: v["value"] for k, v in e2e.items()}}
            if os.path.exists(base_path):
                with open(base_path) as f:
                    base = json.load(f)
                overhead["minus_untraced"] = {
                    k: e2e[k]["value"] - base[k]["value"] for k in e2e if k in base}
            else:
                overhead["minus_untraced"] = "no untraced run of this workload and seed yet"
            detail["trace_overhead"] = overhead
            with open(os.path.join(OUT, f"trace-{key}.json"), "w") as f:
                json.dump({"detail": detail, "spans": res["spans"], "ops": res["ops"],
                           "layers": res["layers"], "metrics": metrics}, f)
        else:
            metrics = e2e
            with open(os.path.join(OUT, f"e2e-{key}.json"), "w") as f:
                json.dump({**e2e, **timings}, f)
            with open(os.path.join(OUT, f"ops-{key}.json"), "w") as f:
                json.dump({"first": res["first"], "ops": res["ops"]}, f)
        print("perfbench detail " + json.dumps(detail))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(checks),
            "failed": failed,
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
