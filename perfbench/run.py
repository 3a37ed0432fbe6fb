"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_sf01 --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. The runner generates the
workload's inputs from ``--seed`` under a private run directory, sets
the run's environment (private ``TMPDIR`` and ``SPARK_LOCAL_DIRS``, the
host's core count and a driver heap sized from physical memory, console
progress off), starts ``worker.py`` in its own process group, waits for
it, and prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see ``perfbench/README.md``). Full
records go to ``.perfbench_out/`` in the checkout; the run directory is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0
E2E_UNITS = {"setup_s": "s", "batch_s": "s", "query_s.geomean": "s"}
SUM_KEYS = (
    "driver.build_s", "driver.plan_s", "driver.outside_stage_s", "driver.jobs", "driver.stages",
    "driver.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_mb", "shuffle.read_mb",
    "spill.mb", "sources.spread_s", "sources.files_written", "sources.mb_written", "functions.pins",
    "functions.pin_eager_s", "streaming.drain_s", "streaming.batches", "streaming.input_rows",
    "streaming.state_rows", "streaming.state_mb",
)
LAYER_UNITS = {
    "driver.build_s": "s", "driver.plan_s": "s", "driver.outside_stage_s": "s",
    "driver.outside_stage_share": "ratio", "driver.jobs": "count", "driver.stages": "count",
    "driver.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_ratio": "ratio", "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "spill.mb": "MB",
    "sources.scan_s": "s", "sources.scan_rows": "count", "sources.spread_s": "s",
    "sources.spread_ratio": "ratio", "sources.files_written": "count", "sources.mb_written": "MB",
    "functions.pins": "count", "functions.pin_eager_s": "s", "functions.approx_pctls_s": "s",
    "operators.minhash_s": "s", "operators.lsh_pairs_s": "s", "operators.cc_s": "s",
    "operators.cc_iterations": "count", "operators.topk_s": "s", "operators.relational_s": "s",
    "index.build_s": "s", "index.doc_build_s": "s", "index.hit_s": "s", "index.files": "count",
    "index.mb": "MB", "streaming.drain_s": "s", "streaming.batches": "count",
    "streaming.input_rows": "count", "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.events_per_s": "1/s", "streaming.probe_file_rows": "count",
    "streaming.probe_dir_rows": "count", "trace.overhead_ratio": "ratio",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM), and wait."""
    for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=wait)
        except subprocess.TimeoutExpired:
            continue
        # the group may outlive its leader: probe until it is gone
        deadline = time.time() + wait
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_worker(args, run_dir: str, inputs: str, cores: int) -> dict:
    tmp, local, wh, chk = (os.path.join(run_dir, d) for d in ("tmp", "local", "warehouse", "check"))
    for d in (tmp, local, wh, chk):
        os.makedirs(d)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(_mem_total_mb() // 4, 8192)}m",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.driver.extraJavaOptions=\"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" pyspark-shell"
        ),
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
    })
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "sf_dir": inputs, "tmp_dir": tmp, "warehouse_dir": wh,
        "check_dir": chk, "result_path": result_path, "cores": cores, "tables": list(gen.TABLES),
        "t0": time.time(),
    }
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - args.started)))
        except subprocess.TimeoutExpired:
            _log("worker exceeded the deadline; stopping it")
        finally:
            _stop_group(proc)
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
    with open(result_path) as fh:
        return json.load(fh)


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def _passes(records, kind) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = {}
    for r in records:
        if r["kind"] == kind:
            out.setdefault(r["pass"], []).append(r)
    return out


def judge(res: dict, digest_store: dict) -> tuple[int, int, dict]:
    """Count failed executions: raised, a row count or hash that differs
    from the cold pass's or from an earlier run of the same seed, or a
    query whose oracle check did not match."""
    records = res["records"]
    first = {r["query"]: (r["rows"], r["hash"]) for r in records if r["kind"] == "warm" and r["ok"]}
    bad: dict[str, str] = {}
    for name, chk in res["checks"].items():
        if chk["oracle"] in ("mismatch", "error"):
            bad[name] = f"oracle {chk['oracle']}: {chk.get('error') or chk}"
    for name, d in first.items():
        prev = digest_store.get(name)
        if prev is not None and tuple(prev) != d:
            bad.setdefault(name, f"digest {d} != earlier run of this seed {tuple(prev)}")
        digest_store[name] = list(d)
    failed = 0
    for r in records:
        if not r["ok"]:
            failed += 1
            bad.setdefault(r["query"], r.get("error", "failed"))
        elif r["query"] in bad or (r["rows"], r["hash"]) != first.get(r["query"]):
            failed += 1
            bad.setdefault(r["query"], f"pass {r['pass']} digest differs from the cold pass")
    return len(records), failed, bad


def end_to_end(res: dict) -> tuple[dict, dict]:
    timed = _passes(res["records"], "timed")
    batch = [sum(r["latency_s"] for r in rs if r["ok"]) for rs in timed.values()]
    by_query: dict[str, list[float]] = {}
    for rs in timed.values():
        for r in rs:
            if r["ok"]:
                by_query.setdefault(r["query"], []).append(r["latency_s"])
    lat = sorted(x for v in by_query.values() for x in v)
    p90 = statistics.quantiles(lat, n=10)[8] if len(lat) >= 2 else None
    beyond = sum(1 for x in lat if p90 is not None and x > p90)
    metrics = {
        "setup_s": res["setup_s"],
        "batch_s": _median(batch),
        "query_s.geomean": statistics.geometric_mean([statistics.median(v) for v in by_query.values()]),
    }
    # Printed, not gated. The median over every execution of a mix of a
    # few queries is one query's latency (text_pipeline_e3 on a five-query
    # etl_sf01), which spread 24% across ten runs; the geometric mean of
    # the queries' medians spread 14%. Peak RSS follows the JVM heap's growth, which
    # depends on GC timing; it spread about 20%.
    extra = {
        "query_s.p50": _median(lat), "peak_rss_mb": res["peak_rss_mb"], "passes": len(batch),
        "query_samples": len(lat), "query_s.p90": p90 if beyond >= 10 else None, "query_s.p90_beyond": beyond,
        "session_s": res["session_s"], "check_s": res["check_s"], "measure_s": res["measure_s"],
    }
    return metrics, extra


def per_layer(res: dict) -> dict:
    """Layer values of the run's one traced pass, plus the probes."""
    rs = [r for r in res["records"] if r["kind"] == "traced"]
    out = {k: None if any(r.get(k) is None for r in rs) else sum(r[k] for r in rs) for k in SUM_KEYS}
    wall = sum(r["latency_s"] for r in rs if r["ok"])
    if out["driver.outside_stage_s"] is not None:
        out["driver.outside_stage_share"] = out["driver.outside_stage_s"] / wall
    if out["exec.run_s"] is not None:
        out["exec.busy_ratio"] = out["exec.run_s"] / (wall * res["cores"])
    calls = sum(r.get("sources.spread_calls", 0) for r in rs)
    out["sources.spread_ratio"] = sum(r.get("sources.spread_repartitioned", 0) for r in rs) / calls if calls else 0.0
    drain = out["streaming.drain_s"]
    out["streaming.events_per_s"] = out["streaming.input_rows"] / drain if drain else 0.0
    out.update({k: v for k, v in res["probes"].items() if k in LAYER_UNITS})
    untraced = _passes(res["records"], "timed")
    out["trace.overhead_ratio"] = wall / _median(sum(r["latency_s"] for r in p if r["ok"]) for p in untraced.values())
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.started = time.time()
    # turn SIGTERM into an exit, so the worker's process group is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "sow_pyspark_scripts_spark")):
        _log(f"no engine source under {ROOT}: run from the root of a source checkout")
        return 2

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        t = time.perf_counter()
        inputs = os.path.join(run_dir, "inputs")
        digests = gen.write_inputs(inputs, args.seed)
        _log(f"generated inputs for seed {args.seed} in {time.perf_counter() - t:.2f}s (not counted)")
        res = run_worker(args, run_dir, inputs, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["cores"] = cores

    store_path = os.path.join(out_dir, "digests.json")
    store = {}
    if os.path.exists(store_path):
        with open(store_path) as fh:
            store = json.load(fh)
    seed_store = store.setdefault(args.workload, {}).setdefault(str(args.seed), {})
    attempted, failed, bad = judge(res, seed_store)
    with open(store_path, "w") as fh:
        json.dump(store, fh)

    e2e, extra = end_to_end(res)
    summary = {"workload": args.workload, "seed": args.seed, "inputs_sha256": digests,
               "error_rate": failed / attempted, "failing": bad, **extra}
    if args.trace:
        layer = per_layer(res)
        missing = [k for k in LAYER_UNITS if layer.get(k) is None]
        metrics = {k: {"value": layer.get(k), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        missing = [k for k, v in e2e.items() if v is None]
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    detail = {"summary": summary, "metrics": metrics, "checks": res["checks"],
              "records": res["records"], "probes": res["probes"],
              "self_s": res.get("self_s"), "spans": res.get("spans")}
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh)

    for k, m in metrics.items():
        print(f"{k:32s} {m['value']!s:>24} {m['unit']}")
    for k in ("query_s.p50", "query_s.p90", "query_s.p90_beyond", "query_samples", "passes", "peak_rss_mb",
              "session_s", "check_s"):
        print(f"{k:32s} {extra[k]!s:>24}")
    print(f"{'error_rate':32s} {failed / attempted:>24.4f} ratio ({failed} of {attempted} executions)")
    for name, why in bad.items():
        print(f"FAILED {name}: {why}")
    probe = res["probes"]
    if args.trace and probe["streaming.probe_dir_rows"] != probe["streaming.probe_file_rows"]:
        print(f"KNOWN DEFECT stream_events drains {probe['streaming.probe_dir_rows']} of "
              f"{probe['streaming.probe_dir_batch_rows']} events from a directory input "
              f"({probe['streaming.probe_file_rows']} from the single file)")
    if missing:
        _log(f"not captured: {', '.join(missing)}")
        return 1
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
