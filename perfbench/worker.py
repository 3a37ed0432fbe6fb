"""One benchmark run of one workload, in its own process.

``run.py`` starts this file with the run's settings as one JSON
argument, after it has generated the inputs and set the environment.
The worker brings up the session, imports ``registry``, runs the
unmeasured cold pass and two warm-up passes (this is the set-up time), then
measured passes for the requested seconds, then the output checks, and
writes every execution record to ``result_path``.

With tracing on, the layer wrappers are installed before ``registry``
is imported, the three measured passes are untraced, traced, untraced,
and the layer probes run once at the end.
"""

from __future__ import annotations

import gc
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import counters  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PCTLS = (0.1, 0.25, 0.5, 0.75, 0.9)
WARMUP_PASSES = 2


def _vm_hwm_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None


def _files_under(roots) -> dict[str, tuple[int, float]]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime)
    return out


def _written(before: dict, after: dict) -> tuple[int, float]:
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new) / 1e6


def _span_stats(query_spans: list[dict]) -> dict:
    def of(name):
        return [s for s in query_spans if s["name"] == name and s["end"] is not None]

    spread = of("sources.spread")
    return {
        "sources.spread_s": sum(s["end"] - s["start"] for s in spread),
        "sources.spread_calls": len(spread),
        "sources.spread_repartitioned": sum(1 for s in spread if s.get("repartitioned")),
        "functions.pins": len(of("functions.pin")) + len(of("functions.pin_eager")),
        "functions.pin_eager_s": sum(s["end"] - s["start"] for s in of("functions.pin_eager")),
        "streaming.drain_s": sum(s["end"] - s["start"] for s in of("streaming.run_to_memory")),
    }


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


class Runner:
    def __init__(self, spark, cfg: dict, tracer: spans.Tracer | None):
        from pyspark.sql import Observation

        from sow_pyspark_scripts_spark import registry
        from sow_pyspark_scripts_spark.functions.pin import release_pins

        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.registry, self.release_pins, self.Observation = registry, release_pins, Observation
        self.sf = cfg["sf_dir"]
        self.cores = cfg["cores"]
        self.write_roots = [cfg["tmp_dir"], cfg["warehouse_dir"]]
        self.n_obs = 0
        self.records: list[dict] = []

    def run_query(self, name: str, pass_no: int, kind: str) -> None:
        spark = self.spark
        self.release_pins(spark)
        spark.catalog.clearCache()
        gc.collect()
        traced = kind == "traced"
        rec = {"query": name, "pass": pass_no, "kind": kind, "ok": False}
        if traced:
            self.tracer.enabled = True
            self.tracer.query = name
            self.tracer.streams.clear()
            files_before = _files_under(self.write_roots)
            root = self.tracer.begin("query")
            self.tracer.root = root
        self.n_obs += 1
        obs = self.Observation(f"perfbench_{self.n_obs}")
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            df = self.registry.QUERIES[name](spark, self.sf)
            t_built = time.perf_counter()
            if traced:
                df._jdf.queryExecution().executedPlan()
                rec["driver.plan_s"] = time.perf_counter() - t_built
            writer = df.observe(obs, *check.observed_digest(df)).write.mode("overwrite")
            if kind == "warm":
                writer.parquet(os.path.join(self.cfg["check_dir"], name))
            else:
                writer.format("noop").save()
            rec["latency_s"] = time.perf_counter() - t0
            rec["driver.build_s"] = t_built - t0
            got = obs.get
            rec.update(ok=True, rows=int(got["rows"]), hash=int(got["hash"]))
        except Exception as exc:  # noqa: BLE001 -- recorded and counted as failed
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        end_ms = time.time() * 1000.0
        if traced:
            self.tracer.end(root)
            self.tracer.root = None
            self.tracer.enabled = False
            rec.update(_span_stats(self.tracer.spans[root:]))
            rec.update(counters.attribute(counters.snapshot(spark), start_ms, end_ms, self.cores))
            rec["sources.files_written"], rec["sources.mb_written"] = _written(
                files_before, _files_under(self.write_roots))
            rec.update(self._stream_stats())
        self.records.append(rec)

    def _stream_stats(self) -> dict:
        prog = [p for q in self.tracer.streams for p in _progress(q)]
        last = [_progress(q)[-1] for q in self.tracer.streams if q.recentProgress]
        ops = [op for p in last for op in p.get("stateOperators", [])]
        return {
            "streaming.batches": len(prog),
            "streaming.input_rows": sum(int(p.get("numInputRows", 0)) for p in prog),
            "streaming.state_rows": sum(int(op.get("numRowsTotal", 0)) for op in ops),
            "streaming.state_mb": sum(int(op.get("memoryUsedBytes", 0)) for op in ops) / 1e6,
        }

    def run_pass(self, queries, pass_no: int, kind: str) -> None:
        for name in queries:
            self.run_query(name, pass_no, kind)

    def check_outputs(self, wl) -> dict:
        """Compare the cold pass's output of each query with its DuckDB
        oracle, once per run, outside the timed passes."""
        oracles = self.registry.resolved_oracles()
        con = check.duck_connect(self.sf, self.cfg["tables"])
        out = {}
        try:
            for name in wl.queries:
                if name not in oracles or (name in wl.heavy_oracle and self.tracer is None):
                    out[name] = {"oracle": "skipped"}
                    continue
                t = time.perf_counter()
                try:
                    out[name] = check.compare_with_oracle(
                        con, os.path.join(self.cfg["check_dir"], name), oracles[name])
                except Exception as exc:  # noqa: BLE001 -- a check that cannot run counts as failed
                    out[name] = {"oracle": "error", "error": f"{type(exc).__name__}: {exc}"[:400]}
                out[name]["seconds"] = time.perf_counter() - t
        finally:
            con.close()
        return out

    def probes(self) -> dict:
        """Each layer's public functions called directly on this run's
        inputs, materialized, timed once."""
        from pyspark.sql import functions as F

        from sow_pyspark_scripts_spark.functions import sketch
        from sow_pyspark_scripts_spark.operators import dedup, graph, relational, similarity, temporal
        from sow_pyspark_scripts_spark.plans import ann_index
        from sow_pyspark_scripts_spark.sources import parquet as src
        from sow_pyspark_scripts_spark.streaming import pipeline

        spark, sf, tr = self.spark, self.sf, self.tracer
        tr.enabled, tr.query = True, "probe"
        out: dict = {}

        def noop(df) -> int:
            self.n_obs += 1
            obs = self.Observation(f"perfbench_{self.n_obs}")
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
            return int(obs.get["rows"])

        def timed(fn):
            t = time.perf_counter()
            res = fn()
            return time.perf_counter() - t, res

        scan = [timed(lambda t=t: noop(src.read_table(spark, sf, t))) for t in self.cfg["tables"]]
        out["sources.scan_s"] = sum(s for s, _ in scan)
        out["sources.scan_rows"] = sum(n for _, n in scan)
        lineitem = src.read_table(spark, sf, "lineitem")
        out["functions.approx_pctls_s"], _ = timed(
            lambda: lineitem.select(sketch.approx_pctls("l_extendedprice", PCTLS)).collect())

        docs = src.read_table(spark, sf, "documents").select("doc_id", "text")
        sigs = dedup.minhash_signatures(dedup.word_shingles(docs, distinct=False))
        out["operators.minhash_s"], _ = timed(lambda: noop(sigs))
        sigs = sigs.localCheckpoint(eager=True)
        pairs = dedup.band_collision_pairs(dedup.band_signatures(sigs))
        out["operators.lsh_pairs_s"], _ = timed(lambda: noop(pairs))
        edges = pairs.localCheckpoint(eager=True).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        first = len(tr.spans)
        out["operators.cc_s"], _ = timed(lambda: noop(graph.connected_components(docs.select("doc_id"), edges)))
        cc = [i for i in range(first, len(tr.spans)) if tr.spans[i]["name"] == "operators.connected_components"]
        out["operators.cc_iterations"] = sum(
            1 for s in tr.spans[first:] if s["name"] == "functions.pin_eager" and s["parent"] in cc)
        emb = src.read_table(spark, sf, "embeddings")
        out["operators.topk_s"] = sum(timed(lambda f=f: noop(f(emb, F.col("vec_id") < 20, k=5)))[0]
                                      for f in (similarity.topk_exact, similarity.topk_lsh))
        ev = src.read_table(spark, sf, "events")
        top = relational.top_n_per_group(
            lineitem, ["l_suppkey"], [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")], 3)
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_event_id"))
        asof = temporal.asof_join(ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts"),
                                  clicks, on=["user_id"], left_ts="ts", right_ts="click_ts",
                                  payload=["click_ts"], tiebreak="click_event_id")
        out["operators.relational_s"] = timed(lambda: noop(top))[0] + timed(lambda: noop(asof))[0]

        out["index.build_s"], idx = timed(lambda: ann_index.ensure_ann_index(spark, sf, rebuild=True))
        out["index.doc_build_s"], doc_idx = timed(lambda: ann_index.ensure_doc_index(spark, sf, rebuild=True))
        out["index.hit_s"], _ = timed(lambda: ann_index.ensure_ann_index(spark, sf))
        files = _files_under([idx, doc_idx])
        out["index.files"] = len(files)
        out["index.mb"] = sum(size for size, _ in files.values()) / 1e6

        out.update(self._stream_probe(pipeline, src))
        tr.enabled, tr.query = False, None
        return out

    def _stream_probe(self, pipeline, src) -> dict:
        """Drain the same events as the single-file table and as a
        directory of part files; batch-read both."""
        import pyarrow.parquet as pq

        part_dir = os.path.join(self.cfg["tmp_dir"], "perfbench_events_parts")
        table = pq.read_table(os.path.join(self.sf, "events.parquet"))
        os.makedirs(os.path.join(part_dir, "events.parquet"), exist_ok=True)
        step = -(-table.num_rows // 4)
        for i in range(4):
            pq.write_table(table.slice(i * step, step), os.path.join(part_dir, "events.parquet", f"part-{i:05d}.parquet"))
        rows = {}
        for label, sf in (("file", self.sf), ("dir", part_dir)):
            drained = pipeline.run_to_memory(pipeline.stream_events(self.spark, sf), "append")
            rows[f"streaming.probe_{label}_rows"] = drained.count()
            rows[f"streaming.probe_{label}_batch_rows"] = src.read_table(self.spark, sf, "events").count()
        return rows


def main() -> None:
    cfg = json.loads(sys.argv[1])
    wl = WORKLOADS[cfg["workload"]]
    tracer = spans.Tracer() if cfg["trace"] else None
    if tracer is not None:
        spans.install(tracer)
    from sow_pyspark_scripts_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": cfg["warehouse_dir"],
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    runner = Runner(spark, cfg, tracer)
    session_s = time.time() - cfg["t0"]
    rng = random.Random(cfg["seed"])

    def order():
        return rng.sample(wl.queries, len(wl.queries))

    # Set-up is the cold pass plus two warm-up passes: on 4 cores the JVM
    # keeps speeding up for three to five passes, and the first two passes
    # after the cold one vary 30% between runs; later ones about 13%.
    runner.run_pass(order(), 0, "warm")
    for pass_no in range(1, WARMUP_PASSES + 1):
        runner.run_pass(order(), pass_no, "warmup")
    setup_s = time.time() - cfg["t0"]

    # At least two measured passes, for a median. A traced run makes
    # exactly three: untraced, traced, untraced, so the traced pass sits
    # between the two it is compared with.
    t_start, measured = time.perf_counter(), 0
    while measured < (3 if tracer is not None else 2) or (
            tracer is None and time.perf_counter() - t_start < cfg["seconds"]):
        measured += 1
        kind = "traced" if tracer is not None and measured == 2 else "timed"
        runner.run_pass(order(), WARMUP_PASSES + measured, kind)
    measure_s = time.perf_counter() - t_start

    t = time.perf_counter()
    checks = runner.check_outputs(wl)
    check_s = time.perf_counter() - t
    probe = runner.probes() if tracer is not None else {}
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = [_vm_hwm_mb(jvm_pid), _vm_hwm_mb(os.getpid())]
    result = {
        "session_s": session_s,
        "setup_s": setup_s,
        "measure_s": measure_s,
        "check_s": check_s,
        "records": runner.records,
        "checks": checks,
        "probes": probe,
        "peak_rss_mb": None if None in rss else sum(rss),
    }
    if tracer is not None:
        result["self_s"] = tracer.self_times()
        result["spans"] = tracer.spans
    with open(cfg["result_path"], "w") as fh:
        json.dump(result, fh)
    spark.stop()


if __name__ == "__main__":
    main()
