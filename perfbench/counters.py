"""Spark job/stage/task counters, attributed to queries by time window.

The benchmark drives one query at a time from one client, so every job
and stage submitted between a query's start and end belongs to that
query -- including jobs started from plain worker threads, which lose
the caller's job group. ``snapshot`` reads the driver's status store
(the same store the UI and REST API read, present with the UI off)
right after each query, before its retention limit can drop anything.

A counter that could not be captured is ``None``, never 0: a failed
snapshot, or a job whose stage is missing from the store, leaves the
stage-derived counters of that query unknown.
"""

from __future__ import annotations

import json

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "numTasks",
    "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
)

COUNTERS = (
    "driver.jobs", "driver.stages", "driver.tasks", "driver.outside_stage_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.busy_ratio",
    "shuffle.write_mb", "shuffle.read_mb", "spill.mb",
)

_MB = 1e6


def snapshot(spark) -> tuple[list[dict], list[dict]] | None:
    """All jobs and stages the status store retains, as plain dicts
    (times in epoch milliseconds). ``None`` if the store is unreadable."""
    sc = spark.sparkContext
    try:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        store = jsc.statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(None, False, False, getattr(store, "stageList$default$4")(), None)
            )
        )
    except Exception:  # noqa: BLE001 -- an unreadable store means "not captured"
        return None
    return jobs, stages


def _ms(v) -> float | None:
    """Jackson writes ``Option[Date]`` as epoch ms or null."""
    return None if v is None else float(v)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total / 1000.0


def attribute(snap, start_ms: float, end_ms: float, cores: int) -> dict:
    """Counters of the query that ran in ``[start_ms, end_ms]``.

    Jobs and stages are the query's when they were submitted inside the
    window. Stage-derived counters are ``None`` when ``snap`` is ``None``
    or when a job of the window names a stage the store no longer has."""
    out: dict = dict.fromkeys(COUNTERS)
    if snap is None:
        return out
    jobs, stages = snap

    def inside(rec) -> bool:
        t = _ms(rec.get("submissionTime"))
        return t is not None and start_ms <= t <= end_ms

    qjobs = [j for j in jobs if inside(j)]
    out["driver.jobs"] = len(qjobs)
    by_id = {(s["stageId"], s.get("attemptId", 0)): s for s in stages}
    known = {s["stageId"] for s in stages}
    wanted = {sid for j in qjobs for sid in j.get("stageIds", [])}
    if wanted - known:
        return out
    ran = [s for s in by_id.values() if inside(s) and s.get("status") != "SKIPPED"]
    wall_s = (end_ms - start_ms) / 1000.0
    sums = {f: sum(int(s.get(f) or 0) for s in ran) for f in STAGE_FIELDS}
    intervals = [
        (max(_ms(s["submissionTime"]), start_ms), min(_ms(s.get("completionTime")) or end_ms, end_ms))
        for s in ran
    ]
    out.update({
        "driver.stages": len(ran),
        "driver.tasks": sums["numTasks"],
        "driver.outside_stage_s": max(0.0, wall_s - _union_s(intervals)),
        "exec.run_s": sums["executorRunTime"] / 1000.0,
        "exec.cpu_s": sums["executorCpuTime"] / 1e9,
        "exec.gc_s": sums["jvmGcTime"] / 1000.0,
        "exec.busy_ratio": (sums["executorRunTime"] / 1000.0) / (wall_s * cores) if wall_s > 0 else None,
        "shuffle.write_mb": sums["shuffleWriteBytes"] / _MB,
        "shuffle.read_mb": sums["shuffleReadBytes"] / _MB,
        "spill.mb": sums["diskBytesSpilled"] / _MB,
    })
    return out
