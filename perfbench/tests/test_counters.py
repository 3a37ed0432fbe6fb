"""Attribution of Spark jobs and stages to queries by time window, and
the rule that a counter not captured reads None, never 0."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import counters  # noqa: E402


def _job(job_id, submit, stage_ids):
    return {"jobId": job_id, "submissionTime": submit, "stageIds": stage_ids}


def _stage(stage_id, submit, done, status="COMPLETE", **metrics):
    return {"stageId": stage_id, "attemptId": 0, "status": status, "submissionTime": submit,
            "completionTime": done, "numTasks": metrics.get("tasks", 4),
            "executorRunTime": metrics.get("run_ms", 1000), "executorCpuTime": 5 * 10**8,
            "jvmGcTime": 10, "shuffleReadBytes": 2_000_000, "shuffleWriteBytes": 3_000_000,
            "diskBytesSpilled": 0}


# Query A runs in [1000, 3000] ms, query B in [3000, 6000] ms. Job 2 is
# submitted from a pool thread during A and carries no job group.
SNAP = (
    [_job(1, 1100, [1, 2]), _job(2, 2000, [3]), _job(3, 3500, [4, 5])],
    [
        _stage(1, 1150, 1400),
        _stage(2, None, None, status="SKIPPED"),
        _stage(3, 2050, 2500),
        _stage(4, 3600, 4600),
        _stage(5, 4000, 5000, tasks=8, run_ms=3000),
    ],
)


def test_jobs_and_stages_go_to_the_query_whose_window_holds_their_submission():
    a = counters.attribute(SNAP, 1000, 3000, cores=4)
    b = counters.attribute(SNAP, 3000, 6000, cores=4)
    assert (a["driver.jobs"], a["driver.stages"], a["driver.tasks"]) == (2, 2, 8)
    assert (b["driver.jobs"], b["driver.stages"], b["driver.tasks"]) == (1, 2, 12)
    assert a["exec.run_s"] == 2.0 and b["exec.run_s"] == 4.0
    assert a["shuffle.write_mb"] == 6.0


def test_outside_stage_time_is_wall_minus_union_of_stage_intervals():
    a = counters.attribute(SNAP, 1000, 3000, cores=4)
    b = counters.attribute(SNAP, 3000, 6000, cores=4)
    # A: stages cover 250 + 450 ms of 2000 ms; B: [3600, 5000] of 3000 ms
    assert abs(a["driver.outside_stage_s"] - 1.3) < 1e-9
    assert abs(b["driver.outside_stage_s"] - 1.6) < 1e-9
    assert abs(b["exec.busy_ratio"] - 4.0 / (3.0 * 4)) < 1e-9


def test_a_query_with_no_jobs_reads_zero():
    c = counters.attribute(SNAP, 7000, 8000, cores=4)
    assert c["driver.jobs"] == 0 and c["driver.stages"] == 0
    assert c["driver.outside_stage_s"] == 1.0


def test_failed_snapshot_reads_none_never_zero():
    c = counters.attribute(None, 1000, 3000, cores=4)
    assert set(c) == set(counters.COUNTERS)
    assert all(v is None for v in c.values())


def test_stage_dropped_from_the_store_leaves_stage_counters_none():
    jobs, stages = SNAP
    partial = (jobs, [s for s in stages if s["stageId"] != 3])
    a = counters.attribute(partial, 1000, 3000, cores=4)
    assert a["driver.jobs"] == 2
    for k in counters.COUNTERS:
        if k != "driver.jobs":
            assert a[k] is None, k
