"""The event-log fold reads a small committed log (see
make_eventlog_fixture.py) and places every job, stage and task."""

import json
import os

from perfbench import tracing

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fold():
    with open(os.path.join(FIXTURES, "eventlog_windows.json")) as f:
        windows = {k: tuple(v) for k, v in json.load(f).items()}
    with open(os.path.join(FIXTURES, "eventlog_small.jsonl")) as f:
        return tracing.fold_event_log(f, windows)


def _raw_events():
    out = []
    with open(os.path.join(FIXTURES, "eventlog_small.jsonl")) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except ValueError:
                pass
    return out


def test_fold_places_jobs_by_description_and_by_window():
    folded = _fold()
    assert set(folded) == {"a", "b", tracing.UNASSIGNED}
    # every job, stage and task of the log lands in exactly one op
    events = _raw_events()
    for key, kind in (("spark.jobs", "SparkListenerJobStart"),
                      ("spark.stages", "SparkListenerStageCompleted"),
                      ("spark.tasks", "SparkListenerTaskEnd")):
        assert sum(op[key] for op in folded.values()) == sum(
            ev["Event"] == kind for ev in events
        )
    described = {
        ev["Job ID"] for ev in events if ev["Event"] == "SparkListenerJobStart"
        and ev["Properties"].get("spark.job.description") == tracing.JOB_PREFIX + "a"
    }
    assert folded["a"]["spark.jobs"] == len(described) >= 1
    assert folded["b"]["spark.jobs"] >= 1  # no description: placed by its window
    assert folded[tracing.UNASSIGNED]["spark.jobs"] >= 1


def test_fold_reads_task_metrics_and_sql_accumulables():
    a = _fold()["a"]
    assert a["spark.executor_run_ms"] > 0 and a["spark.executor_cpu_ms"] > 0
    assert a["spark.shuffle_write_bytes"] > 0 and a["spark.shuffle_read_bytes"] > 0
    assert a["pyworker.bytes_to_py"] > 0 and a["pyworker.bytes_from_py"] > 0
    assert a["pyworker.run_ms"] > 0
    assert a["spark.scan_ms"] >= 0 and a["spark.agg_build_ms"] > 0
    # op b runs no Python
    assert _fold()["b"]["pyworker.bytes_to_py"] == 0


def test_job_intervals_lie_in_their_windows():
    with open(os.path.join(FIXTURES, "eventlog_windows.json")) as f:
        windows = json.load(f)
    folded = _fold()
    for op in ("a", "b"):
        lo, hi = windows[op]
        for s, e in folded[op]["job_intervals"]:
            assert lo - 0.01 <= s <= e <= hi + 0.01


def test_covered_s_merges_overlaps_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]
    assert tracing.covered_s(iv, 0.0, 10.0) == 4.0
    assert tracing.covered_s(iv, 1.5, 5.5) == 2.0
    assert tracing.covered_s([], 0.0, 1.0) == 0.0
