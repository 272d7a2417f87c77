"""Regenerate tests/fixtures/eventlog_small.jsonl and its op windows.

    python3 perfbench/tests/make_eventlog_fixture.py

Runs three small jobs on a local session with the event log on: op
``a`` (scan, Python UDF, aggregation) under its job description, op
``b`` from a plain thread (no description, so only its time window
places it) and one job outside any op. The log is cut down to the
events and fields the fold reads, and its last line is cut short the
way a log still being written can be.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "fixtures")


def keep(ev: dict, names: set[str]) -> dict | None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        desc = (ev.get("Properties") or {}).get("spark.job.description")
        return {
            "Event": kind, "Job ID": ev["Job ID"],
            "Submission Time": ev["Submission Time"], "Stage IDs": ev["Stage IDs"],
            "Properties": {"spark.job.description": desc} if desc else {},
        }
    if kind == "SparkListenerJobEnd":
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Completion Time": ev["Completion Time"]}
    if kind == "SparkListenerStageCompleted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
    if kind == "SparkListenerTaskEnd":
        info = ev["Task Info"]
        return {
            "Event": kind, "Stage ID": ev["Stage ID"],
            "Task Info": {"Accumulables": [
                {"Name": a["Name"], "Update": a["Update"]}
                for a in info.get("Accumulables", []) if a.get("Name") in names
            ]},
            "Task Metrics": ev.get("Task Metrics"),
        }
    if kind == "SparkListenerLogStart":
        return ev
    return None


def main() -> None:
    sys.path.insert(0, ROOT)
    from perfbench import run, tracing

    work = os.path.join(ROOT, ".perfbench_work", "fixture")
    run.configure_process(work, 2)
    spark = run.build_session(run.session_conf(work, trace=True))
    sc = spark.sparkContext
    import pandas as pd

    data = os.path.join(work, "t.parquet")
    spark.range(0, 2000, 1, 2).selectExpr("id", "id % 7 AS k").write.parquet(data)
    windows = {}

    t0 = time.time()
    sc.setJobDescription(tracing.JOB_PREFIX + "a")

    def plus_one(it):
        for pdf in it:
            yield pd.DataFrame({"k": pdf["k"] + 1})

    spark.read.parquet(data).mapInPandas(plus_one, "k long").groupBy("k").count().collect()
    sc.setJobDescription(None)
    windows["a"] = (t0, time.time())

    t0 = time.time()
    th = threading.Thread(target=lambda: spark.range(0, 1000, 1, 2).selectExpr(
        "id % 5 AS k").groupBy("k").count().collect())
    th.start()
    th.join()
    windows["b"] = (t0, time.time())
    time.sleep(0.05)
    spark.range(10).collect()  # outside every window
    app = sc.applicationId
    spark.stop()

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(work, "eventlog", app)) as f:
        events = [keep(json.loads(line), set(tracing.SQL_METRICS)) for line in f]
    lines = [json.dumps(ev) for ev in events if ev is not None]
    lines.append(lines[-1][: len(lines[-1]) // 2])
    with open(os.path.join(OUT, "eventlog_small.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(OUT, "eventlog_windows.json"), "w") as f:
        json.dump(windows, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(len(lines), "lines;", glob.glob(os.path.join(OUT, "*")))


if __name__ == "__main__":
    main()
