"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from outside the engine, around the calls into each
layer, and kept in memory until the run ends:

- every op is a root span; the benchmark's own calls inside it
  (``api.construct``, ``execute``) are child spans;
- ``readcache.read_parquet_cached`` and ``io.write_chunked`` are wrapped
  at their module attributes, so calls the engine makes are spans too;
- every command sent through the py4j gateway is counted.

Engine-side work comes from Spark's own event log (see
:func:`fold_event_log`). With tracing off none of this is installed.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import sys
import threading
import time
from collections import defaultdict

#: job descriptions the benchmark sets start with this prefix
JOB_PREFIX = "perfbench:"

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf that writes an uncompressed, unrolled JSON event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Tracer:
    """Spans and counters of one run. ``Tracer(enabled=False)`` records
    nothing and patches nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        #: op id -> {"kind", "start", "end", counters...}
        self.ops: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._op: str | None = None
        self._py4j = 0
        self._restore: list[tuple[object, str, object]] = []
        self._sc = None

    # -- recording ------------------------------------------------------

    def _add(self, key: str, value: float) -> None:
        with self._lock:
            if self._op is not None:
                rec = self.ops[self._op]
                rec[key] = rec.get(key, 0) + value

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a child span of the current op; its duration and py4j
        commands add to the op's ``<name>.ms`` and ``<name>.py4j``."""
        if not self.enabled:
            yield
            return
        start, py4j0 = time.time(), self._py4j
        try:
            yield
        finally:
            end = time.time()
            with self._lock:
                self.spans.append({
                    "name": name, "parent": self._op, "start": start,
                    "end": end,
                })
            self._add(f"{name}.ms", (end - start) * 1000.0)
            self._add(f"{name}.calls", 1)
            self._add(f"{name}.py4j", self._py4j - py4j0)

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str = "op"):
        """Root span of one op. Jobs submitted from this thread carry
        the job description ``perfbench:<op_id>``."""
        if not self.enabled:
            yield
            return
        with self._lock:
            self.ops[op_id] = {"kind": kind, "start": time.time()}
            self._op = op_id
        self._sc.setJobDescription(JOB_PREFIX + op_id)
        py4j0 = self._py4j
        try:
            yield
        finally:
            with self._lock:
                rec = self.ops[op_id]
                rec["end"] = time.time()
                rec["op.py4j"] = self._py4j - py4j0
                self._op = None
            self._sc.setJobDescription(None)

    # -- installing the wrappers ----------------------------------------

    def install(self, spark) -> None:
        """Wrap the py4j gateway client and the layer entry points."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            with self._lock:
                self._py4j += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._restore.append((client, "send_command", None))
        self._wrap("cryo_spark.readcache", "read_parquet_cached", "readcache")
        self._wrap("cryo_spark.io", "write_chunked", "io.write")

    def _wrap(self, module: str, attr: str, span_name: str) -> None:
        orig = getattr(importlib.import_module(module), attr)

        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return orig(*args, **kwargs)

        # every module that bound the function at import time
        for name, mod in list(sys.modules.items()):
            if mod is None or not (
                name.startswith("cryo_spark") or name == "__spark_entry__"
            ):
                continue
            if vars(mod).get(attr) is orig:
                setattr(mod, attr, wrapper)
                self._restore.append((mod, attr, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            if orig is None:
                delattr(obj, attr)  # instance attribute shadowing the method
            else:
                setattr(obj, attr, orig)
        self._restore.clear()

    def dump(self) -> dict:
        return {"ops": self.ops, "spans": self.spans}


# -- Spark event log ----------------------------------------------------

#: SQL metric name -> per-layer metric: millisecond timings and byte
#: sizes, summed over tasks as Spark reports them. The Python worker
#: times come from the stamps each worker reports per task; their sum
#: can exceed the op's wall time times its cores.
SQL_METRICS = {
    "scan time": "spark.scan_ms",
    "time in aggregation build": "spark.agg_build_ms",
    "time to start Python workers": "pyworker.start_ms",
    "time to initialize Python workers": "pyworker.init_ms",
    "time to run Python workers": "pyworker.run_ms",
    "data sent to Python workers": "pyworker.bytes_to_py",
    "data returned from Python workers": "pyworker.bytes_from_py",
}

#: the per-layer metrics the fold produces for each op
FOLD_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.jvm_gc_ms", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.fetch_wait_ms", "spark.spill_bytes",
) + tuple(SQL_METRICS.values())

UNASSIGNED = "_unassigned"


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(lines, windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Fold a Spark JSON event log into per-op engine counters.

    A job belongs to the op named by its ``perfbench:<op>`` description.
    Jobs submitted from threads the engine starts itself carry no
    description (Spark's local properties do not reach them); they
    belong to the op whose ``windows`` entry (epoch seconds) holds their
    submission time. Each op also gets ``job_intervals``: the
    (submission, completion) epoch-second pairs of its jobs.
    """
    ops: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FOLD_KEYS, 0.0))
    job_op: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_op: dict[int, str] = {}
    intervals: dict[str, list] = defaultdict(list)

    def by_window(t: float) -> str:
        for op_id, (lo, hi) in windows.items():
            if lo <= t <= hi:
                return op_id
        return UNASSIGNED

    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a log cut mid-line while still being written
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            t = ev.get("Submission Time", 0) / 1000.0
            op = desc[len(JOB_PREFIX):] if desc.startswith(JOB_PREFIX) else by_window(t)
            job_op[ev["Job ID"]] = op
            job_start[ev["Job ID"]] = t
            ops[op]["spark.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_op:
                intervals[job_op[jid]].append(
                    (job_start[jid], ev.get("Completion Time", 0) / 1000.0)
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            ops[stage_op.get(sid, UNASSIGNED)]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            rec = ops[stage_op.get(ev.get("Stage ID"), UNASSIGNED)]
            rec["spark.tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["spark.executor_run_ms"] += _num(m.get("Executor Run Time"))
            rec["spark.executor_cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
            rec["spark.jvm_gc_ms"] += _num(m.get("JVM GC Time"))
            rec["spark.spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
            sr = m.get("Shuffle Read Metrics") or {}
            rec["spark.shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read")
            )
            rec["spark.fetch_wait_ms"] += _num(sr.get("Fetch Wait Time"))
            sw = m.get("Shuffle Write Metrics") or {}
            rec["spark.shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = SQL_METRICS.get(acc.get("Name"))
                if key:
                    rec[key] += _num(acc.get("Update"))
    out = {op: dict(rec) for op, rec in ops.items()}
    for op, iv in intervals.items():
        out.setdefault(op, dict.fromkeys(FOLD_KEYS, 0.0))["job_intervals"] = sorted(iv)
    return out


def covered_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total
