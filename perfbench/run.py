"""Benchmark entry point.

    python3 perfbench/run.py --workload freeze_online --seed 1 --seconds 5 --trace 0

Run it from the repository root. It builds a local Spark session
through ``cryo_spark.get_spark``, generates the workload's inputs from
the seed, measures whole sets of ops for at least ``--seconds``, checks
every op's output and prints a readable report. Its last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``). Exit code 2 means the
engine or the benchmark data is missing; nothing is printed to stdout
then. Everything the run writes goes under ``.perfbench_work/`` in the
repository root; the traced run leaves its spans and per-op layer
records in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS_DIR = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("freeze_online", "corpus_prepare")

#: setup runs this many times per run; setup_s is the median
SETUP_REPEATS = 9
#: local[N] with N = min(this, usable cores)
MAX_CORES = 4
#: rows of the fixed CPU probe run before and after the measurement
PROBE_ROWS = 100_000_000

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "input_per_s": "1/s",
}

PER_LAYER = {
    "setup.launch_s": "s",
    "setup.warmup_s": "s",
    "host.probe_before_ms": "ms",
    "host.probe_after_ms": "ms",
    "host.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "driver.py4j_calls": "count",
    "driver.unattributed_ms": "ms",
    "api.construct_ms": "ms",
    "api.py4j_calls": "count",
    "readcache.calls": "count",
    "readcache.ms": "ms",
    "sources.fetch_ms": "ms",
    "sources.posts": "count",
    "sources.inner_requests": "count",
    "sources.retries": "count",
    "sources.posts_per_block": "count",
    "sources.wire_wait_ms": "ms",
    "io.write_ms": "ms",
    "io.files": "count",
    "io.bytes": "bytes",
    "io.bytes_per_row": "bytes",
    "pyworker.start_ms": "ms",
    "pyworker.init_ms": "ms",
    "pyworker.run_ms": "ms",
    "pyworker.bytes_to_py": "bytes",
    "pyworker.bytes_from_py": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_span_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_ms": "ms",
    "spark.spill_bytes": "bytes",
    "spark.scan_ms": "ms",
    "spark.agg_build_ms": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def missing_inputs() -> list[str]:
    need = [
        os.path.join(ROOT, "cryo_spark", "__init__.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(CORPUS_DIR, "documents.parquet"),
        os.path.join(CORPUS_DIR, "embeddings.parquet"),
    ]
    return [p for p in need if not os.path.isfile(p)]


def configure_process(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(work: str, trace: bool) -> dict[str, str]:
    from perfbench import tracing

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(tracing.event_log_conf(os.path.join(work, "eventlog")))
    return conf


def build_session(conf: dict[str, str]):
    from cryo_spark import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched; wait until the JVM and
    the Python workers it started have ended."""
    from pyspark import SparkContext

    from perfbench import procstat

    started = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    alive = procstat.wait_ended(started, timeout_s=30)
    if alive:
        print(f"perfbench: processes still alive after stop: {sorted(alive)}",
              file=sys.stderr)


def cpu_probe_ms(spark, cores: int) -> float:
    """Fixed CPU-bound Spark job (the kind bench.py's calibrate()
    runs): a host-noise witness, not a metric of the engine."""
    t0 = time.perf_counter()
    spark.range(0, PROBE_ROWS, 1, cores).selectExpr(
        "sum(id * 2654435761 % 1000003)"
    ).collect()
    return (time.perf_counter() - t0) * 1000.0


def run(args, work: str) -> dict:
    from perfbench import inputs, ops, procstat, tracing

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    configure_process(work, cores)
    conf = session_conf(work, bool(args.trace))
    tracer = tracing.Tracer(enabled=bool(args.trace))
    make_inputs = (
        inputs.freeze_inputs if args.workload == "freeze_online" else inputs.corpus_order
    )
    # the sampler thread competes with the Spark driver for the interpreter
    # lock, so untraced runs skip it
    rss = procstat.PeakRss() if args.trace else contextlib.nullcontext()
    with rss:
        setups, spark = [], None
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session(conf)
            make_inputs(args.seed)
            setups.append(time.perf_counter() - t0)
        if args.workload == "freeze_online":
            workload = ops.FreezeOnline(spark, os.path.join(work, "out"), tracer)
        else:
            workload = ops.CorpusPrepare(spark, CORPUS_DIR, tracer)
        tracer.install(spark)
        t0 = time.perf_counter()
        workload.warmup(args.seed)
        warmup_s = time.perf_counter() - t0
        cpu_probe_ms(spark, cores)  # compiles the probe's plan
        probe_before = cpu_probe_ms(spark, cores)
        done, set_walls = [], []
        t_start = time.perf_counter()
        for batch in workload.sets(args.seed):
            t0 = time.perf_counter()
            done += [(workload.op(op_id, arg), arg) for op_id, arg in batch]
            set_walls.append(time.perf_counter() - t0)
            if time.perf_counter() - t_start >= args.seconds:
                break
        probe_after = cpu_probe_ms(spark, cores)
        if args.trace:
            workload.trace_extras(done)
        results = [r for r, _ in done]
        tracer.uninstall()
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
    ok = [r for r in results if r.ok]
    op_time = sum(r.wall_s for r in results)
    e2e = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(set_walls),
        "rows_per_s": sum(r.rows for r in ok) / op_time,
        "input_per_s": sum(r.units for r in ok) / op_time,
    }
    out = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "results": results, "e2e": e2e, "setups": setups,
        "host": {"probe_before_ms": probe_before, "probe_after_ms": probe_after},
    }
    if args.trace:
        log_path = os.path.join(work, "eventlog", app_id)
        with open(log_path) as f:
            folded = tracing.fold_event_log(f, {
                op_id: (rec["start"], rec["end"])
                for op_id, rec in tracer.ops.items()
            })
        per_op = [op_layers(r, tracer, folded) for r in results]
        layers = mean_layers(per_op, results)
        layers.update({
            "setup.launch_s": setups[0],
            "setup.warmup_s": warmup_s,
            "host.probe_before_ms": probe_before,
            "host.probe_after_ms": probe_after,
            "host.peak_rss_mb": rss.peak / 2**20,
            "trace.wall_s": e2e["wall_s"],
        })
        for q in inputs.CORPUS_QUERIES:
            walls = [r.wall_s * 1000.0 for r in results if r.name == q]
            layers[f"operators.{q}.ms"] = statistics.median(walls) if walls else 0.0
        out["layers"] = layers
        out["trace"] = {
            "workload": args.workload, "seed": args.seed, "per_op": per_op,
            "layers": layers, "unassigned": folded.get(tracing.UNASSIGNED),
            **tracer.dump(),
        }
    return out


def op_layers(r, tracer, folded) -> dict:
    """Per-layer record of one measured op, with its reconciliation:
    construction plus the Spark job span inside the execution window
    should account for the op's wall time; the rest is unattributed
    driver time."""
    from perfbench import inputs, tracing

    rec = tracer.ops[r.op_id]
    f = folded.get(r.op_id, dict.fromkeys(tracing.FOLD_KEYS, 0.0))
    c = r.counters
    construct_end = max(
        (s["end"] for s in tracer.spans
         if s["parent"] == r.op_id and s["name"] == "api.construct"),
        default=rec["start"],
    )
    wall_ms = (rec["end"] - rec["start"]) * 1000.0
    construct_ms = rec.get("api.construct.ms", 0.0)
    job_span_ms = tracing.covered_s(
        f.get("job_intervals", []), construct_end, rec["end"]
    ) * 1000.0
    dispatches = c.get("posts", 0) + c.get("retries", 0)
    row = {
        "op_id": r.op_id, "name": r.name, "wall_ms": wall_ms, "ok": r.ok,
        "rows": r.rows,
        "driver.py4j_calls": rec.get("op.py4j", 0),
        "driver.unattributed_ms": wall_ms - construct_ms - job_span_ms,
        "api.construct_ms": construct_ms,
        "api.py4j_calls": rec.get("api.construct.py4j", 0),
        "readcache.calls": rec.get("readcache.calls", 0),
        "readcache.ms": rec.get("readcache.ms", 0.0),
        "sources.fetch_ms": c.get("fetch_ms", 0.0),
        "sources.posts": c.get("posts", 0),
        "sources.inner_requests": c.get("inner", 0),
        "sources.retries": c.get("retries", 0),
        "sources.posts_per_block": c.get("posts", 0) / r.units if "posts" in c else 0.0,
        "sources.wire_wait_ms": dispatches * inputs.POST_LATENCY_S * 1000.0,
        "io.write_ms": rec.get("io.write.ms", 0.0),
        "io.files": c.get("files", 0),
        "io.bytes": c.get("bytes", 0),
        "spark.job_span_ms": job_span_ms,
    }
    row.update((key, f[key]) for key in tracing.FOLD_KEYS)
    return row


def mean_layers(per_op: list[dict], results) -> dict:
    n = len(per_op)
    layers = {
        name: sum(row[name] for row in per_op) / n
        for name in PER_LAYER if name in per_op[0]
    }
    rows = sum(r.rows for r in results)
    layers["io.bytes_per_row"] = (
        sum(row["io.bytes"] for row in per_op) / rows if rows else 0.0
    )
    return layers


def report(out: dict, trace: bool) -> dict:
    """Print the readable report; return the contract's JSON object."""
    results = out["results"]
    failed = sum(not r.ok for r in results)
    if trace:
        names = dict(PER_LAYER)
        names.update({k: "ms" for k in out["layers"] if k.startswith("operators.")})
        values = out["layers"]
    else:
        names, values = END_TO_END, out["e2e"]
    print(f"perfbench {out['workload']} seed={out['seed']} local[{out['cores']}] "
          f"trace={int(trace)}")
    print("  setups " + " ".join(f"{t:.3f}" for t in out["setups"]) + " s")
    print(f"  ops attempted={len(results)} failed={failed} "
          f"ops_failed_ratio={failed / len(results)}")
    for r in results:
        print(f"  op {r.op_id:6s} {r.name:24s} {r.wall_s * 1000.0:10.1f} ms "
              f"rows={r.rows} ok={r.ok}")
    for name, unit in names.items():
        print(f"  {name:28s} {values[name]:16.4f} {unit}")
    host = out["host"]
    print(f"  host cpu probe: before {host['probe_before_ms']:.1f} ms, "
          f"after {host['probe_after_ms']:.1f} ms")
    if trace:
        print("  tracing overhead = trace.wall_s minus wall_s of an untraced "
              "run on the same seed")
    return {
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {
            name: {"value": values[name], "unit": unit}
            for name, unit in names.items()
        },
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = missing_inputs()
    if missing:
        print(f"perfbench: cannot run, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        traces = os.path.join(work_root, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(out["trace"], f, default=str)
    line = report(out, bool(args.trace))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
