"""Workload ops: each drives one public engine entry point, times it
and checks its output. An op that raises or whose check fails counts
as failed; the run goes on.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.tracing import Tracer


@dataclass
class OpResult:
    op_id: str
    name: str
    wall_s: float
    #: output rows the check accepted (0 when it failed)
    rows: int
    #: input units the op consumed: blocks or documents
    units: int
    ok: bool
    #: layer counters the op measured itself (RPC dispatch log, files)
    counters: dict = field(default_factory=dict)


def _failed(op_id: str, what: str) -> None:
    print(f"perfbench: op {op_id} failed: {what}", file=sys.stderr)


class FreezeOnline:
    """Sequential ``api.freeze`` calls, each over a fresh window fetched
    through an ``OnlineSource`` backed by the stress fake node."""

    name = "freeze_online"

    def __init__(self, spark, workdir: str, tracer: Tracer):
        self.spark, self.workdir, self.tracer = spark, workdir, tracer
        os.makedirs(workdir, exist_ok=True)

    def _source(self, log_path: str, chunks=None):
        from cryo_spark.sources import rpc
        from cryo_spark.sources import rpc_families as fam
        from cryo_spark.sources.online import OnlineSource

        factory = fam.StressFakeFactory(
            log_path, latency_s=inputs.POST_LATENCY_S,
            fail_every=inputs.FAIL_EVERY,
        )
        source = OnlineSource(
            chunks, transport_factory=factory,
            config=rpc.RpcConfig(initial_backoff_s=inputs.BACKOFF_S),
        )
        return source, factory

    def op(self, op_id: str, start: int, n_blocks: int = inputs.WINDOW_BLOCKS,
           kind: str = "op") -> OpResult:
        from cryo_spark import api

        out = os.path.join(self.workdir, op_id)
        source, factory = self._source(out + ".rpc.log")
        summary = None
        with self.tracer.op(op_id, kind):
            t0 = time.perf_counter()
            try:
                summary = api.freeze(
                    self.spark, list(inputs.FREEZE_DATASETS), output_dir=out,
                    blocks=f"{start}:{start + n_blocks}",
                    chunk_size=inputs.CHUNK_SIZE, source=source,
                )
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                _failed(op_id, traceback.format_exc())
            wall = time.perf_counter() - t0
        rows, n_files, n_bytes, problem = self._check(out, summary, start, n_blocks)
        if problem:
            _failed(op_id, problem)
        stats = factory.stats()
        counters = {
            "posts": stats.get("post", 0), "inner": stats.get("inner", 0),
            "retries": stats.get("429", 0), "files": n_files, "bytes": n_bytes,
        }
        shutil.rmtree(out, ignore_errors=True)
        for log in glob.glob(out + ".*"):
            os.remove(log)
        ok = summary is not None and problem is None
        return OpResult(op_id, self.name, wall, rows if ok else 0, n_blocks, ok,
                        counters=counters)

    _FILE = re.compile(r"__([a-z_]+)__(\d+)_to_(\d+)\.parquet$")

    def _check(self, out: str, summary, start: int, n_blocks: int):
        """(rows, files, bytes, problem): every expected chunk file
        exists, no other does, and each holds the closed-form row count."""
        import pyarrow.parquet as pq

        expected = {
            (ds, lo, hi): inputs.expected_freeze_rows(ds, lo, hi)
            for ds in inputs.FREEZE_DATASETS
            for lo, hi in inputs.freeze_chunks(start, n_blocks)
        }
        found, rows, n_bytes = {}, 0, 0
        for path in glob.glob(os.path.join(out, "*.parquet")):
            m = self._FILE.search(path)
            if m is None:
                return 0, 0, 0, f"unexpected file {path}"
            n = pq.read_metadata(path).num_rows
            found[(m.group(1), int(m.group(2)), int(m.group(3)))] = n
            rows += n
            n_bytes += os.path.getsize(path)
        if found != expected:
            wrong = sorted(set(found.items()) ^ set(expected.items()))[:4]
            return rows, len(found), n_bytes, f"chunk files differ from expected: {wrong}"
        if summary is not None and summary.get("n_rows") != rows:
            return rows, len(found), n_bytes, (
                f"summary n_rows {summary.get('n_rows')} != {rows} read back"
            )
        return rows, len(found), n_bytes, None

    def trace_extras(self, done: list[tuple[OpResult, int]]) -> None:
        """After the measurement: fetch each measured op's window again,
        alone, into its ``fetch_ms`` counter."""
        for result, start in done:
            result.counters["fetch_ms"] = self._fetch_alone(result.op_id, start)

    def _fetch_alone(self, op_id: str, start: int) -> float:
        """ms to fetch the op's raw tables alone, through a fresh source
        over the same window, with no transform or write."""
        from cryo_spark import plan

        chunks = plan.subchunk_by_size(
            [plan.BlockChunk(start=start, end=start + inputs.WINDOW_BLOCKS - 1)],
            inputs.CHUNK_SIZE,
        )
        log = os.path.join(self.workdir, op_id + ".fetch.log")
        source, _ = self._source(log, chunks)
        with self.tracer.op(op_id + ".fetch", kind="aux"):
            t0 = time.perf_counter()
            for raw in inputs.FREEZE_DATASETS:
                source.raw(self.spark, raw).write.format("noop").mode("overwrite").save()
            ms = (time.perf_counter() - t0) * 1000.0
        source.unpersist()
        os.remove(log)
        return ms

    def warmup(self, seed: int) -> None:
        for i, (start, n_blocks) in enumerate(inputs.freeze_inputs(seed).warmup):
            self.op(f"w{i}", start, n_blocks, kind="warmup")

    def sets(self, seed: int):
        starts = inputs.freeze_inputs(seed).starts
        k = inputs.CALLS_PER_SET
        for s in range(inputs.MAX_SETS):
            yield [
                (f"s{s}c{c}", starts[s * k + c]) for c in range(k)
            ]


class CorpusPrepare:
    """The LLM-data operator queries over the sf0.1 corpus, each
    executed to completion with no sink cost (the work of the noop
    sink) and its drained row count checked."""

    name = "corpus_prepare"

    def __init__(self, spark, data_dir: str, tracer: Tracer):
        import __spark_entry__

        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.queries = __spark_entry__.queries()

    def op(self, op_id: str, query: str, kind: str = "op") -> OpResult:
        n = None
        with self.tracer.op(op_id, kind):
            t0 = time.perf_counter()
            try:
                with self.tracer.span("api.construct"):
                    df = self.queries[query](self.spark, self.data_dir)
                with self.tracer.span("execute"):
                    # drains the executed plan on the JVM, as the noop
                    # sink does, and returns the row count it drained
                    n = df._jdf.queryExecution().toRdd().count()
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                _failed(op_id, traceback.format_exc())
            wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        want = inputs.CORPUS_QUERIES[query]
        ok = n == want
        if n is not None and not ok:
            _failed(op_id, f"{query} returned {n} rows, expected {want}")
        return OpResult(op_id, query, wall, n if ok else 0, inputs.CORPUS_DOCS, ok)

    def trace_extras(self, done) -> None:
        pass

    def warmup(self, seed: int) -> None:
        for p in range(inputs.WARMUP_PASSES):
            for i, query in enumerate(inputs.corpus_order(seed)):
                self.op(f"w{p}q{i}", query, kind="warmup")

    def sets(self, seed: int):
        """One set is one pass over the queries in the seed's order."""
        order = inputs.corpus_order(seed)
        for s in range(inputs.MAX_SETS):
            yield [(f"s{s}q{i}", q) for i, q in enumerate(order)]
