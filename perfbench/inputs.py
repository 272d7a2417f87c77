"""Seeded inputs and expected outputs of the benchmark workloads.

Nothing here imports Spark or the engine: the same seed gives the same
inputs on any host, and the expected outputs come from closed forms,
not from the program under test.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: a run measures whole sets of ops until its time is up, but never
#: more sets than this (freeze windows are drawn in advance)
MAX_SETS = 8

# --- freeze_online -------------------------------------------------------

FREEZE_DATASETS = ("blocks", "transactions", "logs")
WINDOW_BLOCKS = 1000
CHUNK_SIZE = 100
#: one measured set is this many sequential freeze calls
CALLS_PER_SET = 2
#: the first warm-up call covers this many blocks: four chunks, so four
#: fetch tasks run at once and each local core starts its Python worker;
#: a second, full-window warm-up call follows, because a session's
#: first full calls still run measurably slower than later ones
WARMUP_BLOCKS = 400
POST_LATENCY_S = 0.002
#: every FAIL_EVERY-th POST of a fetch task answers 429 and is retried
FAIL_EVERY = 50
BACKOFF_S = 0.002
#: windows are drawn from this many disjoint 1,000-block slots
N_SLOTS = 10_000


@dataclass(frozen=True)
class FreezeInputs:
    #: (first block, blocks) of each warm-up call
    warmup: tuple[tuple[int, int], ...]
    #: first block of each measured call's window
    starts: tuple[int, ...]


def freeze_inputs(seed: int) -> FreezeInputs:
    """Disjoint block windows: two warm-up windows, then one window per
    measured call. No block is fetched twice in a run."""
    rng = random.Random(f"freeze_online:{seed}")
    slots = [s * WINDOW_BLOCKS for s in rng.sample(range(N_SLOTS), 2 + MAX_SETS * CALLS_PER_SET)]
    return FreezeInputs(
        warmup=((slots[0], WARMUP_BLOCKS), (slots[1], WINDOW_BLOCKS)),
        starts=tuple(slots[2:]),
    )


def freeze_chunks(start: int, n_blocks: int) -> list[tuple[int, int]]:
    """Inclusive (first, last) block of each chunk file of a window."""
    return [
        (lo, min(lo + CHUNK_SIZE, start + n_blocks) - 1)
        for lo in range(start, start + n_blocks, CHUNK_SIZE)
    ]


def expected_freeze_rows(dataset: str, first: int, last: int) -> int:
    """Rows the fake node serves for blocks first..last (inclusive).

    Closed form of ``rpc_families.full_fake_transport_factory``: block n
    has n % 4 transactions and, when it has any, n % 3 logs
    (``rpc.fake_transport_factory``)."""
    blocks = range(first, last + 1)
    if dataset == "blocks":
        return len(blocks)
    if dataset == "transactions":
        return sum(n % 4 for n in blocks)
    if dataset == "logs":
        return sum(n % 3 for n in blocks if n % 4)
    raise ValueError(f"no closed form for {dataset}")


# --- corpus_prepare ------------------------------------------------------

#: query -> output rows at sf0.1 (the ``rows`` map of BENCH_FULL_LOCAL.json)
CORPUS_QUERIES = {
    "corpus_funnel": 11,
    "llm_minhash_near_dups": 256,
    "llm_ann_topk": 47,
    "llm_dsir_select": 100,
    "llm_text_profile": 5000,
}
CORPUS_DOCS = 5000
#: uncounted passes before the measurement: the first pays code
#: generation and Python worker starts and varies with the query order,
#: and the second still runs measurably slower than later ones
WARMUP_PASSES = 2


def corpus_order(seed: int) -> tuple[str, ...]:
    """The order in which one run sends the corpus queries."""
    rng = random.Random(f"corpus_prepare:{seed}")
    return tuple(rng.sample(sorted(CORPUS_QUERIES), len(CORPUS_QUERIES)))
