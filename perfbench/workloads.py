"""Workload definitions, seeded op order and the fetch output checker.

The seed only permutes the order of ops within a pass (the chunk fetch
order, the query order). Every seed therefore does the same multiset of
work, and two runs differ only in order. Nothing here imports Spark.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# fetch_bulk: lineitem (600k rows, one row group) chunked on l_orderkey.
# The estimated materialized size is ~46.8 MB (78 bytes a row), so a
# 0.0055 GB budget gives ceil(7.9) = 8 chunks. Available memory is
# injected, so the plan is the same on every machine.
FETCH_TABLE = "lineitem"
FETCH_COLUMN = "l_orderkey"
FETCH_CHUNK_GB = 0.0055
FETCH_AVAILABLE_BYTES = 8 * 1024**3
FETCH_CHUNKS = 8

# query_mix: registry queries written to the noop sink, batch and
# streaming. Each name covers one kind of work (see metrics.json).
MIX_QUERIES = (
    "q55_ann_ivf_kmeans",
    "q68_multimodal_decode",
    "q98_streaming_rollup_maintenance",
)


# Untimed warm-up passes after the cold pass, before the timed window.
# Passes keep getting faster for ~8 passes (JIT), but a run has room for
# few within its time limit. Every run does the same count, so every
# window starts equally warm; the window's per-kind medians over its
# passes damp what trend is left, and the drift ratio printed with each
# run shows it.
WARMUP_PASSES = {"fetch_bulk": 1, "query_mix": 1}


class OpOrder:
    """Seeded source of per-pass op orders for one workload."""

    def __init__(self, workload: str, seed: int):
        # a str seed is hashed with SHA-512, so it does not depend on
        # PYTHONHASHSEED
        self._rng = random.Random(f"{workload}:{seed}")

    def next_pass(self, items):
        order = list(items)
        self._rng.shuffle(order)
        return order


@dataclass(frozen=True)
class ChunkSummary:
    """What the checker needs from one fetched chunk."""

    index: int
    lower: int
    upper: int
    rows: int
    key_min: int | None
    key_max: int | None
    key_sum: int
    pair_sum: int


def key_checksum(orderkeys, linenumbers) -> tuple[int, int]:
    """(sum of l_orderkey, sum of l_orderkey * 8 + l_linenumber) as
    Python ints. The second term ties each key to its line, so moved or
    swapped rows change it even when the key sum does not."""
    key_sum = int(orderkeys.sum(dtype="int64"))
    pair_sum = int((orderkeys.astype("int64") * 8 + linenumbers.astype("int64")).sum())
    return key_sum, pair_sum


def check_fetch_pass(
    chunks: list[ChunkSummary], expected: dict, n_chunks: int = FETCH_CHUNKS
) -> list[str]:
    """Errors of one fetch pass, empty when it is correct: the plan has
    the expected chunk count, every planned chunk was fetched exactly
    once, chunk ranges are disjoint, each chunk's keys lie in its range,
    and rows plus key checksums add up to the table's."""
    errors = []
    indexes = sorted(c.index for c in chunks)
    if indexes != list(range(n_chunks)):
        errors.append(f"fetched chunk indexes {indexes}, want 0..{n_chunks - 1} once each")
    by_lower = sorted(chunks, key=lambda c: (c.lower, c.upper))
    for a, b in zip(by_lower, by_lower[1:]):
        if b.lower <= a.upper:
            errors.append(
                f"chunks {a.index} [{a.lower}, {a.upper}] and {b.index} "
                f"[{b.lower}, {b.upper}] overlap"
            )
    for c in chunks:
        if c.rows and not (c.lower <= c.key_min and c.key_max <= c.upper):
            errors.append(
                f"chunk {c.index} holds keys {c.key_min}..{c.key_max} "
                f"outside [{c.lower}, {c.upper}]"
            )
    rows = sum(c.rows for c in chunks)
    if rows != expected["rows"]:
        errors.append(f"{rows} rows fetched, table has {expected['rows']}")
    if sum(c.key_sum for c in chunks) != expected["key_sum"]:
        errors.append("key checksum differs from the table's")
    if sum(c.pair_sum for c in chunks) != expected["pair_sum"]:
        errors.append("key/line checksum differs from the table's")
    return errors
