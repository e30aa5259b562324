import numpy as np
import pytest

from perfbench.workloads import (
    FETCH_CHUNKS,
    MIX_QUERIES,
    ChunkSummary,
    OpOrder,
    check_fetch_pass,
    key_checksum,
)


def passes(workload, seed, items, n=6):
    order = OpOrder(workload, seed)
    return [order.next_pass(items) for _ in range(n)]


def test_same_seed_same_op_order():
    assert passes("query_mix", 7, MIX_QUERIES) == passes("query_mix", 7, MIX_QUERIES)
    assert passes("fetch_bulk", 7, range(8)) == passes("fetch_bulk", 7, range(8))


def test_other_seeds_permute_the_same_multiset():
    runs = {seed: passes("query_mix", seed, MIX_QUERIES) for seed in range(10)}
    for seq in runs.values():
        for order in seq:
            assert sorted(order) == sorted(MIX_QUERIES)
    assert len({tuple(map(tuple, seq)) for seq in runs.values()}) > 1


def make_table(seed=0, rows=6000):
    rng = np.random.default_rng(seed)
    keys = np.sort(rng.integers(0, 1500, rows))
    lines = rng.integers(1, 8, rows).astype("int32")
    return keys, lines


def summarize(keys, lines, bounds):
    out = []
    for i, (lo, hi) in enumerate(bounds):
        sel = (keys >= lo) & (keys <= hi)
        k, ln = keys[sel], lines[sel]
        key_sum, pair_sum = key_checksum(k, ln)
        out.append(ChunkSummary(i, lo, hi, len(k), int(k.min()), int(k.max()), key_sum, pair_sum))
    return out


@pytest.fixture
def fetched():
    keys, lines = make_table()
    domain = np.unique(keys)
    parts = np.array_split(domain, FETCH_CHUNKS)
    bounds = [(int(p[0]), int(p[-1])) for p in parts]
    key_sum, pair_sum = key_checksum(keys, lines)
    expected = {"rows": len(keys), "key_sum": key_sum, "pair_sum": pair_sum}
    return summarize(keys, lines, bounds), expected


def test_checker_accepts_a_correct_pass_in_any_order(fetched):
    chunks, expected = fetched
    assert check_fetch_pass(chunks, expected) == []
    assert check_fetch_pass(list(reversed(chunks)), expected) == []


def test_checker_catches_a_dropped_chunk(fetched):
    chunks, expected = fetched
    errors = check_fetch_pass(chunks[:3] + chunks[4:], expected)
    assert any("indexes" in e for e in errors)
    assert any("rows fetched" in e for e in errors)


def test_checker_catches_a_duplicated_chunk(fetched):
    chunks, expected = fetched
    errors = check_fetch_pass(chunks + [chunks[2]], expected)
    assert any("overlap" in e for e in errors)
    assert any("rows fetched" in e for e in errors)


def test_checker_catches_rows_outside_their_range(fetched):
    chunks, expected = fetched
    bad = list(chunks)
    c = bad[1]
    bad[1] = ChunkSummary(c.index, c.lower, c.upper, c.rows, c.key_min, c.upper + 1, c.key_sum, c.pair_sum)
    assert any("outside" in e for e in check_fetch_pass(bad, expected))


def test_checker_catches_wrong_values_with_right_counts(fetched):
    chunks, expected = fetched
    bad = list(chunks)
    c = bad[0]
    bad[0] = ChunkSummary(c.index, c.lower, c.upper, c.rows, c.key_min, c.key_max, c.key_sum, c.pair_sum + 1)
    assert check_fetch_pass(bad, expected) == ["key/line checksum differs from the table's"]
