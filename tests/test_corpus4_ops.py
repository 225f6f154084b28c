"""Batch-nine operators (q247–q250): oracle parity plus the shape
properties that make each one trustworthy at scale."""

from __future__ import annotations

import hashlib

import pytest

import lance_namespace_impls_spark.operators  # noqa: F401  (registers queries)
from lance_namespace_impls_spark.plans.oracle import duckdb_connection
from lance_namespace_impls_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

NEW = [
    "q247_cdc_chunking",
    "q248_event_type_saturation",
    "q249_interleave_schedule",
    "q250_char_entropy_gate",
]


@pytest.fixture(scope="module")
def duck():
    return duckdb_connection(SF_SMOKE)


@pytest.mark.parametrize("name", NEW)
def test_oracle_match(oracle_check, name):
    result = oracle_check(name)
    assert result["ok"], result


def test_q247_cdc_is_shift_robust(spark, duck):
    """The property CDC exists for: identical content at DIFFERENT offsets
    yields identical chunks (fixed-offset shingles cannot give this)."""
    # find an 8-char window whose hash is a boundary, then plant it
    # periodically so the content carries guaranteed cut points
    marker = next(
        f"w{n:07d}"
        for n in range(10**7)
        if int(hashlib.md5(f"w{n:07d}".encode()).hexdigest()[:8], 16) % 64 == 0
    )
    base = "".join(f" sentence {k} of the shared middle {marker}" for k in range(8))

    def chunks(tx: str) -> list[str]:
        L = len(tx)
        cuts = [0]
        for i in range(1, L - 6):
            h = int(hashlib.md5(tx[i - 1 : i + 7].encode()).hexdigest()[:8], 16)
            if h % 64 == 0 and i + 7 < L:
                cuts.append(i + 7)
        cuts.append(L)
        return [tx[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]

    a = chunks("PREFIX-SHIFTS-EVERYTHING " + base)
    b = chunks("x" + base)
    shared = set(a) & set(b)
    # chunking re-synchronizes at the first planted boundary: every interior
    # chunk after it is identical despite the 24-char offset shift
    assert len(shared) >= max(len(a), len(b)) - 3, (a, b)


def test_q247_totals_cover_corpus(spark):
    rows = QUERIES["q247_cdc_chunking"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_distinct_chunks"] <= r["n_chunks"]
        assert r["chunks_shared"] <= r["n_distinct_chunks"]
        assert r["avg_chunk_len_x100"] > 0


def test_q248_saturation_invariants(spark):
    rows = QUERIES["q248_event_type_saturation"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_distinct_types"] <= r["n_events"]
        # saturation happens at or after the n-th distinct type's arrival
        assert r["n_distinct_types"] <= r["saturation_rank"] <= r["n_events"]
        assert r["events_after_saturation"] == r["n_events"] - r["saturation_rank"]


def test_q249_schedule_is_dense_prefix_and_balanced(spark):
    rows = QUERIES["q249_interleave_schedule"].builder(spark, SF_SMOKE).collect()
    assert rows
    positions = [r["pos"] for r in rows]
    assert positions == sorted(positions)
    assert len(set(positions)) == len(positions)  # closed form is injective
    # while no source is exhausted, every stride of S covers S distinct sources
    n_src = len({r["source"] for r in rows})
    first_stride = [r["source"] for r in rows[:n_src]]
    assert len(set(first_stride)) == n_src


def test_q250_entropy_gate_fires_both_ways(spark):
    rows = QUERIES["q250_char_entropy_gate"].builder(spark, SF_SMOKE).collect()
    assert rows
    total = sum(r["n_docs"] for r in rows)
    passed = sum(r["n_pass"] for r in rows)
    assert 0 < passed <= total
    for r in rows:
        assert r["min_mbits"] <= r["max_mbits"]
        assert 0 <= r["n_pass"] <= r["n_docs"]
