"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import stats  # noqa: E402


def _raw_bytes(seed: int, batches: int = 3) -> bytes:
    gen = inputs.LedgerGen(seed, batch_rows=300)
    return "\n".join(
        json.dumps(tx.raw_row(), sort_keys=True) for b in range(batches) for tx in gen.batch(b)
    ).encode()


def test_ledger_inputs_are_a_function_of_the_seed():
    assert _raw_bytes(7) == _raw_bytes(7)
    assert _raw_bytes(7) != _raw_bytes(8)


def _catalog_digest(tmp_path, seed: int, name: str) -> str:
    out = tmp_path / name
    inputs.write_catalog_tables(str(out), seed)
    h = hashlib.sha256()
    for f in sorted(os.listdir(out)):
        h.update(f.encode())
        h.update((out / f).read_bytes())
    return h.hexdigest()


def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    a = _catalog_digest(tmp_path, 5, "a")
    assert a == _catalog_digest(tmp_path, 5, "b")
    assert a != _catalog_digest(tmp_path, 6, "c")


def test_batches_mix_replays_and_malformed_rows_at_fixed_shares():
    gen = inputs.LedgerGen(3, batch_rows=1000)
    first = {tx.signature for tx in gen.batch(0)}
    second = gen.batch(1)
    replays = [tx for tx in second if tx.signature in first]
    assert len(second) == 1000
    assert len(replays) == 100
    fresh = gen.fresh(1)
    assert sum(tx.malformed for tx in fresh) == round(len(fresh) * inputs.MALFORMED_SHARE)


def test_closed_form_counts_each_transaction_once():
    gen = inputs.LedgerGen(4, batch_rows=500)
    exp = gen.expected(3)
    txs = gen.unique_txs(3)
    assert exp["bronze_rows"] == len({tx.signature for tx in txs}) == 500 + 450 + 450
    assert exp["silver_rows"] == sum(len(tx.entries) for tx in txs)
    assert exp["silver_rows"] > exp["bronze_rows"] - exp["quarantine_rows"]  # SPL fan-out
    assert len({e.id for e in exp["entries"]}) == exp["silver_rows"]
    sol = sum(Decimal(e.amount) for e in exp["entries"] if e.asset == "SOL")
    assert sol == sum(exp["sol_by_wallet"].values())


def test_entry_amounts_clear_the_dust_filter():
    gen = inputs.LedgerGen(9, batch_rows=400)
    assert all(abs(Decimal(e.amount)) > Decimal("0.000001") for e in gen.expected(2)["entries"])


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)
    # 40 reads are the fewest that give a p75
    stats.percentile(list(range(40)), 75)
    with pytest.raises(ValueError):
        stats.percentile(list(range(39)), 75)


def test_core_util_and_ratio_bases():
    # 4 cores busy for the whole second
    assert stats.core_util(4000, 1000, 4) == 1.0
    # one core busy for half of it
    assert stats.core_util(500, 1000, 4) == 0.125
    assert stats.ratio(3, 4) == 0.75
    assert stats.ratio(5, 0) == 0.0


def test_self_time_subtracts_covered_child_time_once():
    assert stats.self_time(0, 10, []) == 10
    assert stats.self_time(0, 10, [(1, 3), (5, 6)]) == 7
    # overlapping children (two threads under one parent) cover 1..6
    assert stats.self_time(0, 10, [(1, 4), (2, 6)]) == 5
    # a child reaching past the parent is clipped to it
    assert stats.self_time(0, 10, [(8, 12)]) == 8


def test_metric_names_match_benchmark_json():
    import layers
    import run

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.END_TO_END.values())
    assert [m["name"] for m in spec["per_layer"]] == layers.names()
    assert [m["unit"] for m in spec["per_layer"]] == [layers.unit(n) for n in layers.names()]


def test_result_canonicalization_fast_paths_match_the_per_cell_rule():
    from collections import Counter

    import pandas as pd
    import workloads

    df = pd.DataFrame({
        "f": [1.5, float("nan"), 0.0],
        "i": pd.Series([3, 4, 5], dtype="int32"),
        "b": [True, False, True],
        "s": ["a", None, "c"],
        "d": [Decimal("1.10"), None, Decimal("2")],
        "t": pd.to_datetime(["2024-01-01 00:00:00", None, "2024-01-02 03:04:05.000001"], format="ISO8601"),
    })
    per_cell = Counter(
        tuple(workloads._cell(v) for v in row) for row in df[sorted(df.columns)].itertuples(index=False)
    )
    assert workloads._canon(df) == per_cell
    # type-strict: a float never equals a Decimal of the same value
    assert workloads._canon(pd.DataFrame({"x": [1.0]})) != workloads._canon(pd.DataFrame({"x": [Decimal(1)]}))
