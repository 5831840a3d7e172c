"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
from datetime import datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile([3.0], 50) == 3.0


def test_supported_percentiles_need_ten_beyond():
    assert measure.supported_percentiles(19) == []
    assert measure.supported_percentiles(20) == [50]
    assert measure.supported_percentiles(99) == [50]
    assert measure.supported_percentiles(100) == [50, 90]
    assert measure.supported_percentiles(1000) == [50, 90, 99]


def test_latency_summary_reports_count_and_only_supported():
    s = measure.latency_summary([1.0] * 12)
    assert s == {"n": 12}
    s = measure.latency_summary([float(i) for i in range(40)])
    assert s["n"] == 40 and "p50_s" in s and "p90_s" not in s


def test_stationarity_normalises_per_kind():
    # Two kinds with very different costs, no drift: not flagged.
    times = [1.0, 10.0] * 10
    kinds = ["a", "b"] * 10
    assert measure.stationarity(times, kinds) == {"ratio": 1.0, "drift": False}


def test_stationarity_flags_drift():
    times = [2.0] * 10 + [1.0] * 10
    r = measure.stationarity(times, ["a"] * 20)
    assert r["drift"] and math.isclose(r["ratio"], 0.5)
    r = measure.stationarity([1.0] * 10 + [1.1] * 10, ["a"] * 20)
    assert not r["drift"]


def test_self_times_subtract_children():
    spans = [
        {"name": "op", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "build", "parent": 0, "start": 1.0, "end": 3.0},
        {"name": "exec", "parent": 0, "start": 3.0, "end": 9.0},
        {"name": "load", "parent": 1, "start": 1.5, "end": 2.0},
    ]
    assert measure.self_times(spans) == [2.0, 1.5, 6.0, 0.5]
    layers = measure.layer_self_seconds(spans)
    assert sum(layers.values()) == 10.0


def test_self_times_overlapping_children_counted_once():
    spans = [
        {"name": "op", "parent": None, "start": 0.0, "end": 4.0},
        {"name": "a", "parent": 0, "start": 0.0, "end": 2.0},
        {"name": "b", "parent": 0, "start": 1.0, "end": 3.0},
    ]
    assert measure.self_times(spans)[0] == 1.0


def test_tracer_nests_and_inherits_op():
    tr = measure.Tracer()
    with tr.span("op", op=7):
        with tr.span("child"):
            time.sleep(0.001)
    assert [s["parent"] for s in tr.spans] == [None, 0]
    assert [s["op"] for s in tr.spans] == [7, 7]
    st = measure.self_times(tr.spans)
    total = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert math.isclose(sum(st), total)


def test_rows_digest_order_insensitive_and_column_order_free():
    rows = [(1, "x", 2.5), (2, "y", None), (3, "z", float("nan"))]
    n, h = measure.rows_digest(["a", "b", "c"], rows)
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert measure.rows_digest(["a", "b", "c"], shuffled) == (n, h)
    swapped = [(c, a, b) for a, b, c in rows]
    assert measure.rows_digest(["c", "a", "b"], swapped) == (n, h)
    assert n == 3


def test_rows_digest_sees_values_and_multiplicity():
    base = measure.rows_digest(["a"], [(1,), (2,)])
    assert measure.rows_digest(["a"], [(1,), (3,)]) != base
    assert measure.rows_digest(["a"], [(1,), (2,), (2,)])[1] != base[1]


def test_rows_digest_canonical_values():
    a = measure.rows_digest(
        ["d", "t", "z"], [(Decimal("1.5"), datetime(2024, 1, 2, 3), -0.0)]
    )
    b = measure.rows_digest(["d", "t", "z"], [(1.5, datetime(2024, 1, 2, 3), 0.0)])
    assert a == b


def test_tree_stats_sees_this_process():
    st = measure.tree_stats()
    assert os.getpid() in st
    cpu, rss = st[os.getpid()]
    assert cpu >= 0 and rss > 0
