"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
from check import compare, run_checked, values_match  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    Tracer,
    _epoch,
    parse_sql_metric,
    percentile,
    self_times,
    tail_percentile,
)


# --- percentiles -----------------------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 0.5) == 50
    assert percentile(xs, 0.9) == 90
    assert percentile(xs, 1.0) == 100
    assert percentile([3.0], 0.9) == 3.0
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(100, 0, -1)]  # unsorted on purpose
    p, v = tail_percentile(xs)
    assert p == pytest.approx(0.9) and v == 90.0
    assert sum(x > v for x in xs) == 10
    p, v = tail_percentile(xs[:14])  # 14 samples: rank 4 is the highest
    assert p == pytest.approx(4 / 14) and sum(x > v for x in xs[:14]) == 10
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([1.0] * 11) == (pytest.approx(1 / 11), 1.0)


# --- spans -----------------------------------------------------------------


def _span(i, name, start, end, parent=None):
    return Span(name, start, end, parent, "op", id=i)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, "op", 0.0, 10.0),
        _span(2, "build", 2.0, 5.0, parent=1),
        _span(3, "job", 3.0, 4.0, parent=2),
        _span(4, "job", 4.0, 8.0, parent=1),  # overlaps the build span
        _span(5, "job", 9.5, 12.0, parent=1),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (6.0 + 0.5))
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[5] == pytest.approx(2.5)


def test_tracer_nests_spans_and_attaches_jobs_to_innermost():
    tr = Tracer(enabled=True)
    with tr.span("ignored"):  # no op open: nothing recorded
        pass
    assert tr.spans == []
    tr.op = "op1"
    with tr.span("op.read"):
        with tr.span("queries.build"):
            pass
        with tr.span("driver.collect"):
            pass
    collect = tr.spans[2]
    mid = (collect.start + collect.end) / 2
    tr.add_child("spark.job", mid, mid)
    assert [s.parent for s in tr.spans] == [None, 1, 1, 3]
    assert set(tr.layer_self_times({"op1"})) == {
        "op.read", "queries.build", "driver.collect", "spark.job"}
    assert tr.layer_self_times({"other"}) == {}


def test_tracer_wrap_records_and_unwrap_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer(enabled=True)
    tr.wrap(mod, "f", "mod.f")
    tr.op = "op1"
    assert mod.f(1) == 2
    assert [s.name for s in tr.spans] == ["mod.f"]
    tr.unwrap()
    assert mod.f is original


def test_rest_value_parsing():
    assert parse_sql_metric("1.3 s") == pytest.approx(1.3)
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n2.6 s (264 ms, 2.4 s)") == (
        pytest.approx(2.6))
    assert parse_sql_metric("total (min, med, max)\n145.2 KiB (72.6 KiB)") == pytest.approx(
        145.2 * 1024)
    assert parse_sql_metric("250 ms") == pytest.approx(0.25)
    assert parse_sql_metric("1,000") == 1000
    assert _epoch("1970-01-01T00:01:00.250GMT") == pytest.approx(60.25)


# --- comparator and checked execution -----------------------------------------


def test_comparator_float_tolerance():
    assert values_match(1.0, 1.0 + 1e-10)
    assert not values_match(1.0, 1.0 + 1e-8)
    assert values_match(float("nan"), float("nan"))
    assert not values_match(0.0, 1e-300)
    assert values_match(0.0, 0.0)
    assert not values_match(1, 2)
    assert not values_match(None, 0.0)
    assert values_match([1.0, "a"], (1.0 + 1e-12, "a"))


def test_comparator_admits_one_rounding_step_only_when_asked():
    q = (0.01, 1e-6)
    assert not values_match(375545.89, 375545.9)
    assert values_match(375545.89, 375545.9, quanta=q)  # halfway flip
    assert not values_match(375545.88, 375545.9, quanta=q)  # two steps
    assert not values_match(375545.891, 375545.9, quanta=q)  # off the grid
    assert values_match(0.049999, 0.05, quanta=q)
    assert not values_match(0.049998, 0.05, quanta=q)
    assert compare([(1, 10.01)], [(1, 10.02)], quanta=q) is None
    assert compare([(1, 10.01)], [(1, 10.02)]) is not None


def test_comparator_ignores_row_order_but_not_multiplicity():
    exp = [("a", 1, 1.0), ("b", 2, 2.0)]
    assert compare([("b", 2, 2.0 + 1e-12), ("a", 1, 1.0)], exp) is None
    assert compare([("a", 1, 1.0), ("a", 1, 1.0)], exp) is not None
    assert compare([("a", 1, 1.0)], exp) == "1 rows, expected 2"
    assert "row" in compare([("a", 1, 1.0), ("b", 3, 2.0)], exp)
    # rows equal on exact columns line up even when their floats differ
    assert compare([("k", 1.0 + 1e-12), ("k", 0.5)], [("k", 0.5), ("k", 1.0)]) is None


def test_wrong_result_is_a_failure_and_the_run_continues():
    expected = [(1, 2.0)]
    ops = [
        ("good", lambda: [(1, 2.0)]),
        ("wrong", lambda: [(1, 2.5)]),
        ("raises", lambda: 1 / 0),
        ("malformed", lambda: None),
        ("good_again", lambda: [(1, 2.0 + 1e-12)]),
    ]
    outcomes = [run_checked(name, "read", fn, lambda r: compare(r, expected)) for name, fn in ops]
    assert [o.ok for o in outcomes] == [True, False, False, False, True]
    assert "expected" in outcomes[1].detail
    assert "ZeroDivisionError" in outcomes[2].detail
    assert "could not be checked" in outcomes[3].detail
    assert all(o.wall_s >= 0 for o in outcomes)


# --- inputs ----------------------------------------------------------------


def test_generation_is_seeded():
    a, b, c = (datagen.generate_tables(s) for s in (5, 5, 6))
    for name in ("orders", "documents", "embeddings"):
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    li = a["lineitem"]
    keys = set(zip(li.column("l_orderkey").to_pylist(), li.column("l_linenumber").to_pylist()))
    assert len(keys) == li.num_rows  # MERGE key is unique
    batches, _ = datagen.cdc_plan(5, li)
    for batch in batches.values():
        k = list(zip(batch.column("l_orderkey").to_pylist(), batch.column("l_linenumber").to_pylist()))
        assert len(set(k)) == len(k)


def test_cache_detects_stale_or_partial_inputs(tmp_path):
    d, manifest, info = datagen.ensure_inputs(str(tmp_path), 3)
    assert not info["cache_hit"] and manifest["seed"] == 3
    assert datagen.ensure_inputs(str(tmp_path), 3)[2]["cache_hit"]
    with open(os.path.join(d, "region.parquet"), "r+b") as f:  # same size, other bytes
        f.seek(10)
        f.write(b"\x00\x01")
    assert datagen.verify(d) is None
    assert not datagen.ensure_inputs(str(tmp_path), 3)[2]["cache_hit"]
    os.remove(os.path.join(d, "cdc", "ins_0.parquet"))  # partial
    assert datagen.verify(d) is None
