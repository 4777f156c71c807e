"""The default-tier contract: keep-listed tests never land in the slow
list, and the slow list's keys match the node IDs conftest checks."""

from __future__ import annotations

import importlib.util
import json
import os

from conftest import _TIERS_PATH, tier_key

_GEN = os.path.join(os.path.dirname(_TIERS_PATH), "gen_test_tiers.py")


def _gen():
    spec = importlib.util.spec_from_file_location("gen_test_tiers", _GEN)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_keep_listed_tests_are_not_slow_tiered():
    gen = _gen()
    with open(_TIERS_PATH) as f:
        slow = json.load(f)["slow"]
    assert [k for k in slow if gen.kept(k)] == []
    assert gen.kept("test_delta_commit.py::test_update_raced_by_append_keeps_both")
    assert gen.kept("test_sql_dml.py::test_sql_dml_end_to_end[delta]")
    assert not gen.kept("test_sql_dml.py::test_sql_dml_end_to_end[iceberg]")


def test_tier_keys_round_trip_from_junit():
    gen = _gen()
    for nodeid, classname, name in (
        ("tests/test_x.py::test_a[1-b]", "tests.test_x", "test_a[1-b]"),
        ("tests/test_x.py::TestC::test_a", "tests.test_x.TestC", "test_a"),
        (
            "tests/test_x.py::TestC::TestD::test_a[p]",
            "tests.test_x.TestC.TestD",
            "test_a[p]",
        ),
    ):
        assert gen.junit_key(classname, name) == tier_key(nodeid)
