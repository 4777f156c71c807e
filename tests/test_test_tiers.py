"""The default-tier contract: keep-listed tests never land in the slow
list, and the slow list's keys match the node IDs conftest checks."""

from __future__ import annotations

import ast
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
    assert gen.kept("test_api.py::test_dataframe_surface_chain")
    for family in ("cov_events_analytics", "cov_interval_joins"):
        assert gen.kept(f"test_graded.py::test_graded_smoke_scale[{family}]")
    assert not gen.kept("test_graded.py::test_graded_smoke_scale[cov_sketch_sampling]")


def _defined_tests(path: str) -> set[tuple[str, ...]]:
    """Qualified names (``(Class, ..., function)``) defined in a test file."""
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        tree = ast.parse(f.read())
    out: set[tuple[str, ...]] = set()

    def walk(nodes, prefix):
        for node in nodes:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.add((*prefix, node.name))
            elif isinstance(node, ast.ClassDef):
                walk(node.body, (*prefix, node.name))
            else:  # tests defined under a try/if/with block
                walk(ast.iter_child_nodes(node), prefix)

    walk(tree.body, ())
    return out


def test_slow_keys_name_existing_tests():
    """A slow key whose test was deleted or renamed skips nothing and hides
    the test's successor from review: every key must name a function its
    file still defines."""
    with open(_TIERS_PATH) as f:
        slow = json.load(f)["slow"]
    tests_dir = os.path.dirname(os.path.abspath(__file__))
    defined: dict[str, set[tuple[str, ...]]] = {}
    stale = []
    for key in slow:
        fname, *names = key.split("[", 1)[0].split("::")
        if fname not in defined:
            defined[fname] = _defined_tests(os.path.join(tests_dir, fname))
        if tuple(names) not in defined[fname]:
            stale.append(key)
    assert stale == []


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
