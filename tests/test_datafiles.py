"""The lakehouse data plane both table formats share
(``sources/datafiles.py``): footer stats byte-identical to the values
the per-format code produced, the driver and executor placements of
footer reads and tombstone decodes, the exact touch probe on Iceberg
UPDATE/DELETE, and one change feed run through both formats."""

from __future__ import annotations

import datetime
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ballista_spark.sources import datafiles, deltalog, iceberg
from ballista_spark.sources.datafiles import StagedFile, fold_footer

# ------------------------------------------------------- golden footer stats

_UTC = datetime.timezone.utc
_SCHEMA = pa.schema([
    ("id", pa.int64()), ("name", pa.string()), ("d", pa.date32()),
    ("ts", pa.timestamp("us", tz="UTC")), ("v", pa.float64()),
    ("flag", pa.bool_()), ("i32", pa.int32()), ("b", pa.binary()),
])
_GROUPS = [
    {
        "id": [3, None, 7, 1],
        "name": ["b", "a" * 40, None, "é"],
        "d": [datetime.date(2020, 1, 5), None, datetime.date(2019, 12, 31),
              datetime.date(2020, 2, 1)],
        "ts": [datetime.datetime(2021, 3, 4, 5, 6, 7, 891011, tzinfo=_UTC),
               None, datetime.datetime(1969, 12, 31, 23, 59, 59, tzinfo=_UTC),
               datetime.datetime(2000, 1, 1, tzinfo=_UTC)],
        "v": [1.5, -2.25, None, 1e300],
        "flag": [True, None, False, True],
        "i32": [5, -5, None, 2**31 - 1],
        "b": [b"ab", b"zz", None, b"m"],
    },
    {
        "id": [-4, 12, None, 0],
        "name": ["zz", None, "b", "c"],
        "d": [datetime.date(1970, 1, 1), datetime.date(2030, 6, 6), None, None],
        "ts": [None, datetime.datetime(2025, 1, 1, 0, 0, 0, 1, tzinfo=_UTC),
               None, None],
        "v": [None, None, None, None],
        "flag": [False, False, None, False],
        "i32": [None, 0, 9, -2**31],
        "b": [b"\xff\xfe", b"a", None, b"q"],  # not UTF-8: no Delta bound
    },
]
_ICEBERG_IDS = {
    1: ("id", "long"), 2: ("name", "string"), 3: ("d", "date"),
    4: ("ts", "timestamptz"), 5: ("v", "double"), 6: ("flag", "boolean"),
    7: ("i32", "int"), 8: ("b", "binary"),
}

# recorded with the per-format footer readers that preceded fold_footer
_DELTA_STATS = {
    "two_groups.parquet": (
        '{"numRecords": 8, "minValues": {"id": -4, "name": '
        '"aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "d": "1970-01-01", '
        '"ts": "1969-12-31T23:59:59+00:00", "v": -2.25, "flag": false, '
        '"i32": -2147483648, "b": "ab"}, "maxValues": {"id": 12, "name": '
        '"\\u00e9", "d": "2030-06-06", "ts": '
        '"2025-01-01T00:00:00.000001+00:00", "v": 1e+300, "flag": true, '
        '"i32": 2147483647, "b": "zz"}, "nullCount": {"id": 2, "name": 2, '
        '"d": 3, "ts": 4, "v": 5, "flag": 2, "i32": 2, "b": 2}}'
    ),
    "one_group.parquet": (
        '{"numRecords": 4, "minValues": {"id": -4, "name": "b", "d": '
        '"1970-01-01", "ts": "2025-01-01T00:00:00.000001+00:00", "flag": '
        'false, "i32": -2147483648}, "maxValues": {"id": 12, "name": "zz", '
        '"d": "2030-06-06", "ts": "2025-01-01T00:00:00.000001+00:00", '
        '"flag": false, "i32": 9}, "nullCount": {"id": 1, "name": 1, "d": 2, '
        '"ts": 3, "v": 4, "flag": 1, "i32": 1, "b": 1}}'
    ),
    "empty.parquet": (
        '{"numRecords": 0, "minValues": {}, "maxValues": {}, "nullCount": {}}'
    ),
}
_ICEBERG_BOUNDS = {  # (lower hex, upper hex, null counts) by field id
    "two_groups.parquet": (
        {1: "fcffffffffffffff", 3: "00000000", 4: "c0bdf0ffffffffff",
         5: "00000000000002c0", 6: "00", 7: "00000080"},
        {1: "0c00000000000000", 3: "37560000", 4: "01600cba992a0600",
         5: "9c7500883ce4377e", 6: "01", 7: "ffffff7f"},
        {1: 2, 2: 2, 3: 3, 4: 4, 5: 5, 6: 2, 7: 2, 8: 2},
    ),
    "one_group.parquet": (
        {1: "fcffffffffffffff", 2: "62", 3: "00000000",
         4: "01600cba992a0600", 6: "00", 7: "00000080"},
        {1: "0c00000000000000", 2: "7a7a", 3: "37560000",
         4: "01600cba992a0600", 6: "00", 7: "09000000"},
        {1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 1, 7: 1, 8: 1},
    ),
    "empty.parquet": ({}, {}, {}),
}


def _golden_files(d) -> dict[str, str]:
    """Two row groups, one row group, and no rows."""
    out = {name: os.path.join(d, name) for name in _DELTA_STATS}
    with pq.ParquetWriter(out["two_groups.parquet"], _SCHEMA) as w:
        for g in _GROUPS:
            w.write_table(pa.table(g, schema=_SCHEMA))
    pq.write_table(pa.table(_GROUPS[1], schema=_SCHEMA), out["one_group.parquet"])
    pq.write_table(
        pa.table({k: [] for k in _GROUPS[0]}, schema=_SCHEMA),
        out["empty.parquet"],
    )
    return out


def test_footer_encodings_match_recorded_values(tmp_path):
    types = dict(_ICEBERG_IDS.values())
    for name, path in _golden_files(tmp_path).items():
        footer = fold_footer(path, list(types), deltalog._stat_scalar)
        add = deltalog._add_action(StagedFile(name, 0, footer), {}, True)
        assert add["add"]["stats"] == _DELTA_STATS[name], name

        footer = fold_footer(
            path, types, lambda c, v: iceberg._to_iceberg_scalar(v, types[c])
        )
        lowers, uppers, nulls = iceberg._footer_bounds(footer, _ICEBERG_IDS)
        got = (
            {k: v.hex() for k, v in lowers.items()},
            {k: v.hex() for k, v in uppers.items()},
            nulls,
        )
        assert got == _ICEBERG_BOUNDS[name], name


# ------------------------------------------- driver vs executor placement


def _count_calls(monkeypatch, module, name) -> list:
    """Calls of ``module.name`` made in THIS process — an executor-side
    call runs in a Python worker and leaves the list empty."""
    real = getattr(module, name)
    calls = []

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, spy)
    return calls


def _footer_table(spark, tmp_path, fmt, name):
    df = spark.createDataFrame(
        [(i, f"c{i % 3}", float(i)) for i in range(40)],
        "id long, cat string, v double",
    ).repartition(4)
    path = str(tmp_path / name)
    if fmt == "delta":
        deltalog.write_delta_table(df, path)
        return path, sorted(
            json.dumps(f.stats, sort_keys=True)
            for f in deltalog.read_delta_snapshot(path).files
        )
    iceberg.write_iceberg_table(df, path)
    return path, sorted(
        (f[1], json.dumps({k: str(v) for k, v in (f[2] or {}).items()},
                          sort_keys=True))
        for f in iceberg.read_iceberg_snapshot(path).files
    )


def _tombstone_table(tmp_path, fmt):
    if fmt == "delta":
        from tests.test_deletion_vectors import (
            _base_table,
            _delete_with_dv,
            _dv_descriptor_u,
        )

        table = _base_table(tmp_path)
        _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1, 3]))
        _delete_with_dv(table, 2, "f1.parquet", _dv_descriptor_u(table, [0, 4]))
        return table
    from tests.test_iceberg_v3_dv import _v3_table

    return _v3_table(tmp_path, {"f1.parquet": [0, 5, 9]})


@pytest.mark.parametrize("piece", ["footers", "tombstones"])
@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_driver_and_executor_paths_agree(spark, tmp_path, monkeypatch, fmt, piece):
    """Forcing the executor placement (one Spark job over the path
    list / one mapInPandas decode) gives the same stats, bounds and rows
    as the driver loop, and really leaves the driver."""
    module = deltalog if fmt == "delta" else iceberg
    read = (
        deltalog.read_delta_table if fmt == "delta"
        else iceberg.read_iceberg_table
    )
    if piece == "footers":
        spied, on_driver = datafiles, "fold_footer"
    else:
        spied = module
        on_driver = "_dv_positions" if fmt == "delta" else "_read_dv_positions"
    calls = _count_calls(monkeypatch, spied, on_driver)

    if piece == "footers":
        p1, driver = _footer_table(spark, tmp_path, fmt, "driver")
        rows = sorted(map(tuple, read(spark, p1).collect()))
        assert calls
        calls.clear()
        monkeypatch.setattr(datafiles, "EXECUTOR_STATS_MIN_FILES", 1)
        monkeypatch.setattr(datafiles, "EXECUTOR_STATS_FORCE", True)
        p2, forced = _footer_table(spark, tmp_path, fmt, "exec")
        assert forced == driver
        assert sorted(map(tuple, read(spark, p2).collect())) == rows
    else:
        table = _tombstone_table(tmp_path, fmt)
        rows = sorted(map(tuple, read(spark, table).collect()))
        assert len(rows) == (6 if fmt == "delta" else 17)
        assert calls
        calls.clear()
        monkeypatch.setattr(datafiles, "DV_DECODE_FORCE_EXECUTOR", True)
        assert sorted(map(tuple, read(spark, table).collect())) == rows
    assert not calls  # the forced pass ran in Python workers


# ----------------------------------------------------- the exact touch probe


@pytest.mark.parametrize("op", ["update", "delete"])
def test_iceberg_rewrite_without_matching_row_commits_nothing(spark, tmp_path, op):
    """The bounds of the one file (even ids 0..18) admit id = 3, but no
    row holds it: the exact probe finds no touched file, so no snapshot
    is committed and no file is rewritten."""
    path = str(tmp_path / "t")
    iceberg.write_iceberg_table(
        spark.createDataFrame(
            [(i, i) for i in range(0, 20, 2)], "id long, v long"
        ).coalesce(1),
        path,
    )
    before = iceberg._load_metadata(path)
    if op == "update":
        got = iceberg.update_iceberg_table(
            spark, path, {"v": "v + 1"}, [("id", "=", 3)]
        )
    else:
        got = iceberg.delete_from_iceberg_table(spark, path, [("id", "=", 3)])
    assert got is None
    assert iceberg._load_metadata(path) == before


# ------------------------------------------------------------ change feed


def test_change_feed_same_on_both_formats(spark, tmp_path):
    """One insert, update and delete after the initial write read back
    as the same row changes from Delta's CDF and Iceberg's changelog."""
    schema = "id long, s string"
    initial = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    added = spark.createDataFrame([(4, "d")], schema)
    expected = [
        (1, 4, "d", "insert"),
        (2, 2, "B", "insert"),
        (2, 2, "b", "delete"),
        (3, 3, "c", "delete"),
    ]

    delta = str(tmp_path / "delta")
    deltalog.write_delta_table(initial.coalesce(1), delta)
    deltalog.write_delta_table(added, delta)
    deltalog.update_delta_table(spark, delta, {"s": "'B'"}, [("id", "=", 2)])
    deltalog.delete_from_delta_table(spark, delta, [("id", "=", 3)])
    got = deltalog.read_delta_cdf(spark, delta, 0).collect()
    assert sorted(
        (r["_commit_version"], r["id"], r["s"], r["_change_type"]) for r in got
    ) == expected

    ice = str(tmp_path / "iceberg")
    iceberg.write_iceberg_table(initial.coalesce(1), ice)
    iceberg.write_iceberg_table(added, ice)
    iceberg.update_iceberg_table(spark, ice, {"s": "'B'"}, [("id", "=", 2)])
    iceberg.delete_from_iceberg_table(spark, ice, [("id", "=", 3)])
    got = iceberg.read_iceberg_changelog(spark, ice, 0).collect()
    assert sorted(
        (r["_snapshot_ordinal"], r["id"], r["s"], r["_change_type"])
        for r in got
    ) == expected
