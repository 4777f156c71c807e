"""Exact change-data-feed reads (deltalog.read_delta_cdf): per-commit
multiset diffs so carried rows cancel and only real changes surface,
with compaction invisible, ALTER-spanning windows aligned, and vacuumed
gaps refusing instead of under-reporting deletes.
"""

from __future__ import annotations

import pytest

from ballista_spark.sources.deltalog import (
    DeltaProtocolError,
    alter_delta_table,
    compact_delta_table,
    delete_from_delta_table,
    read_delta_cdf,
    update_delta_table,
    vacuum_delta_table,
    write_delta_table,
)


def _df(spark, rows, schema="id long, cat string, v double"):
    return spark.createDataFrame(rows, schema)


def _changes(spark, path, frm, to=None):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in read_delta_cdf(spark, path, frm, to).collect()
    )


def test_cdf_insert_update_delete_lifecycle(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(
        _df(spark, [(i, "c", float(i)) for i in range(6)]).coalesce(1), path
    )  # v0
    update_delta_table(
        spark, path, {"v": "v * 10"}, [("id", "=", 2)]
    )  # v1: one changed row inside a 6-row file
    delete_from_delta_table(spark, path, [("id", "=", 4)])  # v2

    # v0 window: pure append — all inserts, no diff artifacts
    assert _changes(spark, path, -1, 0) == [
        (0, "insert", i, float(i)) for i in range(6)
    ]
    # v1 window: EXACTLY the delete+insert pair for id=2 — the five
    # carried rows of the rewritten file cancel in the multiset diff
    assert _changes(spark, path, 0, 1) == [
        (1, "delete", 2, 2.0),
        (1, "insert", 2, 20.0),
    ]
    # v2 window: exactly the one deleted row
    assert _changes(spark, path, 1, 2) == [(2, "delete", 4, 4.0)]
    # whole window unions with per-commit versions
    assert len(_changes(spark, path, -1)) == 6 + 2 + 1


def test_cdf_compaction_and_alter_invisible(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(3):  # three tiny files
        write_delta_table(_df(spark, [(i, "c", float(i))]).coalesce(1), path)
    v_compact = compact_delta_table(spark, path, target_file_bytes=1 << 30)
    assert v_compact == 3
    v_alter = alter_delta_table(path, add_columns={"extra": "string"})
    assert v_alter == 4
    # neither the dataChange:false rewrite nor the metadata-only commit
    # emits change rows
    assert read_delta_cdf(spark, path, 2).count() == 0
    # a window that ENDS before the ALTER carries the old schema...
    out = read_delta_cdf(spark, path, -1, 1)
    assert out.count() == 2 and "extra" not in out.columns
    # ...and a window SPANNING the ALTER aligns early commits under the
    # window-end schema, NULL for the later column
    spanning = read_delta_cdf(spark, path, -1)
    assert spanning.count() == 3
    assert "extra" in spanning.columns
    assert {r["extra"] for r in spanning.collect()} == {None}


def test_cdf_overwrite_emits_both_sides(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0), (2, "a", 2.0)]), path)
    write_delta_table(
        _df(spark, [(2, "a", 2.0), (3, "b", 3.0)]), path, mode="overwrite"
    )
    got = _changes(spark, path, 0, 1)
    # row (2, 2.0) is carried identically: cancels. 1 deletes, 3 inserts.
    assert got == [(1, "delete", 1, 1.0), (1, "insert", 3, 3.0)]


def test_cdf_vacuumed_gap_refuses(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]).coalesce(1), path)
    write_delta_table(
        _df(spark, [(9, "z", 9.0)]), path, mode="overwrite"
    )
    vacuum_delta_table(path, retention_ms=-1)  # reaps the v0 file
    with pytest.raises(DeltaProtocolError, match="vacuumed"):
        read_delta_cdf(spark, path, 0, 1).count()


def test_iceberg_changelog_lifecycle(spark, tmp_path):
    """The Iceberg twin: append → inserts; touch-only UPDATE → exactly
    the delete+insert pair (file-set fast path — carried rows cancel);
    compaction → zero change rows (identical multisets)."""
    from ballista_spark.sources.iceberg import (
        compact_iceberg_table,
        read_iceberg_changelog,
        update_iceberg_table,
        write_iceberg_table,
    )

    path = str(tmp_path / "ice")
    write_iceberg_table(
        _df(spark, [(i, "c", float(i)) for i in range(6)]).coalesce(1), path
    )  # ordinal 0
    write_iceberg_table(
        _df(spark, [(10, "d", 10.0)]).coalesce(1), path
    )  # ordinal 1
    update_iceberg_table(
        spark, path, {"v": "v * 10"}, [("id", "=", 2)]
    )  # ordinal 2
    compact_iceberg_table(spark, path)  # ordinal 3

    def changes(frm, to=None):
        return sorted(
            (r["_snapshot_ordinal"], r["_change_type"], r["id"], r["v"])
            for r in read_iceberg_changelog(spark, path, frm, to).collect()
        )

    assert changes(-1, 0) == [(0, "insert", i, float(i)) for i in range(6)]
    assert changes(0, 1) == [(1, "insert", 10, 10.0)]
    # the 6-row file rewrote for one changed row: 5 carried rows cancel
    assert changes(1, 2) == [(2, "delete", 2, 2.0), (2, "insert", 2, 20.0)]
    # compaction rewrites files but changes no rows: invisible
    assert changes(2, 3) == []
    assert len(changes(-1)) == 6 + 1 + 2


def test_cdf_empty_window_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a", 1.0)]), path)
    out = read_delta_cdf(spark, path, 0)  # nothing after v0
    assert out.count() == 0
    assert out.columns == ["id", "cat", "v", "_change_type", "_commit_version"]


def test_cdf_long_window_bounded_plan(spark, tmp_path, monkeypatch):
    """A 100-commit window must (a) return the same rows as the naive
    un-truncated chain and (b) actually truncate its logical plan via
    localCheckpoint every K commits (round-8 scale fix: a 500-commit
    window otherwise builds a 1000+-node exceptAll/union plan)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ballista_spark.sources import datafiles, deltalog

    table = str(tmp_path / "t")
    schema = _json.dumps({
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        ],
    })
    deltalog._attempt_commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "m", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}, "createdTime": 0}},
    ])
    n_commits = 100
    for v in range(1, n_commits + 1):
        rel = f"f{v}.parquet"
        pq.write_table(
            pa.table({"id": pa.array([v * 10, v * 10 + 1], pa.int64())}),
            f"{table}/{rel}",
        )
        deltalog._attempt_commit(table, v, [
            {"add": {"path": rel, "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}}
        ])

    monkeypatch.setattr(datafiles, "CDF_CHECKPOINT_EVERY", 8)
    trunc = deltalog.read_delta_cdf(spark, table, from_version=0)
    plan = trunc._jdf.queryExecution().logical().toString()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # truncated
    # the surviving chain is at most K commits deep, not 100
    assert plan.count("Union") < 3 * 8
    got = sorted(
        (r["_commit_version"], r["id"]) for r in trunc.collect()
    )
    monkeypatch.setattr(datafiles, "CDF_CHECKPOINT_EVERY", 10_000)
    naive = sorted(
        (r["_commit_version"], r["id"])
        for r in deltalog.read_delta_cdf(spark, table, from_version=0).collect()
    )
    assert got == naive
    assert len(got) == 2 * n_commits
    assert got[0] == (1, 10) and got[-1] == (100, 1001)
