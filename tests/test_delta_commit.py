"""The Delta commit path (``deltalog._commit``) under racing writers.

Each race runs a second writer to completion after the operation under
test read its snapshot and before it commits — the window in which a
commit built on a stale snapshot used to publish over the racer's
change.  Metadata operations must rebuild on the racer's snapshot; data
operations whose replaced files changed must refuse, and so must an
overwrite that a racer appended to and a rewrite that a racer made
append-only; an append racing an UPDATE retries on top of it.  Plus the
checkpoint policy: any commit landing on a multiple of
``CHECKPOINT_INTERVAL`` checkpoints, and the checkpoint replays to the
same snapshot as the JSON log.
"""

from __future__ import annotations

import os
import shutil

import pytest

from ballista_spark.sources import deltalog
from ballista_spark.sources.deltalog import (
    CHECKPOINT_INTERVAL,
    DeltaConcurrentCommitError,
    alter_delta_table,
    delete_from_delta_table,
    merge_delta_table,
    read_delta_snapshot,
    read_delta_table,
    set_delta_table_properties,
    update_delta_table,
    write_delta_table,
)

_SCHEMA = "k long, v long"


def _table(spark, tmp_path, n=10):
    """One data file holding k = 0..n-1, v = k."""
    path = str(tmp_path / "t")
    write_delta_table(
        spark.createDataFrame([(k, k) for k in range(n)], _SCHEMA).coalesce(1),
        path,
    )
    return path


def _rows(spark, path):
    return sorted(map(tuple, read_delta_table(spark, path).collect()))


def _race(monkeypatch, name, racer):
    """Run ``racer`` once, on the first call of ``deltalog.<name>`` —
    after the operation under test read its snapshot.  The racer's own
    calls of ``name`` pass straight through."""
    real = getattr(deltalog, name)
    fired = []

    def wrapped(*args, **kwargs):
        if not fired:
            fired.append(True)
            racer()
        return real(*args, **kwargs)

    monkeypatch.setattr(deltalog, name, wrapped)


@pytest.mark.parametrize("op", ["properties", "alter"])
def test_metadata_commit_rebuilds_on_racing_metadata_commit(
    spark, tmp_path, monkeypatch, op
):
    path = _table(spark, tmp_path, n=2)
    if op == "properties":
        racer = lambda: set_delta_table_properties(path, {"b": "2"})  # noqa: E731
        run = lambda: set_delta_table_properties(path, {"a": "1"})  # noqa: E731
    else:
        racer = lambda: alter_delta_table(path, add_columns={"b": "int"})  # noqa: E731
        run = lambda: alter_delta_table(path, add_columns={"a": "int"})  # noqa: E731
    _race(monkeypatch, "_check_writer_protocol", racer)
    assert run() == 2  # lost v1 to the racer, rebuilt on it
    snap = read_delta_snapshot(path)
    if op == "properties":
        assert {"a": "1", "b": "2"}.items() <= snap.configuration.items()
    else:
        assert [f.name for f in snap.schema.fields] == ["k", "v", "b", "a"]


_RACED_OPS = {
    "update": lambda spark, path: update_delta_table(
        spark, path, {"v": "v + 100"}, [("k", ">=", 5)]
    ),
    "delete": lambda spark, path: delete_from_delta_table(
        spark, path, [("k", ">=", 5)]
    ),
    "merge": lambda spark, path: merge_delta_table(
        spark,
        path,
        spark.createDataFrame([(5, 500), (6, 600), (20, 20)], _SCHEMA),
        on=["k"],
    ),
    "dv_delete": lambda spark, path: delete_from_delta_table(
        spark, path, [("k", ">=", 5)], use_deletion_vectors=True
    ),
}


@pytest.mark.parametrize("op", sorted(_RACED_OPS))
def test_rewrite_raced_by_delete_refuses(spark, tmp_path, monkeypatch, op):
    """The racer deletes k < 3 from the file the operation rewrites.
    Committing on top would bring k = 0..2 back and duplicate the rest;
    the operation must refuse and leave the racer's table as it is.
    The DV racer keeps the file live under a new deletion vector, which
    is a conflict too (replacing it would drop the racer's vector)."""
    path = _table(spark, tmp_path)
    dv = op == "dv_delete"
    _race(
        monkeypatch,
        "_scan_snapshot",
        lambda: delete_from_delta_table(
            spark, path, [("k", "<", 3)], use_deletion_vectors=dv
        ),
    )
    with pytest.raises(DeltaConcurrentCommitError, match="rerun"):
        _RACED_OPS[op](spark, path)
    assert read_delta_snapshot(path).version == 1  # the racer's commit
    assert _rows(spark, path) == [(k, k) for k in range(3, 10)]


@pytest.mark.parametrize("op", sorted(_RACED_OPS))
def test_rewrite_raced_by_append_only_refuses(spark, tmp_path, monkeypatch, op):
    """The racer makes the table append-only while the operation reads
    its files.  The retry is built on the racer's snapshot, whose writer
    protocol forbids removing rows, so the operation must refuse as it
    would serially, and the rows stay."""
    path = _table(spark, tmp_path)
    _race(
        monkeypatch,
        "_scan_snapshot",
        lambda: set_delta_table_properties(path, {"delta.appendOnly": "true"}),
    )
    with pytest.raises(deltalog.DeltaProtocolError, match="append-only"):
        _RACED_OPS[op](spark, path)
    assert read_delta_snapshot(path).version == 1  # the racer's commit
    assert _rows(spark, path) == [(k, k) for k in range(10)]


def test_update_raced_by_append_keeps_both(spark, tmp_path, monkeypatch):
    """An append replaces no file, so it never conflicts: the UPDATE
    retries on top of it and both changes survive."""
    path = _table(spark, tmp_path)
    _race(
        monkeypatch,
        "_scan_snapshot",
        lambda: write_delta_table(
            spark.createDataFrame([(-1, -1)], _SCHEMA), path
        ),
    )
    assert _RACED_OPS["update"](spark, path) == 2
    assert _rows(spark, path) == sorted(
        [(-1, -1)] + [(k, k if k < 5 else k + 100) for k in range(10)]
    )


@pytest.mark.parametrize("new_schema", [False, True])
def test_overwrite_raced_by_append_refuses(
    spark, tmp_path, monkeypatch, new_schema
):
    """An overwrite read the whole table, so an append that lands first
    must not survive it: keeping the appended rows (written under the
    old schema, read back under the overwrite's) matches no serial
    order.  The overwrite refuses and the racer's table stays."""
    path = _table(spark, tmp_path, n=3)
    _race(
        monkeypatch,
        "_check_writer_protocol",
        lambda: write_delta_table(
            spark.createDataFrame([(-1, -1)], _SCHEMA), path
        ),
    )
    df = spark.createDataFrame([(7, 7)], _SCHEMA)
    if new_schema:
        df = df.selectExpr("k", "v", "'x' AS w")
    with pytest.raises(DeltaConcurrentCommitError, match="rerun"):
        write_delta_table(df, path, mode="overwrite")
    assert read_delta_snapshot(path).version == 1  # the racer's commit
    assert _rows(spark, path) == [(-1, -1), (0, 0), (1, 1), (2, 2)]


@pytest.mark.parametrize("op", ["update", "delete", "merge"])
def test_rewrite_on_checkpoint_version_writes_checkpoint(spark, tmp_path, op):
    """A MERGE/UPDATE/DELETE landing on a checkpoint version writes the
    checkpoint, and the snapshot rebuilt from it equals the one replayed
    from the JSON commits."""
    path = _table(spark, tmp_path)
    for i in range(1, CHECKPOINT_INTERVAL):  # cheap metadata-only commits
        set_delta_table_properties(path, {"step": i})
    assert _RACED_OPS[op](spark, path) == CHECKPOINT_INTERVAL
    assert deltalog._read_last_checkpoint(path)["version"] == CHECKPOINT_INTERVAL

    replay = str(tmp_path / "replay")
    os.makedirs(os.path.join(replay, "_delta_log"))
    for v in range(CHECKPOINT_INTERVAL + 1):
        shutil.copy(
            deltalog._commit_path(path, v), deltalog._commit_path(replay, v)
        )
    from_cp, from_log = read_delta_snapshot(path), read_delta_snapshot(replay)
    for field in (
        "version", "schema", "partition_columns", "table_id", "files",
        "app_versions", "configuration", "column_mapping",
        "reader_features", "protocol",
    ):
        assert getattr(from_cp, field) == getattr(from_log, field), field
