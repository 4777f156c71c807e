"""Schema evolution (ALTER TABLE ADD/DROP COLUMNS) for Delta and
Iceberg tables: metadata-only commits, NULL reads of pre-add files,
appends under the evolved schema, field-id freshness (Iceberg), DML
over evolved columns, and the SQL face.
"""

from __future__ import annotations

import json
import os

import pytest

from ballista_spark.sources.deltalog import (
    alter_delta_table,
    read_delta_snapshot,
    read_delta_table,
    update_delta_table,
    write_delta_table,
)
from ballista_spark.sources.iceberg import (
    alter_iceberg_table,
    read_iceberg_table,
    write_iceberg_table,
)


def _df(spark, rows, schema="id long, cat string"):
    return spark.createDataFrame(rows, schema)


# -------------------------------------------------------------------- delta


def test_delta_add_column_nulls_and_append(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a"), (2, "b")]), path)
    files_before = {f.path for f in read_delta_snapshot(path).files}
    v = alter_delta_table(path, add_columns={"score": "double"})
    assert v == 1
    # metadata-only: zero data files touched
    assert {f.path for f in read_delta_snapshot(path).files} == files_before
    out = read_delta_table(spark, path)
    assert [f.name for f in out.schema.fields] == ["id", "cat", "score"]
    assert {r["score"] for r in out.collect()} == {None}
    # append under the evolved schema
    write_delta_table(
        _df(spark, [(3, "c", 0.5)], "id long, cat string, score double"), path
    )
    got = {r["id"]: r["score"] for r in read_delta_table(spark, path).collect()}
    assert got == {1: None, 2: None, 3: 0.5}
    # old schema still reachable by time travel
    old = read_delta_table(spark, path, version=0)
    assert [f.name for f in old.schema.fields] == ["id", "cat"]
    # appends of the OLD shape now refuse (strictness preserved)
    with pytest.raises(ValueError, match="schema"):
        write_delta_table(_df(spark, [(9, "z")]), path)
    # DML over the evolved column works (pre-add rows have NULL score,
    # predicate NULL keeps them un-updated)
    update_delta_table(spark, path, {"score": "score * 2"}, [("score", ">", 0.0)])
    got = {r["id"]: r["score"] for r in read_delta_table(spark, path).collect()}
    assert got == {1: None, 2: None, 3: 1.0}


def test_delta_drop_column(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(
        _df(spark, [(1, "a", 1.0)], "id long, cat string, v double"), path
    )
    alter_delta_table(path, drop_columns=["v"])
    out = read_delta_table(spark, path)
    assert [f.name for f in out.schema.fields] == ["id", "cat"]
    assert out.collect()[0]["cat"] == "a"
    # physical column still in the file, just unprojected — so the NAME
    # is retired: re-adding it would resurrect the old data
    with pytest.raises(ValueError, match="retired"):
        alter_delta_table(path, add_columns={"v": "double"})
    # a different name is fine
    alter_delta_table(path, add_columns={"v2": "double"})
    assert read_delta_table(spark, path).collect()[0]["v2"] is None


def test_retired_names_survive_checkpointing(spark, tmp_path):
    """The dropped-column guard lives in metaData.configuration — a log
    checkpoint must carry it, or a post-checkpoint re-add would
    silently resurrect old data (found in review: the checkpoint writer
    omitted configuration)."""
    from ballista_spark.sources.deltalog import (
        _read_last_checkpoint,
        _write_checkpoint,
        read_delta_snapshot,
    )

    path = str(tmp_path / "t")
    write_delta_table(
        _df(spark, [(1, "a", 1.0)], "id long, cat string, v double"), path
    )
    alter_delta_table(path, drop_columns=["v"])
    v = write_delta_table(_df(spark, [(2, "b")], "id long, cat string"), path)
    _write_checkpoint(path, v)
    assert _read_last_checkpoint(path) is not None
    snap = read_delta_snapshot(path)  # reconstructed FROM the checkpoint
    assert "ballista.droppedColumns" in snap.configuration
    with pytest.raises(ValueError, match="retired"):
        alter_delta_table(path, add_columns={"v": "double"})


def test_delta_alter_validation(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta_table(
        _df(spark, [(1, "a")], "id long, cat string"), path,
        partition_by=["cat"],
    )
    with pytest.raises(ValueError, match="already exists"):
        alter_delta_table(path, add_columns={"id": "long"})
    with pytest.raises(ValueError, match="does not exist"):
        alter_delta_table(path, drop_columns=["nope"])
    with pytest.raises(ValueError, match="partition column"):
        alter_delta_table(path, drop_columns=["cat"])
    with pytest.raises(ValueError, match="ALTER needs"):
        alter_delta_table(path)


# ------------------------------------------------------------------ iceberg


def test_iceberg_add_column_fresh_ids(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_table(_df(spark, [(1, "a"), (2, "b")]), path)
    hint = os.path.join(path, "metadata", "version-hint.text")
    with open(hint) as f:
        v0 = int(f.read().strip())
    alter_iceberg_table(path, add_columns={"score": "double"})
    with open(os.path.join(path, "metadata", f"v{v0 + 1}.metadata.json")) as f:
        md = json.load(f)
    # fresh field id above the previous last-column-id; history retained
    assert md["last-column-id"] == 3
    new_field = md["schema"]["fields"][-1]
    assert new_field["name"] == "score" and new_field["id"] == 3
    assert len(md["schemas"]) == 2
    assert md["current-schema-id"] == md["schema"]["schema-id"]
    out = read_iceberg_table(spark, path)
    assert [f.name for f in out.schema.fields] == ["id", "cat", "score"]
    assert {r["score"] for r in out.collect()} == {None}
    # append under the evolved schema; new file prunes on the new column
    write_iceberg_table(
        _df(spark, [(3, "c", 0.5)], "id long, cat string, score double"), path
    )
    got = {r["id"]: r["score"] for r in read_iceberg_table(spark, path).collect()}
    assert got == {1: None, 2: None, 3: 0.5}
    # proof-based skipping on the NEW column: old files (no bounds for
    # the fresh id) must be kept, the new file's bounds must work
    pruned = read_iceberg_table(spark, path, filters=[("score", ">", 1.0)])
    assert pruned.count() == 2  # old files kept (unprovable), new file skipped


def test_iceberg_drop_and_validation(spark, tmp_path):
    path = str(tmp_path / "t")
    write_iceberg_table(
        _df(spark, [(1, "a", 1.0)], "id long, cat string, v double"), path
    )
    alter_iceberg_table(path, drop_columns=["v"])
    out = read_iceberg_table(spark, path)
    assert [f.name for f in out.schema.fields] == ["id", "cat"]
    with pytest.raises(ValueError, match="already exists"):
        alter_iceberg_table(path, add_columns={"id": "long"})
    with pytest.raises(ValueError, match="does not exist"):
        alter_iceberg_table(path, drop_columns=["v"])  # already dropped
    with pytest.raises(ValueError, match="retired"):
        alter_iceberg_table(path, add_columns={"v": "double"})


# ---------------------------------------------------------------- SQL face


def test_alter_through_sql(spark, tmp_path):
    from ballista_spark.context import BallistaContext
    from ballista_spark.dml import parse_dml

    s = parse_dml("ALTER TABLE t ADD COLUMNS (x double, y string)")
    assert s.op == "alter" and s.add_columns == {"x": "double", "y": "string"}
    s = parse_dml("ALTER TABLE t DROP COLUMN x")
    assert s.drop_columns == ["x"]
    s = parse_dml("ALTER TABLE t DROP COLUMNS (x, y)")
    assert s.drop_columns == ["x", "y"]

    ctx = BallistaContext(spark=spark)
    path = str(tmp_path / "t")
    write_delta_table(_df(spark, [(1, "a")]), path)
    ctx.register_delta("t_ev", path)
    ctx.sql("ALTER TABLE t_ev ADD COLUMNS (score double)")
    # the registered view refreshed to the evolved schema
    assert ctx.sql("SELECT id, score FROM t_ev").df.collect()[0]["score"] is None
    ctx.sql("UPDATE t_ev SET score = 1.5 WHERE id = 1")
    assert ctx.sql("SELECT score FROM t_ev").df.collect()[0]["score"] == 1.5
