"""Iceberg format-version 3 deletion vectors: Puffin files carrying
deletion-vector-v1 blobs (apache/iceberg Puffin spec + table spec
"Deletion vectors"), referenced from delete manifests via
referenced_data_file / content_offset / content_size_in_bytes and
applied as the same (file, position) anti-join as v2 position deletes.
Fixtures are hand-built to the public spec shapes; v3 WRITES refuse
loudly (row-lineage bookkeeping this writer does not produce)."""

from __future__ import annotations

import json
import os
import struct
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ballista_spark.sources.avroio import write_avro_bytes
from ballista_spark.sources.dvbitmap import (
    DeletionVectorError,
    DV_V1_MAGIC,
    pack_iceberg_dv_blob,
    pack_puffin_file,
    read_puffin_footer,
    unpack_iceberg_dv,
)
from ballista_spark.sources.iceberg import (
    IcebergFeatureError,
    read_iceberg_snapshot,
    read_iceberg_table,
)

# ------------------------------------------------------------------- codec


def test_dv_blob_magic_is_delta_compatible():
    # the spec's magic D1 D3 39 64 IS the little-endian spelling of the
    # RoaringBitmapArray magic Delta uses — one decoder serves both
    assert DV_V1_MAGIC == bytes([0xD1, 0xD3, 0x39, 0x64])


def test_puffin_and_dv_blob_round_trip():
    positions = [0, 3, 5, 70_000, 2**33 + 7]
    blob = pack_iceberg_dv_blob(positions)
    assert unpack_iceberg_dv(blob, 0, len(blob)) == sorted(positions)
    # inside a Puffin file at a real offset
    f, descs = pack_puffin_file(
        [(blob, {"referenced-data-file": "/d/f1.parquet"})]
    )
    assert f[:4] == b"PFA1" and f[-4:] == b"PFA1"
    d = descs[0]
    assert d["offset"] == 4 and d["length"] == len(blob)
    assert unpack_iceberg_dv(
        f[d["offset"] : d["offset"] + d["length"]], 0, d["length"]
    ) == sorted(positions)
    footer = read_puffin_footer(f)
    assert footer["blobs"][0]["type"] == "deletion-vector-v1"
    assert footer["blobs"][0]["properties"]["referenced-data-file"] == (
        "/d/f1.parquet"
    )


def test_puffin_and_dv_guards():
    blob = pack_iceberg_dv_blob([1, 2])
    corrupt = bytearray(blob)
    corrupt[-1] ^= 0xFF
    with pytest.raises(DeletionVectorError, match="checksum"):
        unpack_iceberg_dv(bytes(corrupt), 0, len(blob))
    with pytest.raises(DeletionVectorError, match="length mismatch"):
        unpack_iceberg_dv(blob + b"x", 0, len(blob) + 1)
    with pytest.raises(DeletionVectorError, match="truncated"):
        unpack_iceberg_dv(blob[:-2], 0, len(blob))
    bad_magic = bytearray(blob)
    bad_magic[4] ^= 0xFF
    with pytest.raises(DeletionVectorError, match="magic"):
        unpack_iceberg_dv(bytes(bad_magic), 0, len(blob))
    with pytest.raises(DeletionVectorError, match="magic"):
        read_puffin_footer(b"NOPE" + b"\x00" * 30)
    # lz4-compressed footer: flag bit set -> loud refusal, not garbage
    f, _ = pack_puffin_file([(blob, {})])
    flagged = f[:-8] + b"\x01\x00\x00\x00" + f[-4:]
    with pytest.raises(DeletionVectorError, match="lz4"):
        read_puffin_footer(flagged)


# ------------------------------------------------------------- v3 fixtures


# the spec-shaped builder moved into the library (round 10) so the
# graded corpus can grade the v3 read plane too; the tests keep their
# original entry points as thin wrappers
from ballista_spark.sources.iceberg_fixtures import (  # noqa: E402
    V3_MANIFEST_ENTRY_SCHEMA as V3_MANIFEST_ENTRY,
    V3_MANIFEST_FILE_SCHEMA as MANIFEST_FILE,
    build_v3_dv_table,
)

SCHEMA_JSON = {
    "schema-id": 0,
    "type": "struct",
    "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "cat", "required": False, "type": "string"},
    ],
}


def _arrow_ids(ids):
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "cat": pa.array([f"c{i}" for i in ids], pa.string()),
        }
    )


def _v3_table(tmp_path, dv_by_file, schema_json=SCHEMA_JSON, name="ice3"):
    """Two data files (ids 0..9, 100..109) + ONE Puffin file holding a
    deletion vector per entry of ``dv_by_file`` (fname -> positions)."""
    return build_v3_dv_table(
        str(tmp_path / name),
        {
            "f1.parquet": _arrow_ids(list(range(10))),
            "f2.parquet": _arrow_ids(list(range(100, 110))),
        },
        dv_by_file,
        schema_json,
    )


# -------------------------------------------------------------------- reads


def test_v3_dv_read_applies_exactly(spark, tmp_path):
    table = _v3_table(
        tmp_path, {"f1.parquet": [1, 3], "f2.parquet": [0, 9]}
    )
    snap = read_iceberg_snapshot(table)
    assert len(snap.dv_deletes) == 2 and not snap.delete_files
    got = sorted(r["id"] for r in read_iceberg_table(spark, table).collect())
    assert got == [0, 2, 4, 5, 6, 7, 8, 9, 101, 102, 103, 104, 105, 106, 107, 108]
    # bound-based file skipping composes with the DV anti-join
    assert read_iceberg_table(
        spark, table, filters=[("id", ">=", 100)]
    ).count() == 8
    # positions, not values: id=1 deleted only at f1's position 1
    cats = {r["id"]: r["cat"] for r in read_iceberg_table(spark, table).collect()}
    assert cats[2] == "c2"


def test_v3_dv_cardinality_mismatch_raises(spark, tmp_path):
    table = _v3_table(tmp_path, {"f1.parquet": [1]})
    # corrupt the manifest-declared record_count by rewriting the manifest
    manifest = os.path.join(table, "metadata", "manifest-1.avro")
    from ballista_spark.sources.avroio import read_avro_bytes

    records, _ = read_avro_bytes(open(manifest, "rb").read())
    for r in records:
        if r["data_file"]["content"] == 1:
            r["data_file"]["record_count"] = 99
    with open(manifest, "wb") as f:
        f.write(write_avro_bytes(records, V3_MANIFEST_ENTRY))
    with pytest.raises(IcebergFeatureError, match="cardinality mismatch"):
        read_iceberg_table(spark, table).collect()


def test_v3_initial_default_top_level_reads(spark, tmp_path):
    """Round 10: top-level primitive initial-defaults READ correctly —
    files written BEFORE the field existed (footer lacks it) fill the
    default; files carrying the field keep actual values including
    genuine NULLs (the case a blanket coalesce would corrupt)."""
    schema = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {
                "id": 2,
                "name": "cat",
                "required": False,
                "type": "string",
                "initial-default": "zz",
            },
            {
                "id": 3,
                "name": "score",
                "required": False,
                "type": "long",
                "initial-default": 7,
            },
        ],
    }
    old = pa.table({"id": pa.array([1, 2], pa.int64())})  # pre-ADD file
    new = pa.table(
        {
            "id": pa.array([3, 4], pa.int64()),
            "cat": pa.array(["x", None], pa.string()),  # genuine NULL
            "score": pa.array([30, 40], pa.int64()),
        }
    )
    table = build_v3_dv_table(
        str(tmp_path / "icedef"),
        {"old.parquet": old, "new.parquet": new},
        {},
        schema,
    )
    snap = read_iceberg_snapshot(table)
    assert snap.initial_defaults == {
        "cat": ("zz", "string"),
        "score": (7, "long"),
    }
    got = {
        r["id"]: (r["cat"], r["score"])
        for r in read_iceberg_table(spark, table).collect()
    }
    assert got == {
        1: ("zz", 7),
        2: ("zz", 7),
        3: ("x", 30),
        4: (None, 40),  # genuine NULL survives — not defaulted
    }


def test_v3_initial_default_composes_with_dv(spark, tmp_path):
    """Defaults + deletion vectors in one table: the per-group scan
    must keep the (file, position) tombstone join correct."""
    schema = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {
                "id": 2,
                "name": "cat",
                "required": False,
                "type": "string",
                "initial-default": "zz",
            },
        ],
    }
    old = pa.table({"id": pa.array([1, 2, 3], pa.int64())})
    new = pa.table(
        {
            "id": pa.array([10, 11], pa.int64()),
            "cat": pa.array(["a", "b"], pa.string()),
        }
    )
    table = build_v3_dv_table(
        str(tmp_path / "icedefdv"),
        {"old.parquet": old, "new.parquet": new},
        {"old.parquet": [1], "new.parquet": [0]},  # kill id=2 and id=10
        schema,
    )
    got = {
        r["id"]: r["cat"]
        for r in read_iceberg_table(spark, table).collect()
    }
    assert got == {1: "zz", 3: "zz", 11: "b"}


def test_v3_initial_default_unsupported_type_refuses(spark, tmp_path):
    schema = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {
                "id": 2,
                "name": "b",
                "required": False,
                "type": "binary",
                "initial-default": "AAAA",
            },
        ],
    }
    table = _v3_table(tmp_path, {}, schema_json=schema, name="icedefbin")
    with pytest.raises(IcebergFeatureError, match="initial-default"):
        read_iceberg_snapshot(table)


def test_v3_initial_default_refuses_nested(spark, tmp_path):
    """initial-default buried inside struct/list/map element types must
    refuse too — a top-level-only scan would silently return NULL where
    the spec says the default applies (round-9 advice)."""
    nested_struct = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {
                "id": 2,
                "name": "meta",
                "required": False,
                "type": {
                    "type": "struct",
                    "fields": [
                        {
                            "id": 3,
                            "name": "tag",
                            "required": False,
                            "type": "string",
                            "initial-default": "zz",
                        }
                    ],
                },
            },
        ],
    }
    table = _v3_table(
        tmp_path, {}, schema_json=nested_struct, name="icedefnest"
    )
    with pytest.raises(IcebergFeatureError, match="meta.tag.*initial-default"):
        read_iceberg_snapshot(table)

    in_list_of_struct = {
        "schema-id": 0,
        "type": "struct",
        "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {
                "id": 2,
                "name": "items",
                "required": False,
                "type": {
                    "type": "list",
                    "element-id": 3,
                    "element-required": False,
                    "element": {
                        "type": "struct",
                        "fields": [
                            {
                                "id": 4,
                                "name": "v",
                                "required": False,
                                "type": "int",
                                "initial-default": 7,
                            }
                        ],
                    },
                },
            },
        ],
    }
    table2 = _v3_table(
        tmp_path, {}, schema_json=in_list_of_struct, name="icedeflist"
    )
    with pytest.raises(IcebergFeatureError, match="initial-default"):
        read_iceberg_snapshot(table2)


def test_v3_writes_refuse_loudly(spark, tmp_path):
    from ballista_spark.sources.iceberg import (
        alter_iceberg_table,
        compact_iceberg_table,
        delete_from_iceberg_table,
        expire_iceberg_snapshots,
        update_iceberg_table,
        write_iceberg_table,
    )

    table = _v3_table(tmp_path, {"f1.parquet": [1]})
    src = spark.createDataFrame([(1, "z")], "id long, cat string")
    for call in (
        lambda: write_iceberg_table(src, table),
        lambda: delete_from_iceberg_table(spark, table, [("id", "=", 1)]),
        lambda: update_iceberg_table(spark, table, {"cat": "'z'"}),
        lambda: alter_iceberg_table(table, add_columns={"x": "long"}),
        lambda: compact_iceberg_table(spark, table),
        lambda: expire_iceberg_snapshots(table),
    ):
        with pytest.raises(IcebergFeatureError, match="format-version 3"):
            call()
