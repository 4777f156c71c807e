"""Delta deletion-vector READ support (deltalog + dvbitmap): fixtures
hand-built to the public protocol shapes (delta.io PROTOCOL.md
"Deletion Vectors" + RoaringFormatSpec) — UUID-named DV files, inline
z85 bitmaps, absolute paths; applied as a (file, position) anti-join.
Writes to DV tables stay refused (the documented matrix)."""

from __future__ import annotations

import json
import os
import struct
import uuid as _uuid
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ballista_spark.sources.deltalog import (
    DeltaProtocolError,
    read_delta_cdf,
    read_delta_snapshot,
    read_delta_table,
)
from ballista_spark.sources.dvbitmap import (
    DeletionVectorError,
    decode_rbm_array,
    encode_rbm_array,
    pack_dv_blob,
    unpack_dv_blob,
    z85_decode,
    z85_encode,
)


# ------------------------------------------------------------------- codec


def test_z85_spec_vector():
    data = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(data) == "HelloWorld"
    assert z85_decode("HelloWorld") == data
    with pytest.raises(DeletionVectorError):
        z85_decode("abc")  # not a multiple of 5
    with pytest.raises(DeletionVectorError):
        z85_decode('abcd"')  # invalid character


def test_roaring_round_trip_shapes():
    for vals in (
        [],
        [0],
        [1, 2, 3, 100_000],
        list(range(5000)),           # bitmap container (card > 4096)
        [7, 2**32 + 5, 2**33 + 1],   # multiple 32-bit buckets
    ):
        assert decode_rbm_array(encode_rbm_array(vals)) == sorted(set(vals))


def test_roaring_run_container_decode():
    # SERIAL_COOKIE with one run container {5..8} — the shape delta-spark
    # writes after runOptimize()
    cookie = (0 << 16) | 12347
    body = (
        struct.pack("<I", cookie)
        + bytes([0b1])
        + struct.pack("<HH", 0, 3)
        + struct.pack("<H", 1)
        + struct.pack("<HH", 5, 3)
    )
    payload = struct.pack("<Iq", 1681511377, 1) + body
    assert decode_rbm_array(payload) == [5, 6, 7, 8]


def test_dv_blob_checksum_and_size_guards():
    blob, off, size, card = pack_dv_blob([1, 5])
    assert unpack_dv_blob(blob, off, size) == [1, 5]
    with pytest.raises(DeletionVectorError, match="sizeInBytes mismatch"):
        unpack_dv_blob(blob, off, size + 1)
    corrupt = bytearray(blob)
    corrupt[-1] ^= 0xFF
    with pytest.raises(DeletionVectorError, match="checksum"):
        unpack_dv_blob(bytes(corrupt), off, size)


# ------------------------------------------------------------ table fixtures


def _commit(table, version, actions):
    log = os.path.join(table, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


def _base_table(tmp_path, feature=True):
    """v0: two 5-row files, protocol v3 + deletionVectors feature."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    adds = []
    for fi in range(2):
        rel = f"f{fi}.parquet"
        pq.write_table(
            pa.table({
                "id": pa.array([fi * 100 + j for j in range(5)], pa.int64()),
                "cat": pa.array([f"c{j}" for j in range(5)], pa.string()),
            }),
            os.path.join(table, rel),
        )
        adds.append({"add": {
            "path": rel, "partitionValues": {},
            "size": os.path.getsize(os.path.join(table, rel)),
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({
                "numRecords": 5,
                "minValues": {"id": fi * 100},
                "maxValues": {"id": fi * 100 + 4},
                "nullCount": {"id": 0},
            }),
        }})
    proto = (
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["deletionVectors"],
         "writerFeatures": ["deletionVectors"]}
        if feature
        else {"minReaderVersion": 1, "minWriterVersion": 2}
    )
    _commit(table, 0, [
        {"protocol": proto},
        {"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
            ]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
    ] + adds)
    return table


def _dv_descriptor_u(table, positions, prefix=""):
    """Write a UUID-named DV file and return its descriptor."""
    blob, off, size, card = pack_dv_blob(positions)
    u = _uuid.uuid4()
    dv_dir = os.path.join(table, prefix) if prefix else table
    os.makedirs(dv_dir, exist_ok=True)
    with open(os.path.join(dv_dir, f"deletion_vector_{u}.bin"), "wb") as f:
        f.write(blob)
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85_encode(u.bytes),
        "offset": off,
        "sizeInBytes": size,
        "cardinality": card,
    }


def _delete_with_dv(table, version, rel, descriptor):
    """The DV-DELETE commit shape: remove(rel) + add(rel, DV).  The
    re-add carries the file's stats like delta-spark's does (bounds
    stay valid: deleted rows only shrink the true set)."""
    size = os.path.getsize(os.path.join(table, rel))
    fi = int(rel[1])
    _commit(table, version, [
        {"remove": {"path": rel, "deletionTimestamp": 1, "dataChange": True}},
        {"add": {"path": rel, "partitionValues": {}, "size": size,
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({
                     "numRecords": 5,
                     "minValues": {"id": fi * 100},
                     "maxValues": {"id": fi * 100 + 4},
                     "nullCount": {"id": 0},
                 }),
                 "deletionVector": descriptor}},
    ])


# ------------------------------------------------------------------- reads


def test_dv_read_uuid_storage_and_time_travel(spark, tmp_path):
    table = _base_table(tmp_path)
    # delete rows at positions 1 and 3 of f0 (ids 1 and 3)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1, 3]))
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [0, 2, 4, 100, 101, 102, 103, 104]
    # time travel to before the DV commit: all ten rows
    v0 = sorted(r["id"] for r in read_delta_table(spark, table, version=0).collect())
    assert v0 == [0, 1, 2, 3, 4, 100, 101, 102, 103, 104]
    snap = read_delta_snapshot(table)
    assert sum(1 for f in snap.files if f.deletion_vector) == 1


def test_dv_read_prefixed_uuid_storage(spark, tmp_path):
    table = _base_table(tmp_path)
    _delete_with_dv(
        table, 1, "f0.parquet", _dv_descriptor_u(table, [0], prefix="ab/")
    )
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [1, 2, 3, 4, 100, 101, 102, 103, 104]


def test_dv_read_inline_storage(spark, tmp_path):
    table = _base_table(tmp_path)
    data = encode_rbm_array([2, 4])
    pad = (-len(data)) % 4
    _delete_with_dv(table, 1, "f1.parquet", {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
        "sizeInBytes": len(data),
        "cardinality": 2,
    })
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [0, 1, 2, 3, 4, 100, 101, 103]


def test_dv_read_absolute_path_storage(spark, tmp_path):
    table = _base_table(tmp_path)
    blob, off, size, card = pack_dv_blob([0, 1, 2, 3, 4])
    ext = str(tmp_path / "elsewhere.bin")
    with open(ext, "wb") as f:
        f.write(blob)
    _delete_with_dv(table, 1, "f0.parquet", {
        "storageType": "p", "pathOrInlineDv": ext,
        "offset": off, "sizeInBytes": size, "cardinality": card,
    })
    # the whole of f0 is deleted
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [100, 101, 102, 103, 104]


def test_dv_successive_vectors_replace(spark, tmp_path):
    """A second DV on the same file REPLACES the first (the add action
    is whole-row state, not a delta) — growing deletes accumulate in
    the new bitmap."""
    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1]))
    _delete_with_dv(table, 2, "f0.parquet", _dv_descriptor_u(table, [1, 2]))
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [0, 3, 4, 100, 101, 102, 103, 104]
    # intermediate version applies only the first bitmap
    v1 = sorted(r["id"] for r in read_delta_table(spark, table, version=1).collect())
    assert v1 == [0, 2, 3, 4, 100, 101, 102, 103, 104]


def test_dv_filters_still_prune(spark, tmp_path):
    """Stats-based file skipping composes with DV application: the
    pruned file never scans, the kept file's DV still applies."""
    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1]))
    # prune to f1 only (f0's DV is irrelevant there)
    got = sorted(
        r["id"]
        for r in read_delta_table(
            spark, table, filters=[("id", ">=", 100)]
        ).collect()
    )
    assert got == [100, 101, 102, 103, 104]
    # prune to f0 only: its DV applies inside the kept file
    got0 = sorted(
        r["id"]
        for r in read_delta_table(
            spark, table, filters=[("id", "<", 100)]
        ).collect()
    )
    assert got0 == [0, 2, 3, 4]


def test_dv_cdf_exact_deletes(spark, tmp_path):
    """The change feed across a DV commit emits EXACTLY the rows the
    bitmap killed, as deletes (carried rows cancel in the multiset
    diff)."""
    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1, 3]))
    changes = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in read_delta_cdf(spark, table, from_version=0).collect()
    )
    assert changes == [(1, "delete", 1), (1, "delete", 3)]


def test_dv_guards_raise(spark, tmp_path):
    table = _base_table(tmp_path)
    desc = _dv_descriptor_u(table, [1])
    bad = dict(desc, cardinality=99)
    _delete_with_dv(table, 1, "f0.parquet", bad)
    with pytest.raises(DeltaProtocolError, match="cardinality"):
        read_delta_table(spark, table).collect()

    t2 = _base_table(tmp_path / "t2")
    _delete_with_dv(t2, 1, "f0.parquet", dict(desc, storageType="x"))
    with pytest.raises(DeltaProtocolError, match="storageType"):
        read_delta_table(spark, t2).collect()


def test_dv_delete_purges_touched_dv_keeps_untouched(spark, tmp_path):
    """Round-8 mutation stance: a COW mutation reads touched files
    DV-APPLIED and rewrites them without a descriptor (incremental
    REORG-PURGE); untouched files keep their DVs."""
    from ballista_spark.sources.deltalog import delete_from_delta_table

    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1]))
    _delete_with_dv(table, 2, "f1.parquet", _dv_descriptor_u(table, [0]))
    # touch only f0 (ids 0-4); f1 (ids 100-104, DV kills 100) untouched
    v = delete_from_delta_table(spark, table, [("id", "=", 0)])
    assert v == 3
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    # 0 deleted now, 1 deleted by f0's purged DV, 100 by f1's live DV
    assert got == [2, 3, 4, 101, 102, 103, 104]
    snap = read_delta_snapshot(table)
    dvs = {f.path: f.deletion_vector for f in snap.files}
    rewritten = [p for p in dvs if p not in ("f0.parquet", "f1.parquet")]
    assert len(rewritten) == 1 and dvs[rewritten[0]] is None
    assert dvs["f1.parquet"] is not None  # untouched DV survives


def test_dv_update_and_merge_apply_then_purge(spark, tmp_path):
    from ballista_spark.sources.deltalog import (
        merge_delta_table,
        update_delta_table,
    )

    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1]))
    update_delta_table(spark, table, {"cat": "'upd'"}, [("id", "=", 2)])
    got = {r["id"]: r["cat"] for r in read_delta_table(spark, table).collect()}
    assert 1 not in got and got[2] == "upd" and got[0] == "c0"

    src = spark.createDataFrame(
        [(3, "merged"), (999, "new")], "id long, cat string"
    )
    merge_delta_table(spark, table, src, on=["id"])
    got = {r["id"]: r["cat"] for r in read_delta_table(spark, table).collect()}
    assert 1 not in got  # DV-deleted row never resurrects through MERGE
    assert got[3] == "merged" and got[999] == "new"
    assert all(
        f.deletion_vector is None
        for f in read_delta_snapshot(table).files
    )


def test_dv_compaction_purges_without_row_change(spark, tmp_path):
    from ballista_spark.sources.deltalog import compact_delta_table

    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1, 3]))
    before = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    v = compact_delta_table(spark, table, target_file_bytes=1 << 30)
    assert v == 2
    after = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert after == before == [0, 2, 4, 100, 101, 102, 103, 104]
    snap = read_delta_snapshot(table)
    assert all(f.deletion_vector is None for f in snap.files)
    # dataChange:false — the change feed sees nothing for the compaction
    assert read_delta_cdf(spark, table, from_version=1).count() == 0


def test_dv_append_and_checkpoint_preserve_dv_and_protocol(spark, tmp_path):
    """Appends on a DV table work; the checkpoint carries BOTH the
    untouched DV descriptors and the table's real v3 protocol (a
    default protocol row would downgrade the table's declared
    requirements)."""
    import os as _os

    from ballista_spark.sources.deltalog import (
        _write_checkpoint,
        write_delta_table,
    )

    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1]))
    src = spark.createDataFrame([(999, "app")], "id long, cat string")
    v = write_delta_table(src, table)
    assert v == 2
    _write_checkpoint(table, v)
    log = _os.path.join(table, "_delta_log")
    assert _os.path.exists(
        _os.path.join(log, f"{2:020d}.checkpoint.parquet")
    )
    # remove the pre-checkpoint commits: the snapshot must rebuild from
    # the checkpoint alone — DVs and protocol included
    for old in (0, 1):
        _os.remove(_os.path.join(log, f"{old:020d}.json"))
    snap = read_delta_snapshot(table)
    assert snap.reader_features == {"deletionVectors"}
    assert snap.protocol["minReaderVersion"] == 3
    assert sum(1 for f in snap.files if f.deletion_vector) == 1
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [0, 2, 3, 4, 100, 101, 102, 103, 104, 999]


def test_dv_checkpoint_descriptor_survives(spark, tmp_path):
    """An external checkpoint carrying deletionVector structs feeds the
    same read path (delta-spark checkpoints its DV tables)."""
    import pyarrow as pa

    table = _base_table(tmp_path)
    desc = _dv_descriptor_u(table, [1, 3])
    _delete_with_dv(table, 1, "f0.parquet", desc)
    # hand-write a v1 checkpoint WITH the DV struct
    snap_adds = [
        {"path": "f0.parquet", "dv": desc},
        {"path": "f1.parquet", "dv": None},
    ]
    schema = pa.schema([
        pa.field("protocol", pa.struct([
            ("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        pa.field("metaData", pa.struct([
            ("id", pa.string()), ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
        ])),
        pa.field("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()), ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()), ("stats", pa.string()),
            ("deletionVector", pa.struct([
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ])),
        ])),
    ])
    meta_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "cat", "type": "string", "nullable": True, "metadata": {}},
    ]})
    rows = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]},
         "metaData": None, "add": None},
        {"protocol": None,
         "metaData": {"id": "m", "schemaString": meta_schema,
                      "partitionColumns": [], "configuration": []},
         "add": None},
    ] + [
        {"protocol": None, "metaData": None,
         "add": {"path": a["path"], "partitionValues": [],
                 "size": os.path.getsize(os.path.join(table, a["path"])),
                 "modificationTime": 0, "dataChange": False, "stats": None,
                 "deletionVector": a["dv"]}}
        for a in snap_adds
    ]
    log = os.path.join(table, "_delta_log")
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(log, f"{1:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 1, "size": len(rows)}, f)
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [0, 2, 4, 100, 101, 102, 103, 104]


def test_dv_pyds_face_masks_rows(spark, tmp_path):
    """The ballista_delta DataSource face decodes the descriptor
    executor-side and masks rows by position — same result as the
    library read path."""
    from ballista_spark.sources.pyds import register_data_sources

    register_data_sources(spark)
    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1, 3]))
    df = spark.read.format("ballista_delta").option("path", table).load()
    got = sorted(r["id"] for r in df.collect())
    assert got == [0, 2, 4, 100, 101, 102, 103, 104]


def test_dv_probe_survives_shuffle_join(spark, tmp_path):
    """Touch probes capture file identity AT THE SCAN STAGE: with
    broadcast disabled the DV anti-join shuffles, where
    input_file_name() returns '' (review finding — mutations silently
    no-opped); _metadata.file_path survives."""
    from ballista_spark.sources.deltalog import delete_from_delta_table

    table = _base_table(tmp_path)
    _delete_with_dv(table, 1, "f0.parquet", _dv_descriptor_u(table, [1]))
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        v = delete_from_delta_table(spark, table, [("id", "=", 2)])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert v == 2  # the mutation actually happened
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [0, 3, 4, 100, 101, 102, 103, 104]


def test_dv_on_percent_encoded_path(spark, tmp_path):
    """The spec stores add paths URL-ENCODED while _metadata.file_path
    is a percent-encoded URI; the DV (file, pos) join must line the two
    spellings up (review finding: any path needing encoding silently
    resurrected deleted rows)."""
    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "cat=a b"))
    pq.write_table(
        pa.table({
            "id": pa.array([0, 1, 2], pa.int64()),
            "cat": pa.array(["x", "y", "z"], pa.string()),
        }),
        os.path.join(table, "cat=a b", "f0.parquet"),
    )
    _commit(table, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "cat", "type": "string", "nullable": True,
                 "metadata": {}},
            ]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0,
        }},
        {"add": {"path": "cat=a%20b/f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ])
    desc = _dv_descriptor_u(table, [1])
    _commit(table, 1, [
        {"remove": {"path": "cat=a%20b/f0.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "cat=a%20b/f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": desc}},
    ])
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [0, 2]  # id=1 stays deleted through the encoding


def test_external_location_add_path_refuses(spark, tmp_path):
    """An add path outside the table root refuses loudly — a basename
    guess could silently read a different file (review finding)."""
    from ballista_spark.sources.deltalog import _normalize_rel

    with pytest.raises(DeltaProtocolError, match="not under the table root"):
        _normalize_rel(
            "s3a://bucket/tbl", "s3://other-bucket/tbl/part-0.parquet"
        )
    # alias-different spelling under the SAME root still resolves
    assert _normalize_rel(
        "s3a://bucket/tbl", "s3a://bucket/tbl/cat=1/part-0.parquet"
    ) == "cat=1/part-0.parquet"


# ------------------------------------------------- DV WRITE path (DELETE)


def test_dv_write_delete_zero_rewrite(spark, tmp_path):
    """use_deletion_vectors=True: a narrow DELETE writes one bitmap
    file and rewrites ZERO data bytes — every parquet file is carried
    physically; the protocol upgrades to v3+deletionVectors; reads,
    CDF, time travel, and a second unioning delete all compose."""
    import glob as _glob

    from ballista_spark.sources.deltalog import (
        delete_from_delta_table,
        write_delta_table,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"c{i % 3}", float(i)) for i in range(40)],
        "id long, cat string, v double",
    )
    write_delta_table(df.repartitionByRange(4, "id"), table)
    files_before = {f.path for f in read_delta_snapshot(table).files}
    parquets_before = set(_glob.glob(os.path.join(table, "*.parquet")))

    v = delete_from_delta_table(
        spark, table, [("id", ">=", 5), ("id", "<", 8)],
        use_deletion_vectors=True,
    )
    assert v == 1
    # zero data bytes rewritten: the SAME physical files, one .bin added
    assert set(_glob.glob(os.path.join(table, "*.parquet"))) == parquets_before
    assert len(_glob.glob(os.path.join(table, "deletion_vector_*.bin"))) == 1
    snap = read_delta_snapshot(table)
    assert {f.path for f in snap.files} == files_before
    assert snap.reader_features == {"deletionVectors"}
    assert snap.protocol["minWriterVersion"] == 7
    assert "invariants" in snap.protocol["writerFeatures"]
    dv_carriers = [f for f in snap.files if f.deletion_vector]
    assert len(dv_carriers) == 1
    assert dv_carriers[0].deletion_vector["cardinality"] == 3

    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [i for i in range(40) if not (5 <= i < 8)]
    # time travel to before the delete
    assert read_delta_table(spark, table, version=0).count() == 40
    # CDF: exactly the three deleted rows
    changes = sorted(
        (r["_change_type"], r["id"])
        for r in read_delta_cdf(spark, table, from_version=0).collect()
    )
    assert changes == [("delete", 5), ("delete", 6), ("delete", 7)]

    # second DV delete on the SAME band's file unions with the first
    v2 = delete_from_delta_table(
        spark, table, [("id", "=", 8)], use_deletion_vectors=True
    )
    assert v2 == 2
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [i for i in range(40) if not (5 <= i <= 8)]
    snap2 = read_delta_snapshot(table)
    card = [
        f.deletion_vector["cardinality"]
        for f in snap2.files
        if f.deletion_vector
    ]
    assert card == [4]  # union of both deletes in ONE bitmap


def test_dv_write_delete_full_file_drops(spark, tmp_path):
    from ballista_spark.sources.deltalog import (
        delete_from_delta_table,
        write_delta_table,
    )

    table = str(tmp_path / "t")
    for lo in (0, 100):
        write_delta_table(
            spark.createDataFrame(
                [(lo + i, float(i)) for i in range(5)], "id long, v double"
            ).coalesce(1),
            table,
        )
    v = delete_from_delta_table(
        spark, table, [("id", "<", 100)], use_deletion_vectors=True
    )
    assert v == 2
    snap = read_delta_snapshot(table)
    # the fully-deleted file dropped outright — no add, no bitmap
    assert snap.num_files == 1
    assert all(f.deletion_vector is None for f in snap.files)
    got = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert got == [100, 101, 102, 103, 104]


def test_dv_write_then_optimize_purges(spark, tmp_path):
    from ballista_spark.sources.deltalog import (
        compact_delta_table,
        delete_from_delta_table,
        write_delta_table,
    )

    table = str(tmp_path / "t")
    write_delta_table(
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "id long, v double"
        ).repartitionByRange(2, "id"),
        table,
    )
    delete_from_delta_table(
        spark, table, [("id", "=", 3)], use_deletion_vectors=True
    )
    before = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    compact_delta_table(spark, table, target_file_bytes=1 << 30)
    snap = read_delta_snapshot(table)
    assert all(f.deletion_vector is None for f in snap.files)
    after = sorted(r["id"] for r in read_delta_table(spark, table).collect())
    assert after == before and 3 not in after


def test_dv_large_cardinality_stays_off_driver(spark, tmp_path):
    """≥1M-position lifecycle: a broad DV DELETE packs per-file bitmaps
    executor-side (the driver sees only file-count segments), and the
    read back decodes executor-side because the declared cardinality
    exceeds DV_DRIVER_DECODE_MAX — asserted on the plan itself
    (MapInPandas tombstone source, vs the small-table LocalRelation)."""
    import ballista_spark.sources.deltalog as dl
    from ballista_spark.sources.deltalog import (
        delete_from_delta_table,
        write_delta_table,
    )

    n, cut = 1_600_000, 1_200_000
    table = str(tmp_path / "big")
    # range(0, n, 1, 2): exactly two slices split at n // 2 regardless of
    # the session's core count — range().coalesce(2) packs an uneven
    # number of default slices per output file when the parallelism does
    # not divide evenly (e.g. 5 cores -> 640k/960k), breaking the
    # cardinality assertions below
    write_delta_table(
        spark.range(0, n, 1, 2).selectExpr("id", "id % 7 as k"), table
    )
    v = delete_from_delta_table(
        spark, table, [("id", "<", cut)], use_deletion_vectors=True
    )
    assert v == 1
    snap = read_delta_snapshot(table)
    # file0 (ids 0..799999) is fully covered -> dropped outright;
    # file1 carries a 400k-position DV (cut - 800k)
    cards = sorted(
        f.deletion_vector["cardinality"]
        for f in snap.files
        if f.deletion_vector
    )
    assert cards == [cut - n // 2]
    assert (
        sum(int((f.stats or {})["numRecords"]) for f in snap.files) == n // 2
    )

    df = read_delta_table(spark, table)
    plan = df._jdf.queryExecution().logical().toString()
    assert "MapInPandas" in plan  # executor-side decode, not a driver batch
    assert df.count() == n - cut
    agg = df.selectExpr(
        "min(id) as lo", "max(id) as hi", "sum(id) as s"
    ).collect()[0]
    assert (agg["lo"], agg["hi"]) == (cut, n - 1)
    assert agg["s"] == (n - 1 + cut) * (n - cut) // 2

    # small tables keep the measured-cheaper driver batch (no job)
    small = str(tmp_path / "small")
    write_delta_table(spark.range(10).selectExpr("id", "id as k"), small)
    delete_from_delta_table(
        spark, small, [("id", "=", 3)], use_deletion_vectors=True
    )
    small_plan = (
        read_delta_table(spark, small)
        ._jdf.queryExecution()
        .logical()
        .toString()
    )
    assert "MapInPandas" not in small_plan
