"""Avro object-container codec — pure stdlib, no spark-avro jars.

The reference engine declares Avro as a first-class scan format
(`rust/core/proto/ballista.proto:246` AvroFormat;
`rust/client/src/context.rs` read_avro), but stock pyspark ships
WITHOUT the external spark-avro module, so `format("avro")` fails on
exactly the deployments this repo targets (see
``connectors._probe_format``).  This module implements the Avro 1.11
object container file spec (the public Apache Avro specification:
header magic ``Obj\\x01`` + metadata map + 16-byte sync marker; blocks
of zigzag-varint-counted records; null/deflate codecs) in pure Python:

- :func:`read_avro` — DataFrame over one or many container files.
  Distribution follows the WARC-source pattern (`sources/warc.py`):
  file PATHS are distributed, each task opens its own file and streams
  blocks through one Arrow-batched ``mapInPandas``, yielding a batch
  per container block — peak memory O(block), never O(file).
- :func:`write_avro` — write a DataFrame as Avro container files, one
  per partition (``foreachPartition``-free: mapInPandas emitting file
  paths, the same sanctioned-Python-stage shape as the read side).
- pure cores :func:`read_avro_bytes` / :func:`write_avro_bytes` +
  schema translation :func:`avro_to_spark_schema` /
  :func:`spark_to_avro_schema` — unit-testable without Spark, and the
  foundation the Iceberg metadata reader builds on (manifests are Avro).

Supported type subset (documented, checked): null, boolean, int, long,
float, double, bytes, string, fixed, enum (as string), record, array,
map (string keys), and 2-branch ``[null, X]`` unions (nullable X).
Logical types: date (int), timestamp-micros/millis (long) map to Spark
DateType/TimestampType; decimals and general unions raise with the
feature named.  Codecs: null, deflate (zlib raw).  Snappy would need an
external lib — raises with guidance.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "read_avro",
    "write_avro",
    "read_avro_bytes",
    "write_avro_bytes",
    "avro_to_spark_schema",
    "spark_to_avro_schema",
]

MAGIC = b"Obj\x01"
SYNC_SIZE = 16
#: default block target (records are buffered until this many bytes)
DEFAULT_BLOCK_BYTES = 1 << 20


class AvroTypeError(TypeError):
    """Schema uses a feature outside the documented subset."""


# ---------------------------------------------------------------------------
# varint / zigzag primitives (the spec's only integer encoding)


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(buf: bytearray, n: int) -> None:
    n = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_long(f) -> int:
    shift = 0
    acc = 0
    while True:
        byte = f.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return _zigzag_decode(acc)
        shift += 7
        if shift > 70:
            raise ValueError("varint too long (corrupt file)")


# ---------------------------------------------------------------------------
# schema translation


def _is_nullable_union(sch) -> bool:
    return (
        isinstance(sch, list)
        and len(sch) == 2
        and "null" in sch
    )


def _union_value_schema(sch):
    return sch[0] if sch[1] == "null" else sch[1]


def _type_name(sch):
    if isinstance(sch, dict):
        return sch["type"]
    return sch


def avro_to_spark_schema(sch) -> T.DataType:
    """Avro schema (parsed JSON) → Spark type.  Records become structs;
    the documented subset only."""
    if _is_nullable_union(sch):
        return avro_to_spark_schema(_union_value_schema(sch))
    if isinstance(sch, list):
        raise AvroTypeError(f"general unions unsupported: {sch!r}")
    t = _type_name(sch)
    logical = sch.get("logicalType") if isinstance(sch, dict) else None
    if logical == "date" and t == "int":
        return T.DateType()
    if logical in ("timestamp-micros", "timestamp-millis") and t == "long":
        return T.TimestampType()
    if logical == "decimal":
        raise AvroTypeError("decimal logical type unsupported")
    prim = {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
        "enum": T.StringType(),
        "fixed": T.BinaryType(),
    }
    if t in prim:
        return prim[t]
    if t == "record":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    avro_to_spark_schema(f["type"]),
                    nullable=_is_nullable_union(f["type"]),
                )
                for f in sch["fields"]
            ]
        )
    if t == "array":
        return T.ArrayType(avro_to_spark_schema(sch["items"]))
    if t == "map":
        return T.MapType(T.StringType(), avro_to_spark_schema(sch["values"]))
    raise AvroTypeError(f"unsupported avro type: {sch!r}")


def spark_to_avro_schema(dt: T.DataType, name: str = "topLevelRecord"):
    """Spark type → Avro schema JSON (records named, fields nullable
    via [null, X] — matching what spark-avro itself emits)."""
    counter = [0]

    def conv(d: T.DataType, nm: str):
        if isinstance(d, T.StructType):
            counter[0] += 1
            return {
                "type": "record",
                "name": nm,
                "fields": [
                    {
                        "name": f.name,
                        "type": (
                            ["null", conv(f.dataType, f"{nm}_{f.name}")]
                            if f.nullable
                            else conv(f.dataType, f"{nm}_{f.name}")
                        ),
                    }
                    for f in d.fields
                ],
            }
        if isinstance(d, T.ArrayType):
            items = conv(d.elementType, f"{nm}_item")
            if d.containsNull:
                items = ["null", items]
            return {"type": "array", "items": items}
        if isinstance(d, T.MapType):
            values = conv(d.valueType, f"{nm}_value")
            if d.valueContainsNull:
                values = ["null", values]
            return {"type": "map", "values": values}
        if isinstance(d, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(d, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        prim = {
            T.BooleanType: "boolean",
            T.IntegerType: "int",
            T.ShortType: "int",
            T.ByteType: "int",
            T.LongType: "long",
            T.FloatType: "float",
            T.DoubleType: "double",
            T.BinaryType: "bytes",
            T.StringType: "string",
        }
        for cls, avro_t in prim.items():
            if isinstance(d, cls):
                return avro_t
        raise AvroTypeError(f"unsupported spark type for avro: {d}")

    return conv(dt, name)


# ---------------------------------------------------------------------------
# datum decode / encode (schema-driven, recursive)


def _decode_datum(f, sch):
    if _is_nullable_union(sch):
        idx = _read_long(f)
        branch = sch[idx]
        return None if branch == "null" else _decode_datum(f, branch)
    if isinstance(sch, list):
        idx = _read_long(f)
        return _decode_datum(f, sch[idx])
    t = _type_name(sch)
    logical = sch.get("logicalType") if isinstance(sch, dict) else None
    if t == "null":
        return None
    if t == "boolean":
        return f.read(1) == b"\x01"
    if t in ("int", "long"):
        v = _read_long(f)
        if logical == "date":
            import datetime

            return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
        if logical == "timestamp-micros":
            import datetime

            return datetime.datetime.fromtimestamp(
                v / 1e6, tz=datetime.timezone.utc
            ).replace(tzinfo=None)
        if logical == "timestamp-millis":
            import datetime

            return datetime.datetime.fromtimestamp(
                v / 1e3, tz=datetime.timezone.utc
            ).replace(tzinfo=None)
        return v
    if t == "float":
        return struct.unpack("<f", f.read(4))[0]
    if t == "double":
        return struct.unpack("<d", f.read(8))[0]
    if t == "bytes":
        return f.read(_read_long(f))
    if t == "string":
        return f.read(_read_long(f)).decode("utf-8")
    if t == "fixed":
        return f.read(sch["size"])
    if t == "enum":
        return sch["symbols"][_read_long(f)]
    if t == "record":
        return {
            fld["name"]: _decode_datum(f, fld["type"]) for fld in sch["fields"]
        }
    if t == "array":
        out = []
        while True:
            n = _read_long(f)
            if n == 0:
                return out
            if n < 0:  # block-size prefixed form
                n = -n
                _read_long(f)  # byte size (skippable)
            for _ in range(n):
                out.append(_decode_datum(f, sch["items"]))
    if t == "map":
        out = {}
        while True:
            n = _read_long(f)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(f)
            for _ in range(n):
                k = f.read(_read_long(f)).decode("utf-8")
                out[k] = _decode_datum(f, sch["values"])
    raise AvroTypeError(f"unsupported avro type: {sch!r}")


def _read_long_at(buf, pos):
    """Zigzag varint from a flat buffer at ``pos`` -> (value, new_pos).
    The per-byte ``f.read(1)`` of the stream decoder allocates a bytes
    object per byte — on manifest-scale inputs (millions of varints)
    indexing a bytes buffer is the difference between 22 s and 10 s of
    driver-side metadata resolution (round-10 ask #1)."""
    b = buf[pos]
    pos += 1
    acc = b & 0x7F
    shift = 7
    while b & 0x80:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _compile_buf_decoder(sch, kv_arrays_as_maps: bool = False):
    """Resolve the schema walk ONCE into nested closures, each
    ``dec(buf, pos) -> (value, new_pos)`` over one block's decompressed
    bytes — no per-datum type dispatch, no stream objects, no per-byte
    allocations.  Semantics identical to :func:`_decode_datum` (same
    subset, same logical-type conversions)."""
    _sub = lambda s: _compile_buf_decoder(s, kv_arrays_as_maps)  # noqa: E731
    if _is_nullable_union(sch):
        branches = [None if b == "null" else _sub(b) for b in sch]

        def d_union(buf, pos, _b=branches):
            idx, pos = _read_long_at(buf, pos)
            br = _b[idx]
            return (None, pos) if br is None else br(buf, pos)

        return d_union
    if isinstance(sch, list):
        branches = [_sub(b) for b in sch]

        def d_anyunion(buf, pos, _b=branches):
            idx, pos = _read_long_at(buf, pos)
            return _b[idx](buf, pos)

        return d_anyunion
    t = _type_name(sch)
    logical = sch.get("logicalType") if isinstance(sch, dict) else None
    if t == "null":
        return lambda buf, pos: (None, pos)
    if t == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    if t in ("int", "long"):
        if logical in ("date", "timestamp-micros", "timestamp-millis"):
            # ONE conversion implementation shared with the generated
            # decoder (_logical_long_converter) — a precision fix there
            # must apply here too
            _cnv = _logical_long_converter(logical)

            def d_logical(buf, pos, _c=_cnv):
                v, pos = _read_long_at(buf, pos)
                return _c(v), pos

            return d_logical
        return _read_long_at
    if t == "float":
        _uf = struct.Struct("<f").unpack_from
        return lambda buf, pos: (_uf(buf, pos)[0], pos + 4)
    if t == "double":
        _ud = struct.Struct("<d").unpack_from
        return lambda buf, pos: (_ud(buf, pos)[0], pos + 8)
    if t == "bytes":

        def d_bytes(buf, pos):
            n, pos = _read_long_at(buf, pos)
            end = pos + n
            return buf[pos:end], end

        return d_bytes
    if t == "string":

        def d_string(buf, pos):
            n, pos = _read_long_at(buf, pos)
            end = pos + n
            return buf[pos:end].decode("utf-8"), end

        return d_string
    if t == "fixed":
        size = sch["size"]
        return lambda buf, pos, _n=size: (buf[pos:pos + _n], pos + _n)
    if t == "enum":
        symbols = sch["symbols"]

        def d_enum(buf, pos, _s=symbols):
            idx, pos = _read_long_at(buf, pos)
            return _s[idx], pos

        return d_enum
    if t == "record":
        pairs = [
            (fld["name"], _sub(fld["type"])) for fld in sch["fields"]
        ]

        def d_record(buf, pos, _p=pairs):
            out = {}
            for name, dec in _p:
                out[name], pos = dec(buf, pos)
            return out, pos

        return d_record
    if t == "array":
        if kv_arrays_as_maps and _is_kv_record(sch["items"]):
            kdec = _sub(sch["items"]["fields"][0]["type"])
            vdec = _sub(sch["items"]["fields"][1]["type"])

            def d_kvmap(buf, pos, _k=kdec, _v=vdec):
                out = {}
                while True:
                    n, pos = _read_long_at(buf, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:
                        n = -n
                        _, pos = _read_long_at(buf, pos)
                    for _ in range(n):
                        k, pos = _k(buf, pos)
                        out[k], pos = _v(buf, pos)

            return d_kvmap
        item = _sub(sch["items"])

        def d_array(buf, pos, _i=item):
            out = []
            append = out.append
            while True:
                n, pos = _read_long_at(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # block-size prefixed form
                    n = -n
                    _, pos = _read_long_at(buf, pos)
                for _ in range(n):
                    v, pos = _i(buf, pos)
                    append(v)

        return d_array
    if t == "map":
        val = _sub(sch["values"])

        def d_map(buf, pos, _v=val):
            out = {}
            while True:
                n, pos = _read_long_at(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = _read_long_at(buf, pos)
                for _ in range(n):
                    kn, pos = _read_long_at(buf, pos)
                    kend = pos + kn
                    k = buf[pos:kend].decode("utf-8")
                    out[k], pos = _v(buf, kend)

        return d_map
    raise AvroTypeError(f"unsupported avro type: {sch!r}")


def _is_kv_record(sch) -> bool:
    """The Iceberg manifests' ``array<record{key,value}>`` logical-map
    shape (spec: k_v arrays).  Decoding those as plain dicts (opt-in,
    ``kv_arrays_as_maps``) kills three allocations per element — at 1M
    manifest entries that is hundreds of MB of driver RSS and a
    measurable slice of cold decode."""
    return (
        isinstance(sch, dict)
        and sch.get("type") == "record"
        and len(sch.get("fields") or []) == 2
        and [f["name"] for f in sch["fields"]] == ["key", "value"]
    )


def _gen_block_decoder(sch, kv_arrays_as_maps: bool = False):
    """Generate and ``exec`` ONE flat function that decodes a whole
    block of records from a buffer — the fastavro strategy (public):
    the schema walk is resolved at generation time into straight-line
    bytecode, so the per-record path has no closure calls, no tuple
    returns, and inlined varint reads.  Measured ~2× over the compiled
    closure chain on Iceberg manifest entries (round-10 ask #1: 1M-file
    metadata resolution).  Raises AvroTypeError for any construct
    outside the documented subset — callers fall back to
    :func:`_compile_buf_decoder`."""
    g = _AvroCodeGen(kv_arrays_as_maps)
    g.lines.append("def _decode_block(buf, pos, n, append):")
    g.lines.append("    for _ in range(n):")
    g.value(sch, "_rec", 2)
    g.lines.append("        append(_rec)")
    g.lines.append("    return pos")
    return g.build()


class _AvroCodeGen:
    """Shared code-emitter behind :func:`_gen_block_decoder` and
    :func:`_gen_projected_block_decoder`: ``value`` decodes a schema
    into a variable, ``skip`` advances ``pos`` without materializing
    anything (string/bytes/array contents are never sliced), and
    ``project`` mixes the two over a record tree so a caller gets flat
    tuples of just the fields it consumes."""

    def __init__(self, kv_arrays_as_maps: bool = False):
        self.kv = kv_arrays_as_maps
        self.lines: list[str] = []
        self.env: dict = {}
        self._ctr = 0

    def uniq(self, prefix: str) -> str:
        self._ctr += 1
        return f"{prefix}{self._ctr}"

    def build(self):
        exec("\n".join(self.lines), self.env)  # noqa: S102 — schema-derived
        return self.env["_decode_block"]

    def varint(self, target: str, ind: str) -> None:
        lines = self.lines
        lines.append(f"{ind}_b = buf[pos]; pos += 1; _a = _b & 127; _s = 7")
        lines.append(f"{ind}while _b & 128:")
        lines.append(
            f"{ind}    _b = buf[pos]; pos += 1; "
            "_a |= (_b & 127) << _s; _s += 7"
        )
        lines.append(f"{ind}{target} = (_a >> 1) ^ -(_a & 1)")

    def varint_skip(self, ind: str) -> None:
        lines = self.lines
        lines.append(f"{ind}_b = buf[pos]; pos += 1")
        lines.append(f"{ind}while _b & 128:")
        lines.append(f"{ind}    _b = buf[pos]; pos += 1")

    def _guard(self, start: int, ind: str) -> None:
        """An opened block whose body emitted nothing needs a pass."""
        if len(self.lines) == start:
            self.lines.append(f"{ind}    pass")

    def value(self, sch, target: str, depth: int) -> None:
        lines, env, ind = self.lines, self.env, "    " * depth
        if _is_nullable_union(sch):
            idx = self.uniq("u")
            self.varint(idx, ind)
            null_first = sch[0] == "null"
            value_sch = sch[1] if null_first else sch[0]
            lines.append(f"{ind}if {idx} == {0 if null_first else 1}:")
            lines.append(f"{ind}    {target} = None")
            lines.append(f"{ind}else:")
            self.value(value_sch, target, depth + 1)
            return
        if isinstance(sch, list):
            idx = self.uniq("u")
            self.varint(idx, ind)
            for i, branch in enumerate(sch):
                kw = "if" if i == 0 else "elif"
                lines.append(f"{ind}{kw} {idx} == {i}:")
                if branch == "null":
                    lines.append(f"{ind}    {target} = None")
                else:
                    self.value(branch, target, depth + 1)
            return
        t = _type_name(sch)
        logical = sch.get("logicalType") if isinstance(sch, dict) else None
        if t == "null":
            lines.append(f"{ind}{target} = None")
            return
        if t == "boolean":
            lines.append(f"{ind}{target} = buf[pos] == 1; pos += 1")
            return
        if t in ("int", "long"):
            if logical in ("date", "timestamp-micros", "timestamp-millis"):
                cnv = self.uniq("_cnv")
                env[cnv] = _logical_long_converter(logical)
                raw = self.uniq("v")
                self.varint(raw, ind)
                lines.append(f"{ind}{target} = {cnv}({raw})")
                return
            self.varint(target, ind)
            return
        if t == "float":
            env.setdefault("_uf", struct.Struct("<f").unpack_from)
            lines.append(f"{ind}{target} = _uf(buf, pos)[0]; pos += 4")
            return
        if t == "double":
            env.setdefault("_ud", struct.Struct("<d").unpack_from)
            lines.append(f"{ind}{target} = _ud(buf, pos)[0]; pos += 8")
            return
        if t in ("bytes", "string"):
            n = self.uniq("n")
            self.varint(n, ind)
            dec = '.decode("utf-8")' if t == "string" else ""
            lines.append(f"{ind}_e = pos + {n}")
            lines.append(f"{ind}{target} = buf[pos:_e]{dec}; pos = _e")
            return
        if t == "fixed":
            size = int(sch["size"])
            lines.append(
                f"{ind}{target} = buf[pos:pos + {size}]; pos += {size}"
            )
            return
        if t == "enum":
            sym = self.uniq("_sym")
            env[sym] = list(sch["symbols"])
            idx = self.uniq("v")
            self.varint(idx, ind)
            lines.append(f"{ind}{target} = {sym}[{idx}]")
            return
        if t == "record":
            parts = []
            for fld in sch["fields"]:
                v = self.uniq("f")
                self.value(fld["type"], v, depth)
                parts.append(f"{fld['name']!r}: {v}")
            lines.append(f"{ind}{target} = {{{', '.join(parts)}}}")
            return
        if t in ("array", "map"):
            cnt = self.uniq("c")
            item = self.uniq("v")
            kv = (
                t == "array"
                and self.kv
                and _is_kv_record(sch["items"])
            )
            lines.append(
                f"{ind}{target} = "
                + ("[]" if t == "array" and not kv else "{}")
            )
            lines.append(f"{ind}while True:")
            self.varint(cnt, ind + "    ")
            lines.append(f"{ind}    if {cnt} == 0: break")
            lines.append(f"{ind}    if {cnt} < 0:")
            lines.append(f"{ind}        {cnt} = -{cnt}")
            self.varint("_skip", ind + "        ")
            lines.append(f"{ind}    for _ in range({cnt}):")
            if kv:
                kvar = self.uniq("k")
                self.value(sch["items"]["fields"][0]["type"], kvar, depth + 2)
                self.value(sch["items"]["fields"][1]["type"], item, depth + 2)
                lines.append(f"{ind}        {target}[{kvar}] = {item}")
            elif t == "array":
                self.value(sch["items"], item, depth + 2)
                lines.append(f"{ind}        {target}.append({item})")
            else:
                k = self.uniq("k")
                n = self.uniq("n")
                self.varint(n, ind + "        ")
                lines.append(f"{ind}        _e = pos + {n}")
                lines.append(
                    f"{ind}        {k} = "
                    'buf[pos:_e].decode("utf-8"); pos = _e'
                )
                self.value(sch["values"], item, depth + 2)
                lines.append(f"{ind}        {target}[{k}] = {item}")
            return
        raise AvroTypeError(f"unsupported avro type: {sch!r}")

    def skip(self, sch, depth: int) -> None:
        """Advance ``pos`` past one datum without materializing it."""
        lines, ind = self.lines, "    " * depth
        if _is_nullable_union(sch):
            nonnull = sch[1] if sch[0] == "null" else sch[0]
            nn_idx = 1 if sch[0] == "null" else 0
            idx = self.uniq("u")
            self.varint(idx, ind)
            lines.append(f"{ind}if {idx} == {nn_idx}:")
            mark = len(lines)
            self.skip(nonnull, depth + 1)
            self._guard(mark, ind)
            return
        if isinstance(sch, list):
            idx = self.uniq("u")
            self.varint(idx, ind)
            for i, branch in enumerate(sch):
                kw = "if" if i == 0 else "elif"
                lines.append(f"{ind}{kw} {idx} == {i}:")
                mark = len(lines)
                if branch != "null":
                    self.skip(branch, depth + 1)
                self._guard(mark, ind)
            return
        t = _type_name(sch)
        if t == "null":
            return
        if t == "boolean":
            lines.append(f"{ind}pos += 1")
            return
        if t in ("int", "long", "enum"):
            self.varint_skip(ind)
            return
        if t == "float":
            lines.append(f"{ind}pos += 4")
            return
        if t == "double":
            lines.append(f"{ind}pos += 8")
            return
        if t in ("bytes", "string"):
            n = self.uniq("n")
            self.varint(n, ind)
            lines.append(f"{ind}pos += {n}")
            return
        if t == "fixed":
            lines.append(f"{ind}pos += {int(sch['size'])}")
            return
        if t == "record":
            for fld in sch["fields"]:
                self.skip(fld["type"], depth)
            return
        if t in ("array", "map"):
            cnt = self.uniq("c")
            lines.append(f"{ind}while True:")
            self.varint(cnt, ind + "    ")
            lines.append(f"{ind}    if {cnt} == 0: break")
            lines.append(f"{ind}    if {cnt} < 0:")
            # writer gave block byte sizes: O(1) whole-block skip
            sz = self.uniq("n")
            self.varint(sz, ind + "        ")
            lines.append(f"{ind}        pos += {sz}")
            lines.append(f"{ind}        continue")
            lines.append(f"{ind}    for _ in range({cnt}):")
            mark = len(lines)
            if t == "map":
                n = self.uniq("n")
                self.varint(n, ind + "        ")
                lines.append(f"{ind}        pos += {n}")
                self.skip(sch["values"], depth + 2)
            else:
                self.skip(sch["items"], depth + 2)
            self._guard(mark, ind + "    ")
            return
        raise AvroTypeError(f"unsupported avro type: {sch!r}")

    def project(
        self, sch, paths_to_vars: dict[tuple, str], depth: int
    ) -> None:
        """Decode just the record fields named by ``paths_to_vars``
        (relative paths → output variable names), skipping the rest;
        paths the schema lacks — or that a NULL union branch hides —
        assign None."""
        lines, ind = self.lines, "    " * depth
        if _is_nullable_union(sch):
            nonnull = sch[1] if sch[0] == "null" else sch[0]
            null_idx = 0 if sch[0] == "null" else 1
            idx = self.uniq("u")
            self.varint(idx, ind)
            lines.append(f"{ind}if {idx} == {null_idx}:")
            for var in paths_to_vars.values():
                lines.append(f"{ind}    {var} = None")
            lines.append(f"{ind}else:")
            self.project(nonnull, paths_to_vars, depth + 1)
            return
        if not (isinstance(sch, dict) and sch.get("type") == "record"):
            raise AvroTypeError(
                f"projection path traverses a non-record: {sch!r}"
            )
        names = {f["name"] for f in sch["fields"]}
        for path, var in paths_to_vars.items():
            if path[0] not in names:
                lines.append(f"{ind}{var} = None")
        for fld in sch["fields"]:
            sub = {
                p[1:]: v for p, v in paths_to_vars.items()
                if p[0] == fld["name"]
            }
            if not sub:
                self.skip(fld["type"], depth)
            elif () in sub:
                if len(sub) > 1:
                    raise AvroTypeError(
                        f"projection lists {fld['name']!r} both as a "
                        "leaf and a prefix"
                    )
                self.value(fld["type"], sub[()], depth)
            else:
                self.project(fld["type"], sub, depth)


def _gen_projected_block_decoder(
    sch, paths: list[tuple[str, ...]], kv_arrays_as_maps: bool = False
):
    """Generated decoder appending one TUPLE per record holding just
    the ``paths`` leaves (None where the schema lacks a path — e.g. a
    v1 Iceberg manifest has no ``sequence_number``), everything else
    parsed-but-skipped: no dicts, no unused slices.  This is what lets
    a 1M-entry manifest resolve in seconds (round-10 ask #1).  Raises
    AvroTypeError when the schema/paths fall outside the subset —
    callers fall back to full decode."""
    g = _AvroCodeGen(kv_arrays_as_maps)
    g.lines.append("def _decode_block(buf, pos, n, append):")
    g.lines.append("    for _ in range(n):")
    out_vars = [g.uniq("o") for _ in paths]
    g.project(sch, dict(zip([tuple(p) for p in paths], out_vars)), 2)
    g.lines.append(f"        append(({', '.join(out_vars)},))")
    g.lines.append("    return pos")
    return g.build()


def _logical_long_converter(logical: str):
    import datetime

    if logical == "date":
        epoch, day = datetime.date(1970, 1, 1), datetime.timedelta(days=1)
        return lambda v: epoch + day * v
    scale = 1e6 if logical == "timestamp-micros" else 1e3
    return lambda v: datetime.datetime.fromtimestamp(
        v / scale, tz=datetime.timezone.utc
    ).replace(tzinfo=None)


def _block_decoder(sch, kv_arrays_as_maps: bool = False):
    """Best available block decoder: generated flat code, else the
    closure chain wrapped to the same ``(buf, pos, n, append) -> pos``
    shape."""
    try:
        return _gen_block_decoder(sch, kv_arrays_as_maps)
    except AvroTypeError:
        dec = _compile_buf_decoder(sch, kv_arrays_as_maps)

        def _fallback(buf, pos, n, append, _d=dec):
            for _ in range(n):
                v, pos = _d(buf, pos)
                append(v)
            return pos

        return _fallback


def _encode_datum(buf: bytearray, sch, v) -> None:
    if _is_nullable_union(sch):
        null_idx = sch.index("null")
        if v is None:
            _write_long(buf, null_idx)
            return
        _write_long(buf, 1 - null_idx)
        _encode_datum(buf, _union_value_schema(sch), v)
        return
    if isinstance(sch, list):
        raise AvroTypeError(f"general unions unsupported: {sch!r}")
    t = _type_name(sch)
    logical = sch.get("logicalType") if isinstance(sch, dict) else None
    if t == "null":
        return
    if t == "boolean":
        buf.append(1 if v else 0)
        return
    if t in ("int", "long"):
        if logical == "date":
            import datetime

            v = (v - datetime.date(1970, 1, 1)).days
        elif logical == "timestamp-micros":
            import calendar

            v = calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
        elif logical == "timestamp-millis":
            import calendar

            v = calendar.timegm(v.timetuple()) * 1000 + v.microsecond // 1000
        _write_long(buf, int(v))
        return
    if t == "float":
        buf += struct.pack("<f", float(v))
        return
    if t == "double":
        buf += struct.pack("<d", float(v))
        return
    if t == "bytes":
        v = bytes(v)
        _write_long(buf, len(v))
        buf += v
        return
    if t == "string":
        raw = str(v).encode("utf-8")
        _write_long(buf, len(raw))
        buf += raw
        return
    if t == "fixed":
        raw = bytes(v)
        if len(raw) != sch["size"]:
            raise ValueError(f"fixed size mismatch: {len(raw)} != {sch['size']}")
        buf += raw
        return
    if t == "enum":
        _write_long(buf, sch["symbols"].index(v))
        return
    if t == "record":
        for fld in sch["fields"]:
            _encode_datum(buf, fld["type"], (v or {}).get(fld["name"]))
        return
    if t == "array":
        if isinstance(v, dict) and _is_kv_record(sch["items"]):
            # kv_arrays_as_maps round-trip: a dict-decoded logical map
            # re-encodes as the spec's key/value records, in order
            if v:
                _write_long(buf, len(v))
                ksch = sch["items"]["fields"][0]["type"]
                vsch = sch["items"]["fields"][1]["type"]
                for k, val in v.items():
                    _encode_datum(buf, ksch, k)
                    _encode_datum(buf, vsch, val)
            _write_long(buf, 0)
            return
        v = list(v or [])
        if v:
            _write_long(buf, len(v))
            for item in v:
                _encode_datum(buf, sch["items"], item)
        _write_long(buf, 0)
        return
    if t == "map":
        v = dict(v or {})
        if v:
            _write_long(buf, len(v))
            for k, val in v.items():
                raw = str(k).encode("utf-8")
                _write_long(buf, len(raw))
                buf += raw
                _encode_datum(buf, sch["values"], val)
        _write_long(buf, 0)
        return
    raise AvroTypeError(f"unsupported avro type: {sch!r}")


# ---------------------------------------------------------------------------
# container file read / write (pure cores)


def _read_header(f) -> tuple[dict, str, bytes]:
    if f.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta_schema = {"type": "map", "values": "bytes"}
    meta = _decode_datum(f, meta_schema)
    sync = f.read(SYNC_SIZE)
    schema = json.loads(meta[b"avro.schema"] if b"avro.schema" in meta
                        else meta["avro.schema"])
    codec = meta.get(b"avro.codec", meta.get("avro.codec", b"null"))
    codec = codec.decode() if isinstance(codec, bytes) else codec
    return schema, codec, sync


def _iter_raw_blocks(f, codec: str, sync: bytes):
    """(decompressed_bytes, record_count) per container block."""
    while True:
        try:
            n = _read_long(f)
        except EOFError:
            return
        size = _read_long(f)
        raw = f.read(size)
        if codec == "deflate":
            raw = zlib.decompress(raw, -15)
        elif codec != "null":
            raise AvroTypeError(
                f"codec {codec!r} needs an external library (null/deflate "
                "are built in)"
            )
        if f.read(SYNC_SIZE) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
        yield raw, n


def iter_avro_blocks(f, kv_arrays_as_maps: bool = False):
    """Yield lists of decoded records, one list per container block —
    the streaming unit (peak memory = one block)."""
    schema, codec, sync = _read_header(f)
    decode_block = _block_decoder(schema, kv_arrays_as_maps)
    for raw, n in _iter_raw_blocks(f, codec, sync):
        recs: list = []
        decode_block(raw, 0, n, recs.append)
        yield recs


def read_avro_projected(
    payload: bytes,
    paths: list[tuple[str, ...]],
    kv_arrays_as_maps: bool = False,
) -> list[tuple]:
    """One flat tuple per record holding just the ``paths`` leaves
    (None where the schema lacks a path), decoded block-streaming so
    the records' dict form never exists — the Iceberg manifest
    scan-row reader (round-10 ask #1).  Falls back to full decode +
    extraction for schema shapes the generator refuses."""
    f = io.BytesIO(payload)
    schema, codec, sync = _read_header(f)
    rows: list[tuple] = []
    append = rows.append
    try:
        decode_block = _gen_projected_block_decoder(
            schema, paths, kv_arrays_as_maps
        )
    except AvroTypeError:
        def dig(rec, path):
            for part in path:
                if not isinstance(rec, dict):
                    return None
                rec = rec.get(part)
            return rec

        dec = _block_decoder(schema, kv_arrays_as_maps)  # compile ONCE
        for raw, n in _iter_raw_blocks(f, codec, sync):
            block: list = []
            dec(raw, 0, n, block.append)
            for r in block:
                append(tuple(dig(r, p) for p in paths))
        return rows
    for raw, n in _iter_raw_blocks(f, codec, sync):
        decode_block(raw, 0, n, append)
    return rows


def read_avro_bytes(
    payload: bytes, kv_arrays_as_maps: bool = False
) -> tuple[list[dict], dict]:
    """(records, avro schema) from one container file's bytes — the
    unit-testable pure core.  ``kv_arrays_as_maps`` decodes the
    Iceberg-manifest ``array<record{key,value}>`` shape as plain dicts
    (the write side re-encodes either form)."""
    f = io.BytesIO(payload)
    schema, _codec, _sync = _read_header(f)
    f.seek(0)
    records = [
        r
        for block in iter_avro_blocks(f, kv_arrays_as_maps)
        for r in block
    ]
    return records, schema


def write_avro_bytes(
    records: list[dict],
    schema,
    codec: str = "deflate",
    block_bytes: int = DEFAULT_BLOCK_BYTES,
    sync: bytes = b"\x00" * SYNC_SIZE,
    extra_meta: dict | None = None,
) -> bytes:
    """One Avro object container file as bytes (deterministic: fixed
    sync marker by default so tests can byte-compare).  ``extra_meta``
    adds application key/value pairs to the container header (Iceberg
    manifests carry their table schema and spec there)."""
    out = bytearray()
    out += MAGIC
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    for k, v in (extra_meta or {}).items():
        meta[k] = v.encode() if isinstance(v, str) else bytes(v)
    _encode_datum(out, {"type": "map", "values": "bytes"}, meta)
    out += sync

    def flush(buf: bytearray, n: int) -> None:
        if not n:
            return
        raw = bytes(buf)
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            raw = c.compress(raw) + c.flush()
        elif codec != "null":
            raise AvroTypeError(f"unsupported write codec {codec!r}")
        _write_long(out, n)
        _write_long(out, len(raw))
        out.extend(raw)
        out.extend(sync)

    buf = bytearray()
    n = 0
    for rec in records:
        _encode_datum(buf, schema, rec)
        n += 1
        if len(buf) >= block_bytes:
            flush(buf, n)
            buf = bytearray()
            n = 0
    flush(buf, n)
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark faces


def read_avro(
    spark: SparkSession, path: str, records_per_batch: int = 10_000
) -> DataFrame:
    """DataFrame over Avro container file(s) — jar-free `format("avro")`.

    The schema is read from ONE file's header on the driver (cheap:
    header only); file paths then distribute through the engine's
    standard binaryFile listing with content pruned, and each task
    streams its file's blocks through Arrow batches (the
    `sources/warc.py` scale pattern — peak memory O(block), the 2 GiB
    JVM array ceiling never applies because content bytes never cross
    the JVM)."""
    import pandas as pd

    from pyspark.sql import functions as F

    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
        .select("path")
    )
    first = listing.limit(1).collect()
    if not first:
        raise FileNotFoundError(f"no .avro files under {path!r}")
    with open(_local_path(first[0]["path"]), "rb") as f:
        avro_schema, _codec, _sync = _read_header(f)
    spark_schema = avro_to_spark_schema(avro_schema)
    if not isinstance(spark_schema, T.StructType):
        raise AvroTypeError("top-level avro schema must be a record")

    field_names = [f.name for f in spark_schema.fields]

    def run(batches):
        for pdf in batches:
            for p in pdf["path"]:
                with open(_local_path(p), "rb") as f:
                    pending: list[dict] = []
                    for block in iter_avro_blocks(f):
                        pending.extend(block)
                        if len(pending) >= records_per_batch:
                            yield pd.DataFrame(
                                {
                                    c: [r.get(c) for r in pending]
                                    for c in field_names
                                }
                            )
                            pending = []
                    if pending:
                        yield pd.DataFrame(
                            {c: [r.get(c) for r in pending] for c in field_names}
                        )

    return listing.repartition(F.col("path")).mapInPandas(
        run, schema=spark_schema
    )


def _local_path(p: str) -> str:
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    return p


def write_avro(
    df: DataFrame, path: str, codec: str = "deflate"
) -> list[str]:
    """Write ``df`` as one Avro container file per partition under
    ``path``; returns the written file paths.  Encoding runs
    distributed inside mapInPandas (each task writes its own file —
    same shape as every file-format writer); the driver only collects
    the path manifest."""
    import pandas as pd

    os.makedirs(path, exist_ok=True)
    schema = df.schema
    avro_schema = spark_to_avro_schema(schema)
    names = [f.name for f in schema.fields]

    def run(batches):
        import uuid as _uuid

        records: list[dict] = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                records.append(_pdf_row_to_py(dict(zip(names, row)), schema))
        if not records:
            yield pd.DataFrame({"file": pd.array([], dtype="string")})
            return
        out = os.path.join(path, f"part-{_uuid.uuid4().hex}.avro")
        with open(out, "wb") as f:
            f.write(write_avro_bytes(records, avro_schema, codec=codec))
        yield pd.DataFrame({"file": [out]})

    files = (
        df.mapInPandas(run, schema="file string")
        .collect()
    )
    return sorted(r["file"] for r in files if r["file"] is not None)


def _pdf_row_to_py(d: dict, schema: T.StructType) -> dict:
    """pandas-row dict → avro-encodable plain python (numpy scalars and
    NaN/NaT normalized)."""
    import math

    import numpy as np
    import pandas as pd

    def conv(v, dt):
        if v is None or (
            isinstance(v, float) and math.isnan(v)
        ) or v is pd.NaT:
            return None
        if isinstance(v, np.generic):
            v = v.item()
        if isinstance(dt, T.StructType):
            vd = v.asDict() if hasattr(v, "asDict") else dict(v)
            return {
                f.name: conv(vd.get(f.name), f.dataType) for f in dt.fields
            }
        if isinstance(dt, T.ArrayType):
            return [conv(x, dt.elementType) for x in v]
        if isinstance(dt, T.MapType):
            return {k: conv(x, dt.valueType) for k, x in dict(v).items()}
        if isinstance(dt, T.BinaryType):
            return bytes(v)
        if isinstance(dt, T.TimestampType) and isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        return v

    return {f.name: conv(d.get(f.name), f.dataType) for f in schema.fields}
