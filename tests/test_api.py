"""API-surface tests mirroring the reference's serde round-trip suite
(rust/core/src/serde/logical_plan/mod.rs — SURVEY.md §5.1): type mapping
round-trips, the full declared function enum, DataFrame operator surface,
context registration, and sink round-trips."""

from __future__ import annotations

import math
import os
import tempfile

import pytest
from pyspark.sql import types as T

import ballista_spark.functions as bf
from ballista_spark.context import BallistaContext
from ballista_spark.types import arrow_name_to_spark, schema, spark_type_to_arrow_name
from tests.conftest import SF_SMOKE, assert_frames_match

# --- types (ballista.proto:750-785; python/src/datatypes.rs:256-269) --------

ROUND_TRIP = [
    ("bool", T.BooleanType()),
    ("int8", T.ByteType()),
    ("int16", T.ShortType()),
    ("int32", T.IntegerType()),
    ("int64", T.LongType()),
    ("float32", T.FloatType()),
    ("float64", T.DoubleType()),
    ("utf8", T.StringType()),
    ("binary", T.BinaryType()),
    ("date32", T.DateType()),
    ("timestamp", T.TimestampType()),
]


@pytest.mark.parametrize("name,expected", ROUND_TRIP)
def test_type_round_trip(name, expected):
    dt = arrow_name_to_spark(name)
    assert dt == expected
    assert arrow_name_to_spark(spark_type_to_arrow_name(dt)) == dt


def test_unsigned_widening_policy():
    # SURVEY.md §1.3: unsigned widens to the next signed type
    assert arrow_name_to_spark("u8") == T.ShortType()
    assert arrow_name_to_spark("u16") == T.IntegerType()
    assert arrow_name_to_spark("u32") == T.LongType()
    assert arrow_name_to_spark("u64") == T.DecimalType(20, 0)


def test_nested_and_parameterized_types():
    assert arrow_name_to_spark("list<i32>") == T.ArrayType(T.IntegerType())
    assert arrow_name_to_spark("decimal(12,3)") == T.DecimalType(12, 3)
    assert arrow_name_to_spark("dictionary<i32, utf8>") == T.StringType()
    with pytest.raises(ValueError):
        arrow_name_to_spark("union")


def test_schema_builder():
    s = schema({"id": "i64", "name": "utf8", "v": "f64"})
    assert [f.name for f in s] == ["id", "name", "v"]
    assert s["v"].dataType == T.DoubleType()


# --- functions: full declared enum (ballista.proto:80-127) ------------------


def test_all_33_scalar_functions_evaluate(spark):
    """Every function in the wire enum (plus the python-only extras) must
    produce a value — including the eight whose wire deserialization was
    broken in the reference (from_proto.rs:898-923)."""
    df = spark.range(1).select(
        bf.lit(0.5).alias("x"), bf.lit("  Ab  ").alias("s"), bf.lit("2024-03-15 10:30:00").alias("t")
    )
    row = df.select(
        bf.sqrt("x"), bf.sin("x"), bf.cos("x"), bf.tan("x"), bf.asin("x"),
        bf.acos("x"), bf.atan("x"), bf.exp("x"), bf.log("x"), bf.ln("x"),
        bf.log2("x"), bf.log10("x"), bf.floor("x"), bf.ceil("x"),
        bf.round(bf.col("x"), 1), bf.trunc(bf.col("x")), bf.abs(bf.lit(-2.0)),
        bf.signum(bf.lit(-3.0)), bf.octet_length("s"),
        bf.concat(bf.col("s"), bf.lit("!")), bf.lower("s"), bf.upper("s"),
        bf.trim("s"), bf.ltrim("s"), bf.rtrim("s"),
        bf.to_timestamp("t"), bf.array(bf.col("x"), bf.col("x")),
        bf.nullif(bf.col("s"), bf.lit("zzz")), bf.date_trunc("day", bf.to_timestamp("t")),
        bf.md5("s"), bf.sha224("s"), bf.sha256("s"), bf.sha384("s"), bf.sha512("s"),
    ).collect()[0]
    vals = list(row)
    assert math.isclose(vals[0], math.sqrt(0.5))
    assert vals[18] == 6  # octet_length of "  Ab  "
    assert len(vals[30]) == 56 and len(vals[32]) == 96  # sha224 / sha384 hex
    assert all(v is not None for v in vals)


def test_aggregates_and_count_distinct(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (1, 3.0), (2, 5.0)], ["k", "v"]
    )
    row = df.select(
        bf.min("v"), bf.max("v"), bf.sum("v"), bf.avg("v"), bf.count("v"),
        bf.count_distinct("k"),
    ).collect()[0]
    assert list(row) == [1.0, 5.0, 9.0, 3.0, 3, 2]


def test_case_builder(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], ["v"])
    out = df.select(
        bf.case(bf.col("v")).when(1, "one").when(2, "two").otherwise("many").alias("w")
    ).collect()
    assert [r["w"] for r in out] == ["one", "two", "many"]
    out2 = df.select(
        bf.case().when(bf.col("v") > 2, "big").otherwise("small").alias("w")
    ).collect()
    assert [r["w"] for r in out2] == ["small", "small", "big"]


# --- DataFrame surface + sinks (SURVEY.md §2.1, §2.9) -----------------------


def test_dataframe_surface_chain(spark, duck):
    """The BallistaDataFrame chain (join, filter, aggregate, sort, limit)
    with ``bf.cast`` to an Arrow alias and to a DDL string, and ``bf.when``,
    matches DuckDB on the same parquet; the semi/anti joins match the
    EXISTS/NOT EXISTS key sets and the cross join the full pair list."""
    ctx = BallistaContext(spark)
    for t in ("customer", "orders", "region", "nation"):
        ctx.register_parquet(f"{t}_t", os.path.join(SF_SMOKE, f"{t}.parquet"))
    cust = ctx.table("customer_t").select_columns("c_custkey", "c_name", "c_mktsegment")
    orders = ctx.table("orders_t")
    price_dec = bf.cast(bf.col("o_totalprice"), "decimal(18,6)")
    assert orders.select(price_dec.alias("d")).schema()["d"].dataType == T.DecimalType(18, 6)
    urgent = bf.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    out = (
        cust.join(orders, on=[cust.df.c_custkey == orders.df.o_custkey])
        .filter(bf.col("o_totalprice").between(1000.0, 400000.0))
        .aggregate(
            [bf.col("c_mktsegment")],
            [
                bf.count(bf.lit(1)).alias("n"),
                bf.count_distinct("o_custkey").alias("n_cust"),
                bf.round(bf.sum(price_dec), 2).cast("double").alias("total"),
                bf.sum(bf.cast(bf.when(urgent, 1).otherwise(0), "i64")).alias("n_urgent"),
            ],
        )
        .sort(bf.col("n").desc(), bf.col("c_mktsegment").asc())
        .limit(4)
    )
    rows = out.collect()
    assert len(rows) == 4
    assert rows == sorted(rows, key=lambda r: (-r["n"], r["c_mktsegment"]))
    assert out.schema()["n"].dataType == T.LongType()
    assert out.schema()["n_urgent"].dataType == T.LongType()
    duck.execute("SET schema 'smoke'")
    assert_frames_match(out.df, duck.sql("""
SELECT c_mktsegment, COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS n_cust,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE o_totalprice BETWEEN 1000.0 AND 400000.0
GROUP BY c_mktsegment ORDER BY n DESC, c_mktsegment LIMIT 4
"""))

    big = orders.filter(bf.col("o_totalprice") > 400000.0)
    for how, exists in (("left_semi", "EXISTS"), ("left_anti", "NOT EXISTS")):
        keys = cust.join(big, on=[cust.df.c_custkey == big.df.o_custkey], how=how)
        keys = keys.select(bf.col("c_custkey"), bf.col("c_name"))
        assert keys.count() > 0, how
        assert_frames_match(keys.df, duck.sql(f"""
SELECT c_custkey, c_name FROM customer
WHERE {exists} (SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
"""))
    pairs = ctx.table("region_t").join(ctx.table("nation_t"), how="cross")
    assert_frames_match(
        pairs.select_columns("r_name", "n_name").df,
        duck.sql("SELECT r_name, n_name FROM region CROSS JOIN nation"),
    )


def test_sink_round_trips(spark, tmp_path=None):
    ctx = BallistaContext(spark)
    ctx.register_parquet("nation_t", os.path.join(SF_SMOKE, "nation.parquet"))
    df = ctx.table("nation_t")
    d = tempfile.mkdtemp()
    for fmt, writer, reader in [
        ("parquet", "write_parquet", "read_parquet"),
        ("csv", "write_csv", None),
        ("json", "write_json", None),
    ]:
        path = os.path.join(d, fmt)
        getattr(df, writer)(path)
        if fmt == "parquet":
            back = ctx.read_parquet(path)
        elif fmt == "csv":
            back = ctx.read_csv(
                path, schema={"n_nationkey": "i32", "n_name": "utf8", "n_regionkey": "i32"},
                has_header=True,
            )
        else:
            back = ctx.read_json(path)
        assert back.count() == 25, fmt


def test_orc_round_trip_and_avro_fallback(spark):
    """ORC is a native Spark columnar source/sink; Avro's JVM datasource
    module is absent from the pip distribution, so read_avro must fall
    back to the engine's pure-Python container codec and still read the
    table (sources/avroio.py)."""
    ctx = BallistaContext(spark)
    ctx.register_parquet("nation_o", os.path.join(SF_SMOKE, "nation.parquet"))
    df = ctx.table("nation_o")
    d = tempfile.mkdtemp()
    path = os.path.join(d, "orc")
    df.write_orc(path)
    back = ctx.read_orc(path)
    assert back.count() == 25
    assert {f.name for f in back.schema()} == {f.name for f in df.schema()}
    ctx.create_external_table("nation_orc_ext", path, file_type="orc")
    assert ctx.sql("SELECT COUNT(*) AS n FROM nation_orc_ext").collect()[0]["n"] == 25

    from ballista_spark.sources.avroio import write_avro

    apath = os.path.join(d, "avro")
    write_avro(df.df, apath)
    aback = ctx.read_avro(apath)
    assert aback.count() == 25
    assert {f.name for f in aback.schema()} == {f.name for f in df.schema()}
    ctx.create_external_table("nation_avro_ext", apath, file_type="avro")
    assert (
        ctx.sql("SELECT COUNT(*) AS n FROM nation_avro_ext").collect()[0]["n"]
        == 25
    )


def test_tbl_pipe_delimited_read(spark):
    """The reference's .tbl variant (rust/benchmarks/tpch/src/main.rs:130-139)."""
    ctx = BallistaContext(spark)
    d = tempfile.mkdtemp()
    with open(os.path.join(d, "region.tbl"), "w") as f:
        f.write("0|AFRICA\n1|AMERICA\n")
    df = ctx.read_csv(
        d, schema={"r_regionkey": "i32", "r_name": "utf8"},
        delimiter="|", file_extension=".tbl",
    )
    assert [tuple(r) for r in df.sort(bf.col("r_regionkey")).collect()] == [
        (0, "AFRICA"), (1, "AMERICA"),
    ]


def test_create_external_table_and_sql(spark):
    ctx = BallistaContext(spark)
    ctx.create_external_table("ext_orders", os.path.join(SF_SMOKE, "orders.parquet"))
    n = ctx.sql("SELECT COUNT(*) AS n FROM ext_orders").collect()[0]["n"]
    assert n > 0
    assert "ext_orders" in ctx.tables()
    # an always-false filter plans an empty relation that keeps the schema
    empty = ctx.sql("SELECT o_orderkey, o_totalprice FROM ext_orders WHERE 1 = 0")
    assert empty.collect() == []
    assert [(f.name, f.dataType) for f in empty.schema()] == [
        ("o_orderkey", T.LongType()), ("o_totalprice", T.DoubleType()),
    ]


def test_explain_surface(spark, capsys):
    ctx = BallistaContext(spark)
    ctx.register_parquet("li", os.path.join(SF_SMOKE, "lineitem.parquet"))
    df = ctx.sql("SELECT COUNT(*) FROM li")
    df.explain(False)
    df.explain(True)
    df.explain("formatted")
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_percentile_approx_within_tolerance(spark):
    """The approximate quantile sketch and the HLL++ distinct count land
    within 5% of their exact values (sketch values are engine-specific, so
    this is test-only; the graded HLL branch keeps a 10% bound)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    row = df.select(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= row["exact"] * 0.05
    for r in df.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    ).collect():
        assert abs(r["approx"] - r["exact"]) <= r["exact"] * 0.05, r


def test_parquet_schema_probe(spark):
    """GetFileMetadata parity (rust/scheduler/src/lib.rs:184-222): footer-only
    schema probe agrees with the full reader's schema."""
    from ballista_spark.context import BallistaContext

    ctx = BallistaContext(spark)
    for table in ("customer", "embeddings", "documents"):
        path = f"/root/testdata/sf0.001/{table}.parquet"
        probed = ctx.parquet_schema(path)
        scanned = spark.read.parquet(path).schema
        assert [f.name for f in probed] == [f.name for f in scanned]
        assert [f.dataType.simpleString() for f in probed] == [
            f.dataType.simpleString() for f in scanned
        ], table


def test_parquet_schema_probe_nanos_timestamp(spark):
    """The TIMESTAMP(NANOS) table must probe without throwing and agree with
    the canonical loader's rebuilt schema (registry.load_table: nanos read as
    long, rebuilt as microsecond timestamp)."""
    from ballista_spark.context import BallistaContext
    from ballista_spark.sources.registry import load_table

    ctx = BallistaContext(spark)
    probed = ctx.parquet_schema("/root/testdata/sf0.001/events.parquet")
    canonical = load_table(spark, "/root/testdata/sf0.001", "events").schema
    assert [f.name for f in probed] == [f.name for f in canonical]
    assert [f.dataType.simpleString() for f in probed] == [
        f.dataType.simpleString() for f in canonical
    ]


#: Canonical post-load schema contract for the driver's testdata tables.
#: A tripwire, not documentation: the driver regenerates /root/testdata
#: between rounds and has already changed physical types once (events.ts
#: nanos → µs-NTZ, which silently broke every events query in round 2) —
#: this makes any future drift fail the first local pytest run instead of
#: surfacing as a red driver gate.  Temporal columns accept the encodings
#: the query corpus provably handles (oracle-green for each).
_CANONICAL_SCHEMAS = {
    "region": "r_regionkey:int, r_name:string",
    "nation": "n_nationkey:int, n_name:string, n_regionkey:int",
    "customer": "c_custkey:bigint, c_name:string, c_nationkey:int, "
                "c_acctbal:double, c_mktsegment:string",
    "supplier": "s_suppkey:bigint, s_name:string, s_nationkey:int, "
                "s_acctbal:double",
    "part": "p_partkey:bigint, p_name:string, p_brand:string, p_type:string, "
            "p_size:int, p_retailprice:double",
    "orders": "o_orderkey:bigint, o_custkey:bigint, o_orderstatus:string, "
              "o_totalprice:double, o_orderdate:TEMPORAL, "
              "o_orderpriority:string",
    "lineitem": "l_orderkey:bigint, l_partkey:bigint, l_suppkey:bigint, "
                "l_linenumber:int, l_quantity:double, l_extendedprice:double, "
                "l_discount:double, l_tax:double, l_returnflag:string, "
                "l_linestatus:string, l_shipdate:TEMPORAL",
    # events.ts is normalized by load_table, so it must be exactly timestamp
    "events": "event_id:bigint, ts:timestamp, user_id:bigint, "
              "event_type:string, value:double, props:string",
    "documents": "doc_id:bigint, text:string, lang:string, source:string, "
                 "n_chars:bigint",
    "embeddings": "vec_id:bigint, embedding:array<float>, label:int",
}

_TEMPORAL_OK = {"timestamp", "timestamp_ntz", "date"}


def test_canonical_table_schema_contract(spark):
    from ballista_spark.sources.registry import register_tables

    tables = register_tables(spark, SF_SMOKE)
    for name, want in _CANONICAL_SCHEMAS.items():
        got = [(f.name, f.dataType.simpleString()) for f in tables[name].schema]
        expect = [tuple(c.strip().split(":", 1)) for c in want.split(", ")]
        assert [g[0] for g in got] == [e[0] for e in expect], name
        for (gn, gt), (_, et) in zip(got, expect):
            if et == "TEMPORAL":
                assert gt in _TEMPORAL_OK, (name, gn, gt)
            else:
                assert gt == et, (name, gn, gt)


def test_register_tables_isolates_per_table_failures(spark, tmp_path):
    """One broken table must not take down every query sharing the
    registration loop (the round-2 cascade: events.ts broke all 22 TPC-H
    entries).  Broken tables are skipped; accessing one re-raises the real
    load error."""
    import shutil

    from ballista_spark.sources.registry import register_tables

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    (tmp_path / "events.parquet").write_text("not parquet at all")
    # leave a stale 'events' view from a previous (good) registration: a
    # failed re-registration must DROP it, not silently serve its data
    register_tables(spark, SF_SMOKE, ("events",))
    assert spark.sql("SELECT COUNT(*) FROM events").collect()[0][0] >= 0
    tables = register_tables(spark, str(tmp_path))
    assert "lineitem" in tables and "documents" in tables
    assert "events" not in tables
    assert spark.sql("SELECT COUNT(*) FROM lineitem").collect()[0][0] > 0
    with pytest.raises(Exception) as exc_info:
        tables["events"]
    assert not isinstance(exc_info.value, KeyError)  # the root cause, chained
    # failures are visible without indexing (membership/iteration callers)
    assert set(tables.load_errors) == {"events"}
    # the stale view is gone: queries fail loudly instead of reading SF_SMOKE
    with pytest.raises(Exception):
        spark.sql("SELECT COUNT(*) FROM events").collect()
    # restore the canonical registrations for subsequent tests
    good = register_tables(spark, SF_SMOKE)
    assert good.load_errors == {}


def test_events_ts_encodings_all_normalize(spark, tmp_path):
    """The driver's events.ts physical type has changed between testdata
    generations (round 2: TIMESTAMP(NANOS) → plain timestamp[us], which
    Spark reads as TIMESTAMP_NTZ — broke every events-loading query).
    load_table must normalize every encoding to the same UTC TimestampType
    column with identical values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ballista_spark.sources.registry import load_table

    instants = [
        datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
        datetime.datetime(2024, 6, 30, 23, 59, 59, 999999),
    ]
    micros = [int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
              for t in instants]
    encodings = {
        "nanos_ntz": pa.array([m * 1000 for m in micros], pa.timestamp("ns")),
        "micros_ntz": pa.array(micros, pa.timestamp("us")),
        "micros_utc": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    for label, ts_arr in encodings.items():
        sf_dir = tmp_path / label
        sf_dir.mkdir()
        tbl = pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts_arr})
        pq.write_table(tbl, sf_dir / "events.parquet")
        out = load_table(spark, str(sf_dir), "events")
        assert out.schema["ts"].dataType.simpleString() == "timestamp", label
        got = [r.ts for r in out.orderBy("event_id").collect()]
        assert got == instants, (label, got)


def test_schema_infer_max_records_is_record_capped(spark, tmp_path):
    """Exact reference semantics (python/src/context.rs:126-129): inference
    reads at most N records — rows past the cap cannot influence types."""
    from ballista_spark.context import BallistaContext

    p = tmp_path / "mixed.csv"
    rows = ["a,b"] + [f"{i},{i*2}" for i in range(20)] + ["oops,not_an_int"]
    p.write_text("\n".join(rows) + "\n")
    ctx = BallistaContext(spark)
    capped = ctx.read_csv(str(p), has_header=True, schema_infer_max_records=10)
    assert [f.dataType.simpleString() for f in capped.df.schema] == ["int", "int"]
    full = ctx.read_csv(str(p), has_header=True, schema_infer_max_records=1000)
    assert [f.dataType.simpleString() for f in full.df.schema] == ["string", "string"]


def test_register_udf_vectorized_and_row(spark):
    """UDF registration (reference declares Expr::ScalarUDF but serde is
    unimplemented! — to_proto.rs:1013-1014): both the Arrow-vectorized
    pandas form and the row form register into SQL and return a callable
    for DataFrame use; the vectorized one receives whole Series batches."""
    from ballista_spark.context import BallistaContext

    ctx = BallistaContext(spark)

    def vec_double(s):  # pandas.Series -> pandas.Series
        assert hasattr(s, "values")  # proves batch, not row, input
        return s * 2

    f = ctx.register_udf("vec_double", vec_double, "long")
    df = spark.range(5)
    got = [r[0] for r in df.select(f(df.id)).orderBy(df.id).collect()]
    assert got == [0, 2, 4, 6, 8]
    got_sql = [
        r[0]
        for r in spark.sql(
            "SELECT vec_double(id) FROM range(5) ORDER BY id"
        ).collect()
    ]
    assert got_sql == [0, 2, 4, 6, 8]

    ctx.register_udf("row_neg", lambda x: -x, "long", vectorized=False)
    assert spark.sql("SELECT row_neg(7)").collect()[0][0] == -7


def test_register_udaf_grouped_agg(spark):
    """Grouped-aggregate pandas UDF registration works from SQL GROUP BY."""
    from ballista_spark.context import BallistaContext

    ctx = BallistaContext(spark)
    ctx.register_udaf("geo_mean", lambda s: float(s.prod() ** (1.0 / len(s))), "double")
    spark.createDataFrame(
        [("a", 2.0), ("a", 8.0), ("b", 3.0)], "k string, v double"
    ).createOrReplaceTempView("udaf_t")
    got = {
        r["k"]: r["g"]
        for r in spark.sql(
            "SELECT k, geo_mean(v) AS g FROM udaf_t GROUP BY k"
        ).collect()
    }
    assert got["a"] == pytest.approx(4.0)
    assert got["b"] == pytest.approx(3.0)
