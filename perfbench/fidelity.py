"""Compare the generated inputs of one seed with a directory of the test corpus.

    python3 perfbench/fidelity.py --corpus <sf0.1 dir> --seed 1

Prints the corpus and generated values of: each table's file size and row
count; each column's min, max, distinct count and mean (numbers, timestamps
as epoch seconds, string lengths); then shape statistics the headline entries are
sensitive to (lines per order, words per document, near-duplicate
documents, nearest-neighbour cosine similarity), and last each headline
entry's oracle result row count and DuckDB time on both.  Lines whose
values differ by more than 10% are marked ``!``.  Nothing is written.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import datagen  # noqa: E402
from workloads import HEADLINE  # noqa: E402

#: shape statistics: label → SQL returning one number
SHAPES = {
    "lineitem rows per order key: mean": (
        "SELECT AVG(n) FROM (SELECT COUNT(*) n FROM lineitem GROUP BY l_orderkey)"),
    "lineitem rows per order key: max": (
        "SELECT MAX(n) FROM (SELECT COUNT(*) n FROM lineitem GROUP BY l_orderkey)"),
    "orders without lineitem rows": (
        "SELECT COUNT(*) FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)"),
    "documents: words mean": "SELECT AVG(LEN(STRING_SPLIT(text, ' '))) FROM documents",
    "documents: words p10": (
        "SELECT QUANTILE_DISC(LEN(STRING_SPLIT(text, ' ')), 0.1) FROM documents"),
    "documents: words p90": (
        "SELECT QUANTILE_DISC(LEN(STRING_SPLIT(text, ' ')), 0.9) FROM documents"),
    "documents: vocabulary": (
        "SELECT COUNT(DISTINCT w) FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) w FROM documents)"),
    "documents ending in ' dup'": "SELECT COUNT(*) FROM documents WHERE text LIKE '% dup'",
    "documents repeating another's text": (
        "SELECT COUNT(*) - COUNT(DISTINCT text) FROM documents"),
    "events value: median": "SELECT MEDIAN(value) FROM events",
    "events value: p90": "SELECT QUANTILE_CONT(value, 0.9) FROM events",
    "events per user: mean": (
        "SELECT AVG(n) FROM (SELECT COUNT(*) n FROM events GROUP BY user_id)"),
}


def _connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _column_stats(con, table: str) -> list[tuple[str, float]]:
    out = [(f"{table}: rows", con.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0])]
    for col, typ, *_ in con.execute(f"DESCRIBE {table}").fetchall():
        if typ.endswith("[]"):
            continue
        x = col
        if typ.startswith("TIMESTAMP"):
            x = f"EPOCH({col})"
        elif typ == "VARCHAR":
            x = f"LENGTH({col})"
        lo, hi, mean, nd = con.execute(
            f"SELECT MIN({x}), MAX({x}), AVG({x}), COUNT(DISTINCT {col}) FROM {table}"
        ).fetchone()
        what = "length " if typ == "VARCHAR" else ""
        out += [(f"{table}.{col}: {what}min", lo), (f"{table}.{col}: {what}max", hi),
                (f"{table}.{col}: {what}mean", mean), (f"{table}.{col}: distinct", nd)]
    return out


def _nn_cosine(path: str) -> float:
    v = np.asarray(pq.read_table(path).column("embedding").to_pylist(), np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    s = v @ v.T
    np.fill_diagonal(s, -2.0)
    return float(np.median(s.max(axis=1)))


def profile(con, data_dir: str, queries: dict) -> list[tuple[str, float]]:
    rows = []
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        rows.append((f"{t}: file bytes", os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))))
        rows += _column_stats(con, t)
    rows += [(label, con.execute(sql).fetchone()[0]) for label, sql in SHAPES.items()]
    nn = _nn_cosine(os.path.join(data_dir, "embeddings.parquet"))
    rows.append(("embeddings: median nearest-neighbour cosine", nn))
    for name in HEADLINE:
        t0 = time.perf_counter()
        n = len(con.execute(queries[name].oracle_text()).fetchall())
        rows += [(f"oracle {name}: result rows", n),
                 (f"oracle {name}: duckdb s", time.perf_counter() - t0)]
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--corpus", required=True, help="directory of the corpus' parquet files")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    from ballista_spark.queries.pipeline import PIPELINE_QUERIES
    from ballista_spark.queries.tpch import TPCH_QUERIES

    queries = {**TPCH_QUERIES, **PIPELINE_QUERIES}
    cache = os.path.join(os.path.dirname(HERE), ".perfbench_cache")
    gen_dir = datagen.ensure_inputs(cache, args.seed)[0]
    sides = []
    for d in (args.corpus, gen_dir):
        names = [f[: -len(".parquet")] for f in os.listdir(d) if f.endswith(".parquet")]
        con = _connect({n: os.path.join(d, f"{n}.parquet") for n in names})
        sides.append(dict(profile(con, d, queries)))
        con.close()
    corpus, gen = sides
    print(f"{'statistic':58s} {'corpus':>16s} {'generated':>16s}")
    for label, c in corpus.items():
        g = gen.get(label)
        far = g is None or (abs(g - c) > 0.1 * max(abs(c), abs(g)) if c or g else False)
        mark = "!" if far and not label.endswith("duckdb s") else " "
        print(f"{mark}{label:57s} {c:16.6g} {g if g is not None else float('nan'):16.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
