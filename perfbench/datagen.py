"""Seeded input generation for the benchmark, with a verified on-disk cache.

The generated tables reproduce the engine's sf0.1 test corpus (TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``): the same
schemas, row counts, value domains and distributions, measured column by
column (``fidelity.py`` prints the comparison against a corpus directory).
The headline queries and their DuckDB oracles run on them unchanged.
Everything is a pure function of the seed.

One difference from the test corpus, which the CDC workload relies on:
``l_linenumber`` numbers the lines of each order 1, 2, ... so that
``(l_orderkey, l_linenumber)`` is unique and MERGE on it is well defined
(the corpus draws it independently of the order key, uniform over 1-7;
no headline entry reads it).

Each seed's files live in ``<cache>/inputs/seed-<n>-<GEN_VERSION>/`` next to
a ``manifest.json`` written last.  On reuse every file's size, row count and
sha256 is checked against the manifest; any mismatch (stale generator,
partial write, edited file) regenerates the directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated content changes; old cache dirs are then ignored
GEN_VERSION = "g4"

#: sf0.1 row counts of the engine's test corpus
N_ORDERS = 150_000
#: lineitem rows; each draws its order key uniformly, so an order has a
#: Poisson(4)-like number of lines (0-17 in the corpus)
N_LINEITEMS = 600_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_EVENTS = 100_000
N_DOCS = 5_000
#: documents overwritten by another document's text plus " dup"
N_NEAR_DUPS = 250
N_VECS = 2_000
VEC_DIM = 64

#: CDC batches generated per seed (warm-up pass included); the run stops
#: early if its window would need more
CDC_PASSES = 16
#: every CDC statement touches the lines of this many orders (~1,000 rows,
#: 1/600 of the table): a trickle batch whose key window lies inside one of
#: the Delta table's 16 key-range files (9,375 orders each) or straddles
#: two, so a copy-on-write statement rewrites a file, not the table.  The
#: size is a choice of this benchmark, not taken from a trace.
CDC_ORDERS = 250
#: inserted order keys start above every base key, one block per pass
CDC_INSERT_KEY_BASE = 10_000_000
CDC_MERGE_NEW_KEY_BASE = 20_000_000

#: seed dirs kept in the cache; the least recently used are evicted
KEEP_SEEDS = 12

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(d: str) -> int:
    return int((np.datetime64(d, "D") - _EPOCH).astype(int))


def _ts_from_days(days: np.ndarray) -> pa.Array:
    us = days.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _number_lines(orderkeys: np.ndarray) -> np.ndarray:
    """1, 2, ... for the rows of each order key, in row order."""
    order = np.argsort(orderkeys, kind="stable")
    ks = orderkeys[order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    counts = np.diff(np.r_[starts, len(ks)])
    lines = np.empty(len(ks), np.int64)
    lines[order] = np.arange(len(ks)) - np.repeat(starts, counts) + 1
    return lines


def _lineitem_rows(rng: np.random.Generator, orderkeys: np.ndarray, linenumbers=None) -> pa.Table:
    """Lineitem rows for ``orderkeys``; new lines are numbered per order
    unless ``linenumbers`` (of existing rows) are given."""
    n = len(orderkeys)
    if linenumbers is None:
        linenumbers = _number_lines(orderkeys)
    ship = rng.integers(_days("1995-01-02"), _days("2001-11-04") + 1, n)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n), pa.int64()),
            "l_linenumber": pa.array(linenumbers, pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 104999.99, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts_from_days(ship),
        },
        schema=LINEITEM_SCHEMA,
    )


def _new_lines(rng: np.random.Generator, key_base: int) -> np.ndarray:
    """Order keys of ~4 lines per order for ``CDC_ORDERS`` fresh orders."""
    return key_base + rng.integers(0, CDC_ORDERS, 4 * CDC_ORDERS)


def _documents(rng: np.random.Generator) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 100, N_DOCS)
    ]
    # near-duplicates as in the test corpus: one at a time, a random
    # document is overwritten by a random document's text plus " dup", so
    # a few copies duplicate each other exactly or chain ("... dup dup")
    for dst, src in rng.integers(0, N_DOCS, (N_NEAR_DUPS, 2)):
        texts[dst] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, N_DOCS, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((N_VECS, VEC_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, N_VECS * VEC_DIM + 1, VEC_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
        }
    )


def generate_tables(seed: int) -> dict[str, pa.Table]:
    """All ten sf0.1-shaped tables for ``seed``."""
    rng = np.random.default_rng([seed % 2**32, 20_241])
    nations = np.arange(25)
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nations, pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in nations], pa.string()),
                "n_regionkey": pa.array(nations % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
                "c_name": pa.array(
                    [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)], pa.string()
                ),
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
                "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
                "s_name": pa.array(
                    [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)], pa.string()
                ),
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
            }
        ),
    }
    adj = rng.integers(0, len(P_ADJ), N_PARTS)
    noun = rng.integers(0, len(P_NOUN), N_PARTS)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PARTS), pa.int64()),
            "p_name": pa.array(
                [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)], pa.string()
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)], pa.string()
            ),
            "p_type": _pick(rng, P_TYPES, N_PARTS),
            "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(N_PARTS) % 1000) / 10.0,
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 499999.99, N_ORDERS),
            "o_orderdate": _ts_from_days(
                rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, N_ORDERS)
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )
    tables["lineitem"] = _lineitem_rows(rng, rng.integers(0, N_ORDERS, N_LINEITEMS))
    ev_us = np.sort(
        rng.integers(0, 30 * 86_400_000_000, N_EVENTS)
        + _days("2024-01-01") * 86_400_000_000
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ev_us, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], pa.string()
            ),
        }
    )
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    return tables


def cdc_plan(seed: int, lineitem: pa.Table) -> tuple[dict[str, pa.Table], list[dict]]:
    """Per-pass CDC batches and statement parameters for ``seed``.

    Returns ``(batches, passes)``: ``batches`` maps file stem → rows
    (INSERT batches of fresh keys; MERGE batches mixing updated existing
    rows of one order-key window with new keys), and ``passes[p]`` holds
    pass ``p``'s statement parameters and the keys it looks up.
    """
    rng = np.random.default_rng([seed % 2**32, 7_331])
    key_np = lineitem.column("l_orderkey").to_numpy()
    line_np = lineitem.column("l_linenumber").to_numpy()
    batches: dict[str, pa.Table] = {}
    passes: list[dict] = []
    inserted = np.arange(N_ORDERS)  # keys a lookup of "recent" rows may pick
    for p in range(CDC_PASSES):
        ins = _lineitem_rows(rng, _new_lines(rng, CDC_INSERT_KEY_BASE + p * 100_000))
        batches[f"ins_{p}"] = ins

        lo = int(rng.integers(0, N_ORDERS - CDC_ORDERS))
        hit = (key_np >= lo) & (key_np < lo + CDC_ORDERS)
        upd = _lineitem_rows(rng, key_np[hit], line_np[hit])
        new = _lineitem_rows(rng, _new_lines(rng, CDC_MERGE_NEW_KEY_BASE + p * 100_000))
        batches[f"mrg_{p}"] = pa.concat_tables([upd, new])

        # a key the previous pass inserted: lookups hit the newest files
        recent = int(rng.choice(inserted))
        inserted = np.unique(ins.column("l_orderkey").to_numpy())
        del_lo = int(rng.integers(0, N_ORDERS - CDC_ORDERS))
        upd_lo = int(rng.integers(0, N_ORDERS - CDC_ORDERS))
        passes.append(
            {
                "delete": [del_lo, del_lo + CDC_ORDERS],
                "update": [upd_lo, upd_lo + CDC_ORDERS],
                "discount": int(rng.integers(0, 11)) / 100.0,
                "lookup_key": int(rng.integers(0, N_ORDERS)),
                "recent_key": recent,
                # mid-range cutoff: every seed's filtered aggregate keeps
                # about half the rows, so seeds vary the data, not the work
                "since": str(np.datetime64("1998-04-01") + int(rng.integers(0, 31))),
            }
        )
    return batches, passes


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _describe(path: str) -> dict:
    return {
        "rows": pq.ParquetFile(path).metadata.num_rows,
        "bytes": os.path.getsize(path),
        "sha256": _sha256(path),
    }


def verify(seed_dir: str) -> dict | None:
    """The manifest if every listed file matches it, else None."""
    try:
        with open(os.path.join(seed_dir, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    if manifest.get("generator") != GEN_VERSION:
        return None
    for rel, want in manifest["files"].items():
        path = os.path.join(seed_dir, rel)
        try:
            if os.path.getsize(path) != want["bytes"] or _describe(path) != want:
                return None
        except OSError:
            return None
    return manifest


def _write(seed: int, out_dir: str) -> dict:
    tables = generate_tables(seed)
    files: dict[str, dict] = {}
    for name, table in tables.items():
        rel = f"{name}.parquet"
        # one row group per file, like the engine's test corpus
        pq.write_table(table, os.path.join(out_dir, rel), row_group_size=table.num_rows)
        files[rel] = _describe(os.path.join(out_dir, rel))
    batches, passes = cdc_plan(seed, tables["lineitem"])
    os.makedirs(os.path.join(out_dir, "cdc"))
    for stem, table in batches.items():
        rel = f"cdc/{stem}.parquet"
        pq.write_table(table, os.path.join(out_dir, rel))
        files[rel] = _describe(os.path.join(out_dir, rel))
    manifest = {
        "generator": GEN_VERSION,
        "seed": seed,
        "files": files,
        "cdc_passes": passes,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def ensure_inputs(cache_dir: str, seed: int) -> tuple[str, dict, dict]:
    """Verified input dir for ``seed``: ``(path, manifest, info)``.

    ``info`` records whether the cache was hit and how long generation
    took — a diagnostic, not a metric.
    """
    root = os.path.join(cache_dir, "inputs")
    seed_dir = os.path.join(root, f"seed-{seed}-{GEN_VERSION}")
    t0 = time.perf_counter()
    manifest = verify(seed_dir)
    if manifest is not None:
        os.utime(seed_dir)
        return seed_dir, manifest, {
            "cache_hit": True,
            "verify_s": round(time.perf_counter() - t0, 3),
        }
    os.makedirs(root, exist_ok=True)
    shutil.rmtree(seed_dir, ignore_errors=True)
    tmp = f"{seed_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        manifest = _write(seed, tmp)
        os.rename(tmp, seed_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(root, keep=seed_dir)
    return seed_dir, manifest, {
        "cache_hit": False,
        "generate_s": round(time.perf_counter() - t0, 3),
    }


def _evict(root: str, keep: str) -> None:
    dirs = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("seed-") and os.path.join(root, d) != keep
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS - 1 :]:
        shutil.rmtree(d, ignore_errors=True)


def table_manifest(manifest: dict) -> dict[str, dict]:
    """Rows and bytes per input file, for the run description."""
    return {
        rel: {"rows": v["rows"], "bytes": v["bytes"]}
        for rel, v in manifest["files"].items()
    }
