"""The benchmark's workloads: their ops, expected results and set-up.

Every op is a closure that calls the engine the way a user would and
returns rows to check.  Expected results come from DuckDB over the same
input files, computed before Spark starts so they cost no timed work:

- ``mixed_sf0.1`` runs each headline entry's oracle SQL;
- ``lakehouse_cdc`` replays the same statements on a plain DuckDB table.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from typing import Callable

import duckdb
import pyarrow.parquet as pq

from check import compare

#: bench.py's 13 headline entries plus the one Python-worker entry
HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q12",
    "tpch_q2", "tpch_q9", "tpch_q18", "tpch_q21",
    "dedup_minhash_lsh", "ann_cosine_topk", "text_stats", "multimodal_features",
]

CDC_TABLE = "lineitem_cdc"


@dataclass
class Op:
    name: str
    kind: str  # "read" | "write"
    run: Callable[[], object]
    check: Callable[[object], str | None]


#: rounding steps of the oracle dialect's money sums and averages
#: (``queries.base.dec_sum`` / ``dec_avg``), which the spec dialect keeps
SPEC_QUANTA = (0.01, 1e-6)


def _rows_check(expected: list[tuple], quanta: tuple[float, ...] = ()) -> Callable:
    return lambda rows: compare(rows, expected, quanta=quanta)


def _read(sess, name: str, build: Callable[[], object], expected, quanta=()) -> Op:
    """Build (queries layer), plan (Catalyst) and collect, each in a span."""
    tr = sess.tracer

    def run():
        with tr.span("queries.build"):
            df = build()
        with tr.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("driver.collect"):
            return df.collect()

    return Op(name, "read", run, _rows_check(expected, quanta))


def _duck(data_dir: str, names: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for n in names:
        path = os.path.join(data_dir, f"{n}.parquet")
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{path}')")
    return con


class Mixed:
    """The 14 sf0.1 headline ops, seeded order per pass."""

    name = "mixed_sf0.1"
    #: one pass is 14 ops, ~10 s on 4 cores
    min_passes = 1

    def __init__(self, seed: int, data_dir: str, manifest: dict):
        from ballista_spark.queries.pipeline import PIPELINE_QUERIES
        from ballista_spark.queries.tpch import TPCH_QUERIES

        self.seed = seed
        self.data_dir = data_dir
        self.queries = {**TPCH_QUERIES, **PIPELINE_QUERIES}
        self.expected: dict[str, list[tuple]] = {}

    def compute_expected(self) -> None:
        from ballista_spark.sources.registry import TABLES

        con = _duck(self.data_dir, list(TABLES))
        try:
            for name in HEADLINE:
                self.expected[name] = con.execute(self.queries[name].oracle_text()).fetchall()
        finally:
            con.close()

    def setup(self, sess) -> None:
        from ballista_spark.sources.registry import register_tables

        with sess.phase("registry.register"):
            register_tables(sess.spark, self.data_dir)

    def pass_ops(self, sess, p: int) -> list[Op] | None:
        from ballista_spark.queries.base import spec_dialect

        order = list(HEADLINE)
        random.Random(f"{self.seed}:{p}").shuffle(order)
        ops = []
        for name in order:
            q = self.queries[name]
            quanta = ()
            if q.sql is not None:
                # bench.py's dialect: plain double sums, not the oracle casts
                build = lambda sql=q.sql: sess.spark.sql(spec_dialect(sql))
                quanta = SPEC_QUANTA
            else:
                build = lambda q=q: q.run(sess.spark, self.data_dir)
            ops.append(_read(sess, name, build, self.expected[name], quanta))
        return ops

    def final_ops(self, sess) -> list[Op]:
        return []

    def close(self) -> None:
        pass

    def layer_counters(self, n_passes: int) -> dict[str, float]:
        return {}


def _cdc_statements(p: int, params: dict) -> dict[str, str]:
    d_lo, d_hi = params["delete"]
    u_lo, u_hi = params["update"]
    return {
        "insert": f"INSERT INTO {CDC_TABLE} SELECT * FROM cdc_ins_{p}",
        "merge": (
            f"MERGE INTO {CDC_TABLE} t USING cdc_mrg_{p} s "
            "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ),
        "delete": (
            f"DELETE FROM {CDC_TABLE} WHERE l_orderkey >= {d_lo} AND l_orderkey < {d_hi}"
        ),
        "update": (
            f"UPDATE {CDC_TABLE} SET l_discount = {params['discount']}, "
            f"l_quantity = l_quantity + 1 "
            f"WHERE l_orderkey >= {u_lo} AND l_orderkey < {u_hi}"
        ),
    }


def _cdc_reads(params: dict, table: str, tt_table: str) -> dict[str, str]:
    return {
        "filtered_agg": (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
            "SUM(l_extendedprice * (1 - l_discount)) AS rev "
            f"FROM {table} WHERE l_shipdate >= CAST('{params['since']} 00:00:00' AS TIMESTAMP) "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "key_lookup": f"SELECT * FROM {table} WHERE l_orderkey = {params['lookup_key']}",
        "recent_key_lookup": f"SELECT * FROM {table} WHERE l_orderkey = {params['recent_key']}",
        "time_travel_agg": (
            f"SELECT COUNT(*) AS n, SUM(l_quantity) AS qty, SUM(l_extendedprice) AS price "
            f"FROM {tt_table}"
        ),
        "full_count": f"SELECT COUNT(*) AS n FROM {table}",
    }


def _duck_apply(con, kind: str, sql: str, batch_path: str) -> int:
    """Apply one CDC statement to the DuckDB mirror; returns rows changed."""
    if kind == "insert":
        return con.execute(f"INSERT INTO li SELECT * FROM read_parquet('{batch_path}')").fetchone()[0]
    if kind == "merge":
        # DuckDB 1.0 has no MERGE: update the matched keys, insert the rest
        con.execute(f"CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM read_parquet('{batch_path}')")
        cols = [r[0] for r in con.execute("DESCRIBE src").fetchall()]
        sets = ", ".join(f"{c} = src.{c}" for c in cols if c not in ("l_orderkey", "l_linenumber"))
        updated = con.execute(
            f"UPDATE li SET {sets} FROM src "
            "WHERE li.l_orderkey = src.l_orderkey AND li.l_linenumber = src.l_linenumber"
        ).fetchone()[0]
        inserted = con.execute(
            "INSERT INTO li SELECT * FROM src WHERE NOT EXISTS (SELECT 1 FROM li "
            "WHERE li.l_orderkey = src.l_orderkey AND li.l_linenumber = src.l_linenumber)"
        ).fetchone()[0]
        return updated + inserted
    return con.execute(sql.replace(CDC_TABLE, "li")).fetchone()[0]


class LakehouseCdc:
    """A Delta table seeded from the generated lineitem.  Each pass commits
    INSERT / MERGE / DELETE / UPDATE through ``BallistaContext.sql`` and
    runs five reads, in a seeded order: a filtered aggregate, a time-travel
    aggregate, a full count, and two key lookups — one of a base key and
    one of a key the previous pass inserted, so the read latencies have an
    odd count and their median falls inside the lookups' cluster rather
    than in the gap between fast and slow reads.  OPTIMIZE runs once, after the
    timed passes and outside the measured window (checked, not measured): it
    compacts the table into one file, after which every copy-on-write
    statement rewrites the whole table, so running it between passes would
    make a pass's cost depend on its index."""

    name = "lakehouse_cdc"
    #: a pass holds only five sub-second reads; three passes give the read
    #: percentiles 15 samples
    min_passes = 3
    READS = ("filtered_agg", "key_lookup", "recent_key_lookup", "time_travel_agg", "full_count")
    WRITES = ("insert", "merge", "delete", "update")
    #: key-range files the table starts with
    BASE_FILES = 16

    def __init__(self, seed: int, data_dir: str, manifest: dict):
        self.seed = seed
        self.data_dir = data_dir
        self.params: list[dict] = manifest["cdc_passes"]
        self.con = None
        #: rows the statements of each replayed pass changed
        self.changed_rows: list[int] = []
        self.path = ""
        #: latest committed version, checked to advance on every write
        self.version = -1
        self.window_version = -1
        self.window_bytes = 0
        self.row_bytes = 0.0

    def _batch(self, kind: str, p: int) -> str:
        return os.path.join(self.data_dir, "cdc", f"{kind}_{p}.parquet")

    def compute_expected(self) -> None:
        """Load the DuckDB mirror; each pass is replayed on it just before
        the pass runs (outside its timing)."""
        self.con = duckdb.connect()
        li = os.path.join(self.data_dir, "lineitem.parquet")
        self.con.execute(f"CREATE TABLE li AS SELECT * FROM read_parquet('{li}')")
        # in-memory Arrow bytes per row: the size of one submitted row
        table = pq.read_table(li)
        self.row_bytes = table.nbytes / table.num_rows

    def _replay(self, p: int) -> tuple[list[str], dict[str, list[tuple]]]:
        """Pass ``p``'s op order and expected read results, by applying its
        statements to the mirror in the same order."""
        con = self.con
        order = list(self.WRITES + self.READS)
        random.Random(f"{self.seed}:{p}").shuffle(order)
        con.execute("CREATE OR REPLACE TABLE tt AS SELECT * FROM li")
        stmts = _cdc_statements(p, self.params[p])
        reads = _cdc_reads(self.params[p], "li", "tt")
        expected, changed = {}, 0
        for kind in order:
            if kind in stmts:
                batch = self._batch("ins" if kind == "insert" else "mrg", p)
                changed += _duck_apply(con, kind, stmts[kind], batch)
            else:
                expected[kind] = con.execute(reads[kind]).fetchall()
        self.changed_rows.append(changed)
        return order, expected

    def setup(self, sess) -> None:
        from ballista_spark.sources.deltalog import write_delta_table

        self.path = os.path.join(sess.work_dir, "delta", CDC_TABLE)
        with sess.phase("setup.create_table"):
            src = sess.spark.read.parquet(os.path.join(self.data_dir, "lineitem.parquet"))
            # key-range files, so a statement over one key window rewrites
            # one file rather than all of them
            write_delta_table(
                src.repartitionByRange(self.BASE_FILES, "l_orderkey"), self.path, mode="overwrite"
            )
            sess.ctx.register_delta(CDC_TABLE, self.path)

    def _latest_version(self) -> int:
        from ballista_spark.sources.deltalog import read_delta_snapshot

        return read_delta_snapshot(self.path).version

    def pass_ops(self, sess, p: int) -> list[Op] | None:
        if p >= len(self.params):
            return None
        spark, ctx, tr = sess.spark, sess.ctx, sess.tracer
        order, expected = self._replay(p)
        for kind in ("ins", "mrg"):
            spark.read.parquet(self._batch(kind, p)).createOrReplaceTempView(f"cdc_{kind}_{p}")
        tt_version = self._latest_version()
        self.version = tt_version
        if p == 1:  # the timed window starts after the warm-up pass
            self.window_version = tt_version
            self.window_bytes = _dir_bytes(self.path)
        stmts = _cdc_statements(p, self.params[p])
        reads = _cdc_reads(self.params[p], CDC_TABLE, f"{CDC_TABLE}_tt")
        ops = []
        for kind in order:
            if kind in stmts:
                ops.append(self._write(sess, kind, stmts[kind]))
            elif kind == "time_travel_agg":
                def run(sql=reads[kind], v=tt_version):
                    with tr.span("queries.build"):
                        ctx.register_delta(f"{CDC_TABLE}_tt", self.path, version=v)
                        df = ctx.sql(sql).df
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("driver.collect"):
                        return df.collect()

                ops.append(Op(kind, "read", run, _rows_check(expected[kind])))
            else:
                ops.append(_read(sess, kind, lambda sql=reads[kind]: ctx.sql(sql).df, expected[kind]))
        return ops

    def _write(self, sess, kind: str, sql: str, must_commit: bool = True) -> Op:
        def run():
            return sess.ctx.sql(sql).df.collect()

        def check(rows):
            version = rows[0]["version"]
            if version is None and not must_commit:
                return None
            if version is None or version <= self.version:
                return f"commit version {version} after {self.version}"
            self.version = version
            return None

        return Op(kind, "write", run, check)

    def final_ops(self, sess) -> list[Op]:
        return [self._write(sess, "optimize", f"OPTIMIZE {CDC_TABLE}", must_commit=False)]

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
            self.con = None

    def layer_counters(self, n_passes: int) -> dict[str, float]:
        """Log-derived write counters over the timed passes' commits, and
        the table's space use after them (read before the final ops)."""
        from ballista_spark.sources.deltalog import read_delta_snapshot

        log = os.path.join(self.path, "_delta_log")
        added = removed = data_bytes = log_bytes = added_rows = 0
        checkpoints = set()
        for name in os.listdir(log):
            head = name.split(".")[0]
            if not head.isdigit() or int(head) <= self.window_version:
                continue
            full = os.path.join(log, name)
            if name.endswith(".json"):
                log_bytes += os.path.getsize(full)
                with open(full) as f:
                    for line in f:
                        action = json.loads(line)
                        if "add" in action:
                            added += 1
                            data_bytes += action["add"]["size"]
                            stats = json.loads(action["add"].get("stats") or "{}")
                            added_rows += stats.get("numRecords", 0)
                        elif "remove" in action:
                            removed += 1
            elif ".checkpoint." in name:
                log_bytes += os.path.getsize(full)
                checkpoints.add(int(head))
        live = read_delta_snapshot(self.path).files
        dir_bytes = _dir_bytes(self.path)
        changed = sum(self.changed_rows[1 : n_passes + 1])
        mb = 1 / 2**20 / n_passes
        return {
            "deltalog.files_added": added / n_passes,
            "deltalog.files_removed": removed / n_passes,
            "deltalog.data_mb_written": data_bytes * mb,
            "deltalog.log_mb_written": log_bytes * mb,
            "deltalog.checkpoints": len(checkpoints) / n_passes,
            "deltalog.live_files": len(live),
            "deltalog.rewrite_rows_per_changed_row": added_rows / changed,
            "cdc.write_amp": (dir_bytes - self.window_bytes) / (changed * self.row_bytes),
            "cdc.space_amp": dir_bytes / sum(f.size for f in live),
        }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
