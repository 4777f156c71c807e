"""Benchmark entry point: one workload, one seed, closed loop with one client.

    python3 perfbench/run.py --workload mixed_sf0.1 --seed 1 --seconds 5 --trace 0

Run from the repository root.  Inputs are generated from the seed into
``.perfbench_cache/`` (verified against a manifest on reuse), expected
results are computed with DuckDB before Spark starts, then:

1. set-up (timed as ``setup_s``): import and start the Spark session on
   ``local[nproc]``, register or create the tables, run one warm-up pass;
2. timed passes, each op in a seeded order, until ``--seconds`` have
   passed and the workload's ``min_passes`` ran; every result is checked
   outside its timing, and a wrong or failed op is counted, never fatal.

``--trace 1`` additionally records spans around the engine's module
calls, reads each op's jobs, stages and SQL metrics from the Spark
monitoring REST API after the op, and reports per-layer metrics instead
of the end-to-end ones.  The last stdout line is the result object; the
line before it is the full record (run description, diagnostics, trace
report), also written to ``.perfbench_cache/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")

#: (module, function, span name) wrapped in traced runs
WRAPPED = [
    ("ballista_spark.dml", "parse_dml", "dml.parse"),
    ("ballista_spark.dml", "execute_dml", "dml.execute"),
    ("ballista_spark.sources.deltalog", "read_delta_snapshot", "deltalog.snapshot"),
]


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0]}


def _source_id() -> dict:
    """The git sha when the checkout is a repository, and always a hash of
    the engine's sources, so a record names the code it measured."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "ballista_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


class Session:
    """The Spark session plus the run's tracer, REST reader and phase clock."""

    def __init__(self, tracer, work_dir: str):
        self.tracer = tracer
        self.work_dir = work_dir
        self.phases: dict[str, float] = {}
        self.spark = self.ctx = self.rest = None
        self.op_exec: dict[str, dict[str, float]] = {}
        self.trace_s = 0.0

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def start(self) -> None:
        with self.phase("session.start"):
            from ballista_spark.context import BallistaContext
            from ballista_spark.session import get_spark

            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.driver.memory": "3g",
                    "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
                    "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.work_dir}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.ctx = BallistaContext(self.spark)
        if self.tracer.enabled:
            from tracing import SparkRest

            sc = self.spark.sparkContext
            self.rest = SparkRest(sc.uiWebUrl, sc.applicationId)

    def execute(self, op, op_id: str):
        from check import run_checked
        from tracing import union_length

        tr = self.tracer
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        tr.op = op_id

        def fn():
            with tr.span("op." + op.kind):
                return op.run()

        out = run_checked(op.name, op.kind, fn, op.check)
        tr.op = None
        if self.rest is not None:
            t0 = time.perf_counter()
            ex = self.rest.op_exec(op_id)
            tr.op = op_id
            for start, end in ex.jobs:
                tr.add_child("spark.job", start, end)
            tr.op = None
            ex.counters["exec.job_wall_s"] = union_length(ex.jobs)
            self.op_exec[op_id] = ex.counters
            self.trace_s += time.perf_counter() - t0
        if not out.ok:
            print(f"FAIL {op_id} {op.name}: {out.detail}", file=sys.stderr, flush=True)
        return out

    def stop(self) -> None:
        """Stop Spark, then end the JVM and wait for it and its Python
        workers to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from tracing import descendants

        jvm = getattr(SparkContext._gateway, "proc", None)
        procs = descendants(jvm.pid) if jvm is not None else []
        self.spark.stop()
        self.spark = None
        if jvm is None:
            return
        jvm.terminate()
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        deadline = time.time() + 10
        for pid in procs:
            while _alive(pid):
                if time.time() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, not yet reaped process is done)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _run_ops(sess, tag: str, ops: list, outcomes: list, op_ids: list) -> float:
    """Run ``ops`` in order; returns their wall time."""
    t0 = time.perf_counter()
    for i, op in enumerate(ops):
        op_id = f"{tag}.{i}.{op.name}"
        outcomes.append(sess.execute(op, op_id))
        op_ids.append(op_id)
    return time.perf_counter() - t0


def _per_layer(sess, names, measured_ops: list[str], n_passes: int, cores: int,
               outcomes: list, extra: dict) -> dict[str, float]:
    from tracing import percentile

    m = {name: 0.0 for name in names}
    m["session.start_s"] = sess.phases.get("session.start", 0.0)
    m["registry.register_s"] = sess.phases.get("registry.register", 0.0)
    m["setup.create_table_s"] = sess.phases.get("setup.create_table", 0.0)
    m["setup.warmup_s"] = sess.phases.get("setup.warmup", 0.0)
    selfs = sess.tracer.layer_self_times(set(measured_ops))
    span_metric = {
        "queries.build": "queries.build_s",
        "catalyst.plan": "catalyst.plan_s",
        "driver.collect": "driver.self_s",
        "op.read": "driver.self_s",
        "op.write": "driver.self_s",
        "dml.parse": "dml.parse_s",
        "dml.execute": "dml.execute_s",
        "deltalog.snapshot": "deltalog.snapshot_s",
    }
    for span, metric in span_metric.items():
        m[metric] += selfs.get(span, (0.0, 0))[0] / n_passes
    for op_id in measured_ops:
        for k, v in sess.op_exec.get(op_id, {}).items():
            m[k] += v / n_passes
    if m["exec.job_wall_s"] > 0:
        m["exec.slot_busy_frac"] = m["exec.run_s"] / (m["exec.job_wall_s"] * cores)
    m["op.count"] = len(outcomes) / n_passes
    m["op.wall_s"] = sum(o.wall_s for o in outcomes) / n_passes
    writes = [o.wall_s for o in outcomes if o.kind == "write"]
    if writes:
        m["cdc.write_s_p50"] = statistics.median(writes)
        m["cdc.write_s_p90"] = percentile(writes, 0.9)
    for k, v in extra.items():
        m[k] = v
    return m


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import ballista_spark  # noqa: F401 - the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import LakehouseCdc, Mixed

    workloads = {w.name: w for w in (Mixed, LakehouseCdc)}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2

    work_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    try:
        return _run(args, workloads[args.workload], work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, wl_cls, work_dir: str) -> int:
    import datagen
    from layers import load_metrics, report_table
    from tracing import Tracer, memory_peaks, percentile, tail_percentile

    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    # every JVM (the launcher too): temp files in the run dir, and no
    # hsperfdata file, which HotSpot always puts under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    import tempfile

    tempfile.tempdir = None
    e2e_units, layer_units = load_metrics()
    load_before = os.getloadavg()
    started = time.time()

    t0 = time.perf_counter()
    data_dir, manifest, gen_info = datagen.ensure_inputs(CACHE, args.seed)
    wl = wl_cls(args.seed, data_dir, manifest)
    t1 = time.perf_counter()
    wl.compute_expected()
    oracle_s = time.perf_counter() - t1

    # input generation and the DuckDB oracle ran in this process: restart
    # its peak-RSS counter so mem.driver_hwm_mb covers the engine's run
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass
    tracer = Tracer(enabled=bool(args.trace))
    sess = Session(tracer, work_dir)
    outcomes, op_ids = [], []
    try:
        t_setup = time.perf_counter()
        tracer.op = "setup"
        sess.start()
        if tracer.enabled:
            import importlib

            for mod, fn, span in WRAPPED:
                tracer.wrap(importlib.import_module(mod), fn, span)
        wl.setup(sess)
        tracer.op = None
        warm_start = time.perf_counter()
        _run_ops(sess, "p0", wl.pass_ops(sess, 0), outcomes, op_ids)
        sess.phases["setup.warmup"] = time.perf_counter() - warm_start
        setup_s = time.perf_counter() - t_setup

        measured: list = []
        measured_ids: list[str] = []
        pass_walls: list[float] = []
        trace_before = sess.trace_s
        t_measure = time.perf_counter()
        p = 1
        while time.perf_counter() - t_measure < args.seconds or len(pass_walls) < wl.min_passes:
            ops = wl.pass_ops(sess, p)
            if ops is None:  # the seed's pre-generated passes ran out
                break
            pass_walls.append(_run_ops(sess, f"p{p}", ops, measured, measured_ids))
            p += 1
        measure_s = time.perf_counter() - t_measure
        outcomes += measured
        n_passes = len(pass_walls)
        # the measured window ends with the last timed pass: its counters
        # are read before the final ops, which are checked but not measured
        extra = wl.layer_counters(n_passes)
        mem = memory_peaks(sess.spark._jvm.ProcessHandle.current().pid())
        extra.update(mem)
        extra["trace.pass_s"] = statistics.median(pass_walls)
        extra["trace.overhead_s"] = (sess.trace_s - trace_before) / n_passes
        final_s = _run_ops(sess, "final", wl.final_ops(sess), outcomes, [])
        cores = sess.spark.sparkContext.defaultParallelism
        master = sess.spark.sparkContext.master
        spark_version = sess.spark.version
        layer = _per_layer(sess, layer_units, measured_ids, n_passes, cores, measured, extra)
    finally:
        tracer.unwrap()
        sess.stop()
        wl.close()

    reads = [o.wall_s for o in measured if o.kind == "read"]
    failed = sum(not o.ok for o in outcomes)
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(pass_walls),
        "read_s_p50": statistics.median(reads),
        "read_s_p90": percentile(reads, 0.9),
        "peak_rss_mb": sum(mem.values()),
    }
    tail = tail_percentile(reads)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run": {
            "nproc": os.cpu_count(),
            "cores": cores,
            "master": master,
            "spark": spark_version,
            **_versions(),
            **_source_id(),
            "loadavg_before": [round(x, 2) for x in load_before],
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
            "started_unix": round(started, 1),
            "seconds": args.seconds,
            "inputs": datagen.table_manifest(manifest),
        },
        "diagnostics": {
            **gen_info,
            "inputs_s": round(t1 - t0, 3),
            "oracle_s": round(oracle_s, 3),
            "measure_s": round(measure_s, 3),
            "final_ops_s": round(final_s, 3),
            "passes": n_passes,
            "read_samples": len(reads),
            "read_tail": {"p": tail[0], "s": tail[1]} if tail else None,
            "ops_failed_frac": failed / len(outcomes),
            "setup_phases_s": {k: round(v, 4) for k, v in sess.phases.items()},
            "pass_walls_s": [round(w, 4) for w in pass_walls],
            "ops": [[o.op, o.kind, round(o.wall_s, 4), o.ok] for o in outcomes],
            "failures": [[o.op, o.detail] for o in outcomes if not o.ok],
        },
        "end_to_end": e2e,
        "per_layer": layer,
    }
    values, units = (layer, layer_units) if args.trace else (e2e, e2e_units)
    result = {
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in units.items()},
    }
    results_dir = os.path.join(CACHE, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(started)}"
    if args.trace:
        record["trace_report"] = report_table(args.workload, layer, cores)
        print(record["trace_report"], file=sys.stderr)
        tracer.dump(os.path.join(results_dir, stem + ".spans.jsonl"))
    with open(os.path.join(results_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
