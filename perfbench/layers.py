"""Which end-to-end metric each layer should move, and the trace report.

Metric names and units come from ``BENCHMARK.json`` (``load_metrics``).
Its schema holds only name, unit and direction, so the prediction for each
per-layer metric (the end-to-end metric it should move, on which workload)
lives here.  Per-layer values are per timed pass unless the unit says
otherwise; set-up layers and memory are per run.
"""

from __future__ import annotations

import json
import os

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def load_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """``(end_to_end, per_layer)``, each name → unit, from ``BENCHMARK.json``."""
    with open(BENCHMARK) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


#: (layer, metrics, end-to-end metric it should move, on which workload)
PREDICTIONS = [
    ("session", ["session.start_s"], "setup_s", "all"),
    ("sources.registry", ["registry.register_s"], "setup_s", "mixed_sf0.1"),
    ("lakehouse set-up", ["setup.create_table_s"], "setup_s", "lakehouse_cdc"),
    ("warm-up pass", ["setup.warmup_s"], "setup_s", "all"),
    ("queries (+ operators plan construction)", ["queries.build_s"], "read_s_p50, pass_s", "mixed_sf0.1"),
    ("Catalyst, as configured by session", ["catalyst.plan_s"], "read_s_p50", "mixed_sf0.1"),
    ("Spark jobs", ["exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_s"],
     "read_s_p50", "mixed_sf0.1"),
    ("Spark tasks", ["exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.slot_busy_frac",
                     "exec.input_mb", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
                     "exec.fetch_wait_s", "exec.spill_mb", "exec.result_mb",
                     "exec.failed_tasks"], "read_s_p90, pass_s", "mixed_sf0.1"),
    ("driver, outside jobs", ["driver.self_s"], "read_s_p50", "mixed_sf0.1"),
    ("operators Python workers", ["pyworker.run_s", "pyworker.start_s", "pyworker.sent_mb",
                                  "pyworker.returned_mb"], "read_s_p90",
     "mixed_sf0.1 (0 elsewhere)"),
    ("dml", ["dml.parse_s", "dml.execute_s"], "pass_s, cdc.write_s_p50", "lakehouse_cdc"),
    ("sources.deltalog", ["deltalog.snapshot_s", "deltalog.files_added",
                          "deltalog.files_removed", "deltalog.data_mb_written",
                          "deltalog.log_mb_written", "deltalog.checkpoints",
                          "deltalog.live_files", "deltalog.rewrite_rows_per_changed_row"],
     "pass_s, cdc.write_s_p90, cdc.write_amp, cdc.space_amp", "lakehouse_cdc (0 elsewhere)"),
    ("lakehouse writes, end to end", ["cdc.write_s_p50", "cdc.write_s_p90", "cdc.write_amp",
                                      "cdc.space_amp"], "pass_s", "lakehouse_cdc (0 elsewhere)"),
    ("memory", ["mem.jvm_hwm_mb", "mem.driver_hwm_mb", "mem.workers_hwm_mb"],
     "peak_rss_mb", "all"),
    ("ops", ["op.count", "op.wall_s"], "pass_s", "all"),
    ("tracing", ["trace.pass_s", "trace.overhead_s"], "none (traced run only)", "all"),
]

def ratios(m: dict[str, float], cores: int) -> dict[str, float]:
    """The two shares that separate data-bound from fixed-cost workloads."""
    wall = m["op.wall_s"]
    return {
        "exec_share": m["exec.run_s"] / (cores * wall),
        "fixed_share": (m["queries.build_s"] + m["catalyst.plan_s"] + m["driver.self_s"]) / wall,
    }


def report_table(workload: str, m: dict[str, float], cores: int) -> str:
    """Per-layer values with each layer's prediction, the separation shares
    and the tracing overhead, as ``#``-prefixed lines."""
    units = load_metrics()[1]
    lines = [f"# trace report: {workload} (per timed pass unless noted)",
             f"# {'metric':38s} {'value':>12s} {'unit':6s} moves / on"]
    predicted = {name for _, metrics, _, _ in PREDICTIONS for name in metrics}
    unpredicted = [name for name in units if name not in predicted]
    extra = [("no prediction", unpredicted, "-", "-")] if unpredicted else []
    for layer, metrics, moves, on in PREDICTIONS + extra:
        lines.append(f"# [{layer}]")
        for name in metrics:
            lines.append(f"#   {name:36s} {m.get(name, 0.0):12.4f} {units.get(name, '?'):6s} "
                         f"{moves} / {on}")
    r = ratios(m, cores)
    lines.append(f"# exec.run_s / (cores x op wall) = {r['exec_share']:.4f}")
    lines.append(f"# (build + plan + driver.self) / op wall = {r['fixed_share']:.4f}")
    lines.append(f"# tracing overhead: {m['trace.overhead_s']:.4f} s per pass "
                 f"(traced pass_s {m['trace.pass_s']:.4f} s)")
    return "\n".join(lines)
