"""Trace report over the records that runs left in ``.perfbench_cache/results/``.

    python3 perfbench/report.py

For each workload: the latest traced run's per-layer table, and the tracing
overhead as the median traced ``pass_s`` minus the median untraced one.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from layers import ratios, report_table

RESULTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".perfbench_cache", "results")


def main() -> None:
    records: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(RESULTS, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        records.setdefault(rec["workload"], []).append(rec)
    for workload, recs in sorted(records.items()):
        traced = [r for r in recs if r["trace"]]
        plain = [r["end_to_end"]["pass_s"] for r in recs if not r["trace"]]
        if not traced:
            print(f"# {workload}: no traced run")
            continue
        last = traced[-1]
        print(report_table(workload, last["per_layer"], last["run"]["cores"]))
        if plain:
            t = statistics.median(r["per_layer"]["trace.pass_s"] for r in traced)
            u = statistics.median(plain)
            print(f"# tracing overhead across runs: traced pass_s {t:.4f} s ({len(traced)} runs) "
                  f"- untraced pass_s {u:.4f} s ({len(plain)} runs) = {t - u:+.4f} s")
        shares = [ratios(r["per_layer"], r["run"]["cores"]) for r in traced]
        print(f"# shares over {len(traced)} traced runs: " + ", ".join(
            f"{k} median {statistics.median(s[k] for s in shares):.4f}" for k in shares[0]))
        print()


if __name__ == "__main__":
    main()
