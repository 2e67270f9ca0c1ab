"""Tracing overhead: traced minus untraced, for every end-to-end metric.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 1
    python3 perfbench/overhead.py

A traced run still measures the end-to-end metrics (it prints the
per-layer ones), so each (workload, seed) with both result files under
`.perfbench_work/results/` gives one difference per metric.  Prints the
median difference over seeds, absolute and as a share of the untraced
median.
"""

from __future__ import annotations

import glob
import json
import os
import statistics


def main() -> None:
    runs: dict[tuple[str, int], dict[int, dict]] = {}
    for path in glob.glob(os.path.join(".perfbench_work", "results", "*.json")):
        with open(path) as fh:
            r = json.load(fh)
        runs.setdefault((r["workload"], r["seed"]), {})[r["trace"]] = r["end_to_end"]
    by_workload: dict[str, dict[str, list[tuple[float, float]]]] = {}
    for (workload, _seed), pair in sorted(runs.items()):
        if 0 not in pair or 1 not in pair:
            continue
        for name, m in pair[0].items():
            by_workload.setdefault(workload, {}).setdefault(name, []).append((m["value"], pair[1][name]["value"]))
    if not by_workload:
        print("no traced/untraced pairs under .perfbench_work/results")
        return
    for workload, metrics in sorted(by_workload.items()):
        for name, pairs in metrics.items():
            diff = statistics.median(t - u for u, t in pairs)
            base = statistics.median(u for u, _ in pairs)
            print(f"{workload:10s} {name:16s} n={len(pairs):2d} traced-untraced={diff:+.4f} ({100 * diff / base:+.1f}%)")


if __name__ == "__main__":
    main()
