"""Medians and quartile spreads of saved benchmark runs.

    python3 perfbench/spread.py run1.out run2.out ...

Each file holds the stdout of one ``run.py`` invocation; its last line is
the JSON result.  Runs are grouped by the workload named in the report's
first line.  The spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``, compared with a third of each
end-to-end metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(paths):
    runs: dict[str, list[dict]] = {}
    for p in paths:
        with open(p) as fh:
            lines = fh.read().strip().splitlines()
        if not lines:
            continue
        workload = lines[0].split()[1] if lines[0].startswith("perfbench ") else os.path.basename(p)
        runs.setdefault(workload, []).append(json.loads(lines[-1]))
    return runs


def main(paths) -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m.get("bound") for m in json.load(fh)["end_to_end"]}
    worst = 0.0
    for workload, results in sorted(load(paths).items()):
        bad = sum(not r["correct"] for r in results)
        print(f"{workload}: {len(results)} runs, {bad} incorrect")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(name)
            flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
            if bound is not None and name != "setup_s":
                worst = max(worst, spread / bound)
            print(f"  {name:<14} median {med:12.4f}  spread {spread:6.3f}  bound {bound}{flag}")
    print(f"worst spread / bound (setup_s excluded): {worst:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
