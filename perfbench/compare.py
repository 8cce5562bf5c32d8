"""Per-metric delta between two sets of benchmark results.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are files of result lines, one JSON object per line as
``run.py`` prints last (other lines are skipped). With several lines per
file each metric is the median over them. End-to-end metrics are marked
``WORSE`` when NEW is worse than BASE by more than the metric's bound
in BENCHMARK.json. If BASE is an untraced run and NEW a traced run of
the same workload, the tracing overhead on CPU per item is printed as
well.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path: str) -> dict[str, tuple[float, str]]:
    """metric -> (median value, unit) over the result lines in ``path``."""
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            try:
                row = json.loads(line)
            except ValueError:
                continue
            if not isinstance(row, dict) or "metrics" not in row:
                continue
            for name, m in row["metrics"].items():
                values.setdefault(name, []).append(float(m["value"]))
                units[name] = m["unit"]
    return {k: (statistics.median(v), units[k]) for k, v in values.items()}


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[1]), load(argv[2])
    with open(_BENCH) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"{'metric':36} {'base':>14} {'new':>14} {'delta':>9}  unit")
    worse = 0
    for name in [n for n in better if n in base and n in new]:
        (b, unit), (n, _) = base[name], new[name]
        delta = (n - b) / b if b else 0.0
        flag = ""
        if name in bound:
            loss = -delta if better[name] == "higher" else delta
            if loss > bound[name]:
                flag = "  WORSE"
                worse += 1
        print(f"{name:36} {b:14.4f} {n:14.4f} {delta:+9.1%}  {unit}{flag}")
    if "cpu_ms_per_item" in base and "trace.cpu_ms_per_item" in new:
        b = base["cpu_ms_per_item"][0]
        t = new["trace.cpu_ms_per_item"][0]
        print(f"tracing overhead on CPU per item: {(t - b) / b:+.1%}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
