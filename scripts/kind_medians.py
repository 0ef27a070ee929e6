#!/usr/bin/env python3
"""Compare saved connbench runs, paired as parent and change.

Usage:
  python3 scripts/kind_medians.py PARENT_1.out CHANGE_1.out [PARENT_2.out CHANGE_2.out ...]

Each file is the standard output of one `connbench/run.py` run: its
run record (a JSON line with "run", whose "kind_ms" maps each op kind to
its measured latencies in ms) and its result (a JSON line with
"metrics"). Files pair up in order: parent, change, parent, change.

For each op kind it prints the median of the per-run medians of
`kind_ms` on each side, and for each result metric the median of its
per-run values. Beside each median stands that side's IQR: the distance
between the quartiles of its runs (inclusive method, as numpy's default
percentile). The `gap>IQR` column says whether the two medians differ by
more than the parent's IQR. Then come each pair's ratio (change /
parent) and how many pairs moved the better way (lower, or higher where
BENCHMARK.json says so). A claimed gain holds when the change wins at
least 9 of 10 pairs and the gap exceeds the parent's IQR in the better
direction.
"""
import json
import os
import statistics
import sys


def higher_is_better():
    """Metric names whose `better` is "higher" in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["end_to_end"] + spec["per_layer"] if m["better"] == "higher"}


HIGHER_IS_BETTER = higher_is_better()
W = 36


def load(path):
    """(kind -> median ms, metric -> value) of one run's stdout."""
    run, result = None, None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if "run" in obj:
                run = obj["run"]
            elif "metrics" in obj:
                result = obj
    if run is None or result is None:
        sys.exit(f"{path}: no run record or result line")
    if not result.get("correct", False):
        print(f"warning: {path} reports correct=false", file=sys.stderr)
    kinds = {k: statistics.median(v) for k, v in run.get("kind_ms", {}).items() if v}
    metrics = {k: m["value"] for k, m in result["metrics"].items()}
    return kinds, metrics


def iqr(values):
    """Upper minus lower quartile; 0 for fewer than two values."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def row(name, parent, change, better_higher):
    ratios = [c / p for p, c in zip(parent, change) if p]
    wins = sum(1 for r in ratios if (r > 1 if better_higher else r < 1))
    pm, cm = statistics.median(parent), statistics.median(change)
    gain = cm - pm if better_higher else pm - cm
    gap = "better" if gain > iqr(parent) else "worse" if -gain > iqr(parent) else "no"
    return (f"{name:<{W}} {pm:>12.4g} {iqr(parent):>10.4g} {cm:>12.4g} {iqr(change):>10.4g}"
            f" {gap:>7}  " + " ".join(f"{r:.3f}" for r in ratios)
            + f"  [{wins}/{len(ratios)} better]")


def main():
    paths = sys.argv[1:]
    if not paths or len(paths) % 2:
        sys.exit(__doc__)
    runs = [load(p) for p in paths]
    pairs = list(zip(runs[0::2], runs[1::2]))
    header = (f"{'':<{W}} {'parent':>12} {'IQR':>10} {'change':>12} {'IQR':>10} {'gap>IQR':>7}"
              "  pair ratios (change / parent)")

    print(f"kind_ms medians (ms), {len(pairs)} pairs")
    print(header)
    kinds = sorted(set().union(*(set(r[0]) for r in runs)))
    for k in kinds:
        both = [(p[0][k], c[0][k]) for p, c in pairs if k in p[0] and k in c[0]]
        if both:
            print(row(k, [b[0] for b in both], [b[1] for b in both], False))

    print()
    print("metrics (medians of the per-run values)")
    print(header)
    for m in pairs[0][0][1]:
        both = [(p[1][m], c[1][m]) for p, c in pairs if m in p[1] and m in c[1]]
        print(row(m, [b[0] for b in both], [b[1] for b in both], m in HIGHER_IS_BETTER))


if __name__ == "__main__":
    main()
