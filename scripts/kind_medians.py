#!/usr/bin/env python3
"""Compare saved connbench runs, paired as parent and change.

Usage:
  python3 scripts/kind_medians.py PARENT_1.out CHANGE_1.out [PARENT_2.out CHANGE_2.out ...]

Each file is the standard output of one `connbench/run.py` run: its
run record (a JSON line with "run", whose "kind_ms" maps each op kind to
its measured latencies in ms) and its result (a JSON line with
"metrics"). Files pair up in order: parent, change, parent, change.

For each op kind it prints the median of the per-run medians of
`kind_ms` on each side and each pair's ratio (change / parent); for each
end-to-end metric, each pair's ratio. A line ends with how many pairs
moved the better way (lower, or higher for the per-second metrics).
"""
import json
import statistics
import sys

HIGHER_IS_BETTER = {"ops_per_s", "rows_per_s"}


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


def row(name, parent, change, better_higher):
    ratios = [c / p for p, c in zip(parent, change) if p]
    wins = sum(1 for r in ratios if (r > 1 if better_higher else r < 1))
    return (f"{name:<24} {statistics.median(parent):>12.4g} {statistics.median(change):>12.4g}  "
            + " ".join(f"{r:.3f}" for r in ratios) + f"  [{wins}/{len(ratios)} better]")


def main():
    paths = sys.argv[1:]
    if not paths or len(paths) % 2:
        sys.exit(__doc__)
    runs = [load(p) for p in paths]
    pairs = list(zip(runs[0::2], runs[1::2]))
    header = f"{'':<24} {'parent':>12} {'change':>12}  pair ratios (change / parent)"

    print(f"kind_ms medians (ms), {len(pairs)} pairs")
    print(header)
    kinds = sorted(set().union(*(set(r[0]) for r in runs)))
    for k in kinds:
        both = [(p[0][k], c[0][k]) for p, c in pairs if k in p[0] and k in c[0]]
        if both:
            print(row(k, [b[0] for b in both], [b[1] for b in both], False))

    print()
    print("end-to-end metrics")
    print(header)
    for m in pairs[0][0][1]:
        both = [(p[1][m], c[1][m]) for p, c in pairs if m in p[1] and m in c[1]]
        print(row(m, [b[0] for b in both], [b[1] for b in both], m in HIGHER_IS_BETTER))


if __name__ == "__main__":
    main()
