#!/usr/bin/env python3
"""Print the deterministic counters that differ between benchmark results.

Usage: python3 perfbench/counterdiff.py BASE.json OTHER.json [MORE.json ...]

Each file is a result written by a traced run (`perfbench/run.py --trace 1`
leaves it under <build dir>/results/). Job, stage, task and byte counts do
not move with host noise, so between two runs of the same code they should
repeat exactly, and between two commits a difference is a first regression
signal. Every OTHER file is compared with BASE; the exit code is 1 when any
counter differs, 0 when all repeat.
"""
import json
import sys

COUNTERS = [
    "construct.jobs", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "scan.input_mb", "scan.input_rows", "write.output_mb", "write.output_rows",
    "stream.triggers", "plan.aqe_updates",
]


def load(path):
    with open(path) as fh:
        r = json.load(fh)
    if r.get("trace") != 1:
        raise SystemExit(f"{path}: not a traced result (run with --trace 1)")
    return r


def diff(base, other):
    """[(counter, base value, other value)] for every counter that differs."""
    if base["workload"] != other["workload"]:
        raise SystemExit(f"workloads differ: {base['workload']} vs {other['workload']}")
    return [(c, base["metrics"][c], other["metrics"][c])
            for c in COUNTERS if base["metrics"][c] != other["metrics"][c]]


def main(paths):
    if len(paths) < 2:
        raise SystemExit(__doc__)
    base = load(paths[0])
    differs = False
    for path in paths[1:]:
        rows = diff(base, load(path))
        differs |= bool(rows)
        print(f"{paths[0]} vs {path}: "
              f"{'all counters repeat' if not rows else f'{len(rows)} counters differ'}")
        for c, a, b in rows:
            print(f"  {c:24s} {a:.6g} -> {b:.6g} ({b - a:+.6g})")
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
