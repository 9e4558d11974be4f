#!/usr/bin/env python3
"""Compare two sets of benchmark records saved by perfbench/run.py.

Usage: python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each record is a .bench_out/<workload>-seed<N>-trace<T>.json file. Prints
the median of every metric on each side and the change. Refuses to
compare records of different workloads, trace modes or core counts:
the numbers depend on all three.
"""
import json
import statistics
import sys


def load(paths):
    return [json.loads(open(p).read()) for p in paths]


def main():
    argv = sys.argv[1:]
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        raise SystemExit(__doc__)
    for key in ("nproc", "workload", "trace"):
        seen = {r["env"][key] for r in base + new}
        if len(seen) > 1:
            raise SystemExit(f"refusing to compare: records differ in {key}: {sorted(seen)}")
    section = "layers" if base[0]["env"]["trace"] else "e2e"
    for name in base[0][section]:
        b = statistics.median(r[section][name] for r in base)
        n = statistics.median(r[section][name] for r in new)
        change = f"{(n - b) / b:+.1%}" if b else "n/a"
        print(f"{name:45s} {b:14.4g} {n:14.4g} {change:>8s}")


if __name__ == "__main__":
    main()
